#!/usr/bin/env python3
"""graft benchmark: one command, two workloads, one traced run.

    python3 perfbench/run.py --workload <eduflow|query_mix> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine (with its own
build) and the benchmark (sbt, offline); later runs reuse the build while the
sources are unchanged. Inputs are generated from --seed into
perfbench/.work, outputs are checked, and the last line of standard output is
one JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end metrics, with --trace 1 the
per-layer ones (listeners and spans on; spans are written to
perfbench/.work/spans-<workload>-<seed>.jsonl).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import duckdb

import gen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")
SETUPS = 5

# Input sizes per workload. The drop (about 0.5 MB) stays far below
# Ingest.validateFile's 25 MB cap; the query tables are sized like the sf0.01
# test data, with a smaller corpus (150 documents).
SIZES = {
    "eduflow": {"drop": dict(n_students=400, n_events=4000, n_tickets=200)},
    "query_mix": {"tables": dict(n_docs=150, n_orders=3000)},
}

JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(*a):
    print("[perfbench]", *a, file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


def run_proc(cmd, cwd, env, log_path, timeout):
    """Run cmd with output to log_path; on timeout kill its whole process
    group (sbt and java start children). Returns (exit code, output)."""
    with open(log_path, "w") as logf:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=logf, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = -1
    with open(log_path) as f:
        return rc, f.read()


def sources_stamp():
    """Digest of everything the build compiles."""
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties"),
             os.path.join(ROOT, "build.sbt")]
    for r in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    h = hashlib.sha256()
    for p in sorted(files):
        with open(p, "rb") as fh:
            h.update(p.encode() + fh.read())
    return h.hexdigest()


def build():
    """Compile the engine with the harness; return the runtime classpath."""
    stamp, cp_file = os.path.join(BUILD, "stamp"), os.path.join(BUILD, "classpath")
    want = sources_stamp()
    if os.path.exists(stamp) and open(stamp).read() == want and os.path.exists(cp_file):
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx3g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts = ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"] + opts
    env["SBT_OPTS"] = " ".join(opts)
    log("building (first run in this checkout)")
    rc, out = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], HERE, env,
                       os.path.join(BUILD, "build.log"), timeout=700)
    cp = [l for l in out.splitlines() if "scala-2.13/classes" in l and not l.startswith("[")]
    if rc != 0 or not cp:
        log(out[-4000:])
        fail("build failed")
    with open(cp_file, "w") as f:
        f.write(cp[-1].strip())
    with open(stamp, "w") as f:
        f.write(want)
    return cp[-1].strip()


def tree_digest(d):
    h = hashlib.sha256()
    for f in sorted(os.listdir(d)):
        with open(os.path.join(d, f), "rb") as fh:
            h.update(f.encode() + fh.read())
    return h.hexdigest()


def make_inputs(workload, seed, work):
    """Generate the inputs SETUPS times (the generation share of set-up time
    is their median); all copies must be byte-identical."""
    times, digests, planted = [], [], None
    for k in range(SETUPS):
        d = os.path.join(work, f"in{k}")
        t0 = time.perf_counter()
        spec = SIZES[workload]
        if "tables" in spec:
            gen.tables(d, seed, **spec["tables"])
        if "drop" in spec:
            planted = gen.drop(d, seed, **spec["drop"])
        times.append(time.perf_counter() - t0)
        digests.append(tree_digest(d))
    for k in range(1, SETUPS):
        shutil.rmtree(os.path.join(work, f"in{k}"))
    return os.path.join(work, "in0"), statistics.median(times), len(set(digests)) == 1, planted


def run_jvm(cp, workload, inputs, work, seed, seconds, trace):
    cores = min(os.cpu_count() or 1, 4)
    # driver heap: half the machine's memory, clamped to 2..8 GB
    try:
        kb = next(int(l.split()[1]) for l in open("/proc/meminfo") if l.startswith("MemTotal:"))
        mem = min(8, max(2, kb // 2097152))
    except (OSError, StopIteration):
        mem = 2
    # every file Spark writes stays in the work directory
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    cmd = ["java", f"-Xmx{mem}g", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", workload, inputs, work, str(seed), str(seconds),
            str(trace), str(cores)]
    rc, out = run_proc(cmd, work, env, os.path.join(work, "jvm.log"), timeout=165)
    if rc != 0 or not os.path.exists(os.path.join(work, "result.json")):
        log(out[-4000:])
        fail(f"benchmark JVM failed (exit {rc})")
    for line in out.splitlines():
        if line.startswith("[perfbench"):
            print(line, file=sys.stderr)
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


def check_etl(observed, planted):
    """Exact comparison of the pipeline's counts with what the generator planted."""
    want = {
        "rows_in": planted["rows_in"],
        "staged": {"students": planted["students_distinct"],
                   "progress": planted["events_distinct"],
                   "tickets": planted["rows_in"]["tickets"]},
        "invalid": planted["invalid"],
        "null_durations": planted["null_durations"],
        "out_of_sequence": planted["out_of_sequence"],
        "warehouse": {"dim_date": 2557, "dim_students": planted["students_distinct"],
                      "dim_courses": planted["courses"],
                      "fact_student_progress": planted["events_distinct"],
                      "fact_support_tickets": planted["rows_in"]["tickets"],
                      "fact_enrollments": planted["enrollments"],
                      "analytics_student360": planted["students_distinct"]},
    }
    bad = [f"{k}: got {observed.get(k)} want {v}" for k, v in want.items() if observed.get(k) != v]
    return len(want), bad


def check_mix(observed, inputs, work):
    """Every oracle query must equal its DuckDB oracle value for value; the
    oracle-less ones (xxhash64 families) must return rows."""
    con = duckdb.connect()
    con.sql("SET threads=2")
    for t in ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
              "events", "documents", "embeddings"]:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{inputs}/{t}.parquet'")
    bad, n = [], 0
    for name in observed["queries"]:
        n += 1
        out = f"{work}/mix-out/{name}"
        if not os.path.isdir(out):
            bad.append(f"{name}: no output")
            continue
        got = con.sql(f"SELECT * FROM '{out}/*.parquet'").df()
        sql = observed["oracle_sql"].get(name)
        if sql is None:
            if len(got) == 0:
                bad.append(f"{name}: no rows")
            continue
        want = con.sql(sql).df()
        if not frame_equal(want, got):
            bad.append(f"{name}: differs from its oracle ({len(want)} vs {len(got)} rows)")
    return n, bad


def frame_equal(a, b):
    """The oracle gate's comparison: columns by name, rows in sorted order,
    values exactly equal, dtype kinds equal."""
    if sorted(a.columns) != sorted(b.columns) or len(a) != len(b):
        return False
    cols = sorted(a.columns)
    a, b = a[cols], b[cols]

    def kind(dt):
        return "i" if dt.kind in "iu" else dt.kind
    if any(kind(a[c].dtype) != kind(b[c].dtype) for c in cols):
        return False
    a = a.sort_values(by=cols, ignore_index=True)
    b = b.sort_values(by=cols, ignore_index=True)
    for c in cols:
        x, y = a[c], b[c]
        if (~((x == y) | (x.isna() & y.isna()))).any():
            return False
    return True


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources not found next to perfbench/ (run from a graft checkout)")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    cp = build()

    work = os.path.join(WORK, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        inputs, gen_s, same, planted = make_inputs(a.workload, a.seed, work)
        res = run_jvm(cp, a.workload, inputs, work, a.seed, a.seconds, a.trace)
        attempted, failed = res["attempted"] + 1, res["failed"] + (0 if same else 1)
        errors = list(res["errors"]) + ([] if same else ["inputs differ between generations"])
        if a.workload == "eduflow":
            n, bad = check_etl(res["observed"], planted)
        else:
            n, bad = check_mix(res["observed"], inputs, work)
        attempted += n
        failed += len(bad)
        errors += bad
        for e in errors:
            log("FAILED", e)

        e2e = dict(res["e2e"], setup_s=res["e2e"]["setup_s"] + gen_s,
                   resident_mb=res["resident_mb"])
        units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
        if a.trace:
            layers = dict(res["layers"], fail_rate=failed / attempted)
            layers["latency.p50_ms"] = res["e2e"]["latency.p50_ms"]
            names = [m["name"] for m in bench["per_layer"]]
            # a layer the workload does not touch reads 0
            values = {n: layers.get(n, 0.0) for n in names}
            spans = os.path.join(work, "spans.jsonl")
            if os.path.exists(spans):
                shutil.copy(spans, os.path.join(WORK, f"spans-{a.workload}-{a.seed}.jsonl"))
        else:
            values = {m["name"]: e2e[m["name"]] for m in bench["end_to_end"]}
        metrics = {k: {"value": v, "unit": units[k]} for k, v in values.items()}
        print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
