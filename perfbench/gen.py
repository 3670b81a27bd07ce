"""Seeded input generators for the benchmark.

Everything the engine sees is made here from the workload seed:

* ``tables``: the star-schema + corpus tables the analytic queries read
  (``region nation customer supplier part orders lineitem events documents
  embeddings``), one parquet file each, shaped like the engine's test data
  (same columns and types, same value domains, planted near-duplicate
  documents and clustered embeddings).
* ``drop``: one dirty CSV per EduFlow source file, with every kind of dirt
  planted at a known rate. The function returns the counts it planted so the
  pipeline's staged, per-rule and warehouse counts can be checked exactly.
"""
import csv
import datetime as dt
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a the join hash row batch scan customer column filter small slow "
         "value table part order data window key query group spark line "
         "stream merge agg sort big fast vector").split()
LANGS = (["en"] * 43) + (["zh"] * 15) + (["es"] * 15) + (["de"] * 14) + (["fr"] * 13)


def _write(path, columns, schema):
    pq.write_table(pa.table(columns, schema=schema), path)


def tables(out_dir, seed, n_docs, n_orders):
    """Write the ten query tables. Sizes scale with ``n_orders`` (lineitem is
    about four rows per order) and ``n_docs`` (embeddings are one per
    document)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    # customers like the sf0.01 test data: the fuzzy contact pairs the graph
    # queries read match customers on custkey residues (mod 700, 50 and 60),
    # so a few hundred customers give no pairs and an empty graph
    n_cust, n_supp, n_part = n_orders // 2, max(10, n_orders // 150), n_orders // 7
    n_line, n_events, n_users = n_orders * 4, n_orders * 2 // 3, 150

    _write(f"{out_dir}/region.parquet",
           [pa.array(range(5), pa.int32()),
            pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])],
           pa.schema([("r_regionkey", pa.int32()), ("r_name", pa.string())]))
    _write(f"{out_dir}/nation.parquet",
           [pa.array(range(25), pa.int32()),
            pa.array([f"NATION_{i}" for i in range(25)]),
            pa.array([i % 5 for i in range(25)], pa.int32())],
           pa.schema([("n_nationkey", pa.int32()), ("n_name", pa.string()),
                      ("n_regionkey", pa.int32())]))

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    _write(f"{out_dir}/customer.parquet",
           [pa.array(np.arange(n_cust, dtype=np.int64)),
            pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
            pa.array(money(-999.99, 9999.99, n_cust)),
            pa.array(segments[rng.integers(0, 5, n_cust)])],
           pa.schema([("c_custkey", pa.int64()), ("c_name", pa.string()),
                      ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
                      ("c_mktsegment", pa.string())]))
    _write(f"{out_dir}/supplier.parquet",
           [pa.array(np.arange(n_supp, dtype=np.int64)),
            pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
            pa.array(money(-999.99, 9999.99, n_supp))],
           pa.schema([("s_suppkey", pa.int64()), ("s_name", pa.string()),
                      ("s_nationkey", pa.int32()), ("s_acctbal", pa.float64())]))

    adjectives = np.array(["small", "red", "blue", "hot", "old", "green", "big", "cold"])
    nouns = np.array(["ring", "widget", "bolt", "gear", "plate", "rod", "nut", "pipe"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    names = np.char.add(np.char.add(adjectives[rng.integers(0, 8, n_part)], " "),
                        nouns[rng.integers(0, 8, n_part)])
    _write(f"{out_dir}/part.parquet",
           [pa.array(np.arange(n_part, dtype=np.int64)), pa.array(names),
            pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            pa.array(types[rng.integers(0, 6, n_part)]),
            pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
            pa.array(np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1))],
           pa.schema([("p_partkey", pa.int64()), ("p_name", pa.string()),
                      ("p_brand", pa.string()), ("p_type", pa.string()),
                      ("p_size", pa.int32()), ("p_retailprice", pa.float64())]))

    day0 = np.datetime64("1995-01-01", "us")
    days = 365 * 6 + 212
    one_day = np.timedelta64(86_400_000_000, "us")
    _write(f"{out_dir}/orders.parquet",
           [pa.array(np.arange(n_orders, dtype=np.int64)),
            pa.array(rng.integers(0, n_cust, n_orders, dtype=np.int64)),
            pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)]),
            pa.array(money(1000.0, 500000.0, n_orders)),
            pa.array(day0 + rng.integers(0, days, n_orders) * one_day),
            pa.array(np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                               "5-LOW"])[rng.integers(0, 5, n_orders)])],
           pa.schema([("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
                      ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
                      ("o_orderdate", pa.timestamp("us")),
                      ("o_orderpriority", pa.string())]))
    _write(f"{out_dir}/lineitem.parquet",
           [pa.array(rng.integers(0, n_orders, n_line, dtype=np.int64)),
            pa.array(rng.integers(0, n_part, n_line, dtype=np.int64)),
            pa.array(rng.integers(0, n_supp, n_line, dtype=np.int64)),
            pa.array(rng.integers(1, 8, n_line, dtype=np.int32)),
            pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
            pa.array(money(900.0, 105000.0, n_line)),
            pa.array(rng.integers(0, 11, n_line) / 100.0),
            pa.array(rng.integers(0, 9, n_line) / 100.0),
            pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)]),
            pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_line)]),
            pa.array(day0 + rng.integers(0, days, n_line) * one_day)],
           pa.schema([("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
                      ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
                      ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
                      ("l_discount", pa.float64()), ("l_tax", pa.float64()),
                      ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
                      ("l_shipdate", pa.timestamp("us"))]))

    month_us = 30 * 86_400_000_000
    ts = np.datetime64("2024-01-01", "us") + np.sort(
        rng.integers(0, month_us, n_events)).astype("timedelta64[us]")
    _write(f"{out_dir}/events.parquet",
           [pa.array(np.arange(n_events, dtype=np.int64)), pa.array(ts),
            pa.array(rng.integers(0, n_users, n_events, dtype=np.int64)),
            pa.array(np.array(["click", "error", "purchase", "signup", "view"])
                     [rng.integers(0, 5, n_events)]),
            pa.array(np.clip(np.round(rng.lognormal(3.4, 1.1, n_events), 2), 0.01, 490.0)),
            pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)])],
           pa.schema([("event_id", pa.int64()), ("ts", pa.timestamp("us")),
                      ("user_id", pa.int64()), ("event_type", pa.string()),
                      ("value", pa.float64()), ("props", pa.string())]))

    # documents: random texts over a small vocabulary, with the same length
    # multiset for every seed; every 20th is a copy of an earlier document
    # with " dup" appended (the planted near-duplicates)
    words = np.array(WORDS)
    lengths = rng.permutation(10 + np.arange(n_docs) % 90)
    texts = []
    for i in range(n_docs):
        if i % 20 == 19:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(words[rng.integers(0, len(WORDS), int(lengths[i]))]))
    _write(f"{out_dir}/documents.parquet",
           [pa.array(np.arange(n_docs, dtype=np.int64)), pa.array(texts),
            pa.array(np.array(LANGS)[rng.integers(0, len(LANGS), n_docs)]),
            pa.array([f"src{s}" for s in rng.integers(0, 20, n_docs)]),
            pa.array(np.array([len(t) for t in texts], dtype=np.int64))],
           pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                      ("lang", pa.string()), ("source", pa.string()),
                      ("n_chars", pa.int64())]))

    # embeddings: unit vectors around ten cluster centres, label = cluster
    centres = rng.normal(size=(10, 64))
    labels = rng.integers(0, 10, n_docs)
    vecs = centres[labels] + rng.normal(scale=1.2, size=(n_docs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(f"{out_dir}/embeddings.parquet",
           [pa.array(np.arange(n_docs, dtype=np.int64)),
            pa.array(list(vecs), pa.list_(pa.float32())),
            pa.array(labels.astype(np.int32))],
           pa.schema([("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
                      ("label", pa.int32())]))


CITIES = [("Mumbai", "Maharashtra", "MH", "Mumabi,Bombay,mumbai,MUMBAI"),
          ("Delhi", "Delhi", "DL", "New Delhi,dilli"),
          ("Bangalore", "Karnataka", "KA", "Banglore,Bengaluru"),
          ("Hyderabad", "Telangana", "TS", "Hyderbad"),
          ("Chennai", "Tamil Nadu", "TN", "Madras"),
          ("Kolkata", "West Bengal", "WB", "Calcutta"),
          ("Pune", "Maharashtra", "MH", "Poona"),
          ("Ahmedabad", "Gujarat", "GJ", "Amdavad"),
          ("Jaipur", "Rajasthan", "RJ", "Jaipore"),
          ("Lucknow", "Uttar Pradesh", "UP", ""),
          ("Kanpur", "Uttar Pradesh", "UP", ""),
          ("Nagpur", "Maharashtra", "MH", ""),
          ("Indore", "Madhya Pradesh", "MP", ""),
          ("Bhopal", "Madhya Pradesh", "MP", ""),
          ("Patna", "Bihar", "BR", ""),
          ("Kochi", "Kerala", "KL", "Cochin"),
          ("Surat", "Gujarat", "GJ", ""),
          ("Vadodara", "Gujarat", "GJ", "Baroda"),
          ("Chandigarh", "Chandigarh", "CH", ""),
          ("Coimbatore", "Tamil Nadu", "TN", "")]

RULES = ("student_id", "name", "email", "phone", "dob", "gender", "city",
         "state", "enrollment_date", "fee")
AS_OF = "2024-06-01"


def drop(out_dir, seed, n_students, n_events, n_tickets, n_courses=40):
    """Write the five EduFlow CSVs and return what was planted.

    Dirt rates per student: 10 % of rows re-list an earlier student under a
    differently formatted id (the keep-first/last-wins duplicate), 6 % invalid
    emails, 4 % invalid phones, 3 % unparseable birth dates, 3 % unknown
    genders, 3 % unknown cities, 2 % NULL states, 5 % enrollment dates in an
    unsupported format, 4 % negative fees. Per event: 2 % NULL durations, 3 %
    timestamps after the as-of date (out of sequence), 2 % re-sent event ids.
    Every other value is valid, in one of the formats the cleaning rules
    accept, so each rule's invalid count is exactly what was planted. Events
    and tickets fall within one week, as in a nightly drop."""
    os.makedirs(out_dir, exist_ok=True)
    rnd = random.Random(seed)
    first = "aarav vivaan aditya vihaan arjun sai reyansh ayaan krishna ishaan " \
            "ananya diya saanvi aadhya kiara myra pari anika navya riya".split()
    last = "sharma verma gupta singh kumar patel reddy nair iyer das".split()
    planted = {r: 0 for r in RULES}

    def pick_city():
        name, _, _, aliases = rnd.choice(CITIES)
        forms = [name, name.lower(), name.upper() + " "] + [a for a in aliases.split(",") if a]
        return rnd.choice(forms)

    def fmt_date(d):
        return rnd.choice([d.strftime("%Y-%m-%d"), d.strftime("%d/%m/%Y"),
                           d.strftime("%d-%m-%Y"), d.strftime("%B %-d, %Y")])

    students = []
    for i in range(1, n_students + 1):
        dirt = {r: rnd.random() for r in RULES}
        fn, ln = rnd.choice(first), rnd.choice(last)
        dob = dt.date(1985, 1, 1) + dt.timedelta(days=rnd.randrange(0, 6000))
        enr = dt.date(2023, 1, 1) + dt.timedelta(days=rnd.randrange(0, 500))
        row = {
            "student_id": rnd.choice([f"STU{i:03d}", f"stu-{i:03d}", f"STU_{i:03d}"]),
            "full_name": rnd.choice([f"{fn} {ln}".upper(), f"{fn} {ln}", f"  {fn.title()}  {ln.title()}  "]),
            "email": f"{fn}.{ln}{i}@example.com",
            "phone": rnd.choice([f"98{i % 100000000:08d}", f"+91-98{i % 100000000:08d}",
                                 f"+9198{i % 100000000:08d}"]),
            "dob": fmt_date(dob),
            "gender": rnd.choice(["Male", "F", "m", "MALE", "FEMALE", "female"]),
            "city": pick_city(),
            "state": rnd.choice(["Maharashtra", "MH", "maharashtra", "TS", "WB"]),
            "enrollment_date": rnd.choice([enr.strftime("%Y-%m-%d"), enr.strftime("%d-%b-%y"),
                                           enr.strftime("%d/%m/%Y")]),
            "program_id": rnd.choice(["PROG001", "prog002", "prog003", ""]),
            "fee_paid": rnd.choice(["50000", "50,000", "₹45000", "42000.00"]),
            "payment_status": rnd.choice(["Paid", "paid", "PAID", "pending", "Pending", "partial"]),
        }
        for rule, rate, field, bad in [
                ("email", 0.06, "email", rnd.choice(["jane@email", "eva@invalid", ""])),
                ("phone", 0.04, "phone", "12345"),
                ("dob", 0.03, "dob", rnd.choice(["1940-01-01", "not-a-date"])),
                ("gender", 0.03, "gender", "X"),
                ("city", 0.03, "city", "Qzxwv"),
                ("state", 0.02, "state", "NULL"),
                ("enrollment_date", 0.05, "enrollment_date", enr.strftime("%Y/%m/%d")),
                ("fee", 0.04, "fee_paid", "-50000")]:
            if dirt[rule] < rate:
                row[field] = bad
                planted[rule] += 1
        students.append((i, row))

    rows = [r for _, r in students]
    duplicates = 0
    for _ in range(n_students // 10):
        i, row = rnd.choice(students)
        dup = dict(row)
        dup["student_id"] = rnd.choice([f"stu{i:03d}", f"STU-{i:03d}"])
        rows.append(dup)
        duplicates += 1

    cols = ["student_id", "full_name", "email", "phone", "dob", "gender", "city",
            "state", "enrollment_date", "program_id", "fee_paid", "payment_status"]
    with open(f"{out_dir}/students_enrollment.csv", "w", newline="") as f:
        w = csv.DictWriter(f, fieldnames=cols)
        w.writeheader()
        w.writerows(rows)

    courses = [f"CRS{c:03d}" for c in range(1, n_courses + 1)]
    with open(f"{out_dir}/course_catalog.csv", "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["course_id", "course_name", "category", "difficulty",
                    "duration_hours", "price", "instructor_name", "is_active"])
        for c in courses:
            w.writerow([c, f"Course {c}", rnd.choice(["Technology", "Business", "Design"]),
                        rnd.choice(["Beginner", "Intermediate", "Advanced"]),
                        rnd.randrange(10, 80), rnd.randrange(35, 56) * 1000,
                        f"{rnd.choice(first).title()} {rnd.choice(last).title()}", "TRUE"])

    ev_cols = ["event_id", "student_id", "course_id", "event_type", "event_timestamp",
               "duration_seconds", "score", "module_id", "completion_percentage"]
    t0 = dt.datetime(2024, 2, 1)
    events, null_durations, future, resent = [], 0, 0, 0
    pairs = set()
    for e in range(1, n_events + 1):
        sid, crs = rnd.randrange(1, n_students + 1), rnd.choice(courses)
        etype = rnd.choice(["video_watched", "quiz_completed", "assignment_submitted"])
        ts = t0 + dt.timedelta(seconds=rnd.randrange(0, 7 * 86400))
        row = [f"evt-{e:07d}", f"STU{sid:03d}", crs, etype, ts.strftime("%Y-%m-%dT%H:%M:%SZ"),
               str(rnd.randrange(30, 3600)),
               "NULL" if etype == "video_watched" else f"{rnd.randrange(0, 10001) / 100:.2f}",
               f"MOD{rnd.randrange(1, 10):03d}", f"{rnd.randrange(0, 1001) / 10:.1f}"]
        if rnd.random() < 0.02:
            row[5] = "NULL"
            null_durations += 1
        if rnd.random() < 0.03:
            row[4] = (dt.datetime(2024, 12, 1) + dt.timedelta(seconds=e)).strftime("%Y-%m-%dT%H:%M:%SZ")
            future += 1
        pairs.add((sid, crs))
        events.append(row)
    for _ in range(n_events // 50):
        events.append(list(rnd.choice(events)))
        resent += 1
    with open(f"{out_dir}/student_progress.csv", "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(ev_cols)
        w.writerows(events)

    with open(f"{out_dir}/support_tickets.csv", "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["ticket_id", "student_id", "subject", "description", "priority",
                    "status", "category", "created_date", "resolved_date"])
        for t in range(1, n_tickets + 1):
            created = dt.date(2024, 2, 1) + dt.timedelta(days=rnd.randrange(0, 7))
            status = rnd.choice(["Open", "In Progress", "Resolved", "Closed"])
            resolved = "" if status in ("Open", "In Progress") else \
                (created + dt.timedelta(days=rnd.randrange(0, 10))).isoformat()
            w.writerow([f"TKT{t:06d}", f"STU{rnd.randrange(1, n_students + 1):03d}",
                        rnd.choice(["Login issue", "Payment, refund", "Video not loading"]),
                        rnd.choice(["I can not open the course, please help",
                                    "Great content, thanks a lot",
                                    "The quiz, module 3, is not scoring correctly"]),
                        rnd.choice(["Low", "Medium", "High", "Critical"]), status,
                        rnd.choice(["Technical", "Billing", "Content"]),
                        created.isoformat(), resolved])

    with open(f"{out_dir}/city_master.csv", "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["city_name", "state_name", "state_code", "common_misspellings"])
        w.writerows(CITIES)

    return {
        "rows_in": {"students": len(rows), "progress": len(events), "tickets": n_tickets},
        "students_distinct": n_students, "students_duplicate": duplicates,
        "events_distinct": n_events, "events_resent": resent,
        "null_durations": null_durations, "out_of_sequence": future,
        "invalid": planted, "courses": n_courses, "enrollments": len(pairs),
    }
