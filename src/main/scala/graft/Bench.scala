package graft
object Bench {
  /** Per-query median of `SPARK_GRAFT_BENCH_REPS` (default 3) runs: single
    * measurements on a shared host are ±30%+ noise (docs/NOTES.md), so the
    * headline numbers are medians.
    *
    * Measurement protocol (the round-6 adjudication fix): each query runs
    * ONE untimed warm rep immediately before its timed reps. First-touch
    * costs that belong to a FAMILY, not a query — the session IVF index
    * builds (operators.SessionCache), the shared portable pair chain, EduFlow
    * pipeline staging, SQL view registration, codegen compilation — land
    * in the warm rep, so the timed medians measure steady-state query
    * cost no matter how the registry happens to sort. The warm time is
    * still recorded (it IS the build cost, reported separately, never
    * mixed into a median).
    *
    * Evidence trail: the stdout JSON line must stay SHORT (the driver keeps
    * only the last ~2000 chars of stdout and a long line loses its head —
    * the BENCH_r03/r04 truncation), so per-query keys are the unique `qNN`
    * prefix and medians ride stdout, while the FULL per-query evidence —
    * warm time + every raw rep — is written to `BENCH_RAW.json` in the
    * working directory (the repo root under sbt, so the round commit
    * carries it) and mirrored on stderr. A disputed median is settled by
    * reading the committed raw reps, not by re-running.
    */
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val reps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt)
    val spark = Engine.localSession(cpus, "graft-bench")
    // one light session-level warm-up action so the very first warm rep
    // does not absorb classloading + codegen-compiler startup
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    // a failed rep records the exception (class + first message line) so
    // an order-dependent failure is diagnosable from the COMMITTED
    // BENCH_RAW.json without a re-run (the r07 q112 lesson: stderr-only
    // messages are gone by adjudication time)
    // per-rep JVM GC time and post-rep storage-memory snapshots ride
    // BENCH_RAW so a driver-vs-builder drift (r9: 256.0 vs 234.1 s with
    // identical code) is attributable from the committed evidence: a
    // drifted rep with flat gc_ms and flat storage is host noise; rising
    // gc_ms says JVM pressure; rising storage says a lifetime leak.
    def gcMillis(): Long = {
      val it = java.lang.management.ManagementFactory
        .getGarbageCollectorMXBeans.iterator()
      var sum = 0L
      while (it.hasNext) { val t = it.next().getCollectionTime; if (t > 0) sum += t }
      sum
    }
    def storageMb(): Double =
      spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1e6
    case class Rep(sec: Double, err: Option[String], gcMs: Long, storMb: Double)
    def timeOnce(fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame,
                 name: String): Rep = {
      val gc0 = gcMillis()
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count()
        Rep((System.nanoTime() - t0) / 1e9, None, gcMillis() - gc0, storageMb()) }
      catch { case e: Throwable =>
        val first = Option(e.getMessage)
          .flatMap(_.linesIterator.nextOption()).getOrElse("")
        val what = s"${e.getClass.getName}: $first"
        System.err.println(s"[bench] $name FAILED: $what")
        Rep(-1.0, Some(what), gcMillis() - gc0, storageMb()) }
    }
    // sorted so runs are comparable round over round; with the per-query
    // warm rep the ordering no longer shifts costs between queries.
    // SPARK_GRAFT_BENCH_ONLY (comma-separated names) scopes a local
    // perf iteration; the driver never sets it.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty[String])
    // fail fast on a typo'd name: a silent no-match run would overwrite
    // the committed-evidence BENCH_RAW.json with an empty result.
    val unknown = only.diff(SparkEntry.queries.keySet)
    require(unknown.isEmpty,
      s"SPARK_GRAFT_BENCH_ONLY names not in the registry: " +
        unknown.toSeq.sorted.mkString(", "))
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.isEmpty || only(name) }
      .map { case (name, fn) =>
      // localCheckpoint blocks from completed executions used to be
      // reclaimed only when a JVM GC let the ContextCleaner process
      // their weak refs — an ASYNC path the r8 driver bench proved
      // insufficient under 369-query storage pressure (q239 reps
      // [9.2, 3.2, 22.1]; q167 2.4 -> 9.3 s): the GC nudge alone left
      // reclamation timing-dependent, so a rep's cost depended on suite
      // position. Now every Checkpoints.ckpt site registers its blocks
      // and releaseQueryScoped unpersists them DETERMINISTICALLY
      // between reps, outside the timed window — per-query alone let a
      // heavy query's own rep-1/rep-2 blocks crush rep 3 (q239 at 361
      // queries: 5.9 -> 15.9 -> 133 s). Session-lifetime caches
      // (sessionScope ckpts, .persist() frames) survive; the GC nudge
      // stays for what the registry cannot see (shuffle files,
      // broadcasts, dropped session frames).
      def release(): Unit = {
        graft.operators.Checkpoints.releaseQueryScoped(spark)
        System.gc()
      }
      val warmRep = timeOnce(fn, name)
      release()
      val timed = (1 to reps).map { _ =>
        val r = timeOnce(fn, name); release(); r
      }
      val err = (warmRep.err +: timed.map(_.err)).flatten.headOption
      (name, warmRep, timed, err)
    }
    // a failed query must be distinguishable from a fast one: any failed rep
    // marks the query failed, its reported timing is -1
    def median(ts: Seq[Double]): Double = {
      val s = ts.sorted
      if (s.length % 2 == 1) s(s.length / 2)
      else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0
    }
    def r3(v: Double): String =
      BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    def short(name: String): String = name.takeWhile(_ != '_')
    val meds = results.map { case (name, warm, ts, _) =>
      (name, if (ts.exists(_.sec == -1.0) || warm.sec == -1.0) -1.0
             else median(ts.map(_.sec)))
    }
    // rep-spread flag (r9 verdict item 3): a query whose timed reps span
    // more than 2x is unstable — the r8 q239 release bug was visible as
    // spread long before it moved the median. Reported like `failed`;
    // queries whose MEDIAN is sub-0.3 s are exempt (JVM scheduling noise
    // dominates there — gating on max would flag a steady 0.05 s query
    // for one noisy 0.35 s rep, the exact case the exemption is for).
    val spreadFlagged = results.collect {
      case (name, _, ts, None)
        if ts.nonEmpty && ts.forall(_.sec > 0) &&
           median(ts.map(_.sec)) >= 0.3 &&
           ts.map(_.sec).max / ts.map(_.sec).min > 2.0 => name
    }
    // duplicate short keys would silently overwrite each other in the JSON
    // object — fail fast instead if a registry name ever reuses a qNN prefix
    require(meds.map(m => short(m._1)).distinct.size == meds.size,
      "duplicate qNN prefixes in SparkEntry.queries")
    val qs = meds.map { case (k, v) => "\"" + short(k) + "\":" + r3(v) }
      .mkString("{", ",", "}")
    val failed = meds.collect { case (k, -1.0) => "\"" + short(k) + "\"" }
      .mkString("[", ",", "]")
    val total = meds.collect { case (_, v) if v >= 0 => v }.sum
    // full-name warm + raw reps → BENCH_RAW.json (committed evidence) + stderr
    def jstr(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => "\\u%04x".format(c.toInt)
        case c => c.toString
      } + "\""
    val raw = results.map { case (k, warm, ts, err) =>
      "\"" + k + "\":{\"warm\":" + r3(warm.sec) + ",\"reps\":" +
        ts.map(r => r3(r.sec)).mkString("[", ",", "]") +
        ",\"gc_ms\":" + (warm +: ts).map(_.gcMs.toString).mkString("[", ",", "]") +
        ",\"storage_mb\":" + (warm +: ts).map(r => r3(r.storMb)).mkString("[", ",", "]") +
        err.map(e => ",\"error\":" + jstr(e)).getOrElse("") + "}"
    }.mkString("{", ",", "}")
    val flaggedRaw = spreadFlagged.map(jstr).mkString("[", ",", "]")
    val rawLine = s"""{"bench_detail":$raw,"flagged_spread":$flaggedRaw,"sf":"$sfDir","cpus":$cpus,"reps":$reps,"protocol":"1 warm + $reps timed per query, medians over timed only; gc_ms/storage_mb are [warm, rep...] JVM-GC-time deltas and post-rep storage snapshots"}"""
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("BENCH_RAW.json"), rawLine + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] BENCH_RAW.json write failed: ${e.getMessage}") }
    System.err.println(rawLine)
    val flaggedShort = spreadFlagged.map(n => "\"" + short(n) + "\"")
      .mkString("[", ",", "]")
    println(s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":$qs,"failed":$failed,"flagged_spread":$flaggedShort,"runs":$reps,"warm":1,"sf":"$sfDir"}""")
    spark.stop()
  }
}
