package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Probabilistic sketches for corpus-scale profiling: linear-counting
  * distinct estimation, count-min frequency estimation (heavy hitters), and
  * a Bloom-filter membership pre-filter.
  *
  * Why sketches at 100 TB: the exact forms (`countDistinct`, full token
  * `groupBy`, digest anti-join) shuffle data proportional to the NUMBER OF
  * DISTINCT VALUES; the sketch forms shuffle data bounded by the FIXED
  * sketch size (m buckets / d*w counters / m bits), independent of corpus
  * size, because partial aggregation collapses each executor's contribution
  * to at most one row per sketch cell before the exchange. That turns a
  * "count distinct user-ids over 100 TB" from a terabyte shuffle into a
  * megabyte one, at a quantified accuracy cost.
  *
  * Every operator takes a `portable` flag: `false` (default) hashes with
  * codegen'd xxhash64 (fastest); `true` uses [[Dedup.portableHash64]]'s
  * md5-derived 60-bit family, which DuckDB can replay bit-identically — the
  * registered verification queries run portable so the whole sketch
  * pipeline is value-oracled cross-engine (sketch cells are exact integers:
  * same hashes => same buckets => same counters => same estimates).
  *
  * All hash inputs go through an explicit string cast so Spark and any
  * replaying engine hash the same bytes regardless of the column's type.
  */
object Sketch {

  private def hash(c: Column, seed: Int, portable: Boolean): Column =
    if (portable) Dedup.portableHash64(c.cast("string"), seed)
    else xxhash64(c.cast("string"), lit(seed))

  /** The sketch-family bucket column: seeded hash mod m. One definition
    * shared by the batch operators and the streaming twin
    * ([[graft.streaming.Stream.activeStudentsSketch]]) so the two can
    * never desynchronize on seed, cast, or modulus. */
  def bucketCol(c: Column, m: Int, seed: Int = 7,
                portable: Boolean = false): Column =
    pmod(hash(c, seed, portable), lit(m.toLong))

  /** The linear-counting estimator -m*ln((m-z)/m) as a Column over an
    * occupied-bucket count; NULL when saturated (z == m). Shared by the
    * batch and streaming forms — one estimator to trust. */
  def lcEstimate(m: Int, occupied: Column): Column =
    when(occupied < m,
      round(lit(-m.toDouble) * log((lit(m) - occupied) / m.toDouble), 6))

  /** Linear-counting distinct estimate (Whang/Vander-Zanden/Taylor 1990):
    * hash every value into one of `m` buckets, count occupied buckets `z`,
    * estimate distinct = -m * ln((m - z) / m).
    *
    * Physical shape: one hash-aggregate over bucket ids in [0, m) — the
    * map side emits at most `m` rows per partition however many input rows
    * it saw, so the exchange carries O(m * partitions) ints, never the
    * values themselves (exact `countDistinct` shuffles every distinct
    * value). Standard error ~ sqrt(m*(exp(n/m)-1-n/m))/n; size m for the
    * expected cardinality (load factor n/m <= ~1 keeps it in low percents).
    *
    * Output: one row (m, occupied, est_distinct); est_distinct is NULL when
    * every bucket is occupied (estimator saturated — grow m). */
  def linearCountDistinct(df: DataFrame, valueCol: String, m: Int = 4096,
                          seed: Int = 7, portable: Boolean = false): DataFrame = {
    val occupied = df
      .select(bucketCol(col(valueCol), m, seed, portable).as("__bucket"))
      .agg(countDistinct(col("__bucket")).as("occupied"))
    occupied.select(
      lit(m).as("m"),
      col("occupied"),
      lcEstimate(m, col("occupied")).as("est_distinct"))
  }

  /** HyperLogLog registers (Flajolet et al. 2007) for a value column:
    * bucket = hash1 % 2^p, rank rho = leading-zero count (+1) of a SECOND
    * independent 48-bit hash, register = max rho per bucket. Two
    * independent hashes instead of bit-slicing one: the portable family is
    * only 60 bits, and `length(bin(w))` on a positive long computes the
    * bit length EXACTLY the same way in Spark and DuckDB (minimal binary
    * string, no float log2 anywhere), so every register is an exact
    * cross-engine integer.
    *
    * Physical shape: one hash-aggregate keyed by bucket — map-side partial
    * max caps the exchange at m rows per partition, the HLL selling point
    * over exact countDistinct at 100 TB (same O(m * partitions) bound as
    * [[linearCountDistinct]], but usable orders of magnitude past m
    * distincts where linear counting saturates).
    *
    * Output: (bucket, reg), occupied buckets only. */
  /** The HLL bucket column — exposed (with [[hllRho]]) so the streaming
    * twin groups by the SAME definitions (one code path to trust, as with
    * [[bucketCol]]/[[lcEstimate]]). */
  def hllBucket(c: Column, p: Int, seed: Int = 7,
                portable: Boolean = false): Column =
    bucketCol(c, 1 << p, seed, portable)

  /** The HLL rank column: leading-zero count (+1) of the second 48-bit
    * hash, via exact bit length. */
  def hllRho(c: Column, seed: Int = 7, portable: Boolean = false): Column = {
    val w = pmod(hash(c, seed + 1, portable), lit(1L << 48))
    when(w === 0L, lit(49)).otherwise(lit(49) - length(bin(w)).cast("int"))
  }

  def hllRegisters(df: DataFrame, valueCol: String, p: Int = 12,
                   seed: Int = 7, portable: Boolean = false): DataFrame = {
    require(p >= 7 && p <= 18, "hll: p in [7, 18]")
    df.select(hllBucket(col(valueCol), p, seed, portable).as("bucket"),
        hllRho(col(valueCol), seed, portable).as("rho"))
      .groupBy(col("bucket"))
      .agg(max(col("rho")).as("reg"))
  }

  /** Merge HLL register sets (the mergeability that makes HLL the
    * distributed distinct-count sketch: per-shard registers union by
    * bucket-wise max, never revisiting the data). */
  def hllMerge(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy(col("bucket")).agg(max(col("reg")).as("reg"))

  /** The HLL estimate numerator alpha_m * m^2 for [[hllEstimate]] —
    * exposed so the SQL oracle can interpolate the IDENTICAL double
    * (Double.toString round-trips, so both engines parse the same bits). */
  def hllAlphaM2(p: Int): Double = {
    val m = (1 << p).toDouble
    (0.7213 / (1.0 + 1.079 / m)) * m * m
  }

  /** HyperLogLog distinct estimate over [[hllRegisters]] output.
    *
    * Cross-engine float discipline: the harmonic denominator
    * sum(2^-reg) is order-dependent in naive double arithmetic, so it is
    * computed EXACTLY — each occupied bucket contributes the integer
    * 2^(49-reg) (reg <= 49, so it fits a long), summed as DECIMAL(38,0)
    * with the m-z empty buckets contributing 2^49 each, then ONE cast to
    * double and ONE division by 2^49. Small-range correction (raw <=
    * 2.5m with empty buckets) switches to linear counting over the zero
    * count, matching the published estimator.
    *
    * Output: one row (m, occupied, max_reg, est_distinct). */
  /** The per-register term 2^(49-reg) as DECIMAL(38,0) — the exact-sum
    * contribution each occupied bucket feeds the harmonic denominator.
    * (The DSL shiftleft only takes a literal shift; the SQL form shifts by
    * a column — 1L << (49 - reg) is exact for reg in [1, 49].) */
  def hllTerm: Column =
    expr("shiftleft(CAST(1 AS BIGINT), 49 - reg)").cast("decimal(38,0)")

  /** The estimate from the (occupied, sum-of-terms) aggregates — one
    * estimator expression shared by the batch form and the streaming
    * per-window twin ([[graft.streaming.Stream.activeStudentsHll]]). */
  def hllEstimateCol(p: Int, occupied: Column, sOcc: Column): Column = {
    val m = 1 << p
    val sTotal = coalesce(sOcc, lit(0).cast("decimal(38,0)")) +
      (lit(m.toLong) - occupied).cast("decimal(38,0)") *
        lit(1L << 49).cast("decimal(38,0)")
    val sum2 = sTotal.cast("double") / lit((1L << 49).toDouble)
    val raw = lit(hllAlphaM2(p)) / sum2
    val zeros = lit(m.toLong) - occupied
    val est = when(raw <= lit(2.5 * m) && zeros > 0L,
        lit(m.toDouble) * log(lit(m.toDouble) / zeros))
      .otherwise(raw)
    round(est, 6)
  }

  def hllEstimate(registers: DataFrame, p: Int): DataFrame =
    registers.agg(
        count(lit(1)).as("occupied"),
        max(col("reg")).as("max_reg"),
        sum(hllTerm).as("s_occ"))
      .select(lit(1 << p).as("m"), col("occupied"), col("max_reg"),
        hllEstimateCol(p, col("occupied"), col("s_occ")).as("est_distinct"))

  /** Registers + estimate in one call (the batch entry point). */
  def hllDistinct(df: DataFrame, valueCol: String, p: Int = 12,
                  seed: Int = 7, portable: Boolean = false): DataFrame =
    hllEstimate(hllRegisters(df, valueCol, p, seed, portable), p)

  /** Append a batch's HLL registers to the PERSISTED register table at
    * `path`, stamped with `batch_id` — the maintained-index form of
    * [[hllDistinct]] (the q208/q209 shape with a MAX merge instead of a
    * sum): corpus-wide distinct estimates forever after come from the
    * bounded table. Replay-safe by the same argument as the moments
    * table — register rows are a pure function of the batch, and
    * [[hllDistinctFromTable]] dedups (batch_id, bucket) before the
    * bucket-wise max (which is additionally IDEMPOTENT, so even an
    * un-deduped duplicate could not change the fold — belt and braces). */
  def appendHllRegisters(df: DataFrame, valueCol: String, path: String,
                         batchId: String, p: Int = 12, seed: Int = 7,
                         portable: Boolean = false): Unit =
    hllRegisters(df, valueCol, p, seed, portable)
      .withColumn("batch_id", lit(batchId))
      .write.mode("append").parquet(path)

  /** Distinct estimate from the persisted register table: replay-dedup,
    * bucket-wise MAX merge (HLL's union), then the exact-DECIMAL
    * estimator — equals the one-shot [[hllDistinct]] of everything ever
    * appended (q211's proof, anchored on q77's oracle). */
  def hllDistinctFromTable(spark: org.apache.spark.sql.SparkSession,
                           path: String, p: Int = 12): DataFrame =
    hllEstimate(foldHll(spark.read.parquet(path)), p)

  /** Fold the register table value-preservingly (max is idempotent and
    * associative); [[graft.etl.Sinks]] staging-swap scope applies. */
  def compactHll(spark: org.apache.spark.sql.SparkSession, path: String,
                 targetFiles: Int = 1): (Int, Int) =
    graft.etl.Sinks.compactWith(spark, path, targetFiles,
      foldHll(_).withColumn("batch_id", lit("__compacted")))

  /** ONE fold shared by the read path and compaction: replay-dedup on
    * (batch_id, bucket), then HLL's bucket-wise max union. */
  private def foldHll(df: DataFrame): DataFrame =
    df.dropDuplicates("batch_id", "bucket")
      .groupBy(col("bucket")).agg(max(col("reg")).as("reg"))

  /** Per-key HLL registers (keyCol, bucket, reg) — the grouped analogue
    * of [[hllRegisters]]: one partial-agg'd hash aggregation keyed
    * (key, bucket), so per-key register state over 100 TB shuffles
    * O(keys * m) ints, never the values. The register frame is the
    * MERGEABLE form: [[hllSetAlgebra]] unions/intersects keys from it
    * without revisiting the data. */
  def hllRegistersBy(df: DataFrame, keyCol: String, valueCol: String,
                     p: Int = 12, seed: Int = 7,
                     portable: Boolean = false): DataFrame = {
    require(p >= 7 && p <= 18, "hll: p in [7, 18]")
    df.select(col(keyCol),
        hllBucket(col(valueCol), p, seed, portable).as("bucket"),
        hllRho(col(valueCol), seed, portable).as("rho"))
      .groupBy(col(keyCol), col("bucket"))
      .agg(max(col("rho")).as("reg"))
  }

  /** Per-group HLL distinct estimates — approx_count_distinct with a
    * verifiable, mergeable sketch ([[hllRegistersBy]] + the shared
    * estimator). Output: (keyCol, occupied, max_reg, est_distinct). */
  def hllDistinctBy(df: DataFrame, keyCol: String, valueCol: String,
                    p: Int = 12, seed: Int = 7,
                    portable: Boolean = false): DataFrame =
    hllEstimateBy(hllRegistersBy(df, keyCol, valueCol, p, seed, portable),
      keyCol, p)

  /** Estimate chain over a per-key register frame (keyCol, bucket, reg)
    * — the second half of [[hllDistinctBy]], exposed so the persisted
    * profile table's fold-then-estimate read can never diverge from the
    * one-shot form. */
  def hllEstimateBy(regs: DataFrame, keyCol: String, p: Int): DataFrame =
    regs.groupBy(col(keyCol))
      .agg(count(lit(1)).as("occupied"), max(col("reg")).as("max_reg"),
        sum(hllTerm).as("__s"))
      .select(col(keyCol), col("occupied"), col("max_reg"),
        hllEstimateCol(p, col("occupied"), col("__s")).as("est_distinct"))

  /** ANALYZE-style column profiler — the stats-collection surface a
    * cost-based optimizer (join reorder, broadcast decisions) and a
    * data-quality gate both need: per column, row count, null count,
    * and an HLL distinct estimate. Columns are string-cast and
    * unpivoted to (col_name, value) pairs in ONE projection, so the
    * whole profile is two aggregations over one corpus scan's worth of
    * exploded pairs — the per-(column, bucket) register agg collapses
    * map-side to at most cols x 2^p rows per partition and the base
    * counts to cols rows, so profiling 100 TB shuffles kilobytes.
    * Restrict `cols` to exactly-rendered types (integers, strings,
    * dates) when cross-engine replay matters: double-to-string
    * formatting is engine-specific.
    *
    * All-null columns profile as (n_rows, n_null, 0, 0, 0.0) rather
    * than dropping out — absence from a profile is how a dead column
    * hides. Output: (col_name, n_rows, n_null, occupied, max_reg,
    * est_distinct), the q91 estimator columns plus the base counts. */
  def columnProfile(df: DataFrame, cols: Seq[String], p: Int = 12,
                    seed: Int = 7, portable: Boolean = false): DataFrame = {
    val pairs = unpivotToPairs(df, cols)
    assembleProfile(profileBase(pairs),
      hllDistinctBy(pairs.filter(col("value").isNotNull),
        "col_name", "value", p, seed, portable))
  }

  /** The profiler's unpivot: (col_name, value-as-string) pairs in ONE
    * projection — shared by the one-shot and persisted-table forms. */
  private def unpivotToPairs(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "columnProfile: at least one column")
    df.select(explode(array(cols.map(c =>
        struct(lit(c).as("col_name"), col(c).cast("string").as("value"))): _*))
        .as("kv"))
      .select(col("kv.col_name").as("col_name"), col("kv.value").as("value"))
  }

  /** The profiler's exact base counts per column. */
  private def profileBase(pairs: DataFrame): DataFrame =
    pairs.groupBy(col("col_name"))
      .agg(count(lit(1)).as("n_rows"),
        count(when(col("value").isNull, 1)).as("n_null"))

  /** The profiler's final join: base counts + estimator columns, with
    * all-null columns kept (occupied/max_reg/est coalesce to zero). */
  private def assembleProfile(base: DataFrame, est: DataFrame): DataFrame =
    base.join(est, Seq("col_name"), "left")
      .select(col("col_name"), col("n_rows"), col("n_null"),
        coalesce(col("occupied"), lit(0L)).as("occupied"),
        coalesce(col("max_reg"), lit(0)).as("max_reg"),
        coalesce(col("est_distinct"), lit(0.0)).as("est_distinct"))

  /** Append a batch's profile rows to the PERSISTED profile table at
    * `path`, stamped with `batch_id` — the maintained-index form of
    * [[columnProfile]], and the first table in the family that mixes
    * merge rules: base counts (kind='base') merge by exact SUM, HLL
    * registers (kind='reg') by bucket-wise MAX, in ONE fold. Append
    * batches must PARTITION the corpus (same contract as the moments/
    * CMS tables): counts are summed, so overlapping batch contents
    * double-count — only a replay under the SAME batch_id is absorbed
    * (read-side (batch_id, kind, col_name, bucket) dedup; the register
    * half is additionally idempotent). At 100 TB the running profile of
    * every corpus drop is O(cols x 2^p) rows read back in one bounded
    * scan — stats collection never rescans history. */
  def appendColumnProfile(df: DataFrame, cols: Seq[String], path: String,
                          batchId: String, p: Int = 12, seed: Int = 7,
                          portable: Boolean = false): Unit =
    profileRows(df, cols, batchId, p, seed, portable)
      .write.mode("append").parquet(path)

  /** One batch's profile-table rows (both kinds, batch-stamped) —
    * shared by the plain-append and versioned-commit forms. */
  private def profileRows(df: DataFrame, cols: Seq[String], batchId: String,
                          p: Int, seed: Int, portable: Boolean): DataFrame = {
    val pairs = unpivotToPairs(df, cols)
    val base = profileBase(pairs)
      .select(lit("base").as("kind"), col("col_name"),
        lit(null).cast("long").as("bucket"), lit(null).cast("int").as("reg"),
        col("n_rows"), col("n_null"))
    val regs = hllRegistersBy(pairs.filter(col("value").isNotNull),
        "col_name", "value", p, seed, portable)
      .select(lit("reg").as("kind"), col("col_name"), col("bucket"),
        col("reg"), lit(null).cast("long").as("n_rows"),
        lit(null).cast("long").as("n_null"))
    base.unionByName(regs).withColumn("batch_id", lit(batchId))
  }

  /** [[appendColumnProfile]] as a TRANSACTIONAL commit
    * ([[graft.etl.Versioned]]): the batch's profile rows publish behind
    * an atomic manifest whose commit key IS the batch id — so a retried
    * job or replayed streaming micro-batch commits exactly once at the
    * COMMIT level (the read side's (batch_id, ...) dedup becomes belt
    * and braces rather than load-bearing), readers never see a
    * half-appended batch, and the profile history time-travels. Returns
    * the committed version. */
  def appendColumnProfileVersioned(df: DataFrame, cols: Seq[String],
                                   root: String, batchId: String,
                                   p: Int = 12, seed: Int = 7,
                                   portable: Boolean = false): Long =
    graft.etl.Versioned.append(
      profileRows(df, cols, batchId, p, seed, portable), root,
      key = Some(batchId))

  /** Profile from the persisted table: one fold (replay-dedup, SUM the
    * counts, MAX the registers), then the SAME estimate + assemble
    * chain as [[columnProfile]] — equals the one-shot profile of
    * everything ever appended (q214's proof, anchored on q213's
    * oracle). */
  def columnProfileFromTable(spark: org.apache.spark.sql.SparkSession,
                             path: String, p: Int = 12): DataFrame =
    profileFromRaw(spark.read.parquet(path), p)

  /** Profile from a SNAPSHOT-VERSIONED table written by
    * [[appendColumnProfileVersioned]] — same fold + estimate chain over
    * the chosen snapshot (latest by default; pass a version to read the
    * stats as of any retained commit). */
  def columnProfileFromVersioned(spark: org.apache.spark.sql.SparkSession,
                                 root: String, p: Int = 12,
                                 version: Option[Long] = None): DataFrame =
    profileFromRaw(graft.etl.Versioned.read(spark, root, version), p)

  /** ONE fold + estimate + assemble chain shared by every read form. */
  private def profileFromRaw(raw: DataFrame, p: Int): DataFrame = {
    val folded = foldProfile(raw)
    assembleProfile(
      folded.filter(col("kind") === "base")
        .select(col("col_name"), col("n_rows"), col("n_null")),
      hllEstimateBy(folded.filter(col("kind") === "reg")
        .select(col("col_name"), col("bucket"), col("reg")), "col_name", p))
  }

  /** Fold the profile table value-preservingly (both merge rules). */
  def compactProfile(spark: org.apache.spark.sql.SparkSession, path: String,
                     targetFiles: Int = 1): (Int, Int) =
    graft.etl.Sinks.compactWith(spark, path, targetFiles,
      foldProfile(_).withColumn("batch_id", lit("__compacted")))

  /** ONE fold shared by the read path and compaction: replay-dedup on
    * (batch_id, kind, col_name, bucket), then SUM for the base-count
    * rows and bucket-wise MAX for the register rows. */
  private def foldProfile(df: DataFrame): DataFrame = {
    val deduped = df.dropDuplicates("batch_id", "kind", "col_name", "bucket")
    val base = deduped.filter(col("kind") === "base")
      .groupBy(col("col_name"))
      .agg(sum(col("n_rows")).as("n_rows"), sum(col("n_null")).as("n_null"))
      .select(lit("base").as("kind"), col("col_name"),
        lit(null).cast("long").as("bucket"), lit(null).cast("int").as("reg"),
        col("n_rows"), col("n_null"))
    val regs = deduped.filter(col("kind") === "reg")
      .groupBy(col("col_name"), col("bucket"))
      .agg(max(col("reg")).as("reg"))
      .select(lit("reg").as("kind"), col("col_name"), col("bucket"),
        col("reg"), lit(null).cast("long").as("n_rows"),
        lit(null).cast("long").as("n_null"))
    base.unionByName(regs)
  }

  /** Equi-join cardinality estimate from two [[columnProfile]] rows —
    * the CBO arithmetic that makes the collected stats actionable
    * (System R's uniform-containment formula, what Catalyst's CBO
    * computes from ANALYZE stats): joinable rows are the non-null
    * sides, expected matches = n_left' * n_right' / max(ndv_l, ndv_r),
    * and the smaller side by row count is the broadcast candidate.
    * Everything runs on two 1-row profile slices (broadcast cross join
    * — no data motion), so planning is free at any corpus size.
    *
    * The estimate is a DOUBLE with no trailing round: both operands
    * are cross-engine-identical (exact counts; the estimator's
    * 6-rounded ndv), so one multiply-divide chain replays bit-for-bit.
    * Output: (key_left, key_right, n_left, n_right, null_left,
    * null_right, ndv_left, ndv_right, est_join_rows, broadcast_side). */
  def joinEstimate(profileLeft: DataFrame, keyLeft: String,
                   profileRight: DataFrame, keyRight: String): DataFrame = {
    def side(p: DataFrame, key: String, tag: String) =
      p.filter(col("col_name") === key)
        .select(lit(key).as(s"key_$tag"), col("n_rows").as(s"n_$tag"),
          col("n_null").as(s"null_$tag"),
          col("est_distinct").as(s"ndv_$tag"))
    side(profileLeft, keyLeft, "left")
      .crossJoin(side(profileRight, keyRight, "right"))
      .select(col("key_left"), col("key_right"), col("n_left"),
        col("n_right"), col("null_left"), col("null_right"),
        col("ndv_left"), col("ndv_right"),
        when(greatest(col("ndv_left"), col("ndv_right")) <= 0.0, lit(0.0))
          .otherwise(
            (col("n_left") - col("null_left")).cast("double") *
              (col("n_right") - col("null_right")).cast("double") /
              greatest(col("ndv_left"), col("ndv_right")))
          .as("est_join_rows"),
        when(col("n_left") <= col("n_right"), lit("left"))
          .otherwise(lit("right")).as("broadcast_side"))
  }

  /** HLL SET ALGEBRA over every unordered key pair: per-key distinct
    * estimate, pairwise UNION estimate (bucket-wise max register merge —
    * the mergeability that lets 1000 executors sketch shards
    * independently), and the inclusion-exclusion INTERSECTION estimate
    * |A∩B| ≈ |A| + |B| - |A∪B| (Flajolet; the standard HLL intersection,
    * noisy for small overlaps — it may go slightly negative, which is
    * reported as-is rather than clamped so the audit sees the raw
    * estimator).
    *
    * Scale shape: ONE pass over the data builds the per-key registers
    * (O(keys * m) ints); everything after runs on that bounded frame —
    * keys x keys pair enumeration is over the DISTINCT key list (assumed
    * small: sources, shards, days), and the merged frame is
    * O(pairs * m). The register frame is checkpointed because three
    * consumers (per-key estimates + both pair-join sides) would otherwise
    * each re-scan the corpus.
    *
    * Output: (key_a, key_b, est_a, est_b, est_union, est_intersect),
    * key_a < key_b. */
  def hllSetAlgebra(df: DataFrame, keyCol: String, valueCol: String,
                    p: Int = 12, seed: Int = 7,
                    portable: Boolean = false): DataFrame = {
    val regs = Checkpoints.ckpt(
      hllRegistersBy(df, keyCol, valueCol, p, seed, portable))
    def estimate(r: DataFrame, keys: Seq[String], outCol: String): DataFrame =
      r.groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as("__occ"), sum(hllTerm).as("__s"))
        .select(keys.map(col) :+
          hllEstimateCol(p, col("__occ"), col("__s")).as(outCol): _*)
    val ests = estimate(regs, Seq(keyCol), "__est")
    val keys = regs.select(col(keyCol)).distinct()
    val pairs = keys.select(col(keyCol).as("key_a"))
      .join(keys.select(col(keyCol).as("key_b")), col("key_a") < col("key_b"))
    // union registers: each side's registers tagged with the pair, then
    // bucket-wise max — the same fold hllMerge does for two frames
    val merged = pairs.join(regs.withColumnRenamed(keyCol, "key_a"), "key_a")
      .unionByName(pairs.join(regs.withColumnRenamed(keyCol, "key_b"), "key_b")
        .select("key_a", "key_b", "bucket", "reg"))
      .groupBy(col("key_a"), col("key_b"), col("bucket"))
      .agg(max(col("reg")).as("reg"))
    estimate(merged, Seq("key_a", "key_b"), "est_union")
      .join(ests.select(col(keyCol).as("key_a"), col("__est").as("est_a")), "key_a")
      .join(ests.select(col(keyCol).as("key_b"), col("__est").as("est_b")), "key_b")
      .select(col("key_a"), col("key_b"), col("est_a"), col("est_b"),
        col("est_union"),
        (col("est_a") + col("est_b") - col("est_union")).as("est_intersect"))
  }

  /** Count-min sketch counters (Cormode/Muthukrishnan 2005) for a value
    * column: `depth` independent hash rows of `width` counters; cell
    * (d, h_d(v) % width) accumulates the count of v's occurrences.
    *
    * One posexplode (depth rows per occurrence) + one hash-aggregate on
    * (depth, bucket) — map-side combine caps the exchange at
    * depth * width rows per partition. Output: (depth, bucket, cnt). */
  def cmsCounters(occurrences: DataFrame, valueCol: String, depth: Int = 4,
                  width: Int = 1024, portable: Boolean = false): DataFrame =
    occurrences
      .select(posexplode(array((0 until depth).map(d =>
        pmod(hash(col(valueCol), 100 + d, portable), lit(width.toLong))): _*)))
      .toDF("depth", "bucket")
      .groupBy(col("depth"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))

  /** Heavy hitters via count-min: estimated frequency of each candidate
    * value is min over the `depth` rows of its counter cell — an
    * overestimate by at most the collision mass (eps = e/width of total
    * occurrences with probability 1 - exp(-depth)); never an underestimate.
    *
    * `candidates` defaults to the distinct values of the corpus itself
    * (fine at verification scale); at 100 TB pass an explicit candidate
    * frame (e.g. last hour's trending keys) — the sketch's point is that
    * the counters are already built and each probe is O(depth) lookups, so
    * frequency queries never rescan the corpus.
    *
    * Output: (value, est_freq) top `k` by (est_freq desc, value asc). */
  def cmsHeavyHitters(occurrences: DataFrame, valueCol: String, k: Int = 30,
                      depth: Int = 4, width: Int = 1024,
                      portable: Boolean = false,
                      candidates: Option[DataFrame] = None): DataFrame =
    cmsProbe(cmsCounters(occurrences, valueCol, depth, width, portable),
      candidates.getOrElse(occurrences.select(col(valueCol)).distinct()),
      valueCol, k, depth, width, portable)

  /** Append a batch's CMS counters to the PERSISTED counter table at
    * `path`, stamped with `batch_id` (the q208/q209 shape; cells merge
    * by cell-wise SUM). Replay-safe: batch counters are pure functions
    * of the batch, and [[cmsHeavyHittersFromTable]] dedups
    * (batch_id, depth, bucket) before the sum. */
  def appendCmsCounters(occurrences: DataFrame, valueCol: String,
                        path: String, batchId: String, depth: Int = 4,
                        width: Int = 1024,
                        portable: Boolean = false): Unit =
    cmsCounters(occurrences, valueCol, depth, width, portable)
      .withColumn("batch_id", lit(batchId))
      .write.mode("append").parquet(path)

  /** Heavy hitters from the persisted counter table. `candidates` is
    * REQUIRED here (the corpus is not on hand — which is the point: at
    * 100 TB the counters are already built and each probe is O(depth)
    * lookups, so frequency queries never rescan the corpus). Equals the
    * one-shot [[cmsHeavyHitters]] over everything ever appended when
    * probed with the same candidate set (q210's proof, anchored on
    * q69's oracle). */
  def cmsHeavyHittersFromTable(spark: org.apache.spark.sql.SparkSession,
                               path: String, candidates: DataFrame,
                               valueCol: String, k: Int = 30,
                               depth: Int = 4, width: Int = 1024,
                               portable: Boolean = false): DataFrame =
    cmsProbe(foldCms(spark.read.parquet(path)), candidates, valueCol, k,
      depth, width, portable)

  /** Fold the counter table value-preservingly (exact integer cell sums). */
  def compactCms(spark: org.apache.spark.sql.SparkSession, path: String,
                 targetFiles: Int = 1): (Int, Int) =
    graft.etl.Sinks.compactWith(spark, path, targetFiles,
      foldCms(_).withColumn("batch_id", lit("__compacted")))

  /** ONE fold shared by the read path and compaction: replay-dedup on
    * (batch_id, depth, bucket), then the cell-wise count sum. */
  private def foldCms(df: DataFrame): DataFrame =
    df.dropDuplicates("batch_id", "depth", "bucket")
      .groupBy(col("depth"), col("bucket")).agg(sum(col("cnt")).as("cnt"))

  /** The candidate-probe chain over a built counter frame — min over the
    * depth rows per candidate, shared by the one-shot and table forms. */
  private def cmsProbe(counters: DataFrame, cand: DataFrame,
                       valueCol: String, k: Int, depth: Int, width: Int,
                       portable: Boolean): DataFrame = {
    cand
      .select(col(valueCol).as("value"),
        posexplode(array((0 until depth).map(d =>
          pmod(hash(col(valueCol), 100 + d, portable), lit(width.toLong))): _*)))
      .toDF("value", "depth", "bucket")
      // LEFT join: a candidate the corpus never saw has no counter row in
      // some (or every) depth — that cell's count is 0, and CMS must
      // report min(..., 0) = 0, not the min over only the colliding cells
      // (an inner join would report a colliding heavy token's count, or
      // drop the candidate entirely)
      .join(counters, Seq("depth", "bucket"), "left")
      .groupBy(col("value"))
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est_freq"))
      .orderBy(col("est_freq").desc, col("value").asc)
      .limit(k)
  }

  /** Fixed-width histogram quantile sketch over an integer (cents-scaled)
    * value column: bin = value div binWidth, one bounded hash aggregate
    * (≤ range/binWidth rows per partition after partial agg), then
    * quantile extraction over the TINY histogram. The mergeable exact-
    * integer cousin of t-digest: histograms union by bin-wise count sum,
    * and every arithmetic step is integer (bins, cumulative counts, ranks
    * as ceil-rational, integer-division interpolation) except the single
    * final /100.0 — so the whole estimator replays cross-engine (q82).
    *
    * Ranks: r(q) = ceil(q * N) computed as (num*N + den - 1) div den with
    * q = num/den in ten-thousandths — NEVER ceil(double): 0.9 * 15000
    * rounds UP to 13500.000000000002 in binary and ceil would skip a rank.
    *
    * Estimate: lower bin edge + binWidth * (r - cum_before) div count —
    * within-bin linear interpolation, floor semantics.
    * Output: (quantile_bp, est) — quantile in basis points, est in the
    * /100.0 unit (dollars for cents input). */
  def histogramQuantiles(df: DataFrame, centsCol: Column,
                         binWidthCents: Long,
                         quantilesBp: Seq[Int]): DataFrame = {
    require(quantilesBp.nonEmpty && quantilesBp.forall(q => q > 0 && q <= 10000),
      "histogramQuantiles: quantiles in basis points (1..10000)")
    // Domain: non-negative cents only. DIV truncates toward zero, so a
    // negative value would collapse into bin 0's neighborhood and the
    // lower-edge + positive-offset interpolation below would be wrong
    // (and diverge from DuckDB's floor //). Enforced per-row rather than
    // silently mis-binned.
    quantilesFromHistogram(binnedHistogram(df, centsCol, binWidthCents),
      binWidthCents, quantilesBp)
  }

  /** The (bin, cnt) fixed-width histogram of [[histogramQuantiles]] — the
    * bounded mergeable state (histograms union by bin-wise count sum). */
  private def binnedHistogram(df: DataFrame, centsCol: Column,
                              binWidthCents: Long): DataFrame =
    df.select(centsCol.cast("long").as("__cents"))
      .select(when(col("__cents") < 0, raise_error(lit(
          "histogramQuantiles: negative cents unsupported (DIV truncation)")))
        .otherwise(col("__cents")).as("__cents"))
      .select(expr(s"__cents DIV $binWidthCents").as("bin"))
      .groupBy(col("bin")).agg(count(lit(1)).as("cnt"))

  /** Append a batch's bounded (bin, cnt) histogram to the PERSISTED
    * histogram table at `path`, stamped with `batch_id` — the
    * maintained-index form of [[histogramQuantiles]] (the
    * [[graft.operators.Embeddings.appendMoments]] shape for order
    * statistics): corpus-wide quantiles forever after come from the
    * table, never a rescan. Batch histograms are pure functions of the
    * batch, so a replayed append writes byte-identical rows and
    * [[histogramQuantilesFromTable]]'s (batch_id, bin) dedup absorbs it
    * — at-least-once callers stay exactly-once. */
  def appendHistogram(df: DataFrame, centsCol: Column, binWidthCents: Long,
                      path: String, batchId: String): Unit =
    binnedHistogram(df, centsCol, binWidthCents)
      .withColumn("batch_id", lit(batchId))
      .write.mode("append").parquet(path)

  /** Quantiles from the persisted histogram table: replay-dedup on
    * (batch_id, bin), bin-wise count sum (exact integer merge), then the
    * identical rank/interpolation chain — equals the one-shot
    * [[histogramQuantiles]] of everything ever appended (q209's proof,
    * anchored on q82's oracle). */
  def histogramQuantilesFromTable(spark: org.apache.spark.sql.SparkSession,
                                  path: String, binWidthCents: Long,
                                  quantilesBp: Seq[Int]): DataFrame =
    quantilesFromHistogram(foldHistogram(spark.read.parquet(path)),
      binWidthCents, quantilesBp)

  /** Fold the histogram table's per-batch rows into one bin-wise-summed
    * frame under a single synthetic batch id (exact integer addition —
    * value-preserving) via [[graft.etl.Sinks.compactWith]]; same
    * stopped-stream/committed-checkpoint precondition as
    * [[graft.operators.Embeddings.compactMoments]] (folding erases the
    * replay-dedup keys). */
  def compactHistogram(spark: org.apache.spark.sql.SparkSession,
                       path: String, targetFiles: Int = 1): (Int, Int) =
    graft.etl.Sinks.compactWith(spark, path, targetFiles,
      foldHistogram(_).withColumn("batch_id", lit("__compacted")))

  /** ONE fold shared by the read path and compaction: replay-dedup on
    * (batch_id, bin), then the exact integer bin-merge. */
  private def foldHistogram(df: DataFrame): DataFrame =
    df.dropDuplicates("batch_id", "bin")
      .groupBy(col("bin")).agg(sum(col("cnt")).as("cnt"))

  /** The rank/interpolation chain over a bounded (bin, cnt) histogram —
    * all-integer arithmetic, shared by the one-shot and table forms. */
  private def quantilesFromHistogram(hist: DataFrame, binWidthCents: Long,
                                     quantilesBp: Seq[Int]): DataFrame = {
    // Window-form cut extraction (r15, guide §2.4): the total n rides the
    // same ordered window pass as cum (unbounded frame, identical empty
    // partition spec + `bin` order — one WindowExec, and `bin` stays the
    // lint-reviewed order column). Per-bin counts are >= 1, so cum is
    // strictly increasing and the rank-r cut row is the UNIQUE row with
    // cum >= r AND cum_before < r — the former rank frame + non-equi
    // join + bin join collapse into per-row predicates; every requested
    // quantile is a conditional column stacked back to rows (NULL rows,
    // i.e. non-cut bins, filtered). Ranks ((bp*n + 9999) DIV 10000) and
    // the integer interpolation are UNCHANGED (q82/q209 hash parity).
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("bin"))
    val wAll = org.apache.spark.sql.expressions.Window.orderBy(col("bin"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    val cum = hist
      .withColumn("cum", sum(col("cnt")).over(w))
      .withColumn("cum_before", col("cum") - col("cnt"))
      .withColumn("n", sum(col("cnt")).over(wAll))
    // .distinct: the old rank-join form merged duplicate basis points in
    // its groupBy — one output row per distinct bp, preserved here
    val bps = quantilesBp.distinct
    // one select for every __est_<bp> column: a withColumn per basis
    // point would re-analyze the growing plan once per column
    val withEsts = cum.select(col("*") +: bps.map { bp =>
      val r = s"(CAST($bp AS BIGINT) * n + 9999) DIV 10000"
      when(col("cum") >= expr(r) && col("cum_before") < expr(r),
        (col("bin") * binWidthCents +
          expr(s"$binWidthCents * (($r) - cum_before) DIV cnt")) / 100.0)
        .as(s"__est_$bp")
    }: _*)
    withEsts.selectExpr(
        s"stack(${bps.size}, " +
          bps.map(bp => s"$bp, __est_$bp").mkString(", ") +
          ") AS (quantile_bp, est)")
      .filter(col("est").isNotNull)
      .orderBy("quantile_bp")
  }

  /** Bloom-filter bit set of a value column: `numHashes` seeded hashes per
    * value, each setting bit h % mBits. Represented relationally as the
    * DISTINCT set-bit positions — at most mBits rows of one long each, so
    * the filter for a billion-row corpus is still bounded by its bit width.
    * Output: (bit) distinct. */
  def bloomBits(df: DataFrame, valueCol: String, mBits: Int = 1 << 16,
                numHashes: Int = 4, portable: Boolean = false): DataFrame =
    df.select(explode(array((0 until numHashes).map(i =>
        pmod(hash(col(valueCol), 200 + i, portable), lit(mBits.toLong))): _*))
        .as("bit"))
      .distinct()

  /** Bloom membership probe: a probe value "may be present" iff ALL its
    * `numHashes` bits are set (classic no-false-negative / bounded-false-
    * positive contract, FPR ~ (1 - exp(-k*n/m))^k).
    *
    * The 100 TB role is JOIN PRE-FILTERING for incremental dedup
    * ([[Dedup.dropAgainstExisting]]): the bit set is megabytes and
    * broadcast-joinable, so the incoming batch drops its definitely-new
    * rows BEFORE the digest anti-join ever shuffles them — the anti-join
    * then runs only on the maybe-dup sliver.
    *
    * Output: probe rows + boolean `maybe_present`. Probe rows are grouped
    * by their full column set, so exact-duplicate probe rows collapse to
    * one output row (give probes a unique id when multiplicity matters). */
  def bloomProbe(probe: DataFrame, valueCol: String, bits: DataFrame,
                 mBits: Int = 1 << 16, numHashes: Int = 4,
                 portable: Boolean = false): DataFrame = {
    val marked = bits.withColumn("__set", lit(1))
    probe
      .withColumn("__pos", explode(array((0 until numHashes).map(i =>
        pmod(hash(col(valueCol), 200 + i, portable), lit(mBits.toLong))): _*)))
      .join(marked, col("__pos") === col("bit"), "left")
      .groupBy(probe.columns.map(col): _*)
      // all-positions-set via min, NOT sum === numHashes: duplicate probe
      // rows collapse into one group with a multiple of numHashes matches,
      // and a sum test would flag a definitely-present duplicate as new —
      // a false NEGATIVE, the one error class a bloom filter must not make
      .agg((min(coalesce(col("__set"), lit(0))) === 1).as("maybe_present"))
  }

  /** Append a batch's Bloom set-bit positions to the PERSISTED bit table
    * at `path`, stamped with `batch_id` — the maintained-index form of
    * [[bloomBits]], and the THIRD merge rule of the persisted-sketch
    * family: moments/histogram/CMS tables merge by exact SUM
    * (q208/q209/q210), HLL registers by bucket-wise MAX (q211), Bloom
    * bit sets by bitwise OR — which relationally is just DISTINCT over
    * set-bit positions, idempotent AND commutative, so a replayed
    * append is absorbed by the merge itself (no read-side replay-dedup
    * exists or is needed). The 100 TB role: the membership filter for the WHOLE
    * corpus stays bounded by its bit width (at most mBits rows) no
    * matter how many batches ever appended, so incremental-dedup
    * pre-filtering ([[bloomProbe]]'s join-pruning contract) never
    * rescans history — new batches fold in at O(batch). */
  def appendBloomBits(df: DataFrame, valueCol: String, path: String,
                      batchId: String, mBits: Int = 1 << 16,
                      numHashes: Int = 4, portable: Boolean = false): Unit =
    bloomBits(df, valueCol, mBits, numHashes, portable)
      .withColumn("batch_id", lit(batchId))
      .write.mode("append").parquet(path)

  /** Membership probe against the persisted bit table: fold (OR =
    * DISTINCT bit), then the [[bloomProbe]] chain —
    * equals the one-shot probe against [[bloomBits]] of everything ever
    * appended (q212's proof, anchored on q72's oracle). No false
    * negatives can survive the fold: a bit set by ANY batch stays set. */
  def bloomProbeFromTable(spark: org.apache.spark.sql.SparkSession,
                          path: String, probe: DataFrame,
                          valueCol: String, mBits: Int = 1 << 16,
                          numHashes: Int = 4,
                          portable: Boolean = false): DataFrame =
    bloomProbe(probe, valueCol, foldBloom(spark.read.parquet(path)),
      mBits, numHashes, portable)

  /** Fold the bit table value-preservingly (OR is idempotent and
    * associative); [[graft.etl.Sinks]] staging-swap scope applies. */
  def compactBloom(spark: org.apache.spark.sql.SparkSession, path: String,
                   targetFiles: Int = 1): (Int, Int) =
    graft.etl.Sinks.compactWith(spark, path, targetFiles,
      foldBloom(_).withColumn("batch_id", lit("__compacted")))

  /** ONE fold shared by the read path and compaction: the bitwise-OR
    * union IS a DISTINCT over bit positions — no separate replay-dedup
    * step exists or is needed (a (batch_id, bit) pre-dedup would be
    * subsumed by the distinct while paying a second, wider shuffle). */
  private def foldBloom(df: DataFrame): DataFrame =
    df.select(col("bit")).distinct()

  /** Hash-uniformity audit: chi-square statistic of the portable hash
    * family over `m` buckets — the trust check behind everything this
    * engine keys on that hash (LSH bands, sampling, splits, salting).
    * A healthy hash gives chi2 ~ m - 1 (expected value of the chi2
    * distribution with m-1 dof); gross non-uniformity (a broken seed,
    * a degenerate key column) shows up as chi2 orders of magnitude
    * above. Exact-integer bucket counts; each bucket's (obs - exp)²/exp
    * term is rounded to 6 and DECIMAL-summed (the q99 discipline), so
    * the statistic is cross-engine exact. Output: one row
    * (n, n_buckets, min_count, max_count, chi2). */
  def hashUniformity(df: DataFrame, valueCol: String, m: Int = 256,
                     seed: Int = 12): DataFrame = {
    require(m >= 2, "hashUniformity: m >= 2")
    val occupied = df.select(pmod(Dedup.portableHash64(
        col(valueCol).cast("string"), seed), lit(m.toLong)).as("__b"))
      .groupBy(col("__b")).agg(count(lit(1)).as("__cc"))
    // empty buckets contribute exp to the statistic — the bucket grid
    // is materialized in full, not just the occupied set
    val counts = df.sparkSession.range(m).select(col("id").as("__b"))
      .join(occupied, Seq("__b"), "left")
      .withColumn("__c", coalesce(col("__cc"), lit(0L)))
    val n = counts.agg(sum(col("__c")).as("__n"))
    counts.crossJoin(broadcast(n))
      .withColumn("__exp", col("__n").cast("double") / lit(m.toDouble))
      .withColumn("__term",
        graft.expr.GraftFunctions.portableRound(
          (col("__c").cast("double") - col("__exp")) *
          (col("__c").cast("double") - col("__exp")) / col("__exp"), 6)
        .cast("decimal(25,6)"))
      .agg(max(col("__n")).as("n"),
        count(lit(1)).as("n_buckets"),
        min(col("__c")).as("min_count"),
        max(col("__c")).as("max_count"),
        sum(col("__term")).as("__chi"))
      .select(col("n"), col("n_buckets"), col("min_count"),
        col("max_count"),
        round(col("__chi").cast("double"), 6).as("chi2"))
  }
}
