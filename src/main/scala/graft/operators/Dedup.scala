package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale corpus curation: exact
  * (hash-groupBy), n-gram Jaccard, MinHash+LSH banding, and SimHash.
  *
  * Scale design (the 100 TB story):
  *  - exact dedup is a single hash-shuffle on a 128-bit digest — never on the
  *    full text, so shuffle volume is O(rows * 16 bytes), not O(corpus).
  *  - near-dup NEVER compares all pairs: MinHash banding / SimHash chunking
  *    bound candidate generation to same-bucket rows (the standard LSH
  *    pigeonhole argument), so the expensive verify join runs on a tiny
  *    candidate set. All steps are shuffles on small keys + one equi-join;
  *    nothing is quadratic in the corpus.
  *  - signatures are pure Column expressions over xxhash64 (codegen'd,
  *    deterministic across runs/partitionings).
  */
object Dedup {

  /** D-1/exact: mark exact-duplicate rows (2nd+ occurrence per text digest,
    * keep-first by `orderCol`). Digest-based so the shuffle key is 32 bytes. */
  def markExactDuplicates(df: DataFrame, textCol: String, orderCol: String,
                          flag: String = "is_duplicate"): DataFrame = {
    val w = Window.partitionBy(md5(col(textCol))).orderBy(col(orderCol).asc)
    df.withColumn(flag, row_number().over(w) > 1)
  }

  /** [[markExactDuplicates]]'s skew-proof form: min(orderCol) per digest
    * via a hash AGGREGATE, joined back — same flag values when `orderCol`
    * is unique per digest group (callers use a unique row id; asserted by
    * the parity test).
    *
    * Why a second form exists (SCALE.md's own "first bottleneck" entry for
    * exact dedup): the window form sorts every digest partition, and a
    * pathological corpus — one document duplicated 100M times — lands all
    * its copies in ONE window partition that a single task must sort. Here
    * the map-side partial aggregation collapses the hot digest to one row
    * per input partition before any exchange, and the flag join is a JOIN,
    * which AQE's skew-join splitting can break up (it cannot split a
    * window). Use the window form for small/balanced corpora (one shuffle,
    * no join), this one when a digest can be pathologically hot. */
  def markExactDuplicatesAgg(df: DataFrame, textCol: String, orderCol: String,
                             flag: String = "is_duplicate"): DataFrame = {
    val firsts = df.groupBy(md5(col(textCol)).as("__digest"))
      .agg(min(col(orderCol)).as("__first"))
    df.join(firsts, md5(df(textCol)) === col("__digest"))
      .withColumn(flag, col(orderCol) =!= col("__first"))
      .drop("__digest", "__first")
  }

  /** Incremental exact dedup: drop incoming rows whose content digest
    * already exists in the reference corpus — the batch-over-batch
    * ingestion path (dedup new data against everything already ingested,
    * without re-deduping the existing corpus).
    *
    * Scale shape: a digest-keyed left_anti join — both sides shuffle
    * 16-byte md5 digests, never text. The existing side is typically the
    * big one, so this is a plain shuffled anti-join; when the existing
    * digest set is dim-sized, Spark broadcasts it automatically.
    * Idempotent: re-running over the merged corpus drops nothing new. */
  /** Corpus snapshot diff: classify every document as added / removed /
    * changed / unchanged between two corpus versions — the audit a
    * versioned training-corpus pipeline runs before re-processing (only
    * `added`+`changed` need the expensive downstream passes; `removed`
    * feeds tombstones).
    *
    * Scale shape: one id-keyed full-outer join carrying 16-byte content
    * digests, never text — both sides shuffle (id, digest) only, and the
    * changed/unchanged call is a digest compare, not a text compare.
    * Output: (idCol, status). */
  def corpusDiff(prev: DataFrame, next: DataFrame, idCol: String,
                 textCol: String): DataFrame = {
    val p = prev.select(col(idCol).as("__id"), md5(col(textCol)).as("__pd"))
    val n = next.select(col(idCol).as("__id"), md5(col(textCol)).as("__nd"))
    p.join(n, Seq("__id"), "full_outer")
      .select(col("__id").as(idCol),
        when(col("__pd").isNull, "added")
          .when(col("__nd").isNull, "removed")
          .when(col("__pd") =!= col("__nd"), "changed")
          .otherwise("unchanged").as("status"))
  }

  def dropAgainstExisting(incoming: DataFrame, existing: DataFrame,
                          textCol: String): DataFrame = {
    val seen = existing.select(md5(col(textCol)).as("__digest")).distinct()
    incoming.join(seen, md5(incoming(textCol)) === seen("__digest"), "left_anti")
  }

  /** NORMALIZED exact dedup: keep-first over the
    * [[TextOps.normalizeForDedup]] canonical form — one group per
    * equivalence class of recased / punctuation-noised / reflowed
    * variants, represented by its min-id member. The middle rung of the
    * dedup ladder (byte-exact < normalized < near-dup): catches what
    * md5-of-raw-text misses at a fraction of MinHash's cost.
    *
    * Scale shape: identical to the q13 agg twin — the shuffle carries the
    * 16-byte digest OF THE NORMALIZED text (never the text itself), the
    * min-id agg collapses hot classes map-side, and AQE can split the
    * skewed class if one ever dominates. Output: one row per class
    * (doc_id = min id, n_variants), the frame a keep-join consumes.  */
  def normalizedDedup(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), md5(TextOps.normalizeForDedup(col(textCol))).as("__nd"))
      .groupBy(col("__nd"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_variants"))
      .drop("__nd")

  /** Corpus-level SPAN deduplication — paragraph/line dedup (the
    * RefinedWeb / Dolma pass below document granularity: boilerplate
    * headers, navigation lines and repeated paragraphs recur across
    * millions of pages whose full documents are all distinct, so
    * document-level dedup never sees them). The caller supplies the span
    * array (paragraph splitter, line splitter, fixed token windows —
    * whatever the corpus's structure supports); each distinct span
    * survives only at its FIRST corpus occurrence (min (id, position)
    * lexicographically — deterministic, replayable), later copies are
    * dropped, and each document is reassembled from its surviving spans
    * in original order. Documents losing every span remain, with an
    * empty text (the downstream length filter is the right place to
    * drop them — this operator must not silently change corpus row
    * membership).
    *
    * Scale shape: posexplode (1→spans), then the shuffle key is the
    * 32-char md5 span digest for BOTH the first-occurrence aggregate
    * (map-side combined min-struct — a hot boilerplate span collapses
    * per input partition before the exchange, the exact-dedup agg-twin
    * argument) and the keep join (AQE-splittable); reassembly is one
    * id-keyed aggregate. Text shuffles exactly twice (explode→agg-join,
    * reassembly), never joined corpus-against-corpus.
    * Output: (idCol, n_spans, n_spans_kept, text_dedup). */
  def dropDuplicateSpans(df: DataFrame, idCol: String,
                         spans: Column, joiner: String = " "): DataFrame = {
    val pos = df.select(col(idCol).as("__id"), posexplode(spans))
      .toDF("__id", "__pos", "__span")
    val keyed = pos.withColumn("__dg", md5(col("__span")))
    keepFirstSpansAndReassemble(pos, keyed, idCol, joiner)
  }

  /** Incremental span dedup — the batch-over-corpus form of
    * [[dropDuplicateSpans]]: spans whose digest already exists ANYWHERE
    * in the reference corpus are dropped from the incoming batch
    * entirely (the corpus keeps its copy), and the batch then
    * keep-firsts within itself. The ingestion-time shape: boilerplate
    * the corpus has seen never enters, without re-processing the corpus.
    *
    * Scale shape: the corpus side reduces to a DISTINCT digest set (32
    * bytes/span) before the anti-join — the [[dropAgainstExisting]]
    * argument at span granularity; corpus text never shuffles.
    * Output: same contract as [[dropDuplicateSpans]], for the batch. */
  def dropSpansAgainstExisting(incoming: DataFrame, existing: DataFrame,
                               idCol: String, incomingSpans: Column,
                               existingSpans: Column,
                               joiner: String = " "): DataFrame = {
    val seen = existing.select(explode(existingSpans).as("__s"))
      .select(md5(col("__s")).as("__dg")).distinct()
    dropSpansAgainstDigestFrame(incoming, seen, idCol, incomingSpans, joiner)
  }

  /** The shared body of the span-level incremental family: drop incoming
    * spans whose digest appears in `seen` (one column, `__dg`), then
    * keep-first within the batch and reassemble. */
  private def dropSpansAgainstDigestFrame(incoming: DataFrame, seen: DataFrame,
                                          idCol: String, incomingSpans: Column,
                                          joiner: String): DataFrame = {
    val pos = incoming.select(col(idCol).as("__id"), posexplode(incomingSpans))
      .toDF("__id", "__pos", "__span")
    val keyed = pos.withColumn("__dg", md5(col("__span")))
      .join(seen, Seq("__dg"), "left_anti")
    keepFirstSpansAndReassemble(pos, keyed, idCol, joiner)
  }

  // ---- persisted span-digest table: the maintained-table form of
  // [[dropSpansAgainstExisting]] — the corpus's span digests are written
  // once (32 bytes/distinct span) and each ingested batch appends its own,
  // so boilerplate the corpus has seen never enters WITHOUT re-exploding
  // the corpus per batch.

  /** Write the distinct span digests of a corpus as a table. `ingestStamp`
    * as in [[writeBucketTable]] (-1 = seed, visible to every batch). */
  def writeSpanDigestTable(existing: DataFrame, path: String,
                           existingSpans: Column,
                           ingestStamp: Long = -1L): Unit =
    existing.select(explode(existingSpans).as("__s"))
      .select(md5(col("__s")).as("dg")).distinct()
      .withColumn("ingest", lit(ingestStamp))
      .write.mode("overwrite").parquet(path)

  /** Append a batch's distinct span digests. Duplicate digests across
    * stamps are harmless — the consumer is an anti-join. */
  def appendToSpanDigestTable(batch: DataFrame, path: String,
                              batchSpans: Column, ingestStamp: Long): Unit =
    batch.select(explode(batchSpans).as("__s"))
      .select(md5(col("__s")).as("dg")).distinct()
      .withColumn("ingest", lit(ingestStamp))
      .write.mode("append").parquet(path)

  /** [[dropSpansAgainstExisting]] with the corpus side read from a
    * persisted digest table; `beforeIngest` as in
    * [[minhashNearDupsAgainstTable]] (streaming replay safety). */
  def dropSpansAgainstDigestTable(incoming: DataFrame, path: String,
                                  idCol: String, incomingSpans: Column,
                                  joiner: String = " ",
                                  beforeIngest: Option[Long] = None): DataFrame = {
    val all = incoming.sparkSession.read.parquet(path)
    val seen = beforeIngest.map(b => all.filter(col("ingest") < b)).getOrElse(all)
      .select(col("dg").as("__dg")).distinct()
    dropSpansAgainstDigestFrame(incoming, seen, idCol, incomingSpans, joiner)
  }

  /** Shared tail of the span-dedup family: keep each digest's first
    * (id, pos) occurrence among `keyed`, reassemble survivors per doc in
    * position order; `pos` supplies the per-doc span totals (docs whose
    * spans are all dropped keep their row, empty text). */
  private def keepFirstSpansAndReassemble(pos: DataFrame, keyed: DataFrame,
                                          idCol: String,
                                          joiner: String): DataFrame = {
    val first = keyed.groupBy(col("__dg"))
      .agg(min(struct(col("__id"), col("__pos"))).as("__first"))
    val kept = keyed.join(first, "__dg")
      .filter(col("__id") === col("__first.__id") &&
        col("__pos") === col("__first.__pos"))
      .groupBy(col("__id"))
      .agg(transform(
          array_sort(collect_list(struct(col("__pos"), col("__span")))),
          p => p.getField("__span")).as("__kept"))
    pos.groupBy(col("__id")).agg(count(lit(1)).as("n_spans"))
      .join(kept, Seq("__id"), "left")
      .select(col("__id").as(idCol),
        col("n_spans"),
        coalesce(size(col("__kept")), lit(0)).cast("long").as("n_spans_kept"),
        coalesce(array_join(col("__kept"), joiner), lit("")).as("text_dedup"))
  }

  /** Word k-shingles of a text column (k consecutive tokens, space-joined).
    * Backed by the native [[graft.expr.WordShingles]] expression — the HOF
    * composition (transform + slice + array_join) runs interpreted and was
    * ~3 s of q22's 5.5 s at sf0.1; the native kernel is one codegen'd call
    * per row (ShinglesParitySpec pins the semantics to the HOF form). */
  def shingles(text: Column, k: Int): Column =
    graft.expr.GraftFunctions.wordShingles(coalesce(text, lit("")), k)

  /** Asymmetric shingle containment (Broder): containment(A in B) =
    * |sh(A) ∩ sh(B)| / |sh(A)| — the quotation/subset detector symmetric
    * Jaccard dilutes (a 50-token quote inside a 5000-token page has
    * Jaccard ≈ 0.01 but containment 1.0, so Jaccard-thresholded dedup
    * never sees it). Emits ORDERED pairs (id_a contained in id_b);
    * both directions are evaluated, a full copy shows up twice.
    *
    * Pair generation here is the bounded-probe self-join (the q17 shape,
    * for exact verification); at corpus scale feed candidates from the
    * MinHash bucket machinery instead and apply this as the verify step.
    * The denominator is never 0: the shingle kernel's <k rule yields
    * [whole text] (size 1) for short docs.
    * Output: (id_a, id_b, containment), containment >= threshold. */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       k: Int = 3, threshold: Double = 0.8): DataFrame = {
    val d = df.select(col(idCol).as("__id"),
      array_distinct(shingles(col(textCol), k)).as("__sh"))
    d.as("l").join(d.as("r"), col("l.__id") =!= col("r.__id"))
      .select(col("l.__id").as("id_a"), col("r.__id").as("id_b"),
        (size(array_intersect(col("l.__sh"), col("r.__sh"))).cast("double") /
          size(col("l.__sh")).cast("double")).as("__c"))
      .filter(col("__c") >= threshold)
      .select(col("id_a"), col("id_b"), col("__c").as("containment"))
  }

  // (char n-grams live at TextOps.charNgrams — the ONE definition; its
  // short-string rule is "empty array", documented there. A same-named
  // helper here with whole-text-for-short semantics was removed as unused.)

  /** Exact Jaccard similarity of two string arrays (set semantics). */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b))
    val union = size(array_union(a, b))
    when(union === 0, 0.0).otherwise(inter.cast("double") / union.cast("double"))
  }

  /** Portable seeded 60-bit hash: the first 15 hex digits of
    * md5("seed:" || value) parsed as an integer. Computable bit-identically
    * in DuckDB (`CAST('0x' || substr(md5('seed:' || v), 1, 15) AS BIGINT)`),
    * which makes MinHash signatures VALUE-ORACLE-ABLE cross-engine — the
    * `portable = true` paths below trade xxhash64's speed for that
    * verifiability (md5 is still vectorized codegen; measured cost on the
    * bulk signature path is small at 32 hashes). 15 hex digits = 60 bits
    * keeps the parse inside a signed 64-bit in both engines. */
  def portableHash64(c: Column, seed: Int): Column =
    conv(substring(md5(concat(lit(s"$seed:"), c)), 1, 15), 16, 10).cast("long")

  /** (id, band, bucket) LSH rows for a corpus — the common substrate of
    * the self-join (within-corpus) and cross-join (incremental) candidate
    * passes.
    *
    * Physical shape (the 100 TB path): explode shingles once, then ONE
    * codegen'd hash aggregation computes all `numHashes` minima per doc
    * (partial aggregation map-side, so the shuffle carries one row per doc
    * per partition, not per shingle). The nested-HOF form recomputes the
    * shingle array per hash function in interpreted mode — measured 100x
    * slower on 5k docs. The bucket key is a hash of the band's signature
    * slice, so downstream joins shuffle (int, long) keys only. */
  /** (__id, __h0..__h{n-1}) MinHash signature frame — the shared
    * substrate of the banding buckets and the signature-agreement
    * estimator. One explode + ONE codegen'd hash aggregation computes
    * all `numHashes` minima per doc (map-side partial agg). */
  private def minhashSigs(df: DataFrame, idCol: String, textCol: String,
                          shingleK: Int, numHashes: Int,
                          portable: Boolean): DataFrame = {
    // numHashes independent seeded hashes per shingle. A 2-pass derived
    // family (h1 + i*h2 / xor-rotate) was tried and REJECTED: ANSI mode
    // forbids wrapping arithmetic, and measured end-to-end time was
    // identical — hashing is not the bottleneck at this signature width,
    // and independent seeds have the textbook per-band independence.
    // portable = true swaps xxhash64 for [[portableHash64]] so the whole
    // signature pipeline replays in DuckDB SQL.
    def shingleHash(c: Column, i: Int): Column =
      if (portable) portableHash64(c, i) else xxhash64(c, lit(i))
    val exploded = df.select(col(idCol).as("__id"),
      explode(shingles(col(textCol), shingleK)).as("__sh"))
    exploded.groupBy(col("__id"))
      .agg(min(shingleHash(col("__sh"), 0)).as("__h0"),
        (1 until numHashes).map(i => min(shingleHash(col("__sh"), i)).as(s"__h$i")): _*)
  }

  private def minhashBuckets(df: DataFrame, idCol: String, textCol: String,
                             shingleK: Int, numHashes: Int, bands: Int,
                             portable: Boolean = false): DataFrame = {
    val rows = numHashes / bands
    // band buckets seeded 1000+b, disjoint from the shingle seeds
    // 0..numHashes-1
    val sigs = minhashSigs(df, idCol, textCol, shingleK, numHashes, portable)
    sigs.select(col("__id"),
        posexplode(array((0 until bands).map { b =>
          val slice = (b * rows until (b + 1) * rows).map(i => col(s"__h$i"))
          if (portable) portableHash64(concat_ws(",", slice: _*), 1000 + b)
          else xxhash64(slice: _*)
        }: _*)))
      .toDF("__id", "__band", "__bucket")
  }

  /** Candidate near-dup pairs via LSH banding over MinHash signatures
    * ([[minhashBuckets]] + a same-(band,bucket) self-join).
    *
    * @param bands number of bands; rows = numHashes/bands per band
    * @return      (id_a, id_b) candidate pairs, id_a < id_b, distinct
    */
  def minhashCandidates(df: DataFrame, idCol: String, textCol: String,
                        shingleK: Int = 3, numHashes: Int = 32,
                        bands: Int = 8, portable: Boolean = false): DataFrame = {
    val buckets = minhashBuckets(df, idCol, textCol, shingleK, numHashes, bands, portable)
    buckets.as("l").join(buckets.as("r"),
        col("l.__band") === col("r.__band") &&
          col("l.__bucket") === col("r.__bucket") &&
          col("l.__id") < col("r.__id"))
      .select(col("l.__id").as("id_a"), col("r.__id").as("id_b"))
      .distinct()
  }

  /** Signature-agreement Jaccard ESTIMATE for the given pairs: the
    * fraction of `numHashes` min-hash components on which the two
    * documents agree. E[estimate] = true Jaccard — the unbiasedness the
    * whole LSH banding construction rests on (Broder); exposing it makes
    * the estimator auditable next to the exact verify (q120 reports both
    * side by side, oracle-replayed). At scale this is the CHEAP
    * similarity: signatures are already built for banding, and the
    * estimate needs no shingle materialization for the candidate rows —
    * use it when a ±1/sqrt(numHashes)-ish error is acceptable and exact
    * Jaccard (the [[minhashNearDups]] verify stage) when it is not.
    *
    * Scale shape: signatures only for docs appearing in `pairs`
    * (semi-join pushdown), then two id-keyed joins of numHashes-long
    * integer rows. Output: (id_a, id_b, est_sim). */
  def minhashJaccardEstimate(df: DataFrame, pairs: DataFrame, idCol: String,
                             textCol: String, shingleK: Int = 3,
                             numHashes: Int = 32,
                             portable: Boolean = false): DataFrame = {
    val ids = pairs.select(col("id_a").as("__vid"))
      .unionByName(pairs.select(col("id_b").as("__vid"))).distinct()
    val sigs = minhashSigs(
      df.join(ids, col(idCol) === col("__vid"), "left_semi"),
      idCol, textCol, shingleK, numHashes, portable)
    def side(key: String) = sigs.select(col("__id").as(key) +:
      (0 until numHashes).map(i => col(s"__h$i").as(s"__${key}_h$i")): _*)
    pairs.select(col("id_a"), col("id_b"))
      .join(side("id_a"), "id_a").join(side("id_b"), "id_b")
      .withColumn("est_sim", round(
        (0 until numHashes).map(i =>
            when(col(s"__id_a_h$i") === col(s"__id_b_h$i"), 1).otherwise(0))
          .reduce(_ + _).cast("double") / numHashes, 6))
      .select(col("id_a"), col("id_b"), col("est_sim"))
  }

  /** Incremental NEAR-dedup: rows of `incoming` that are near-duplicates
    * (shingle Jaccard >= threshold) of some `existing` row — the
    * cross-corpus complement of [[dropAgainstExisting]]'s exact digests.
    *
    * Scale shape: candidates come from joining the incoming batch's LSH
    * buckets against the EXISTING corpus's buckets — cost tracks
    * |incoming| x bucket collision rate, never |existing|^2; in production
    * the existing side's buckets are a persisted table maintained
    * incrementally. Verification materializes shingles only for candidate
    * rows (semi-join pushdown, as in [[minhashNearDups]]).
    * Output: (incoming_id, existing_id, jaccard_sim). */
  def minhashNearDupsAgainst(incoming: DataFrame, existing: DataFrame,
                             idCol: String, textCol: String,
                             threshold: Double = 0.8, shingleK: Int = 3,
                             numHashes: Int = 32, bands: Int = 8,
                             portable: Boolean = false): DataFrame = {
    val bNew = minhashBuckets(incoming, idCol, textCol, shingleK, numHashes, bands, portable)
    val bOld = minhashBuckets(existing, idCol, textCol, shingleK, numHashes, bands, portable)
    // eagerly local-checkpointed: three downstream consumers (the pair join
    // + one semi-join per side) would otherwise each recompute the whole
    // tokenize -> shingle -> 32-hash signature lineage for BOTH corpora —
    // measured as the 2.5x gap between this operator and its batch twin.
    // localCheckpoint (not persist+count): it materializes once, truncates
    // the huge signature plan so downstream analysis stays cheap, leaves no
    // CacheManager entry for every later action to plan-match against
    // (measured 8x slowdown across a 180-action session), and its blocks
    // are freed by the ContextCleaner when the result frame is dropped.
    // Cluster caveat: local-checkpoint blocks are not recomputable after
    // executor loss — long-lived production pipelines set
    // spark.graft.reliableCheckpoint=true + sc.setCheckpointDir to route
    // every such site through reliable checkpointing ([[Checkpoints]]).
    val cands = bNew.as("l").join(bOld.as("r"),
        col("l.__band") === col("r.__band") &&
          col("l.__bucket") === col("r.__bucket"))
      .select(col("l.__id").as("incoming_id"), col("r.__id").as("existing_id"))
      .distinct()
      .transform(Checkpoints.ckpt)
    def shingleSide(df: DataFrame, key: String): DataFrame =
      df.join(cands.select(col(key).as("__vid")).distinct(),
          col(idCol) === col("__vid"), "left_semi")
        .select(col(idCol).as(key), shingles(col(textCol), shingleK).as(s"__sh_$key"))
    verifyCross(cands,
      shingleSide(incoming, "incoming_id"),
      shingleSide(existing, "existing_id"), threshold)
  }

  /** Shared verify tail of the incremental near-dedup family (the
    * corpus-frame and persisted-table forms must not drift): join the
    * candidate pairs with per-side shingle arrays, exact-Jaccard filter.
    * `shIncoming` = (incoming_id, __sh_incoming_id);
    * `shExisting` = (existing_id, __sh_existing_id). */
  private def verifyCross(cands: DataFrame, shIncoming: DataFrame,
                          shExisting: DataFrame, threshold: Double): DataFrame =
    cands
      .join(shIncoming, "incoming_id")
      .join(shExisting, "existing_id")
      .withColumn("jaccard_sim",
        jaccard(col("__sh_incoming_id"), col("__sh_existing_id")))
      .filter(col("jaccard_sim") >= threshold)
      .select(col("incoming_id"), col("existing_id"),
        graft.expr.GraftFunctions.portableRound(col("jaccard_sim"), 4)
          .as("jaccard_sim"))

  // ---- persisted LSH bucket table: the maintained-index production shape.
  // minhashNearDupsAgainst recomputes the EXISTING corpus's signatures on
  // every call — correct, but at ingestion cadence that is an O(corpus)
  // tokenize+hash pass per batch. The table form signs the corpus ONCE
  // (write), each ingested batch appends its own signatures, and the
  // incremental pass reads (id, band, bucket) + shingle parquet instead.

  /** Hash-family parameters a bucket table was built with, persisted in
    * the table's `meta/` so read paths can never mismatch the write. */
  final case class BucketTableMeta(shingleK: Int, numHashes: Int, bands: Int,
                                   portable: Boolean)

  // meta is immutable for a table's lifetime (only writeBucketTable
  // rewrites it, and it invalidates here), so probes skip the one-row
  // parquet job after first touch — at ingestion cadence that job is
  // pure per-batch overhead
  private val metaCache = new java.util.concurrent.ConcurrentHashMap[
    String, BucketTableMeta]()

  private def readBucketMeta(spark: org.apache.spark.sql.SparkSession,
                             path: String): BucketTableMeta =
    metaCache.computeIfAbsent(path, _ => {
      val r = spark.read.parquet(s"$path/meta").head()
      BucketTableMeta(r.getAs[Int]("shingle_k"), r.getAs[Int]("num_hashes"),
        r.getAs[Int]("bands"), r.getAs[Boolean]("portable"))
    })

  /** Persist a corpus's LSH index as a maintained TABLE under `path`:
    *   meta/      one row — the hash-family parameters (read back by every
    *              consumer, so write and probe can never disagree)
    *   buckets/   (id, band, bucket, ingest) — the LSH candidate-join side
    *   shingles/  (id, sh, ingest)           — the Jaccard verify side
    *
    * Scale shape: one signature pass over the corpus (the
    * [[minhashBuckets]] aggregation), written once; `shingles/` is
    * corpus-sized but verification only ever reads candidate rows
    * (semi-join pushdown), and an incremental pass touches the SOURCE
    * corpus zero times — PersistedIndexSpec asserts the scan set.
    * `ingestStamp` tags provenance for streaming exactly-once (see
    * [[minhashNearDupsAgainstTable]]'s `beforeIngest`); the default -1
    * marks the seed corpus (visible to every batch). */
  def writeBucketTable(existing: DataFrame, path: String, idCol: String,
                       textCol: String, shingleK: Int = 3, numHashes: Int = 32,
                       bands: Int = 8, portable: Boolean = false,
                       ingestStamp: Long = -1L): Unit = {
    val spark = existing.sparkSession
    import spark.implicits._
    metaCache.remove(path) // a rewrite may change the hash family
    Seq((shingleK, numHashes, bands, portable))
      .toDF("shingle_k", "num_hashes", "bands", "portable")
      .write.mode("overwrite").parquet(s"$path/meta")
    minhashBuckets(existing, idCol, textCol, shingleK, numHashes, bands, portable)
      .toDF("id", "band", "bucket")
      .withColumn("ingest", lit(ingestStamp))
      .write.mode("overwrite").parquet(s"$path/buckets")
    existing
      .select(col(idCol).as("id"), shingles(col(textCol), shingleK).as("sh"),
        lit(ingestStamp).as("ingest"))
      .write.mode("overwrite").parquet(s"$path/shingles")
  }

  /** Append a batch's signatures to an existing bucket table (parameters
    * come from the table's own meta). Appends are at-least-once under
    * streaming replay — READS dedup (distinct buckets, one shingle row per
    * id), so duplicate appends are harmless rather than forbidden. */
  def appendToBucketTable(batch: DataFrame, path: String, idCol: String,
                          textCol: String, ingestStamp: Long): Unit = {
    val m = readBucketMeta(batch.sparkSession, path)
    minhashBuckets(batch, idCol, textCol, m.shingleK, m.numHashes, m.bands,
        m.portable)
      .toDF("id", "band", "bucket")
      .withColumn("ingest", lit(ingestStamp))
      .write.mode("append").parquet(s"$path/buckets")
    batch
      .select(col(idCol).as("id"), shingles(col(textCol), m.shingleK).as("sh"),
        lit(ingestStamp).as("ingest"))
      .write.mode("append").parquet(s"$path/shingles")
  }

  /** Fold a bucket table's duplicate appends (streaming replays append
    * at-least-once) down to one row each and rewrite into `targetFiles`
    * files per side — the table-maintenance pass for an append-accreted
    * index. Ingest-cut semantics are PRESERVED exactly: a row is visible
    * at cut b iff ANY copy has `ingest < b`, so the fold keeps
    * min(ingest) per logical row. Uses the [[graft.etl.Sinks]] staging
    * rename swap — local-FS scope as documented there; on object stores
    * route the same frames through a transactional table format.
    * Returns ((bucketFilesBefore, after), (shingleFilesBefore, after)). */
  def compactBucketTable(spark: org.apache.spark.sql.SparkSession,
                         path: String,
                         targetFiles: Int = 1): ((Int, Int), (Int, Int)) = {
    import org.apache.spark.sql.expressions.Window
    val b = graft.etl.Sinks.compactWith(spark, s"$path/buckets", targetFiles,
      df => df.groupBy(col("id"), col("band"), col("bucket"))
        .agg(min(col("ingest")).as("ingest")))
    val s = graft.etl.Sinks.compactWith(spark, s"$path/shingles", targetFiles,
      df => df.withColumn("__rn", row_number().over(
          Window.partitionBy(col("id")).orderBy(col("ingest").asc)))
        .filter(col("__rn") === 1).drop("__rn"))
    (b, s)
  }

  /** Retention pass for a maintained bucket table: drop every row whose
    * id is NOT in `keepIds` — the GDPR-delete / corpus-retirement shape
    * (a document removed from the corpus must stop vetoing new near-
    * duplicates of itself, or deletions silently bias future ingestion
    * toward keeping nothing that ever resembled deleted data). Rewrites
    * both sides through the same staging swap as [[compactBucketTable]]
    * (local-FS scope as documented there); ingest stamps of surviving
    * rows are untouched, so streaming replay cuts stay exact.
    * Returns (bucketRows, shingleRows) remaining. */
  def expireBucketTable(spark: org.apache.spark.sql.SparkSession,
                        path: String, keepIds: DataFrame, idCol: String,
                        targetFiles: Int = 1): (Long, Long) = {
    // no broadcast hint: the keep set is corpus-sized in the retention
    // case (AQE still broadcasts a small GDPR-delete complement's keep
    // side if it fits); semi-join keys are bare ids
    val keep = keepIds.select(col(idCol).as("id")).distinct()
    def retain(df: DataFrame): DataFrame =
      df.join(keep, Seq("id"), "left_semi")
    graft.etl.Sinks.compactWith(spark, s"$path/buckets", targetFiles, retain)
    graft.etl.Sinks.compactWith(spark, s"$path/shingles", targetFiles, retain)
    (spark.read.parquet(s"$path/buckets").count(),
      spark.read.parquet(s"$path/shingles").count())
  }

  /** [[minhashNearDupsAgainst]] with the existing side read from a
    * persisted bucket table: same output contract (incoming_id,
    * existing_id, jaccard_sim), but the corpus cost per batch is a parquet
    * READ of small keys, not a recomputed signature pass.
    *
    * `beforeIngest`: only table rows with `ingest < beforeIngest` are
    * visible — a streaming sink passes its batch id so a REPLAYED batch
    * sees exactly the index state the original attempt saw (its own
    * partially-appended rows are invisible), which is what makes the drop
    * decision — and the resulting corpus — replay-identical. Candidates
    * additionally require `incoming id != table id` (disjoint corpora are
    * unaffected; a replayed batch must not match itself). */
  def minhashNearDupsAgainstTable(incoming: DataFrame, path: String,
                                  idCol: String, textCol: String,
                                  threshold: Double = 0.8,
                                  beforeIngest: Option[Long] = None): DataFrame = {
    val spark = incoming.sparkSession
    val m = readBucketMeta(spark, path)
    def cut(df: DataFrame): DataFrame =
      beforeIngest.map(b => df.filter(col("ingest") < b)).getOrElse(df)
    val bOld = cut(spark.read.parquet(s"$path/buckets"))
      .select(col("id").as("__id"), col("band").as("__band"),
        col("bucket").as("__bucket"))
      .distinct()
    val bNew = minhashBuckets(incoming, idCol, textCol, m.shingleK,
      m.numHashes, m.bands, m.portable)
    val cands = bNew.as("l").join(bOld.as("r"),
        col("l.__band") === col("r.__band") &&
          col("l.__bucket") === col("r.__bucket") &&
          col("l.__id") =!= col("r.__id"))
      .select(col("l.__id").as("incoming_id"), col("r.__id").as("existing_id"))
      .distinct()
      .transform(Checkpoints.ckpt)
    val shNew = incoming
      .join(cands.select(col("incoming_id").as("__vid")).distinct(),
        col(idCol) === col("__vid"), "left_semi")
      .select(col(idCol).as("incoming_id"),
        shingles(col(textCol), m.shingleK).as("__sh_incoming_id"))
    val shOld = cut(spark.read.parquet(s"$path/shingles"))
      .join(cands.select(col("existing_id").as("__vid")).distinct(),
        col("id") === col("__vid"), "left_semi")
      .dropDuplicates("id")
      .select(col("id").as("existing_id"), col("sh").as("__sh_existing_id"))
    verifyCross(cands, shNew, shOld, threshold)
  }

  /** Drop incoming rows that near-dup the persisted bucket table — the
    * ingest-filter convenience over [[minhashNearDupsAgainstTable]]. */
  def dropAgainstBucketTable(incoming: DataFrame, path: String, idCol: String,
                             textCol: String, threshold: Double = 0.8,
                             beforeIngest: Option[Long] = None): DataFrame = {
    val matched = minhashNearDupsAgainstTable(incoming, path, idCol, textCol,
        threshold, beforeIngest)
      .select(col("incoming_id").as("__m")).distinct()
    incoming.join(matched, col(idCol) === col("__m"), "left_anti")
  }

  /** Near-duplicate pairs: LSH candidates verified by exact shingle Jaccard
    * >= threshold. The expensive shingle arrays are only materialized for
    * docs that appear in some candidate pair (semi-join pushdown).
    * Output: id_a, id_b, jaccard_sim. */
  def minhashNearDups(df: DataFrame, idCol: String, textCol: String,
                      threshold: Double = 0.8, shingleK: Int = 3,
                      numHashes: Int = 32, bands: Int = 8,
                      portable: Boolean = false): DataFrame = {
    // eagerly local-checkpointed, like [[minhashNearDupsAgainst]]: cands
    // feeds the candidate-id union (twice) and the verify join; without the
    // materialization each consumer re-runs the signature lineage over the
    // corpus (see the scaladoc there for why checkpoint, not persist)
    val cands = minhashCandidates(df, idCol, textCol, shingleK, numHashes, bands, portable)
      .transform(Checkpoints.ckpt)
    val candIds = cands.select(col("id_a").as("__vid"))
      .unionByName(cands.select(col("id_b").as("__vid"))).distinct()
    // sh is joined twice (id_a and id_b side) — checkpoint the
    // candidate-only shingle arrays so tokenization runs once per doc
    val sh = df.join(candIds, col(idCol) === col("__vid"), "left_semi")
      .select(col(idCol).as("__vid"), shingles(col(textCol), shingleK).as("__sh"))
      .transform(Checkpoints.ckpt)
    cands
      .join(sh.withColumnRenamed("__vid", "id_a").withColumnRenamed("__sh", "__sha"), "id_a")
      .join(sh.withColumnRenamed("__vid", "id_b").withColumnRenamed("__sh", "__shb"), "id_b")
      .withColumn("jaccard_sim", jaccard(col("__sha"), col("__shb")))
      .filter(col("jaccard_sim") >= threshold)
      .select(col("id_a"), col("id_b"),
        graft.expr.GraftFunctions.portableRound(col("jaccard_sim"), 4)
          .as("jaccard_sim"))
  }

  /** D-3 (assignment Rule 10, spec-only in the reference): fuzzy duplicate
    * pairs — same email OR same (name, phone). Two hash self-joins on small
    * keys unioned, never a cross join; null keys are excluded so they don't
    * hash-collide into one giant bucket.
    *
    * `maxBlockSize` is the 100 TB safety valve this round's 10x scaling
    * measurement motivated (docs/PLANS_r10.md §6): each blocking key emits
    * C(block,2) pairs, so ONE hot junk key ("unknown" phone, a shared
    * corporate email) turns the self-join quadratic — the measured
    * fixed-cardinality fixture grew |E| 101x for 10x rows. Standard
    * entity-resolution practice drops oversized blocks entirely (their
    * pairs are key-collision noise, not evidence of duplication, and they
    * carry ~all the cost); a block with more than `maxBlockSize` members
    * contributes no pairs. Default keeps every block (the fixture
    * queries' gated behavior, unchanged). */
  def fuzzyDuplicatePairs(df: DataFrame, idCol: String, emailCol: String,
                          nameCol: String, phoneCol: String,
                          maxBlockSize: Int = Int.MaxValue): DataFrame = {
    require(maxBlockSize >= 2, "fuzzyDuplicatePairs: maxBlockSize must be >= 2")
    blockedPairsOn(df, idCol, Seq(emailCol), "email", maxBlockSize)
      .unionByName(blockedPairsOn(df, idCol, Seq(nameCol, phoneCol),
        "name_phone", maxBlockSize))
      .distinct()
  }

  /** One blocking family's capped pair join: non-null keys, the count-gate
    * (skipped entirely at the keep-everything default), then the
    * id-ordered self-join. */
  private def blockedPairsOn(df: DataFrame, idCol: String, keys: Seq[String],
                             reason: String, maxBlockSize: Int): DataFrame = {
    val slim0 = df.select((idCol +: keys).map(col): _*)
      .filter(keys.map(k => col(k).isNotNull).reduce(_ && _))
    val slim =
      if (maxBlockSize == Int.MaxValue) slim0
      else {
        // one key-keyed count agg, then ANTI-join against the OVERSIZED
        // block keys (r15, guide §3.2 — pre-filter the big side with the
        // small set). The former semi-join kept the SMALL-block keys — at
        // corpus scale that set is nearly every key (never broadcastable),
        // so the gate itself shuffled the full fact frame, hot key
        // included. The oversized set is the pathological tail (usually
        // empty, always tiny by construction), so the anti-join broadcasts
        // and the junk hot key's rows are dropped BEFORE any fact
        // exchange. Identical rows kept: n_key <= cap  ⟺  NOT n_key > cap.
        val big = slim0.groupBy(keys.map(col): _*)
          .agg(count(lit(1)).as("__bn"))
          .filter(col("__bn") > maxBlockSize)
          .select(keys.map(col): _*)
        slim0.join(big, keys, "left_anti")
      }
    slim.as("l").join(slim.as("r"),
        keys.map(k => col(s"l.$k") === col(s"r.$k")).reduce(_ && _) &&
          col(s"l.$idCol") < col(s"r.$idCol"))
      .select(col(s"l.$idCol").as("id_a"), col(s"r.$idCol").as("id_b"),
        lit(reason).as("match_reason"))
  }

  /** The default block-cap POLICY (VERDICT r10 item 5): cap = max(floor,
    * ceil(mult x p99 block size)) over one blocking family's non-null key
    * counts. Rationale: honest duplication produces bounded families, so
    * the p99 block is an honest block and 10x it is comfortably clear of
    * every honest block — while a junk hot key ("unknown" phone, a shared
    * corporate email) sits orders of magnitude above p99 and is exactly
    * what the cap should drop (its C(n,2) pairs are key-collision noise
    * carrying ~all the join cost; q377/q378 measured the cap turning exp
    * 1.48 into 0.31 at sf0.1->sf1). On a UNIFORM block profile (every
    * block the same size, the gated fixtures' shape) p99 = max, so the
    * policy cap is 10x the largest block and provably never binds —
    * which is why the oracle-pinned consumers can adopt it with every
    * hash unchanged at any SF. Cost: one key-count agg + a 1-row driver
    * read (metadata-class, same discipline as the IVF centroid collect).
    * Empty/all-null input returns `floor`.
    *
    * The p99 is the exact ceil-rank order statistic (r = ceil(0.99·B)
    * over B blocks, integer cross-multiplied) read off the BLOCK-SIZE
    * HISTOGRAM — one aggregation row per distinct block size, a bounded
    * mergeable state (the q82 histogram discipline). The previous exact
    * `percentile` buffered every one of the B block counts in a single
    * aggregation buffer: at 10⁹ distinct emails that is an executor-OOM
    * hazard inside the very operator that exists to defuse scale
    * hazards. The histogram's distinct-size cardinality is tiny at any
    * corpus size; its ceil-rank p99 equals interpolating `percentile`
    * on every profile the policy distinguishes (both give an honest
    * block size for B ≥ 100, both give max on uniform profiles), so
    * the shipped caps are unchanged (OperatorsSpec pins both fixtures).
    *
    * Cardinality caveat (ADVICE r11): with FEWER than ~100 blocks in a
    * family, r = ceil(0.99·B) = B — the p99 IS the max, so the cap
    * scales with the hottest key and never binds. Hot-key protection
    * is only meaningful when the family has ≥ 100 blocks (the honest
    * tail must out-populate the 1% the rank formula can exclude);
    * small-key-cardinality deployments should pass an explicit
    * `maxBlockSize` instead of assuming the policy binds. */
  def autoBlockCap(df: DataFrame, keys: Seq[String], mult: Int = 10,
                   floor: Int = 16): Int = {
    require(mult >= 1 && floor >= 2, "autoBlockCap: mult >= 1, floor >= 2")
    import org.apache.spark.sql.expressions.Window
    val hist = df
      .filter(keys.map(k => col(k).isNotNull).reduce(_ && _))
      .groupBy(keys.map(col): _*).agg(count(lit(1)).as("__bn"))
      .groupBy(col("__bn")).agg(count(lit(1)).as("__m"))
    // cum >= ceil(0.99·B)  ⟺  100·cum >= 99·B (cum integer) — exact,
    // no doubles; the unpartitioned windows run on the bounded
    // distinct-size histogram, never on the B-row count frame
    val wCum = Window.orderBy(col("__bn"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val p99 = hist
      .withColumn("__cum", sum(col("__m")).over(wCum))
      .withColumn("__b", sum(col("__m")).over(Window.partitionBy()))
      .filter(col("__cum") * 100 >= col("__b") * 99)
      .agg(min(col("__bn")).as("__p")).head()
    if (p99.isNullAt(0)) floor
    else math.max(floor.toLong, mult.toLong * p99.getLong(0))
      .min(Int.MaxValue.toLong).toInt
  }

  /** [[fuzzyDuplicatePairs]] under the default [[autoBlockCap]] policy,
    * per blocking family — the production entry point (the maintained
    * pair-table builders use this; oracle-pinned audit queries keep
    * their explicit uncapped/capped contracts). Each family gets its own
    * cap: email blocks and name+phone blocks have unrelated size
    * profiles, and one shared cap would let the looser family's p99
    * mask the tighter family's hot keys. */
  def fuzzyDuplicatePairsAuto(df: DataFrame, idCol: String, emailCol: String,
                              nameCol: String, phoneCol: String,
                              mult: Int = 10, floor: Int = 16): DataFrame = {
    val capEmail = autoBlockCap(df, Seq(emailCol), mult, floor)
    val capNamePhone = autoBlockCap(df, Seq(nameCol, phoneCol), mult, floor)
    blockedPairsOn(df, idCol, Seq(emailCol), "email", capEmail)
      .unionByName(blockedPairsOn(df, idCol, Seq(nameCol, phoneCol),
        "name_phone", capNamePhone))
      .distinct()
  }

  /** Connected components over near-duplicate pairs: transitively groups
    * (id_a, id_b) edges into clusters labelled by their minimum member id —
    * the step that turns pairwise similarity into actual deduplication
    * (keep one canonical doc per cluster).
    *
    * Algorithm: iterative min-label propagation (each round every node
    * adopts the smallest label among itself and its neighbours). Rounds are
    * hash-shuffles on ids only; converges in O(diameter) rounds and
    * near-dup clusters are shallow (duplicate groups, not social graphs),
    * so `maxIter` ~ 10 covers real corpora. Each round checkpoints the
    * label frame locally to keep the plan from growing unboundedly.
    *
    * @return (id, cluster_id) for every id appearing in `pairs`
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 10): DataFrame =
    ccMinLabel(pairs, maxIter, pointerJump = false, "connectedComponents")

  /** Connected components via min-label propagation WITH pointer jumping:
    * each round every node first takes the min label among itself and its
    * neighbours (one edge hop, as in [[connectedComponents]]), then
    * compresses by adopting its label's label — doubling the effective
    * path length covered per round, so convergence is O(log diameter)
    * rounds instead of O(diameter). The 100 TB lever for DEEP similarity
    * chains (docs/SCALE.md): duplicate clusters are usually shallow, but
    * a 1M-hop chain pays 1M rounds under plain propagation and ~20 here
    * (hence the default maxIter 20 ~ log2(1M); extra rounds after
    * convergence cost nothing — the loop exits).
    *
    * Physical shape per round: the propagation join/agg of the simple
    * form plus one extra label->label self-join — all id-keyed hash
    * shuffles, both frames checkpointed so the plan stays flat.
    * Invariant making the jump sound: a node's label is always the id of
    * some member of its own component, so label(label(id)) never escapes
    * the component and never exceeds the current label.
    * Output contract identical to [[connectedComponents]]. */
  def connectedComponentsFast(pairs: DataFrame, maxIter: Int = 20): DataFrame =
    ccMinLabel(pairs, maxIter, pointerJump = true, "connectedComponentsFast")

  /** One skeleton for both CC variants: symmetrize, init labels to self,
    * then per round a hop (min label among self and neighbours) and — for
    * the fast form — a label(label(id)) compression join. One copy of the
    * hop join and convergence logic so the variants cannot drift. */
  private def ccMinLabel(pairs: DataFrame, maxIter: Int, pointerJump: Boolean,
                         name: String): DataFrame = {
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .distinct()
      .transform(Checkpoints.ckpt)
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("cluster_id", col("id"))
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      // hop: min label among self and neighbours. Change detection is a
      // column computed inside the round's own select, so convergence
      // costs one cheap max() scan over the already-checkpointed frame —
      // not a second join + count job per round
      val hop = labels
        .join(edges
            .join(labels, edges("dst") === labels("id"))
            .groupBy(col("src")).agg(min(col("cluster_id")).as("__nmin")),
          labels("id") === col("src"), "left")
        .select(col("id"),
          least(col("cluster_id"), coalesce(col("__nmin"), col("cluster_id")))
            .as("cluster_id"),
          col("cluster_id").as("__old"))
      val updated =
        if (!pointerJump)
          // LAZY (r14): the convergence max() right below is the single
          // first consumer — it materializes the round's blocks; next
          // round's hop reads them. One job per round instead of two.
          hop.withColumn("__changed", col("cluster_id") < col("__old"))
            .drop("__old")
            .transform(Checkpoints.ckptLazy)
        else {
          // jump: adopt label(label(id)) — path doubling. The hop frame is
          // checkpointed first so the self-join reads it once. EAGER: its
          // first consumption fans out into the probe leg plus the __lid
          // lookup leg of the compression join (racing siblings if lazy).
          val prop = hop.transform(Checkpoints.ckpt)
          val lbl = prop.select(col("id").as("__lid"), col("cluster_id").as("__llbl"))
          prop.join(lbl, prop("cluster_id") === col("__lid"), "left")
            .select(col("id"),
              least(col("cluster_id"), coalesce(col("__llbl"), col("cluster_id")))
                .as("cluster_id"),
              // min(a, b) < old  <=>  a < old || b < old — avoids
              // re-evaluating the least/coalesce tree a second time
              (col("cluster_id") < col("__old") ||
                coalesce(col("__llbl"), col("cluster_id")) < col("__old"))
                .as("__changed"))
            // LAZY: single first consumer (the convergence max below)
            .transform(Checkpoints.ckptLazy)
        }
      val anyChanged = updated.agg(max(col("__changed"))).first()
      converged = anyChanged.isNullAt(0) || !anyChanged.getBoolean(0)
      labels = updated.drop("__changed")
      iter += 1
    }
    if (!converged)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"$name: NOT converged after $maxIter rounds — " +
          "clusters may be split; rerun with a higher maxIter")
    labels
  }

  /** Full near-dedup: drop all but the minimum-id member of every MinHash
    * near-duplicate cluster. */
  def dropNearDuplicates(df: DataFrame, idCol: String, textCol: String,
                         threshold: Double = 0.8, shingleK: Int = 3,
                         numHashes: Int = 32, bands: Int = 8,
                         portable: Boolean = false,
                         maxIter: Int = 10): DataFrame =
    // maxIter is exposed because clustering depth is a corpus property:
    // [[connectedComponents]] exits early on convergence, so a generous
    // cap costs nothing on shallow duplicate clusters but deep similarity
    // chains need it for the keep-min semantics to be exact
    dropNearDuplicatesFromPairs(df, idCol,
      minhashNearDups(df, idCol, textCol, threshold, shingleK,
        numHashes, bands, portable),
      maxIter)

  /** [[dropNearDuplicates]] over a PREBUILT pair set — the caller may
    * share one verified pair frame across dedup, clustering audits and
    * the leakage-safe split ([[graft.operators.Split.groupAwareSplit]])
    * instead of recomputing the LSH chain per consumer. */
  def dropNearDuplicatesFromPairs(df: DataFrame, idCol: String,
                                  pairs: DataFrame,
                                  maxIter: Int = 10): DataFrame = {
    val clusters = connectedComponents(pairs, maxIter)
    val losers = clusters.filter(col("id") =!= col("cluster_id"))
      .select(col("id").as("__loser"))
    df.join(losers, col(idCol) === col("__loser"), "left_anti")
  }

  /** Cross-source near-duplicate OVERLAP MATRIX — the corpus-governance
    * audit over a verified pair set: how much does source A duplicate
    * source B (and itself)? The question a training-data curator asks
    * before mixing corpora (is the "new" crawl mostly re-crawled
    * Wikipedia?) and the per-source-pair evidence behind decontamination
    * decisions. Pairs are unordered — (A,B) and (B,A) count together via
    * least/greatest — and the diagonal (A,A) is within-source duplication.
    *
    * Scale shape: the pair set is LSH-verified (tiny vs corpus); two
    * id-keyed joins attach sources, then a #sources^2-bounded aggregate.
    * min/max of the (rounded) similarities are reported rather than an
    * average — order-independent, so the matrix replays exactly
    * cross-engine.
    * Output: (source_a, source_b, n_pairs, min_sim, max_sim). */
  def sourceOverlapMatrix(pairs: DataFrame, docs: DataFrame, idCol: String,
                          srcCol: String): DataFrame = {
    val s = docs.select(col(idCol).as("__sid"), col(srcCol).as("__src"))
    pairs
      .join(s.select(col("__sid"), col("__src").as("__src_a")),
        col("id_a") === col("__sid")).drop("__sid")
      .join(s.select(col("__sid"), col("__src").as("__src_b")),
        col("id_b") === col("__sid")).drop("__sid")
      .select(least(col("__src_a"), col("__src_b")).as("source_a"),
        greatest(col("__src_a"), col("__src_b")).as("source_b"),
        col("jaccard_sim"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_pairs"),
        min(col("jaccard_sim")).as("min_sim"),
        max(col("jaccard_sim")).as("max_sim"))
  }

  /** Near-dup THRESHOLD SWEEP: cluster statistics at several Jaccard
    * thresholds from ONE verified pair set — the "pick your threshold"
    * audit run before committing a dedup pass (how many documents does
    * 0.7 vs 0.8 actually remove?). Clustering at every threshold runs as
    * a SINGLE connected-components pass: edge ids are lifted to the
    * composite key id * |thresholds| + thresholdIndex, so the per-threshold
    * graphs are disjoint id spaces inside one frame and the iterative CC
    * machinery (driver-round-bound, not data-bound) is paid once, not
    * |thresholds| times.
    *
    * Scale shape: input is the LSH-VERIFIED pair set (tiny vs corpus);
    * the sweep's cost is O(|pairs| * |thresholds|) id-keyed rows.
    * `n_dropped` = docs-in-pairs minus clusters = rows a keep-min dedup
    * at that threshold would remove.
    * Output: (threshold, n_pairs, n_docs, n_clusters, n_dropped), one row
    * per threshold. */
  def nearDupThresholdSweep(pairs: DataFrame, thresholds: Seq[Double],
                            simCol: String = "jaccard_sim",
                            maxIter: Int = 10): DataFrame = {
    require(thresholds.nonEmpty, "thresholdSweep: need at least one threshold")
    val n = thresholds.size
    val edges = thresholds.zipWithIndex.map { case (th, i) =>
      pairs.filter(col(simCol) >= th)
        .select((col("id_a") * n + i).as("id_a"), (col("id_b") * n + i).as("id_b"))
    }.reduce(_ unionByName _)
    val labels = connectedComponents(edges, maxIter)
    val ccStats = labels
      .groupBy(pmod(col("id"), lit(n)).as("__i"))
      .agg(count(lit(1)).as("__docs"),
        countDistinct(col("cluster_id")).as("__clusters"))
    val perTh = thresholds.zipWithIndex.map { case (th, i) =>
      pairs.filter(col(simCol) >= th)
        .agg(count(lit(1)).as("n_pairs"))
        .select(lit(i).as("__i"), lit(th).as("threshold"), col("n_pairs"))
    }.reduce(_ unionByName _)
    perTh.join(ccStats, Seq("__i"), "left")
      .select(col("threshold"), col("n_pairs"),
        coalesce(col("__docs"), lit(0L)).as("n_docs"),
        coalesce(col("__clusters"), lit(0L)).as("n_clusters"),
        coalesce(col("__docs") - col("__clusters"), lit(0L)).as("n_dropped"))
  }

  /** Per-source shingle NOVELTY: of each source's distinct shingles, the
    * fraction first seen (by minimum doc_id over the whole corpus) in one
    * of that source's own documents — "how much genuinely new content does
    * this source add, given everything that precedes it in id order".
    * The data-mixing complement of [[sourceOverlapMatrix]]: overlap counts
    * verified near-dup PAIRS; novelty charges every shared shingle to its
    * first owner, so a source that re-crawls existing content scores low
    * even when no single document crosses a near-dup threshold.
    *
    * Exact-integer discipline: counts are integers and the single ratio is
    * one double division, so the whole audit replays value-identically in
    * SQL. Shingles travel as 60-bit [[portableHash64]] digests — both
    * engines group by the SAME digest, so even a hash collision (two
    * shingles folding together) affects both sides identically.
    *
    * Scale shape: explode shingles once, distinct (doc, digest), then one
    * digest-keyed min-agg (map-side combined) + one digest-keyed join —
    * the [[dropDuplicates]] digest-shuffle shape; text never shuffles.
    * Output: (srcCol, total_shingles, novel_shingles, novelty_rate). */
  def shingleNovelty(df: DataFrame, idCol: String, textCol: String,
                     srcCol: String, shingleK: Int = 3): DataFrame = {
    val sh = df.select(col(idCol).as("__id"), col(srcCol),
        explode(shingles(col(textCol), shingleK)).as("__sh"))
      .select(col("__id"), col(srcCol), portableHash64(col("__sh"), 0).as("__dg"))
      .distinct()
    val own = sh.groupBy(col("__dg")).agg(min(col("__id")).as("__first"))
    sh.join(own, "__dg")
      .groupBy(col(srcCol))
      .agg(count(lit(1)).as("total_shingles"),
        sum(when(col("__first") === col("__id"), 1L).otherwise(0L))
          .as("novel_shingles"))
      .withColumn("novelty_rate",
        col("novel_shingles").cast("double") /
          col("total_shingles").cast("double"))
  }

  /** 64-bit SimHash of the token stream: bit b of the result is 1 iff the
    * sum over tokens of sign(bit b of xxhash64(token)) is positive.
    * Computed per-row as a pure expression (64-way fold over the token
    * hashes — no explode, no shuffle). */
  def simhash(text: Column): Column = {
    val hashes = transform(TextOps.tokens(text), t => xxhash64(t))
    // bit positions unrolled at plan-build time (shift amounts must be
    // literal ints) — one codegen'd expression, no explode, no shuffle
    val bits = (0 until 64).map { b =>
      val bitSum = aggregate(hashes, lit(0),
        (acc, h) => acc + when(shiftright(h, b).bitwiseAND(1) === 1, 1).otherwise(-1))
      when(bitSum > 0, shiftleft(lit(1L), b)).otherwise(0L)
    }
    bits.reduce((a, b) => a.bitwiseOR(b))
  }

  /** SimHash signatures via explode + one codegen'd aggregation (the Column
    * form [[simhash]] folds 64 interpreted passes over the token hashes —
    * fine per-row, slow in bulk). Docs with zero tokens get signature 0,
    * matching [[simhash]]. Output: (__id, __sig). */
  private def simhashSigs(df: DataFrame, idCol: String, textCol: String,
                          portable: Boolean = false): DataFrame = {
    val hashed = df.select(col(idCol).as("__id"),
      explode_outer(TextOps.tokens(col(textCol))).as("__t"))
      .withColumn("__h",
        if (portable) portableHash64(col("__t"), 0) else xxhash64(col("__t")))
    // zero-token docs: explode_outer emits __t = null, and xxhash64(null)
    // returns the SEED (42), never null — so the empty-doc guard must key on
    // the token column, not the hash, for signature 0 to match [[simhash]]
    val bitSums = hashed.groupBy(col("__id"))
      .agg(sum(when(col("__t").isNull, 0)
          .when(shiftright(col("__h"), 0).bitwiseAND(1) === 1, 1).otherwise(-1)).as("__b0"),
        (1 until 64).map(b => sum(when(col("__t").isNull, 0)
          .when(shiftright(col("__h"), b).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"__b$b")): _*)
    bitSums.select(col("__id"),
      (0 until 64).map(b => when(col(s"__b$b") > 0, shiftleft(lit(1L), b)).otherwise(0L))
        .reduce((a, b) => a.bitwiseOR(b)).as("__sig"))
  }

  /** SimHash near-dup pairs with Hamming distance <= maxDist, using the
    * pigeonhole trick: split 64 bits into (maxDist+1) chunks; any pair within
    * maxDist agrees exactly on at least one chunk -> bucket-join per chunk.
    *
    * Choosing maxDist (recall/cost trade-off, measured on the planted-dup
    * corpus of README "Recall"): maxDist=3 recalls ~76% of true near-dups
    * (tight Hamming ball, small buckets); maxDist=7 recalls ~97% at ~2x the
    * candidate-pair volume (8 chunks of 8 bits -> coarser buckets). Use 3
    * when precision/cost dominates, 7 when missing dups is the expensive
    * failure; MinHash ([[minhashNearDups]], ~99.9% recall) when Jaccard is
    * the better similarity model for the corpus. */
  def simhashNearDups(df: DataFrame, idCol: String, textCol: String,
                      maxDist: Int = 3, portable: Boolean = false): DataFrame = {
    val chunks = maxDist + 1
    val bits = 64 / chunks
    // portable = true swaps the token hash for [[portableHash64]] (60
    // meaningful bits — the top 4 sign sums can never be positive, so the
    // signature is effectively 60-bit; slightly coarser top chunk, same
    // algorithm) so the whole pipeline replays in DuckDB SQL
    val withSig = simhashSigs(df, idCol, textCol, portable)
    val buckets = withSig.select(col("__id"), col("__sig"),
        posexplode(array((0 until chunks).map(c =>
          shiftright(col("__sig"), c * bits)
            .bitwiseAND(lit((1L << bits) - 1))): _*)))
      .toDF("__id", "__sig", "__chunk", "__key")
    val pairs = buckets.as("l").join(buckets.as("r"),
        col("l.__chunk") === col("r.__chunk") &&
          col("l.__key") === col("r.__key") &&
          col("l.__id") < col("r.__id"))
      .select(col("l.__id").as("id_a"), col("r.__id").as("id_b"),
        col("l.__sig").as("__siga"), col("r.__sig").as("__sigb"))
      .distinct()
    pairs
      .withColumn("hamming", bit_count(col("__siga").bitwiseXOR(col("__sigb"))))
      .filter(col("hamming") <= maxDist)
      .select("id_a", "id_b", "hamming")
  }

  /** Edit-distance verification over candidate near-dup pairs — the
    * orthogonal second opinion on LSH/Jaccard candidates: Levenshtein is
    * order-sensitive where shingle Jaccard is (mostly) bag-of-ngrams, so
    * a pair that passes Jaccard but fails the edit-ratio gate is a
    * reordering/template match, not a true near-copy. `edit_ok` accepts
    * pairs whose distance is at most `maxDistPct`% of the longer text,
    * decided in pure integer arithmetic (lev * 100 <= maxLen * pct — no
    * float threshold to drift cross-engine).
    *
    * Scale shape: this is a VERIFY stage only — run it on banded LSH
    * candidates (collision-bounded), never all pairs. Per-pair cost is
    * O(len_a * len_b) dynamic programming, so the upstream candidate
    * generator carries the asymptotics; texts join id-keyed (two hash
    * joins against the corpus), and only candidate ids' texts move. */
  def editDistanceVerify(pairs: DataFrame, corpus: DataFrame, idCol: String,
                         textCol: String, maxDistPct: Int = 20): DataFrame = {
    require(maxDistPct >= 0 && maxDistPct <= 100,
      "editDistanceVerify: maxDistPct in [0, 100]")
    val a = corpus.select(col(idCol).as("id_a"), col(textCol).as("__ta"))
    val b = corpus.select(col(idCol).as("id_b"), col(textCol).as("__tb"))
    pairs.join(a, "id_a").join(b, "id_b")
      .withColumn("lev", levenshtein(col("__ta"), col("__tb")))
      .withColumn("len_a", length(col("__ta")))
      .withColumn("len_b", length(col("__tb")))
      .withColumn("edit_ok",
        col("lev") * lit(100) <= greatest(col("len_a"), col("len_b")) * lit(maxDistPct))
      .drop("__ta", "__tb")
  }

  /** Exact repeated-ngram trimming — the token-window form of substring
    * dedup (Lee et al., "Deduplicating Training Data Makes Language
    * Models Better"): any `n`-token window whose exact token sequence
    * occurs elsewhere in the corpus (or earlier in the same document) is
    * removed from every occurrence EXCEPT the first (keeper = min
    * (id, start) per window digest), and the surviving tokens are
    * reassembled in order. Catches the boilerplate/quotation duplication
    * that document- and paragraph-level dedup ([[markExactDuplicates]],
    * span dedup) cannot see, because it lives inside otherwise-unique
    * documents.
    *
    * Scale shape: the window stream is one row per token position
    * (ids + 16-byte md5 digests — text itself never enters the shuffle),
    * the keeper agg is map-side combined, and masked-position rows are
    * bounded by duplicated-occurrence mass x n, not corpus size. Trimming
    * is per-row array arithmetic against the bounded per-doc mask list
    * (id-keyed join, no token explode), so the reassembly costs no
    * corpus-sized shuffle. Output: (idCol, n_tokens, n_masked,
    * text_trimmed) for every input row (short docs pass through). */
  def trimRepeatedNgrams(df: DataFrame, idCol: String, textCol: String,
                         n: Int = 8): DataFrame = {
    require(n >= 2, "trimRepeatedNgrams: n >= 2")
    val base = df.select(col(idCol), TextOps.tokens(col(textCol)).as("__tk"))
      .transform(Checkpoints.ckpt) // two consumers: window digests + trimming
    // one digest per n-token window, start positions 1-based (DuckDB slice
    // convention, so the oracle replays positions verbatim)
    val occ = base.filter(size(col("__tk")) >= n)
      .select(col(idCol), posexplode(transform(
        sequence(lit(1), size(col("__tk")) - (n - 1)),
        i => md5(concat_ws(" ", slice(col("__tk"), i, lit(n)))))))
      .select(col(idCol).as("id"), (col("pos") + 1).as("start"), col("col").as("digest"))
    val keeper = occ.groupBy(col("digest"))
      .agg(min(struct(col("id"), col("start"))).as("__k"), count(lit(1)).as("__cnt"))
      .filter(col("__cnt") > 1)
      .select(col("digest"), col("__k"))
    // every duplicated occurrence that is not the keeper masks its n positions
    val masked = occ.join(keeper, "digest")
      .filter(struct(col("id"), col("start")) =!= col("__k"))
      .select(col("id"), explode(sequence(col("start"), col("start") + (n - 1))).as("pos"))
      .distinct()
      .groupBy(col("id")).agg(collect_set(col("pos")).as("__mask"))
      .withColumnRenamed("id", "__mid")
    base.join(masked, base(idCol) === masked("__mid"), "left")
      .select(col(idCol), size(col("__tk")).as("n_tokens"),
        coalesce(size(col("__mask")), lit(0)).as("n_masked"),
        concat_ws(" ", filter(col("__tk"),
          (tok, i) => not(array_contains(coalesce(col("__mask"), array().cast("array<int>")), i + 1))))
          .as("text_trimmed"))
  }

  /** CCNet-style frequent-line removal (Wenzek et al. 2020 §3.1): drop
    * every line whose DOCUMENT frequency exceeds `maxDf` — boilerplate
    * (navigation, footers, cookie banners) repeats across thousands of
    * pages while real prose lines are near-unique, so a df threshold
    * separates them with no model. The FREQUENCY-keyed complement of
    * [[dropDuplicateSpans]] (which keeps first occurrences): here even
    * the first copy of a boilerplate line is dropped, because df makes
    * it boilerplate, not its position.
    *
    * Determinism: lines split on '\n' verbatim (no normalization — the
    * caller composes [[TextOps.normalizeForDedup]] upstream if wanted);
    * df counts DISTINCT documents per line; reassembly joins surviving
    * lines in original position order. A NULL text yields no line rows,
    * so the document is absent from the output — filter or coalesce
    * nulls upstream if every input id must appear.
    *
    * Scale shape: one line explode, the (line, doc) distinct + (line)
    * count agg (map-side combined — hot boilerplate lines collapse
    * early), one line-keyed join back, one (doc) reassembly agg. At
    * 100 TB lines travel as md5 digests with text reattached only for
    * reassembly (the q85/span convention). Output:
    * (idCol, n_lines, n_dropped, text_clean). */
  def dropFrequentLines(df: DataFrame, idCol: String, textCol: String,
                        maxDf: Long): DataFrame = {
    require(maxDf >= 1, "dropFrequentLines: maxDf >= 1")
    val lines = df.select(col(idCol),
        posexplode(split(col(textCol), "\n")))
      .toDF(idCol, "__pos", "__line")
      .transform(Checkpoints.ckpt) // consumers: df agg + keep join
    val lineDf = lines.select(col(idCol), col("__line")).distinct()
      .groupBy(col("__line")).agg(count(lit(1)).as("__df"))
    val flagged = lines.join(lineDf, "__line")
    flagged.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("__df") > maxDf, 1L).otherwise(0L)).as("n_dropped"),
        concat_ws("\n", transform(sort_array(collect_list(
          when(col("__df") <= maxDf,
            struct(col("__pos").as("p"), col("__line").as("l"))))),
          s => s.getField("l"))).as("text_clean"))
  }

  /** Provenance union through dedup: when near-dedup keeps one member
    * per family, the DROPPED members' provenance (source, license,
    * crawl) must not vanish — attribution and license obligations
    * attach to the text, which survives. This emits the per-family
    * provenance record the kept representative carries forward: family
    * id (= the keep-min representative, CC's min label), member count,
    * and the sorted distinct source set.
    *
    * Scale shape: CC over the verified pairs, one family-keyed agg
    * (collect_set bounded by the SOURCE cardinality, not the family
    * size — map-side combined). Output: (rep_id, n_members, n_sources,
    * sources). */
  def provenanceUnion(df: DataFrame, idCol: String, sourceCol: String,
                      pairs: DataFrame, maxIter: Int = 10): DataFrame = {
    val labels = connectedComponents(pairs, maxIter)
      .select(col("id").as("__cid"), col("cluster_id"))
    df.join(labels, col(idCol) === col("__cid"), "left")
      .withColumn("rep_id", coalesce(col("cluster_id"), col(idCol)))
      .groupBy(col("rep_id"))
      .agg(count(lit(1)).as("n_members"),
        size(collect_set(col(sourceCol))).as("n_sources"),
        array_join(sort_array(collect_set(col(sourceCol))), ",")
          .as("sources"))
  }

  /** Token-retention ledger: the number a lab actually reports — how
    * many TOKENS (not documents) survive each curation stage, in
    * production order: raw -> quality gate -> exact dedup -> near
    * dedup. [[dedupLadder]] answers "which rung removes how many
    * docs"; this answers "how many billions of tokens is each rule
    * costing us" — the budget sheet behind every filtering-strength
    * argument. Stage semantics match the ladder (keep-first per md5;
    * CC keep-min over `pairs` restricted to surviving endpoints);
    * the quality gate is [[TextOps.qualityScore]] >= minQuality.
    *
    * Scale shape: one token-count kernel pass, the ladder's
    * digest-window and CC machinery, four 1-row aggregates. Output:
    * (stage, n_docs, n_tokens) — 4 rows. */
  def tokenLedger(df: DataFrame, idCol: String, textCol: String,
                  pairs: DataFrame, minQuality: Int,
                  maxIter: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // ONE annotated corpus pass (r14; formerly three full-text passes —
    // raw count, quality re-filter, exact-dedup window — each rescanning
    // and re-tokenizing the corpus). Quality and exact-keep become flags:
    // __keep = quality && id == min id among the QUALITY rows of the md5
    // group (min(when(__q, id)) over the md5 window — exactly the old
    // keep-first window restricted to quality survivors). The checkpoint
    // carries only (id, token count, flags) — the text never leaves this
    // pass, so at corpus scale the ledger reads the heavy bytes once.
    val flags = df.select(col(idCol).as("__id"),
        TextOps.tokenCount(col(textCol)).cast("long").as("__n"),
        (TextOps.qualityScore(col(textCol)) >= minQuality).as("__q"),
        md5(col(textCol)).as("__h"))
      .withColumn("__keep", col("__q") &&
        col("__id") === min(when(col("__q"), col("__id")))
          .over(Window.partitionBy(col("__h"))))
      .select(col("__id"), col("__n"), col("__q"), col("__keep"))
      .transform(Checkpoints.ckpt) // consumers: ledger agg + edges + CC join
    val surv = flags.filter(col("__keep")).select(col("__id"))
    val e = pairs
      .join(surv.select(col("__id").as("id_a")), "id_a", "left_semi")
      .join(surv.select(col("__id").as("id_b")), "id_b", "left_semi")
    val labels = connectedComponents(e, maxIter)
      .select(col("id"), col("cluster_id"))
    val r3 = flags.filter(col("__keep"))
      .join(labels, col("__id") === col("id"), "left")
      .filter(coalesce(col("cluster_id"), col("__id")) === col("__id"))
    // stages 0-2 fold into ONE conditional aggregation over the slim
    // checkpoint (stack reshapes the single row into the ledger rows);
    // only the near rung still needs its own pass (the CC label join).
    val agg3 = flags.agg(
      count(lit(1)).as("n0"), sum(col("__n")).as("t0"),
      count(when(col("__q"), 1)).as("n1"),
      sum(when(col("__q"), col("__n"))).as("t1"),
      count(when(col("__keep"), 1)).as("n2"),
      sum(when(col("__keep"), col("__n"))).as("t2"))
    val first3 = agg3.select(expr(
        "stack(3, '0_raw', n0, t0, '1_quality', n1, t1, '2_exact', n2, t2)"
          + " as (stage, n_docs, n_tokens)"))
      .select(col("stage"), col("n_docs"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"))
    val near = r3
      .agg(count(lit(1)).as("n_docs"), sum(col("__n")).as("n_tokens"))
      .select(lit("3_near").as("stage"), col("n_docs"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"))
    first3.unionByName(near)
  }

  /** Analytic MinHash-LSH S-curve planner (Leskovec/Rajaraman/Ullman
    * ch. 3): for each (numHashes, bands) configuration and each true
    * Jaccard similarity s on the grid, the probability a pair becomes
    * an LSH candidate — P = 1 - (1 - s^r)^b with r = numHashes/bands
    * rows per band. The knob-tuning table read before choosing a
    * family: where the S-curve's inflection sits IS the effective
    * dedup threshold, and the false-negative mass below the target
    * threshold is the recall bill. Pure math over a bounded grid — no
    * corpus touched; the engine work is the broadcast grid cross. */
  def lshPlanner(spark: org.apache.spark.sql.SparkSession,
                 configs: Seq[(Int, Int)],
                 simGrid: Seq[Double]): DataFrame = {
    import spark.implicits._
    require(configs.forall { case (h, b) => b >= 1 && h % b == 0 },
      "lshPlanner: bands must divide numHashes")
    val cfg = configs.toDF("num_hashes", "bands")
      .withColumn("rows_per_band", expr("num_hashes DIV bands"))
    val grid = simGrid.toDF("sim")
    cfg.crossJoin(grid)
      .withColumn("p_candidate", round(
        lit(1.0) - pow(lit(1.0) - pow(col("sim"),
          col("rows_per_band").cast("double")), col("bands").cast("double")),
        6))
  }

  /** Persist the line document-frequency table behind
    * [[dropFrequentLines]] — the maintained-index shape (q111 bucket
    * table / q166 winnow table convention) for the CCNet line scrub:
    * the big-corpus df counts are computed ONCE and incoming batches
    * scrub against the parquet, never rescanning the corpus. Schema:
    * (line, line_df). */
  def writeLineDfTable(df: DataFrame, path: String, idCol: String,
                       textCol: String): Unit =
    df.select(col(idCol), explode(split(col(textCol), "\n")).as("__line"))
      .distinct()
      .groupBy(col("__line").as("line")).agg(count(lit(1)).as("line_df"))
      .write.mode("overwrite").parquet(path)

  /** Scrub an incoming batch against the persisted line-df table: a
    * line is boilerplate iff the TABLE's df exceeds `maxDf` (absent
    * lines have df 0 — new prose is never dropped by a stale table,
    * the conservative direction). O(batch) work: the batch's lines
    * join the table; the corpus behind the table is not touched
    * (spec-asserted). Same output contract as [[dropFrequentLines]]. */
  def dropFrequentLinesAgainstTable(incoming: DataFrame, path: String,
                                    idCol: String, textCol: String,
                                    maxDf: Long): DataFrame = {
    require(maxDf >= 1, "dropFrequentLinesAgainstTable: maxDf >= 1")
    val table = incoming.sparkSession.read.parquet(path)
      .select(col("line").as("__line"), col("line_df").as("__df"))
    val lines = incoming.select(col(idCol),
        posexplode(split(col(textCol), "\n")))
      .toDF(idCol, "__pos", "__line")
    lines.join(table, Seq("__line"), "left")
      .withColumn("__df", coalesce(col("__df"), lit(0L)))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("__df") > maxDf, 1L).otherwise(0L)).as("n_dropped"),
        concat_ws("\n", transform(sort_array(collect_list(
          when(col("__df") <= maxDf,
            struct(col("__pos").as("p"), col("__line").as("l"))))),
          s => s.getField("l"))).as("text_clean"))
  }

  /** Dedup-ladder attribution: apply the rungs IN SEQUENCE — exact
    * (md5 keep-first), normalized ([[TextOps.normalizeForDedup]]
    * keep-first), then near-dup (CC keep-min over `pairs` restricted to
    * surviving endpoints) — and report how many documents each rung
    * removed from the previous rung's survivors. The report a curator
    * reads before ordering the production ladder: if the near rung
    * removes almost nothing after normalization, the expensive LSH pass
    * can run on a schedule instead of per batch.
    *
    * `pairs` is the verified near-dup pair set of the SAME corpus
    * (e.g. [[minhashNearDups]] output — typically already computed and
    * shared); restricting its edges to rung-2 survivors is exactly
    * "near-dedup among the remaining docs", because an exact/normalized
    * duplicate can never be the family representative the earlier rungs
    * kept (its min-id original survives and carries the family's
    * pairs).
    *
    * Scale shape: two digest-keyed window-min passes (16-byte keys, the
    * exact-dedup shuffle shape), two id-keyed semi-joins to restrict
    * the edge set, the CC rounds, then three 1-row aggregates — the
    * summary never materializes a cross product. Output: one row per
    * rung (rung, docs_in, removed, survivors). */
  def dedupLadder(df: DataFrame, idCol: String, textCol: String,
                  pairs: DataFrame, maxIter: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = df.select(col(idCol).as("__id"), col(textCol).as("__t"))
    val r1 = base.withColumn("__keep",
        col("__id") === min(col("__id")).over(
          Window.partitionBy(md5(col("__t")))))
      .filter(col("__keep")).drop("__keep")
    val r2 = r1.withColumn("__keep",
        col("__id") === min(col("__id")).over(
          Window.partitionBy(md5(TextOps.normalizeForDedup(col("__t"))))))
      .filter(col("__keep")).drop("__keep")
      .transform(Checkpoints.ckpt) // consumers: edge restriction + counts + CC join
    val surv = r2.select(col("__id"))
    val e = pairs
      .join(surv.select(col("__id").as("id_a")), "id_a", "left_semi")
      .join(surv.select(col("__id").as("id_b")), "id_b", "left_semi")
    val labels = connectedComponents(e, maxIter)
      .select(col("id"), col("cluster_id"))
    val r3 = r2.join(labels, col("__id") === col("id"), "left")
      .filter(coalesce(col("cluster_id"), col("__id")) === col("__id"))
    val n0 = base.agg(count(lit(1)).as("__n0"))
    val n1 = r1.agg(count(lit(1)).as("__n1"))
    val n2 = r2.agg(count(lit(1)).as("__n2"))
    val n3 = r3.agg(count(lit(1)).as("__n3"))
    n0.crossJoin(n1).crossJoin(n2).crossJoin(n3)
      .selectExpr(
        """stack(3,
          | '1_exact', __n0, __n1,
          | '2_normalized', __n1, __n2,
          | '3_near', __n2, __n3) AS (rung, docs_in, survivors)""".stripMargin)
      .select(col("rung"), col("docs_in"),
        (col("docs_in") - col("survivors")).as("removed"), col("survivors"))
  }

  /** Sorted-neighborhood candidate pairs (Hernandez-Stolfo) — the third
    * blocking family next to LSH bucketing and prefix filtering: sort
    * the corpus by a composite key, compare each record only to its
    * `window` successors. Pairing is an EQUI-join on the computed rank
    * (rank + offset for offset in 1..window, a bounded explode), never
    * a rank-range theta join. The global adjacency rank rides
    * [[DimRank.ranked]] (r13, caught by GlobalWindowLintSpec — the
    * record frame is entity-scaled): range partition + ledger offsets
    * give the exact total-order rank with no single-partition sort and
    * no fringe re-pairing, since the rank is global by construction.
    * Returns
    * (id_a, id_b, rank_gap) with id_a the sort-earlier record. */
  def sortedNeighborhoodPairs(df: DataFrame, idCol: String,
                              sortKeys: Seq[Column],
                              window: Int): DataFrame = {
    require(window >= 1, "sortedNeighborhoodPairs: window must be >= 1")
    val ranked = DimRank.ranked(df, sortKeys :+ col(idCol).asc, "__rn")
      .select(col(idCol).as("__id"), col("__rn"))
    val probes = ranked.select(col("__id").as("id_a"),
        explode(sequence(lit(1), lit(window))).as("rank_gap"),
        col("__rn"))
      .select(col("id_a"), col("rank_gap"),
        (col("__rn") + col("rank_gap")).as("__rn"))
    probes.join(ranked.select(col("__id").as("id_b"), col("__rn")),
        Seq("__rn"))
      .select(col("id_a"), col("id_b"), col("rank_gap").cast("int")
        .as("rank_gap"))
  }
}
