package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic dataset splitting and sampling for training pipelines.
  *
  * Sampling at 100 TB must be a pure function of the row key — never
  * rand(): random sampling changes under retries/re-runs and cannot be
  * reproduced by a downstream consumer or an oracle. The bucket hash here
  * is Knuth multiplicative hashing on the key, portable to any engine
  * (plain 64-bit integer arithmetic), so a split is re-derivable anywhere.
  */
object Split {

  /** Deterministic bucket in [0, buckets) for an integer key column. */
  def bucket(key: Column, buckets: Int): Column =
    pmod((key.cast("long") * lit(2654435761L)) % lit(4294967296L),
      lit(buckets.toLong)).cast("int")

  /** Train/validation/test assignment by percentage cut-points over the
    * deterministic bucket (e.g. 80/10/10). */
  def assign(key: Column, trainPct: Int = 80, validPct: Int = 10): Column = {
    val b = bucket(key, 100)
    when(b < trainPct, "train")
      .when(b < trainPct + validPct, "valid")
      .otherwise("test")
  }

  /** Deterministic p-percent sample (keeps rows whose bucket < pct). */
  def sample(df: DataFrame, keyCol: String, pct: Int): DataFrame =
    df.filter(bucket(col(keyCol), 100) < pct)

  /** Deterministic mixture sampling — the pretraining "data mixing" step:
    * draw an exact-size corpus from weighted sources (weights in basis
    * points, summing to 10000) with no randomness anywhere.
    *
    * Per-source counts use the LARGEST-REMAINDER method in pure integer
    * arithmetic: floor(w*total/10000) each, then the `total - sum(floors)`
    * leftover slots go to the largest remainders (ties: source asc) — the
    * allocation is exact, deterministic, and engine-portable. Selection
    * within a source ranks documents by (portable hash of the id, id) and
    * keeps the first target_n — a reproducible "random" sample any engine
    * can re-derive (q87).
    *
    * A source with fewer rows than its target contributes everything it
    * has (the shortfall is visible to the caller by counting).
    *
    * Scale shape: the allocation table is #sources rows of driver-side
    * metadata computed relationally (no collect); the selection is one
    * per-source window over the hash order — shuffle keyed by source,
    * WindowGroupLimit prunes to target_n per partition before any full
    * sort materializes.
    *
    * Output: the selected rows as (sourceCol, idCol). */
  def mixtureSample(df: DataFrame, sourceCol: String, idCol: String,
                    weightsBp: Seq[(String, Int)], total: Long): DataFrame = {
    require(weightsBp.map(_._2).sum == 10000,
      "mixtureSample: weights must sum to 10000 bp")
    require(weightsBp.map(_._1).distinct.size == weightsBp.size,
      "mixtureSample: duplicate source")
    val spark = df.sparkSession
    import spark.implicits._
    val w = weightsBp.toDF("__src", "__wbp")
      .withColumn("__floor", expr(s"CAST(__wbp AS BIGINT) * $total DIV 10000"))
      .withColumn("__rem", expr(s"CAST(__wbp AS BIGINT) * $total % 10000"))
    val leftover = w.withColumn("__left",
        lit(total) - sum(col("__floor")).over(
          org.apache.spark.sql.expressions.Window.partitionBy()))
      .withColumn("__rrank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("__rem").desc, col("__src").asc)))
      .withColumn("target_n",
        col("__floor") + when(col("__rrank") <= col("__left"), 1L).otherwise(0L))
      .select(col("__src"), col("target_n"))
    val ranked = df.select(col(sourceCol).as("__src"), col(idCol).as("__id"))
      .withColumn("__h", Dedup.portableHash64(col("__id").cast("string"), 77))
      .withColumn("__rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("__src"))
          .orderBy(col("__h").asc, col("__id").asc)))
      // the per-source target is data-dependent (join below), which
      // WindowGroupLimit cannot use — but no target exceeds `total`, so
      // this LITERAL bound lets the rank window drop each partition to at
      // most `total` rows before the join (verified: WindowGroupLimit in
      // the plan only with this filter present)
      .filter(col("__rank") <= lit(total))
    ranked.join(broadcast(leftover), "__src")
      .filter(col("__rank") <= col("target_n"))
      .select(col("__src").as(sourceCol), col("__id").as(idCol))
  }

  /** Temperature-scaled mixture sampling — the multilingual/multi-source
    * rebalancing step (Conneau et al., "Unsupervised Cross-lingual
    * Representation Learning at Scale", ACL 2020 §3.1): sample source s
    * with probability proportional to p_s^alpha where p_s is the
    * source's natural share. alpha < 1 flattens the mixture — head
    * sources are downsampled, tail sources upsampled relative to their
    * natural share — which is how a 100-source corpus avoids being 90%
    * its two biggest crawls. Unlike [[mixtureSample]] the weights are
    * DERIVED FROM THE DATA, not caller-supplied.
    *
    * alpha is fixed at 1/2 so the weight is sqrt(n_s) — IEEE-754
    * requires sqrt to be correctly rounded, so both engines compute the
    * IDENTICAL double, and `floor(sqrt(n_s) * 1e6)` freezes it into a
    * portable integer weight. From there the allocation is
    * [[mixtureSample]]'s integer largest-remainder method and selection
    * is the same (portable id-hash, id) rank — zero floating-point
    * boundaries anywhere in the allocation. A general-alpha pow() has no
    * such cross-engine guarantee; alpha = 1/2 is also XLM-R's
    * highest-flattening published setting.
    *
    * Scale shape: the weight/allocation table is #sources rows derived
    * from one map-side-combined count agg; selection is one per-source
    * hash-order window (WindowGroupLimit-bounded by `total` exactly as
    * mixtureSample). Output: one row per source —
    * (sourceCol, n_docs, weight, target_n, n_sampled, sampled_tokens) —
    * the mixture card a pipeline logs; n_sampled < target_n exposes a
    * source too small for its allocation. */
  def temperatureMixture(df: DataFrame, sourceCol: String, idCol: String,
                         textCol: String, total: Long,
                         seed: Int = 78): DataFrame = {
    require(total > 0, "temperatureMixture: total > 0")
    val counts = df.groupBy(col(sourceCol).as("__src"))
      .agg(count(lit(1)).as("__n"))
      .withColumn("__w", floor(sqrt(col("__n").cast("double")) * 1e6))
    val wsum = counts.agg(sum(col("__w")).as("__wsum"))
    val alloc = counts.crossJoin(broadcast(wsum))
      .withColumn("__floor", expr(s"__w * $total DIV __wsum"))
      .withColumn("__rem", expr(s"__w * $total % __wsum"))
      .withColumn("__left",
        lit(total) - sum(col("__floor")).over(
          org.apache.spark.sql.expressions.Window.partitionBy()))
      .withColumn("__rrank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("__rem").desc, col("__src").asc)))
      .withColumn("target_n",
        col("__floor") + when(col("__rrank") <= col("__left"), 1L).otherwise(0L))
      .select(col("__src"), col("__n"), col("__w"), col("target_n"))
    val ranked = df.select(col(sourceCol).as("__src"), col(idCol).as("__id"),
        TextOps.tokenCount(col(textCol)).cast("long").as("__tok"))
      .withColumn("__h", Dedup.portableHash64(col("__id").cast("string"), seed))
      .withColumn("__rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("__src"))
          .orderBy(col("__h").asc, col("__id").asc)))
      .filter(col("__rank") <= lit(total)) // literal bound -> WindowGroupLimit
    val picked = ranked.join(broadcast(alloc.select("__src", "target_n")), "__src")
      .filter(col("__rank") <= col("target_n"))
      .groupBy(col("__src"))
      .agg(count(lit(1)).as("n_sampled"), sum(col("__tok")).as("sampled_tokens"))
    alloc.join(picked, Seq("__src"), "left")
      .select(col("__src").as(sourceCol), col("__n").as("n_docs"),
        col("__w").as("weight"), col("target_n"),
        coalesce(col("n_sampled"), lit(0L)).as("n_sampled"),
        coalesce(col("sampled_tokens"), lit(0L)).as("sampled_tokens"))
  }

  /** Leakage-safe (group-aware) split: every member of a near-duplicate
    * cluster lands in the SAME split. A row-wise split re-creates the
    * contamination problem dedup exists to prevent — a near-dup pair
    * straddling train/eval leaks eval content into training and inflates
    * eval scores. Cluster membership comes from connected components over
    * the caller's verified pair set (any of the near-dup families);
    * assignment hashes the cluster REPRESENTATIVE (the CC min-member
    * label; docs in no pair represent themselves), so a cluster moves
    * between splits atomically and the split stays a pure function of
    * the corpus version (portable hash, no rand()).
    *
    * Scale shape: CC is id-keyed rounds (Dedup.connectedComponents);
    * the assignment itself is one left join against the label frame
    * (pair-member-sized, usually a small fraction of the corpus — Spark
    * broadcasts it when it fits) plus a per-row hash.
    * Output: (idCol, rep, split ∈ {train, eval}). */
  def groupAwareSplit(df: DataFrame, idCol: String, pairs: DataFrame,
                      trainBp: Int = 8000, seed: Int = 99,
                      maxIter: Int = 10): DataFrame = {
    require(trainBp > 0 && trainBp < 10000, "groupAwareSplit: trainBp in (0, 10000)")
    val labels = Dedup.connectedComponents(pairs, maxIter)
      .select(col("id").as("__cid"), col("cluster_id"))
    // no cast on the fallback: cluster_id carries the pair-id type, which
    // matches idCol's by construction — a forced long cast would null out
    // string-keyed corpora
    df.join(labels, col(idCol) === col("__cid"), "left")
      .withColumn("rep", coalesce(col("cluster_id"), col(idCol)))
      .select(col(idCol), col("rep"),
        when(pmod(Dedup.portableHash64(col("rep").cast("string"), seed),
            lit(10000L)) < trainBp, "train")
          .otherwise("eval").as("split"))
  }

  /** Leakage-safe k-fold assignment: [[groupAwareSplit]]'s family
    * atomicity applied to cross-validation — every member of a near-dup
    * family takes the SAME fold (fold = portable hash of the family
    * representative mod k), so no fold's eval half ever contains a
    * near-copy of another fold's train half. Fold sizes are hash-
    * uniform, not exact; exact stratification would break atomicity.
    * Output: (idCol, rep, fold). */
  def groupAwareFolds(df: DataFrame, idCol: String, pairs: DataFrame,
                      k: Int, seed: Int = 99, maxIter: Int = 10): DataFrame = {
    require(k >= 2, "groupAwareFolds: k >= 2")
    val labels = Dedup.connectedComponents(pairs, maxIter)
      .select(col("id").as("__cid"), col("cluster_id"))
    df.join(labels, col(idCol) === col("__cid"), "left")
      .withColumn("rep", coalesce(col("cluster_id"), col(idCol)))
      .select(col(idCol), col("rep"),
        pmod(Dedup.portableHash64(col("rep").cast("string"), seed),
          lit(k.toLong)).cast("int").as("fold"))
  }

  /** Near-dup-family-capped sampling: keep at most `cap` documents per
    * duplicate family (singletons are their own family) — the data-mixing
    * middle ground between keep-all (duplication bias: a 10k-copy
    * boilerplate family dominates training) and full dedup (losing the
    * natural-frequency signal entirely); web-scale corpora (C4, RefinedWeb
    * lineage) routinely cap rather than drop. Selection WITHIN a family is
    * a pure function of the id (portable hash, then id as the
    * tie-break) — re-derivable by any engine, stable under retries.
    *
    * Scale shape: families from [[Dedup.connectedComponents]] over the
    * (already bucketed) near-dup pairs; the per-family window partitions
    * on the family key — family sizes are dedup-cluster sizes, so the
    * window never sees a partition larger than the biggest dup family
    * (the q117 histogram measures exactly that distribution; a
    * pathological mega-family is the signal to drop, not sample).
    * Output: (idCol, family, family_rank, keep) — all rows flagged, so
    * the same frame audits what was capped.
    */
  def capPerFamily(df: DataFrame, idCol: String, pairs: DataFrame,
                   cap: Int, seed: Int = 7, maxIter: Int = 10): DataFrame = {
    require(cap >= 1, "capPerFamily: cap >= 1")
    val labels = Dedup.connectedComponents(pairs, maxIter)
      .select(col("id").as("__cid"), col("cluster_id"))
    df.join(labels, col(idCol) === col("__cid"), "left")
      .withColumn("family", coalesce(col("cluster_id"), col(idCol)))
      .withColumn("family_rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("family"))
          .orderBy(Dedup.portableHash64(col(idCol).cast("string"), seed),
            col(idCol))))
      .select(col(idCol), col("family"), col("family_rank"),
        (col("family_rank") <= cap).as("keep"))
  }

  /** Token-budget mixture sampling: within each group, take documents in
    * portable-hash order until the group's TOKEN budget is exhausted —
    * the form real training mixtures are specified in (a mixture is "x B
    * tokens of web, y B of code", never a document count: document
    * lengths differ 100x across sources, so [[mixtureSample]]'s
    * doc-count targets and a token-budget target select very different
    * corpora). Selection order is a pure function of the id, so the
    * sample is re-derivable and retry-stable; a doc is kept only if it
    * FITS (cum <= budget — the doc that would cross the line is cut,
    * making the budget a hard ceiling).
    *
    * Scale shape: one per-row token count (codegen kernel), then one
    * running sum per group — a sort per group, which is the honest cost
    * of an EXACT budget. At 100 TB, first shrink each group to ~budget
    * expected mass with a hash-range filter at rate budget/total (the
    * q87 selection shape, no sort), then run this exact trim on the
    * survivors; the scaladoc'd two-phase compose keeps the sort bounded.
    * Output: (idCol, groupCol, n_tokens, cum_tokens, keep). */
  def tokenBudgetSample(df: DataFrame, groupCol: String, idCol: String,
                        textCol: String, budgets: Seq[(String, Long)],
                        defaultBudget: Long, seed: Int = 33): DataFrame = {
    require(budgets.map(_._1).distinct.size == budgets.size,
      "tokenBudgetSample: duplicate group")
    require(defaultBudget >= 0 && budgets.forall(_._2 >= 0),
      "tokenBudgetSample: budgets >= 0")
    val spark = df.sparkSession
    import spark.implicits._
    val b = budgets.toDF("__grp", "__budget")
    df.select(col(groupCol), col(idCol),
        TextOps.tokenCount(col(textCol)).cast("long").as("n_tokens"))
      .withColumn("__h",
        Dedup.portableHash64(col(idCol).cast("string"), seed))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col(groupCol)).orderBy(col("__h").asc, col(idCol).asc)
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .join(broadcast(b), col(groupCol) === col("__grp"), "left")
      .withColumn("keep",
        col("cum_tokens") <= coalesce(col("__budget"), lit(defaultBudget)))
      .select(col(idCol), col(groupCol), col("n_tokens"), col("cum_tokens"),
        col("keep"))
  }

  /** Fractional repeat-mixture (epoch factors): materialize each
    * document `factor` times per epoch — the UPSAMPLING half of data
    * mixing (training mixtures repeat high-quality sources: "Wikipedia
    * x3.5, books x2, web x0.8"), with the fractional part resolved per
    * document by portable id hash, so a 3.5 factor gives every doc 3
    * copies and deterministically half of them a 4th. Factors below 1
    * downsample through the same formula (0.8 -> 80% of docs keep their
    * single copy) — one op covers both directions, and the realized copy
    * count is a pure function of (id, factor): retry-stable,
    * re-derivable, engine-replayable.
    *
    * Scale shape: one broadcast factor lookup + per-row explode — no
    * shuffle; output size is input x mean factor by construction. The
    * copy index rides along so a downstream loader can interleave epochs
    * (copy 1 of everything, then copy 2...) without re-sampling.
    * Output: (idCol, groupCol, n_copies, copy). */
  def repeatMixture(df: DataFrame, groupCol: String, idCol: String,
                    factors: Seq[(String, Double)], defaultFactor: Double = 1.0,
                    seed: Int = 55): DataFrame = {
    require(factors.map(_._1).distinct.size == factors.size,
      "repeatMixture: duplicate group")
    require((defaultFactor +: factors.map(_._2)).forall(f => f >= 0 && f <= 100),
      "repeatMixture: factors in [0, 100]")
    val spark = df.sparkSession
    import spark.implicits._
    def split(f: Double): (Long, Long) = {
      val fl = math.floor(f).toLong
      (fl, math.round((f - fl) * 10000))
    }
    val fdf = factors.map { case (g, f) =>
      val (fl, bp) = split(f); (g, fl, bp)
    }.toDF("__grp", "__floor", "__bp")
    val (dfl, dbp) = split(defaultFactor)
    df.select(col(idCol), col(groupCol))
      .join(broadcast(fdf), col(groupCol) === col("__grp"), "left")
      .withColumn("n_copies",
        coalesce(col("__floor"), lit(dfl)) +
          when(pmod(Dedup.portableHash64(col(idCol).cast("string"), seed),
            lit(10000L)) < coalesce(col("__bp"), lit(dbp)), 1L).otherwise(0L))
      .where(col("n_copies") >= 1)
      .select(col(idCol), col(groupCol), col("n_copies"),
        explode(sequence(lit(1L), col("n_copies"))).as("copy"))
  }

  /** Stratified deterministic sampling: per-stratum percentage targets
    * (strata absent from the map keep `defaultPct`). */
  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score every raw
    * document by how much its hashed-n-gram feature distribution looks
    * like a TARGET corpus rather than the raw corpus —
    * log w(d) = sum over d's features of [ln p_target(b) - ln q_raw(b)]
    * with word unigram+bigram features hashed into `numBuckets` buckets
    * and add-one smoothing on both bucket distributions. The standard
    * "make 100 TB of crawl look like Wikipedia" selection signal.
    *
    * Scale shape: the corpus is touched ONCE (explode features -> one
    * (doc, bucket) count agg); both bucket distributions are bounded at
    * `numBuckets` rows, the log-ratio table is built from them and
    * BROADCAST back onto the per-doc counts — no corpus-vs-corpus join,
    * text never shuffles (only (doc, bucket, cnt) triples). The target
    * side is typically small but only its BOUNDED distribution is used,
    * so a large target costs one extra agg, nothing more.
    *
    * Float discipline (the q99/q113 ladder): smoothed probabilities are
    * ratios of exact integers, ln operates on identical doubles in both
    * engines, each per-bucket term rounds to 6 and sums through
    * DECIMAL(25,6) (order-independent), ONE double division at the end.
    * Docs with zero features (empty text) are absent from the output.
    * Output: (idCol, n_features, log_weight_mean) — mean rather than sum
    * so the score is length-comparable; resample on it with
    * [[dsirResample]]. */
  def dsirLogWeights(raw: DataFrame, target: DataFrame, idCol: String,
                     textCol: String, numBuckets: Int = 4096, seed: Int = 5,
                     portable: Boolean = false): DataFrame = {
    def features(df: DataFrame, cols: Seq[Column]): DataFrame = {
      val bi = when(size(col("__tk")) >= 2,
        expr("transform(sequence(1, size(__tk) - 1), " +
          "i -> concat(element_at(__tk, i), ' ', element_at(__tk, i + 1)))"))
        .otherwise(array().cast("array<string>"))
      df.withColumn("__tk", graft.operators.TextOps.tokens(lower(col(textCol))))
        .select(cols :+ explode(concat(col("__tk"), bi)).as("__f"): _*)
    }
    def bucketed(df: DataFrame, cols: Seq[Column]): DataFrame =
      features(df, cols).withColumn("__b",
        if (portable) pmod(Dedup.portableHash64(col("__f"), seed), lit(numBuckets.toLong))
        else pmod(xxhash64(col("__f"), lit(seed)), lit(numBuckets.toLong)))
    // bounded distributions: <= numBuckets rows each
    val qCnt = bucketed(raw, Seq.empty).groupBy(col("__b"))
      .agg(count(lit(1)).as("__cq"))
    val pCnt = bucketed(target, Seq.empty).groupBy(col("__b"))
      .agg(count(lit(1)).as("__cp"))
    val qTot = qCnt.agg(sum(col("__cq")).as("__tq"))
    val pTot = pCnt.agg(sum(col("__cp")).as("__tp"))
    // log-ratio per RAW-OBSERVED bucket (only those can be probed), with
    // add-one smoothing so target-unseen buckets score finitely negative
    val ratio = qCnt.join(pCnt, Seq("__b"), "left")
      .crossJoin(broadcast(qTot)).crossJoin(broadcast(pTot))
      .select(col("__b"),
        (log((coalesce(col("__cp"), lit(0L)).cast("double") + 1.0) /
             (col("__tp").cast("double") + numBuckets)) -
         log((col("__cq").cast("double") + 1.0) /
             (col("__tq").cast("double") + numBuckets))).as("__lr"))
    bucketed(raw, Seq(col(idCol))).groupBy(col(idCol), col("__b"))
      .agg(count(lit(1)).as("__c"))
      .join(broadcast(ratio), "__b")
      .withColumn("__t",
        round(col("__c") * col("__lr"), 6).cast("decimal(25,6)"))
      .groupBy(col(idCol))
      .agg(sum(col("__c")).as("n_features"), sum(col("__t")).as("__s"))
      .select(col(idCol), col("n_features"),
        (col("__s").cast("double") / col("n_features").cast("double"))
          .as("log_weight_mean"))
  }

  /** Gumbel-top-k resampling over [[dsirLogWeights]] output — the
    * paper's sampling-without-replacement step, derandomized: noise is
    * -ln(-ln(u)) with u derived from a portable hash of the id (q101's
    * no-RNG-state discipline), so the selection is a pure function of
    * (ids, weights, seed) that retries, re-runs, and a SQL oracle all
    * reproduce. Keys round to 6 before ranking; ties break on id.
    * Output: the k selected rows (idCol, log_weight_mean, gumbel_key),
    * highest keys first. */
  def dsirResample(weights: DataFrame, idCol: String, k: Int,
                   seed: Int = 11, portable: Boolean = false): DataFrame = {
    require(k >= 1, "dsirResample: k >= 1")
    val h =
      if (portable) Dedup.portableHash64(col(idCol).cast("string"), seed)
      else xxhash64(col(idCol).cast("string"), lit(seed))
    val u = (pmod(h, lit(1L << 30)).cast("double") + 0.5) / (1L << 30).toDouble
    weights
      .withColumn("gumbel_key",
        round(col("log_weight_mean") - log(-log(u)), 6))
      .orderBy(col("gumbel_key").desc, col(idCol))
      .limit(k)
  }

  def stratifiedSample(df: DataFrame, keyCol: String, strataCol: String,
                       pcts: Map[String, Int], defaultPct: Int = 0): DataFrame = {
    val pctExpr = pcts.foldLeft(lit(defaultPct)) { case (acc, (k, p)) =>
      when(col(strataCol) === k, p).otherwise(acc)
    }
    df.filter(bucket(col(keyCol), 100) < pctExpr)
  }

  /** Deterministic global shuffle into training shards — the "shuffle the
    * corpus before training" step, without RNG state: shard and
    * within-shard position both derive from [[Dedup.portableHash64]] of
    * the document id, so the layout is reproducible run-over-run, stable
    * under retries, and replayable in any engine (the md5 convention).
    * Adjacent source documents land in unrelated (shard, pos) slots —
    * exactly what epoch shuffling buys, as a pure function.
    *
    * Scale shape: one codegen'd hash per row, then a per-shard
    * row_number window — shards are the parallel unit (numShards
    * partitions of a balanced hash split), nothing global. Writing
    * `partitionBy(shard)` + sorting within files by pos gives a trainer
    * sequential reads of a shuffled corpus.
    * Output: input columns + (shard, pos_in_shard). */
  def shuffleShards(df: DataFrame, idCol: String, numShards: Int,
                    seed: Int = 0): DataFrame = {
    require(numShards >= 1, "shuffleShards: numShards >= 1")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("__h"), col(idCol))
    df.withColumn("__h", Dedup.portableHash64(col(idCol).cast("string"), seed))
      .withColumn("shard", pmod(col("__h"), lit(numShards.toLong)).cast("int"))
      .withColumn("pos_in_shard", row_number().over(w).cast("long") - 1)
      .drop("__h")
  }

  /** Shard id alone (no positions — lets aggregating consumers skip the
    * per-shard window [[shuffleShards]] pays for pos_in_shard). */
  def shardOf(id: Column, numShards: Int, seed: Int = 0): Column =
    pmod(Dedup.portableHash64(id.cast("string"), seed),
      lit(numShards.toLong)).cast("int")

  /** Mixing audit over [[shuffleShards]]: per shard, how balanced the
    * split is and how well sources interleave — n_docs within one hash
    * bucket of |corpus|/numShards, every source present, and no source
    * dominating (max_source_share ~ its corpus share). All integer
    * counts but the one reported share ratio.
    * Output: (shard, n_docs, n_sources, max_source_docs,
    * max_source_share). */
  def shardAudit(df: DataFrame, idCol: String, srcCol: String,
                 numShards: Int, seed: Int = 0): DataFrame =
    df.withColumn("shard", shardOf(col(idCol), numShards, seed))
      .groupBy(col("shard"), col(srcCol))
      .agg(count(lit(1)).as("__n"))
      .groupBy(col("shard"))
      .agg(sum(col("__n")).as("n_docs"),
        count(lit(1)).as("n_sources"),
        max(col("__n")).as("max_source_docs"))
      .select(col("shard"), col("n_docs"), col("n_sources"),
        col("max_source_docs"),
        (col("max_source_docs").cast("double")
          / col("n_docs").cast("double")).as("max_source_share"))

  /** Quality-aware canonical selection: keep the BEST-quality member of
    * each near-dup family instead of [[Dedup.dropNearDuplicates]]'s
    * min-id member — near-dup families routinely mix a clean original
    * with truncated/boilerplate-wrapped copies, and keep-min-id keeps
    * whichever crawled first. The representative is the
    * (quality desc, id asc) argmax via a struct-MIN on (-quality, id) —
    * one agg, no per-family sort — so selection is total and replayable.
    * `qualityCol` must be an engine-portable NUMERIC score (integer
    * heuristics, rounded calibrated scores) — it carries the negation;
    * the id rides the struct un-negated, so string/any-ordered ids
    * work (negating the ID silently cast strings to double -> NULL,
    * the r07 ADVICE find).
    *
    * Scale shape: CC over the verified pairs (id-keyed rounds), one
    * family-keyed struct-max agg (map-side combined), one join back.
    * Output: (idCol, family, qualityCol, is_rep). */
  def keepBestPerFamily(df: DataFrame, idCol: String, qualityCol: String,
                        pairs: DataFrame, maxIter: Int = 10): DataFrame = {
    val labels = Dedup.connectedComponents(pairs, maxIter)
      .select(col("id").as("__cid"), col("cluster_id"))
    val fam = df.join(labels, col(idCol) === col("__cid"), "left")
      .withColumn("family", coalesce(col("cluster_id"), col(idCol)))
      .select(col(idCol), col("family"), col(qualityCol))
    // null-quality members must LOSE the argmin, but struct comparison
    // sorts a null field FIRST ascending — lead with an is-null flag
    // (false < true) so any scored member beats every unscored one, and
    // an all-null family still resolves to its min id (r8 review fix).
    val best = fam.groupBy(col("family"))
      .agg(min(struct(col(qualityCol).isNull.as("__qnull"),
          (-col(qualityCol)).as("__nq"), col(idCol).as("__bid")))
        .as("__best"))
    fam.join(best, "family")
      .select(col(idCol), col("family"), col(qualityCol),
        (col(idCol) === col("__best.__bid")).as("is_rep"))
  }

  /** EXACT label-stratified k-folds: within each stratum, rank by the
    * portable hash (id as tiebreak) and deal round-robin — every
    * stratum's fold sizes differ by at most one, unlike plain
    * hash-mod-k assignment whose per-stratum balance is only
    * statistical. The rank window partitions by STRATUM (the natural
    * shuffle key); the hash ordering is the derandomized "shuffle"
    * (same discipline as [[trainTestSplit]]), so folds are stable
    * across runs and engines. Complements [[groupAwareFolds]]: that
    * one keeps near-dup FAMILIES un-split (leakage), this one keeps
    * LABEL PROPORTIONS equal (class balance) — compose by stratifying
    * on (stratum, family rep) when both matter. */
  def stratifiedFolds(df: DataFrame, idCol: String, strataCol: String,
                      k: Int, seed: Int = 97): DataFrame = {
    require(k >= 2, "stratifiedFolds: k >= 2")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(strataCol))
      .orderBy(Dedup.portableHash64(col(idCol).cast("string"), seed).asc,
        col(idCol).asc)
    df.select(col(idCol), col(strataCol))
      .withColumn("fold",
        pmod(row_number().over(w).cast("long") - 1, lit(k.toLong))
          .cast("int"))
  }
}
