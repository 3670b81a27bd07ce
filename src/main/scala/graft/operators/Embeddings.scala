package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Embedding-matrix statistics and linear maps: covariance and PCA — the
  * preprocessing a training-data pipeline runs before whitening, energy
  * audits, or dimensionality reduction of an embedding column.
  * (Reference analytics surface: analytics/embeddings.py-style audits; the
  * Spark-first shape here is original.)
  *
  * Scale shape: the covariance of an (N x d) embedding matrix is a d x d
  * (bounded!) statistic — the only corpus-sized work is ONE pass emitting
  * per-row upper-triangle products, and hash aggregation collapses those
  * map-side, so the shuffle carries O(partitions x d^2) rows, never O(N).
  * Eigendecomposition then runs on the DRIVER over the bounded d x d
  * matrix (the Knn centroid-metadata convention: collect is legal when the
  * result is index metadata, not data). Projection is a broadcast of k
  * d-vectors folded per row — map-side only, no shuffle.
  *
  * Float discipline (the q99 convention): per-row products round to 6
  * decimals and sum through DECIMAL(25,6) — exact, order-independent,
  * replayable in DuckDB — so the covariance query is hash-verifiable
  * cross-engine. The PCA components inherit the float-iteration-dependence
  * of power iteration and follow the q55/q146 float-means convention:
  * rows-only driver check + property specs (orthonormality, eigenpair
  * residual, variance capture) instead of a value oracle. */
object Embeddings {

  /** Upper-triangle sample covariance of `vecCol` (i <= j), one row per
    * (i, j): cov = (n*S_xy - S_i*S_j) / (n*(n-1)) with all three sums
    * accumulated exactly in DECIMAL(25,6) over per-row values rounded to
    * 6 decimals. Null vectors are dropped (a null embedding has no
    * moments); null ELEMENTS would raise in the kernels upstream.
    *
    * Finalization discipline (the round()-tie rule, PLANS_r07 part 14,
    * applied here after the q151/q158 r07 reds): the NUMERATOR
    * n*S_xy - S_i*S_j is computed entirely in DECIMAL — every product
    * exact, the subtraction exact, then one exact-domain HALF_UP
    * reduction to scale 6 (Spark: the decimal(20,6) cast; DuckDB:
    * round(x, 6) on the DECIMAL — its decimal CAST TRUNCATES, round()
    * is the half-away-from-zero twin of Spark's cast) — so both engines
    * hold the bit-identical rational; `cov` is
    * then ONE double division of that numerator by the exact integer
    * n*(n-1), with NO trailing round (rounding the double quotient at a
    * shortest-repr tie is exactly what diverged cross-engine). The
    * scale-6 numerator keeps its unscaled value below 2^52 for
    * |numerator| <= ~4.5e9 (n ~ 2e5 at unit-scale embeddings), where
    * both engines' DECIMAL->DOUBLE casts are the same single division of
    * exact operands. */
  def covariance(df: DataFrame, vecCol: String): DataFrame = {
    val v = df.select(col(vecCol).as("__v")).filter(col("__v").isNotNull)
    // Per-row flat upper-triangle micro-products via the codegen'd
    // kernel (graft.expr.VectorOuterMicros — the nested-HOF struct form
    // ran interpreted, 2,080 lambda frames per row), then ONE hash agg
    // keyed on the triangle position; partial aggregation collapses
    // map-side. sum(micros)/10^6 is the exact DECIMAL rational the q99
    // discipline requires. (i, j) come back from a bounded broadcast
    // position map — all vectors in a column share one dim.
    val pairs = upperSums(v)
    // Per-index sums + the vector count: d rows, broadcast back twice.
    val sums = v.select(posexplode(col("__v")).as(Seq("i", "x")))
      .groupBy(col("i")).agg(
        sum(round(col("x").cast("double"), 6).cast("decimal(25,6)")).as("s"),
        count(lit(1)).as("n"))
    pairs
      .join(broadcast(sums.select(col("i"), col("s").as("si"), col("n"))), Seq("i"))
      .join(broadcast(sums.select(col("i").as("j"), col("s").as("sj"))), Seq("j"))
      .select(col("i").cast("int").as("i"), col("j").cast("int").as("j"),
        covFinalize(col("sxy"), col("si"), col("sj"), col("n")).as("cov"))
  }

  /** The shared q151/q158 finalizer: exact-DECIMAL numerator
    * n*sxy - si*sj (every step exact, one half-up cast to scale 6),
    * ONE double division by the exact integer n*(n-1), no trailing
    * round. `n` must be an integral-valued column (the vector count). */
  private def covFinalize(sxy: Column, si: Column, sj: Column, n: Column): Column = {
    val nL = n.cast("long")
    // Domain guards on the BOUNDED stats frames (d + d^2 rows — the
    // checks cost nothing): the DECIMAL ladder is exact only while the
    // operands fit its ceilings; outside them fail with a named error
    // instead of ANSI's anonymous overflow (r8 review). The bounds
    // admit |component| ~ 1 embeddings up to n ~ 1e8 vectors; rescale
    // the embedding column (or widen the ladder) past that.
    def guarded(c: Column, bound: Double, what: String): Column =
      when(abs(c.cast("double")) >= lit(bound), raise_error(lit(
        s"covariance: $what exceeds the exact-DECIMAL ladder (see scaladoc)")))
        .otherwise(c) // the exact DECIMAL original flows through unchanged
    val num = ((nL.cast("decimal(12,0)") *
        guarded(sxy, 1e13, "sum(x_i*x_j)").cast("decimal(20,6)"))
        .cast("decimal(37,12)")
      - guarded(si, 1e9, "sum(x_i)").cast("decimal(16,6)") *
        guarded(sj, 1e9, "sum(x_j)").cast("decimal(16,6)"))
      .cast("decimal(26,6)") // wide: the NUMERATOR guard below is the bound
    // 4.5e9 at scale 6 keeps the unscaled value under 2^52 — the bound
    // where both engines' DECIMAL->DOUBLE casts are provably identical
    // (scaladoc); past it, fail named rather than drift silently
    guarded(num, 4.5e9, "numerator n*sxy - si*sj").cast("double") /
      (nL * (nL - lit(1L))).cast("double")
  }

  /** (i, j, sxy DECIMAL) upper-triangle product sums of a pre-projected
    * `__v` frame — the shared kernel + position-map chain. */
  private def upperSums(v: DataFrame): DataFrame = {
    val spark = v.sparkSession
    val d = v.select(size(col("__v")).as("__d")).head(1).headOption
      .map(_.getInt(0)).getOrElse(1)
    import spark.implicits._
    val idx = (for { i <- 0 until d; j <- i until d } yield (i, j))
      .zipWithIndex.map { case ((i, j), pos) => (pos, i, j) }
      .toDF("pos", "i", "j")
    v.select(posexplode(graft.expr.GraftFunctions.vectorOuterMicros(col("__v")))
        .as(Seq("pos", "xy")))
      .groupBy(col("pos"))
      .agg(sum(col("xy").cast("decimal(25,0)")).as("__u"))
      .join(broadcast(idx), "pos")
      .select(col("i"), col("j"),
        (col("__u") / lit(1000000)).cast("decimal(35,6)").as("sxy"))
  }

  /** Per-index means (d rows, for centering before projection) — same
    * DECIMAL accumulation as [[covariance]]. */
  def means(df: DataFrame, vecCol: String): DataFrame =
    df.select(col(vecCol).as("__v")).filter(col("__v").isNotNull)
      .select(posexplode(col("__v")).as(Seq("i", "x")))
      .groupBy(col("i")).agg(
        (sum(round(col("x").cast("double"), 6).cast("decimal(25,6)")).cast("double")
          / count(lit(1)).cast("double")).as("mean"))

  /** Per-group embedding-space outlier fences: each vector's euclidean
    * distance to its GROUP CENTROID, gated by the group's median/MAD
    * (the [[Robust.madOutlierStats]] rule in embedding space) — the
    * semantic-drift screen that catches mislabeled/misrouted vectors
    * (a batch of code embeddings landing in a prose source) that
    * token-level audits cannot see.
    *
    * Cross-engine float discipline: centroids are exact DECIMAL(25,6)
    * per-dim means; each squared per-dim deviation is frozen to
    * round-12 DECIMAL(30,12) before the order-independent per-vector
    * sum, so the distance — and the percentile fences over it — replay
    * exactly (q44 percentile parity).
    *
    * Scale shape: two bounded (group, dim) aggregates plus a per-row
    * distance; the posexplode form shuffles |corpus|·d rows — at real
    * scale route the distance through the [[Knn]] codegen kernels with
    * broadcast centroid arrays (same output contract); the relational
    * form is the oracle-verifiable spec. Output: (groupCol, med, mad,
    * n, n_outliers) per [[Robust.madOutlierStats]]. */
  def centroidOutlierStats(df: DataFrame, groupCol: String, idCol: String,
                           vecCol: String, k: Double = 3.0): DataFrame =
    Robust.madOutlierStats(
      centroidDistances(df, groupCol, idCol, vecCol), groupCol, "dist", k)

  /** The distance chain [[centroidOutlierStats]] gates on, factored out
    * (r13) so the sketch-default fence (q387 —
    * [[Robust.madOutlierStatsSketch]] over micro-scaled distances) and
    * the exact oracle contract share one definition. Output:
    * (groupCol, dist). */
  def centroidDistances(df: DataFrame, groupCol: String, idCol: String,
                        vecCol: String): DataFrame = {
    val ev = df.filter(col(vecCol).isNotNull)
      .select(col(groupCol).as("__g"), col(idCol).as("__id"),
        posexplode(col(vecCol)).as(Seq("__i", "__x")))
      .transform(Checkpoints.ckpt) // consumers: centroids + distances
    val cent = ev.groupBy(col("__g"), col("__i"))
      .agg((sum(round(col("__x").cast("double"), 6).cast("decimal(25,6)"))
        .cast("double") / count(lit(1)).cast("double")).as("__c"))
    ev.join(broadcast(cent), Seq("__g", "__i"))
      .withColumn("__d", col("__x").cast("double") - col("__c"))
      .groupBy(col("__g"), col("__id"))
      .agg(sum(graft.expr.GraftFunctions
          .portableRound(col("__d") * col("__d"), 12).cast("decimal(30,12)"))
        .as("__ss"))
      .select(col("__g").as(groupCol), sqrt(col("__ss").cast("double")).as("dist"))
  }

  /** Top-k principal components via power iteration with Hotelling
    * deflation over the driver-side d x d covariance matrix (bounded
    * metadata — d(d+1)/2 cells collected, never corpus rows). Start
    * vector is the deterministic uniform 1/sqrt(d) (perturbed by index to
    * break symmetry) so the iteration — and everything downstream — is
    * reproducible run-over-run. Returns (components, eigenvalues) with
    * components(c)(i) = loading of input dim i on component c, rows
    * ordered by descending eigenvalue. */
  def pcaComponents(df: DataFrame, vecCol: String, k: Int,
                    iters: Int = 100): (Array[Array[Double]], Array[Double]) =
    pcaComponentsFromCells(covariance(df, vecCol), k, iters)

  /** [[pcaComponents]] over an ALREADY-COMPUTED covariance cell frame
    * (i, j, cov) — the corpus-scale covariance pass is the expensive
    * step, and callers that share one cells frame across the cov/PCA/
    * effective-rank family (the session-cache discipline) should not
    * pay it per consumer. */
  def pcaComponentsFromCells(cellsDf: DataFrame, k: Int,
                             iters: Int = 100): (Array[Array[Double]], Array[Double]) = {
    val cells = cellsDf.collect()
    require(cells.nonEmpty, "pcaComponents: empty input")
    val d = cells.iterator.map(_.getInt(1)).max + 1
    require(k >= 1 && k <= d, s"pcaComponents: k must be in [1, $d]")
    val m = Array.ofDim[Double](d, d)
    cells.foreach { r =>
      val i = r.getInt(0); val j = r.getInt(1); val c = r.getDouble(2)
      m(i)(j) = c; m(j)(i) = c
    }
    val comps = Array.ofDim[Double](k, d)
    val eigs = Array.ofDim[Double](k)
    for (c <- 0 until k) {
      var vvec = Array.tabulate(d)(i => 1.0 + 1e-3 * ((i + c) % 7))
      def normalize(a: Array[Double]): Array[Double] = {
        val n = math.sqrt(a.map(x => x * x).sum)
        if (n == 0) a else a.map(_ / n)
      }
      vvec = normalize(vvec)
      var it = 0
      while (it < iters) {
        val av = Array.tabulate(d)(i => (0 until d).map(j => m(i)(j) * vvec(j)).sum)
        vvec = normalize(av)
        it += 1
      }
      val av = Array.tabulate(d)(i => (0 until d).map(j => m(i)(j) * vvec(j)).sum)
      val lambda = (0 until d).map(i => vvec(i) * av(i)).sum
      // Sign convention: largest-|loading| coordinate is positive, so the
      // component is unique (eigenvectors are defined up to sign).
      val pivot = (0 until d).maxBy(i => math.abs(vvec(i)))
      if (vvec(pivot) < 0) vvec = vvec.map(-_)
      comps(c) = vvec
      eigs(c) = lambda
      // Hotelling deflation: m -= lambda * v v^T
      for (i <- 0 until d; j <- 0 until d) m(i)(j) -= lambda * vvec(i) * vvec(j)
    }
    (comps, eigs)
  }

  /** Project embeddings onto precomputed components: out(c) =
    * dot(x - mean, comp_c). Components and means travel as broadcast
    * literals (k x d and d doubles) — the projection is a per-row fold,
    * map-side only. Output: (idCol, proj array<double> of length k). */
  def pcaProject(df: DataFrame, idCol: String, vecCol: String,
                 components: Array[Array[Double]],
                 meansVec: Array[Double]): DataFrame = {
    // Center once, then one dot per component. Components are tiny —
    // inline as array literals rather than a join.
    val centered = expr("transform(__v, (x, i) -> CAST(x AS DOUBLE) - element_at(__means, i + 1))")
    val meansLit = array(meansVec.map(lit(_)): _*)
    val projCols = components.map { c =>
      val compLit = array(c.map(lit(_)): _*)
      aggregate(zip_with(col("__c"), compLit, (x, w) => x * w),
        lit(0.0), (acc, x) => acc + x)
    }
    df.select(col(idCol), col(vecCol).as("__v"))
      .filter(col("__v").isNotNull)
      .withColumn("__means", meansLit)
      .withColumn("__c", centered)
      .select(col(idCol), array(projCols: _*).as("proj"))
  }

  /** MERGEABLE covariance sufficient statistics — the incremental form of
    * [[covariance]]: a bounded (d(d+1)/2 + d + 1)-row frame of exact
    * DECIMAL sums that can be persisted per batch/partition/day and
    * merged by pure addition, so the corpus-wide covariance never
    * recomputes history (the incremental-index shape the LSH bucket
    * table and IVF lists already follow). Rows: kind='xy' carries
    * sum(x_i * x_j) for i <= j; kind='x' carries sum(x_i) (j = -1);
    * kind='n' carries the vector count (i = j = -1). All values in
    * DECIMAL(35,6) — addition is exact and order-independent, so
    * merge(statsOf(A), statsOf(B)) == statsOf(A union B) EXACTLY. */
  def momentStats(df: DataFrame, vecCol: String): DataFrame = {
    val v = df.select(col(vecCol).as("__v")).filter(col("__v").isNotNull)
    val xy = upperSums(v)
      .select(lit("xy").as("kind"), col("i"), col("j"),
        col("sxy").cast("decimal(35,6)").as("v"))
    val x = v.select(posexplode(col("__v")).as(Seq("i", "x")))
      .groupBy(col("i"))
      .agg(sum(round(col("x").cast("double"), 6).cast("decimal(25,6)"))
        .cast("decimal(35,6)").as("v"))
      .select(lit("x").as("kind"), col("i"), lit(-1).as("j"), col("v"))
    val n = v.agg(count(lit(1)).cast("decimal(35,6)").as("v"))
      .select(lit("n").as("kind"), lit(-1).as("i"), lit(-1).as("j"), col("v"))
    xy.unionByName(x).unionByName(n)
  }

  /** Merge moment-stat frames by addition (exact DECIMAL — associative,
    * commutative, order-independent). */
  def mergeStats(stats: Seq[DataFrame]): DataFrame = {
    require(stats.nonEmpty, "mergeStats: at least one stats frame")
    stats.reduce(_.unionByName(_))
      .groupBy(col("kind"), col("i"), col("j"))
      .agg(sum(col("v")).cast("decimal(35,6)").as("v"))
  }

  /** Append a batch's moment stats to the PERSISTED moments table at
    * `path` — the maintained-index form of [[momentStats]], completing
    * the incremental family next to the LSH bucket / line-df / winnow /
    * IVF tables: corpus-wide covariance without ever rescanning
    * history. Each appended row carries `batch_id`; because stats rows
    * are a PURE function of (batch, vecCol), a replayed append writes
    * byte-identical rows, and [[covarianceFromTable]] drops duplicate
    * (batch_id, kind, i, j) rows keep-any before summing — so
    * at-least-once callers (streaming foreachBatch restart, retried
    * jobs) stay exactly-once without tracking state (the
    * [[Knn.ivfAdd]] dedupIds rationale).
    *
    * Scale shape: one O(batch) stats pass + a bounded
    * (d(d+1)/2 + d + 1)-row append; reads are bounded by
    * batches x d² rows and collapse map-side in the group-sum.
    * Periodically rewrite the table through [[graft.etl.Sinks]]
    * compaction with a (kind, i, j) group-sum under a single
    * batch_id to bound the row count. */
  def appendMoments(df: DataFrame, vecCol: String, path: String,
                    batchId: String): Unit =
    momentStats(df, vecCol)
      .withColumn("batch_id", lit(batchId))
      .write.mode("append").parquet(path)

  /** Rewrite the moments table into `targetFiles` files with the
    * per-batch rows FOLDED into one group-summed frame (exact DECIMAL
    * addition — value-preserving by the [[mergeStats]] argument) under a
    * single synthetic batch id. Run at maintenance cadence once appends
    * accrete (one bounded frame per micro-batch); [[graft.etl.Sinks]]
    * staging-swap scope applies (local FS, single writer). Only compact
    * with the writing stream STOPPED on a committed checkpoint: folding
    * erases the per-batch ids, so a replayed in-flight micro-batch after
    * compaction would double-count instead of deduping. */
  def compactMoments(spark: org.apache.spark.sql.SparkSession, path: String,
                     targetFiles: Int = 1): (Int, Int) =
    graft.etl.Sinks.compactWith(spark, path, targetFiles,
      foldMoments(_).withColumn("batch_id", lit("__compacted")))

  /** ONE fold shared by the read path and compaction: replay-dedup on
    * (batch_id, kind, i, j), then the exact-DECIMAL group-sum. A future
    * change to the dedup key or merge rule lands in both places by
    * construction (r8 review). */
  private def foldMoments(df: DataFrame): DataFrame =
    df.dropDuplicates("batch_id", "kind", "i", "j")
      .groupBy(col("kind"), col("i"), col("j"))
      .agg(sum(col("v")).cast("decimal(35,6)").as("v"))

  /** Finalize the persisted moments table: replay-dedup on
    * (batch_id, kind, i, j), group-sum the exact DECIMAL stats, then
    * [[covarianceFromStats]] — equals the one-shot [[covariance]] of
    * everything ever appended (q208's proof, anchored on q151's
    * oracle). */
  def covarianceFromTable(spark: org.apache.spark.sql.SparkSession,
                          path: String): DataFrame =
    covarianceFromStats(foldMoments(spark.read.parquet(path)))

  /** Finalize a (possibly merged) moment-stats frame into the same
    * (i, j, cov) output as [[covariance]] — by construction,
    * covarianceFromStats(momentStats(df)) == covariance(df) cell for
    * cell, and merging halves first changes nothing (q158's proof). */
  def covarianceFromStats(stats: DataFrame): DataFrame = {
    val xy = stats.filter(col("kind") === "xy")
      .select(col("i"), col("j"), col("v").as("sxy"))
    val sx = stats.filter(col("kind") === "x")
      .select(col("i").as("ii"), col("v").as("s"))
    val n = stats.filter(col("kind") === "n")
      .select(col("v").as("n")) // integral-valued DECIMAL count
    xy.join(broadcast(sx.select(col("ii").as("i"), col("s").as("si"))), Seq("i"))
      .join(broadcast(sx.select(col("ii").as("j"), col("s").as("sj"))), Seq("j"))
      .crossJoin(broadcast(n))
      .select(col("i").cast("int").as("i"), col("j").cast("int").as("j"),
        covFinalize(col("sxy"), col("si"), col("sj"), col("n")).as("cov"))
  }

  /** Explained-variance audit: eigenvalue share of total variance per
    * component (bounded: k rows). total variance = trace of covariance. */
  def explainedVariance(df: DataFrame, vecCol: String, k: Int): DataFrame = {
    val spark = df.sparkSession
    val (_, eigs) = pcaComponents(df, vecCol, k)
    val trace = covariance(df, vecCol).filter(col("i") === col("j"))
      .agg(sum(col("cov"))).head.getDouble(0)
    import spark.implicits._
    eigs.zipWithIndex.map { case (e, i) =>
      (i + 1, math.rint(e * 1e6) / 1e6, math.rint(e / trace * 1e6) / 1e6)
    }.toSeq.toDF("component", "eigenvalue", "variance_share")
  }
}
