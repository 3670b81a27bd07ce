package graft.etl

import org.apache.spark.sql.{DataFrame, SaveMode}

/** Warehouse sinks: partitioned/bucketed parquet layouts.
  *
  * Facts are written partitioned by date_key so time-ranged queries prune
  * partitions at planning time (a scan with `date_key = N` touches one
  * directory out of thousands — the difference between reading 100 TB and
  * reading 50 GB). Dimensions stay unpartitioned (they broadcast).
  */
object Sinks {

  /** Partitioned fact write. `partitionCols` become directory levels;
    * dynamic overwrite replaces only the partitions present in `df`, so
    * an incremental day-load never rewrites history. */
  def writePartitionedFact(df: DataFrame, path: String,
                           partitionCols: Seq[String] = Seq("date_key")): Unit =
    df.write
      .mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*)
      .parquet(path)

  /** Scale-safe partitioned fact write. `repartition(col)` (the small-SF
    * default above and q78's file-count optimum) funnels EVERY row of a
    * partition value through ONE task — at 100 TB a hot partition (today's
    * date_key, the `en` lang) becomes a single-task, single-file write
    * that straggles the whole job. This variant spreads each partition
    * value over `tasksPerPartition` shuffle tasks (hash on partition cols
    * + a salt), and caps rows per output file so no file degenerates;
    * planning-time pruning is unchanged (directories are identical, just
    * holding several files). Trade-off documented in docs/SCALE.md: more
    * small files at tiny SF, bounded task skew at scale. */
  def writePartitionedFactScaled(df: DataFrame, path: String,
                                 partitionCols: Seq[String] = Seq("date_key"),
                                 tasksPerPartition: Int = 8,
                                 maxRecordsPerFile: Long = 5000000L): Unit = {
    require(tasksPerPartition >= 1, "tasksPerPartition >= 1")
    import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
    val salted = df.repartition(
      // salt = hash of the FULL ROW CONTENT, NOT rand() and NOT
      // spark_partition_id(): rand() breaks deterministic re-runs
      // (speculative tasks, retries must land rows identically), and a
      // partition-id salt takes at most as many values as there are
      // upstream partitions — after AQE coalescing or a small input the
      // promised fan-out silently collapses back to a straggler (and the
      // nondeterministic flag blocks optimizations). A row-content hash is
      // deterministic per row, independent of upstream partitioning, and
      // spreads a hot partition value across all tasksPerPartition tasks.
      (partitionCols.map(col) :+
        pmod(xxhash64(df.columns.map(col): _*), lit(tasksPerPartition.toLong))): _*)
    salted.write
      .mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy(partitionCols: _*)
      .parquet(path)
  }

  /** Small-file compaction: rewrite a parquet table into ~`targetFiles`
    * files. Streaming sinks and incremental loads accrete files (one per
    * micro-batch x partition); at 100 TB scale the resulting
    * listing/open overhead dominates scan setup (every file is a
    * driver-side listing entry and an executor open), so periodic
    * compaction is table maintenance, not an optimization.
    *
    * SCOPE: LOCAL FILESYSTEM, SINGLE WRITER ONLY. The swap is
    * `java.io.File.renameTo`, which (a) does not exist on object stores —
    * on S3/HDFS use a transactional table format (Iceberg/Delta/Hudi
    * rewrite-files actions) instead — and (b) is atomic per rename but the
    * stage-out/swap-in PAIR is not: a crash between the two renames leaves
    * the table path missing with the data intact in `<path>__compact_old`
    * (recover by renaming it back). On the happy path readers never see a
    * half-written directory; the staging directory is removed on any
    * failure. Returns (filesBefore, filesAfter). */
  def compact(spark: org.apache.spark.sql.SparkSession, path: String,
              targetFiles: Int): (Int, Int) =
    compactWith(spark, path, targetFiles, identity)

  /** [[compact]] with a row-level fold applied during the rewrite (e.g.
    * collapsing duplicate appends — [[graft.operators.Dedup.compactBucketTable]]);
    * same staging-swap mechanics and local-FS scope. */
  def compactWith(spark: org.apache.spark.sql.SparkSession, path: String,
                  targetFiles: Int,
                  fold: DataFrame => DataFrame): (Int, Int) = {
    require(targetFiles >= 1, "compact: targetFiles >= 1")
    def parquetFiles(p: java.io.File): Int = {
      val fs = p.listFiles()
      if (fs == null) 0
      else fs.count(f => f.isFile && f.getName.endsWith(".parquet")) +
        fs.filter(_.isDirectory).map(parquetFiles).sum
    }
    val dir = new java.io.File(path)
    val before = parquetFiles(dir)
    val staging = path.stripSuffix("/") + "__compact_staging"
    val stagingDir = new java.io.File(staging)
    def rm(f: java.io.File): Unit = {
      val fs = f.listFiles(); if (fs != null) fs.foreach(rm); f.delete(); ()
    }
    var swapped = false
    try {
      fold(spark.read.parquet(path)).repartition(targetFiles)
        .write.mode(SaveMode.Overwrite).parquet(staging)
      val old = path.stripSuffix("/") + "__compact_old"
      val oldDir = new java.io.File(old)
      if (oldDir.exists()) rm(oldDir)
      if (!dir.renameTo(oldDir))
        throw new java.io.IOException(s"compact: cannot stage out $path")
      if (!stagingDir.renameTo(dir)) {
        if (!oldDir.renameTo(dir)) // roll back
          throw new java.io.IOException(
            s"compact: swap-in AND rollback failed — table data is intact at $old; rename it back to $path")
        throw new java.io.IOException(s"compact: cannot swap in $staging")
      }
      swapped = true
      rm(oldDir)
      (before, parquetFiles(dir))
    } finally {
      // never leak the staging rewrite on failure (it may hold a full copy)
      if (!swapped && stagingDir.exists()) rm(stagingDir)
    }
  }

  /** Bucketed write for co-located joins: both sides bucketed by the join
    * key join without a shuffle. Requires a table (metastore) target. */
  def writeBucketedTable(df: DataFrame, table: String, bucketCol: String,
                         buckets: Int): Unit =
    df.write
      .mode(SaveMode.Overwrite)
      .bucketBy(buckets, bucketCol)
      .sortBy(bucketCol)
      .format("parquet")
      .saveAsTable(table)
}
