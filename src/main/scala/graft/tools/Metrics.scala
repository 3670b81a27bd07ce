package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Run-metrics instrumentation — the reference's Prometheus counters and
  * batch timers (operators/data_cleaning.py:31-34, kafka/streaming.py:20-22,
  * prometheus.yml:2-10) re-expressed Spark-first: a QueryExecutionListener
  * captures per-action wall time, output rows and failures; the scrape
  * surface is a DataFrame snapshot (joinable into the run report / metadata
  * logs) instead of an HTTP endpoint. Spark's own task/stage metrics remain
  * available underneath via the usual status APIs. Session-cache reuse
  * (per family: hits and build seconds) is its own snapshot,
  * `graft.operators.SessionCache.snapshot(spark)`.
  */
/** One completed SQL action (top-level for Encoder derivation). */
final case class ActionMetric(action: String, duration_ms: Long,
                              output_rows: Long, failed: Boolean,
                              error: String)

object Metrics {

  /** Collects one row per completed SQL action. Register once per session
    * via [[install]]; listener callbacks arrive asynchronously on the
    * listener bus, so readers should call [[snapshot]] after actions have
    * settled (tests: poll). */
  final class Collector(maxEntries: Int = 100000) extends QueryExecutionListener {
    private val buf = new java.util.concurrent.ConcurrentLinkedQueue[ActionMetric]()
    // counted alongside the queue: ConcurrentLinkedQueue.size() is O(n), so
    // checking the cap with it would make every listener callback traverse
    // the full buffer once it fills — quadratic on the listener bus
    private val entryCount = new java.util.concurrent.atomic.AtomicInteger(0)

    // bounded: a long-lived session (streaming driver) must not grow the
    // buffer without limit — oldest entries are dropped past maxEntries
    private def add(m: ActionMetric): Unit = {
      buf.add(m)
      if (entryCount.incrementAndGet() > maxEntries && buf.poll() != null)
        entryCount.decrementAndGet()
    }

    override def onSuccess(funcName: String, qe: QueryExecution,
                           durationNs: Long): Unit = {
      val rows = qe.executedPlan.metrics.get("numOutputRows")
        .map(_.value).getOrElse(-1L)
      add(ActionMetric(funcName, durationNs / 1000000L, rows,
        failed = false, error = null))
    }

    override def onFailure(funcName: String, qe: QueryExecution,
                           exception: Exception): Unit =
      add(ActionMetric(funcName, -1L, -1L, failed = true,
        error = String.valueOf(exception.getMessage)))

    def size: Int = entryCount.get()

    /** Drop all collected entries (e.g. after persisting a snapshot).
      * Drains entry-by-entry so the counter stays consistent with adds
      * racing on the listener bus (`buf.clear()` + `set(0)` would lose an
      * add landing between the two and desynchronize the cap forever). */
    def clear(): Unit =
      while (buf.poll() != null) entryCount.decrementAndGet()

    /** All collected metrics as a frame (one row per action). */
    def snapshot(spark: SparkSession): DataFrame = {
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types._
      val schema = StructType(Seq(
        StructField("action", StringType),
        StructField("duration_ms", LongType, nullable = false),
        StructField("output_rows", LongType, nullable = false),
        StructField("failed", BooleanType, nullable = false),
        StructField("error", StringType)))
      val rows = buf.toArray(Array.empty[ActionMetric]).toSeq.map(m =>
        Row(m.action, m.duration_ms, m.output_rows, m.failed, m.error))
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), schema)
    }

    /** Counter rollup by action name — the events_produced_total /
      * processor_latency shape of the reference's Prometheus metrics. */
    def counters(spark: SparkSession): DataFrame = {
      import org.apache.spark.sql.functions._
      snapshot(spark).groupBy(col("action"))
        .agg(count(lit(1)).as("actions_total"),
          sum(when(col("failed"), 1).otherwise(0)).as("failures_total"),
          sum(when(!col("failed"), col("duration_ms"))).as("duration_ms_total"))
    }
  }

  /** Register a collector on the session; returns it for reading. */
  def install(spark: SparkSession): Collector = {
    val c = new Collector
    spark.listenerManager.register(c)
    c
  }
}
