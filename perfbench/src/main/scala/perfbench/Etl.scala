package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.etl.{Ingest, Pipeline, Sinks}

/** `eduflow`: the EduFlow batch pipeline over a seeded dirty drop. One unit
  * is one pipeline run: from `Pipeline(...)` on the drop directory to every
  * warehouse table and view written as `graft.Main` writes them. It is measured as a nightly batch pays it, the first run in
  * a fresh JVM and session, so the cold unit is also the measured run;
  * per-operation latency is the time to write each output. */
final class Etl(ctx: Ctx) extends Workload {
  val AsOf = "2024-06-01"
  private var units = 0
  private var last: Option[(Pipeline, String)] = None
  private var layerMetrics = Map.empty[String, Double]
  private var coldRun: Option[(Double, Seq[Double])] = None

  private val sources = Seq("students_enrollment", "student_progress", "course_catalog",
    "support_tickets", "city_master")

  def register(spark: SparkSession): Unit = {
    last = None
    val found = Ingest.detectFiles(spark, Seq(ctx.inputDir), sources.map(_ + ".csv"))
    require(found.size == sources.size, s"drop incomplete: ${found.keys.mkString(",")}")
  }

  /** The warehouse tables and views `graft.Main` writes, in its order; each
    * write's seconds. (Its markdown summary and metadata logs, a fifth of a
    * cold run, are left out to fit the benchmark's time budget.) */
  private def writeAll(pipe: Pipeline, out: String): Seq[Double] = {
    val lat = mutable.ArrayBuffer.empty[Double]
    def timed(body: => Unit): Unit = { val t0 = System.nanoTime(); body; lat += Main.secs(t0) }
    Seq("dim_date" -> pipe.dimDate, "dim_students" -> pipe.dimStudents,
      "dim_courses" -> pipe.dimCourses, "fact_support_tickets" -> pipe.factTickets,
      "fact_enrollments" -> pipe.factEnrollments, "analytics_student360" -> pipe.student360,
      "analytics_course_performance" -> pipe.coursePerformance,
      "analytics_ai_insights" -> pipe.aiInsights)
      .foreach { case (name, df) => timed(df.write.mode("overwrite").parquet(s"$out/$name")) }
    timed(Sinks.writePartitionedFact(pipe.factProgress, s"$out/fact_student_progress"))
    timed(Sinks.writePartitionedFact(pipe.factDailyMetrics, s"$out/fact_daily_metrics"))
    lat.toSeq
  }

  /** One pipeline run: its wall seconds and each write's seconds. The
    * previous run's persisted staging and dims are released first. Traced,
    * the run first forces the pipeline members in dependency order, one span
    * per layer group, and then performs the same writes. */
  private def runUnit(spark: SparkSession, traced: Boolean = false): (Double, Seq[Double]) = {
    release()
    units += 1
    val sp = ctx.spans
    if (traced) { sp.unit += 1; ctx.census.reset() }
    val out = s"${ctx.workDir}/etl-out/u$units"
    val t0 = System.nanoTime()
    val pipe = Pipeline(spark, ctx.inputDir, AsOf)
    if (traced) {
      def force(group: String)(dfs: Seq[DataFrame]): Unit =
        sp.span(s"etl.$group")(dfs.foreach(Main.noop))
      force("ingest")(Seq(pipe.rawStudents, pipe.rawProgress, pipe.rawCourses,
        pipe.rawTickets, pipe.cityMaster))
      force("clean")(Seq(pipe.stagedStudents, pipe.stagedProgress, pipe.stagedTickets))
      force("transform")(Seq(pipe.progressSummary, pipe.ruleStats))
      force("warehouse")(Seq(pipe.dimDate, pipe.dimStudents, pipe.dimCourses,
        pipe.factProgress, pipe.factEnrollments, pipe.factTickets, pipe.factDailyMetrics))
      force("views")(Seq(pipe.student360, pipe.coursePerformance, pipe.dailyDashboard,
        pipe.aiInsights))
    }
    val lat = sp.span("etl.sink")(writeAll(pipe, out))
    val wall = Main.secs(t0)
    last = Some(pipe -> out)
    if (traced) {
      Trace.drain(spark)
      val inBytes = sources.map(s => new java.io.File(s"${ctx.inputDir}/$s.csv").length()).sum
      val written = du(new java.io.File(out)).toDouble
      val rowsIn = (pipe.rawStudents.count() + pipe.rawProgress.count() +
        pipe.rawTickets.count()).toDouble
      val staged = (pipe.stagedStudents.count() + pipe.stagedProgress.count() +
        pipe.stagedTickets.count()).toDouble
      layerMetrics = ctx.census.snapshot(wall, ctx.cores) ++
        Seq("ingest", "clean", "transform", "warehouse", "views", "sink")
          .map(g => s"etl.${g}_s" -> sp.seconds(s"etl.$g", sp.unit)) ++ Map(
        "etl.rows_in" -> rowsIn, "etl.rows_staged" -> staged, "etl.yield" -> staged / rowsIn,
        "etl.bytes_written" -> written, "etl.write_amp" -> written / inBytes,
        "etl.traced_run_s" -> wall)
    }
    (wall, lat)
  }

  private def du(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles).map(_.map(du).sum).getOrElse(0L) else f.length()

  def cold(spark: SparkSession): Double = {
    coldRun = ctx.attempts("pipeline run")(runUnit(spark))
    coldRun.map(_._1).getOrElse(Double.NaN)
  }

  /** The measured run is the cold one. A traced run (`ctx.trace`) adds one
    * warm run untraced and one traced, to price the tracing. */
  def warm(spark: SparkSession, seconds: Double, traced: Boolean): Map[String, Double] = {
    val run =
      if (!ctx.trace) coldRun
      else ctx.attempts(if (traced) "traced pipeline run" else "warm pipeline run")(
        runUnit(spark, traced))
    run.map { case (wall, lat) => Map("run_s" -> wall, "latency.p50_ms" -> Main.median(lat) * 1e3) }
      .getOrElse(Map.empty)
  }

  def layers: Map[String, Double] = layerMetrics

  def residentMb(spark: SparkSession): Double = Main.storageMb(spark)

  /** Counts of the last run: raw, staged, per-rule invalid, the two planted
    * progress defects, and the written warehouse tables. */
  def check(spark: SparkSession): Map[String, Any] = last.map { case (p, out) =>
    val rules = p.ruleStats.collect().head
    def rows(name: String): Long = spark.read.parquet(s"$out/$name").count()
    Map(
      "rows_in" -> Map("students" -> p.rawStudents.count(), "progress" -> p.rawProgress.count(),
        "tickets" -> p.rawTickets.count()),
      "staged" -> Map("students" -> p.stagedStudents.count(),
        "progress" -> p.stagedProgress.count(), "tickets" -> p.stagedTickets.count()),
      "invalid" -> rules.schema.fieldNames.map(f =>
        f.stripSuffix("_invalid").stripSuffix("_valid") -> rules.getAs[Long](f)).toMap,
      "null_durations" -> p.stagedProgress.filter(!col("is_duration_valid")).count(),
      "out_of_sequence" -> p.stagedProgress.filter(!col("is_timestamp_valid")).count(),
      "warehouse" -> Seq("dim_date", "dim_students", "dim_courses", "fact_student_progress",
        "fact_support_tickets", "fact_enrollments", "analytics_student360")
        .map(n => n -> rows(n)).toMap)
  }.getOrElse(Map.empty)

  /** Unpersist the last run's staging and dims (their storage is what
    * `resident_mb` reports until then). */
  private def release(): Unit = last.foreach { case (p, _) =>
    Seq(p.stagedStudents, p.stagedProgress, p.stagedTickets, p.dimStudents, p.dimCourses,
      p.factProgress).foreach(_.unpersist(blocking = true))
  }
}
