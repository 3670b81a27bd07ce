package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.Checkpoints

/** `query_mix`: a closed loop with one client over registry queries. One
  * unit is a pass over the mix (see `order`); each query is timed from
  * the `fn(spark, dir)` call to the end of a noop write of its declared
  * output (a parquet write in the cold pass), and its query-scoped
  * checkpoints are released after it. */
final class MixWorkload(ctx: Ctx) extends Workload {
  /** The mix, with the operator family each query's time is charged to: the
    * full-output offender q200, the triangle path, queries whose warm runs
    * hit a session cache (q22's pair chain, q151's covariance cells) and
    * queries that share nothing. */
  val Family: Seq[(String, String)] = Seq(
    "q22" -> "operators.Dedup", "q151" -> "operators.Knn", "q200" -> "operators.TextOps",
    "q239" -> "operators.Graph", "q371" -> "streaming.replay")
  val Families: Seq[String] = Family.map(_._2).distinct
  val WarmUpPasses = 5

  private val registry = graft.SparkEntry.queries
  val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Family.map { case (q, _) =>
    val name = registry.keys.find(_.startsWith(q + "_"))
      .getOrElse(sys.error(s"$q is not in the registry"))
    name -> registry(name)
  }
  private val familyOf = queries.map(_._1).zip(Family.map(_._2)).toMap
  private var passes = 0
  private val coldByQuery = mutable.Map.empty[String, Double]
  private val warmByQuery = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  private val tracedPasses = mutable.ArrayBuffer.empty[Map[String, Double]]

  /** The tables the mix reads, registered as temp views at set-up. */
  val Inputs = Seq("customer", "documents", "embeddings", "events")

  def register(spark: SparkSession): Unit =
    Inputs.foreach(t => graft.Tables.load(spark, ctx.inputDir, t).createOrReplaceTempView(t))

  /** The order of the next pass. The cold pass always runs the mix in the
    * same order, because the query that runs first pays most of the JVM's
    * warm-up and a seeded order would move several seconds between seeds;
    * warm passes run in a seeded order. */
  private def order(): Seq[(String, (SparkSession, String) => DataFrame)] = {
    passes += 1
    if (passes == 1) queries
    else new scala.util.Random(ctx.seed * 1000 + passes).shuffle(queries)
  }

  /** One pass; returns its wall seconds and each query's latency. Each
    * output goes to the noop sink, or with `out` set to a parquet directory
    * per query (the outputs the checks read). Traced, the pass also forces
    * each plan on its own and records the listener counts. */
  private def pass(spark: SparkSession, out: Option[String] = None,
                   traced: Boolean = false): (Double, Map[String, Double]) = {
    val sp = ctx.spans
    if (traced) { sp.unit += 1; ctx.census.reset() }
    var exchanges = 0
    val lat = mutable.LinkedHashMap.empty[String, Double]
    val t0 = System.nanoTime()
    order().foreach { case (name, fn) =>
      ctx.attempts(name) {
        val q0 = System.nanoTime()
        val df = sp.span("queries.build")(fn(spark, ctx.inputDir))
        if (traced) sp.span("catalyst.plan")(df.queryExecution.executedPlan)
        sp.span(s"${familyOf(name)}.exec")(out match {
          case Some(dir) => df.write.mode("overwrite").parquet(s"$dir/$name")
          case None => Main.noop(df)
        })
        Main.secs(q0)
      }.foreach { s =>
        lat(name) = s
        if (traced) { Trace.drain(spark); exchanges += ctx.plans.exchanges }
      }
      sp.span("checkpoints.release")(Checkpoints.releaseQueryScoped(spark))
    }
    val wall = Main.secs(t0)
    Main.log(lat.map { case (q, s) => f"${q.takeWhile(_ != '_')} $s%.2f" }.mkString("pass: ", ", ", ""))
    if (traced) {
      Trace.drain(spark)
      tracedPasses += ctx.census.snapshot(wall, ctx.cores) ++
        Families.map(f => s"$f.exec_s" -> sp.seconds(s"$f.exec", sp.unit)) ++ Map(
        "queries.build_s" -> sp.seconds("queries.build", sp.unit),
        "catalyst.plan_s" -> sp.seconds("catalyst.plan", sp.unit),
        "catalyst.exchanges" -> exchanges.toDouble,
        "checkpoints.release_s" -> sp.seconds("checkpoints.release", sp.unit),
        "checkpoints.storage_mb" -> Main.storageMb(spark))
    }
    (wall, lat.toMap)
  }

  /** The cold pass writes each declared output to parquet: it is the first
    * touch a user pays, and its files are what the checks read. */
  def cold(spark: SparkSession): Double = {
    val dir = s"${ctx.workDir}/mix-out"
    val (wall, lat) = pass(spark, Some(dir))
    coldByQuery ++= lat
    wall
  }

  def warm(spark: SparkSession, seconds: Double, traced: Boolean): Map[String, Double] = {
    val walls, lats = mutable.ArrayBuffer.empty[Double]
    // untimed warm-up passes: the JIT keeps speeding passes up for several
    // passes after the cold one, and with a timed window alone a faster host
    // would fit more of those and read faster still
    for (_ <- 1 to WarmUpPasses) pass(spark)
    val t0 = System.nanoTime()
    while (walls.size < 3 || Main.secs(t0) < seconds) {
      val (wall, lat) = pass(spark, traced = traced)
      walls += wall
      lats ++= lat.values
      if (!traced)
        lat.foreach { case (q, s) => warmByQuery.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += s }
    }
    Map("run_s" -> Main.median(walls.toSeq), "latency.p50_ms" -> Main.median(lats.toSeq) * 1e3)
  }

  def layers: Map[String, Double] = {
    val firstTouch = coldByQuery.map { case (q, c) =>
      c - warmByQuery.get(q).map(w => Main.median(w.toSeq)).getOrElse(0.0)
    }.sum
    Main.medians(tracedPasses.toSeq) + ("queries.first_touch_s" -> firstTouch)
  }

  def residentMb(spark: SparkSession): Double = Main.storageMb(spark)

  /** What run.py needs to check the outputs of the cold pass. */
  def check(spark: SparkSession): Map[String, Any] =
    Map("queries" -> queries.map(_._1),
      "oracle_sql" -> queries.map(_._1).flatMap(n => graft.SparkEntry.oracleSql.get(n).map(n -> _)).toMap)
}
