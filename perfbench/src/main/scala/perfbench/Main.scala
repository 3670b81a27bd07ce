package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** JVM side of the benchmark. `run.py` generates the inputs, launches this
  * with `<workload> <inputDir> <workDir> <seed> <seconds> <trace> <cores>`,
  * then reads `<workDir>/result.json` and checks the outputs.
  *
  * Protocol, shared by every workload:
  *  1. Five set-ups, each a fresh session plus input registration; all but
  *     the last session are stopped again. `setup_s` is their median (the
  *     first also pays JVM class loading, the median does not).
  *  2. One cold unit of work: the first in the fresh last session, so it
  *     pays codegen, JIT and session-cache builds.
  *  3. The warm phase in the same session: warm units for `seconds`, where
  *     the workload has them.
  *  4. With tracing on, the listeners are then installed and the warm phase
  *     runs a second time, traced. `trace_overhead.*` is traced minus
  *     untraced on each warm-phase metric.
  *  5. Output checks, outside every timed window.
  */
object Main {
  val SetUps = 5

  def main(args: Array[String]): Unit = {
    val Array(name, inputDir, workDir, seedS, secondsS, traceS, coresS) = args
    val ctx = Ctx(inputDir, workDir, seedS.toLong, secondsS.toDouble, traceS == "1", coresS.toInt)
    val workload: Workload = name match {
      case "eduflow" => new Etl(ctx)
      case "query_mix" => new MixWorkload(ctx)
      case other => sys.error(s"unknown workload $other")
    }
    val setups = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (k <- 1 to SetUps) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = graft.Engine.localSession(ctx.cores, "perfbench")
      workload.register(spark)
      setups += secs(t0)
    }
    log(f"set-ups done: ${setups.map(x => f"$x%.2f").mkString(" ")} s")
    val cold = workload.cold(spark)
    log(f"cold unit: $cold%.2f s")
    val result = mutable.LinkedHashMap.empty[String, Any]
    val warm = workload.warm(spark, ctx.seconds, traced = false)
    log(s"warm phase: $warm")
    result("e2e") = Map("setup_s" -> median(setups.toSeq), "cold_s" -> cold) ++ warm
    if (ctx.trace) {
      ctx.install(spark)
      val tracedWarm = workload.warm(spark, ctx.seconds, traced = true)
      result("layers") = workload.layers ++
        tracedWarm.map { case (k, v) => s"trace_overhead.$k" -> (v - warm(k)) }
      ctx.spans.write(s"$workDir/spans.jsonl")
      log(s"traced phase: $tracedWarm")
    }
    result("resident_mb") = workload.residentMb(spark)
    result("observed") = workload.check(spark)
    log("checks done")
    result("attempted") = ctx.attempts.attempted
    result("failed") = ctx.attempts.failed
    result("errors") = ctx.attempts.errors.take(20).toSeq
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$workDir/result.json"),
      Json(result.toMap).getBytes("UTF-8"))
    spark.stop()
  }

  private val start = System.nanoTime()

  /** Progress on stderr, stamped with seconds since the JVM's start. */
  def log(msg: String): Unit = System.err.println(f"[perfbench ${secs(start)}%7.2f] $msg")

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** The lower median. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "no samples")
    xs.sorted.apply((xs.length - 1) / 2)
  }

  /** Per-key medians of per-unit metric maps (a missing key reads 0). */
  def medians(units: Seq[Map[String, Double]]): Map[String, Double] =
    units.flatMap(_.keys).distinct.map(k => k -> median(units.map(_.getOrElse(k, 0.0)))).toMap

  /** Storage memory Spark still holds: persisted frames, session caches and
    * checkpoint blocks. */
  def storageMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1e6

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}

/** Run-wide settings plus the tracing state. */
final case class Ctx(inputDir: String, workDir: String, seed: Long, seconds: Double,
                     trace: Boolean, cores: Int) {
  val spans = new Spans
  val census = new Census
  val plans = new LastPlan
  val attempts = new Attempts

  /** Switch tracing on: spans plus the two listeners. */
  def install(spark: SparkSession): Unit = {
    spans.on = true
    spark.sparkContext.addSparkListener(census)
    spark.listenerManager.register(plans)
  }
}

/** One workload: what set-up registers, what one unit of work is, and how
  * its outputs are checked. */
trait Workload {
  /** Input registration: the part of set-up after the session starts. */
  def register(spark: SparkSession): Unit
  /** The first unit of work in a fresh session; its seconds. */
  def cold(spark: SparkSession): Double
  /** Warm units for `seconds`; end-to-end metrics except set-up and cold. */
  def warm(spark: SparkSession, seconds: Double, traced: Boolean): Map[String, Double]
  /** Per-layer metrics of the traced warm phase. */
  def layers: Map[String, Double]
  def residentMb(spark: SparkSession): Double
  /** Counts and outputs the checks compare; runs outside every timed window. */
  def check(spark: SparkSession): Map[String, Any]
}

/** Operations a run attempted and failed, with the first errors. */
final class Attempts {
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer.empty[String]

  /** Run `body` as one attempted operation; a throw counts as failed. */
  def apply[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case e: Throwable =>
        failed += 1
        val first = Option(e.getMessage).flatMap(_.linesIterator.nextOption()).getOrElse("")
        errors += s"$what: ${e.getClass.getName}: $first"
        None
    }
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Number => n.toString
    case m: Map[_, _] =>
      m.toSeq.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => apply(other.toString)
  }
}
