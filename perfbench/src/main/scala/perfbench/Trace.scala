package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer: spans of one unit of work share `unit`. */
final case class Span(id: Int, parent: Int, unit: Int, name: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. Until `on` is set, `span` only runs its body, so
  * untraced work pays one branch per call. */
final class Spans {
  var on = false
  private val done = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Int]
  private var nextId = 1
  var unit = 0

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.getOrElse(0)
      open.push(id)
      val t0 = System.nanoTime()
      try body
      finally {
        open.pop()
        done += Span(id, parent, unit, name, t0, System.nanoTime())
      }
    }

  /** Total seconds of the spans called `name` in `unit`. */
  def seconds(name: String, unit: Int): Double =
    done.iterator.filter(s => s.unit == unit && s.name == name).map(_.seconds).sum

  def write(path: String): Unit = {
    val lines = done.map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"unit":${s.unit},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

/** Scheduler counters since the last `reset`, from a SparkListener the
  * benchmark installs (traced runs only). */
final class Census extends SparkListener {
  private val stageSubmit = mutable.Map.empty[(Int, Int), Long]
  var jobs, stages, tasks = 0L
  var cpuNs, waitMs, shuffleRead, shuffleWrite, spill, gcMs = 0L

  def reset(): Unit = synchronized {
    jobs = 0; stages = 0; tasks = 0
    cpuNs = 0; waitMs = 0; shuffleRead = 0; shuffleWrite = 0; spill = 0; gcMs = 0
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val i = e.stageInfo
    stageSubmit((i.stageId, i.attemptNumber())) = i.submissionTime.getOrElse(System.currentTimeMillis())
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages += 1
    stageSubmit.remove((e.stageInfo.stageId, e.stageInfo.attemptNumber()))
  }
  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    stageSubmit.get((e.stageId, e.stageAttemptId))
      .foreach(t => waitMs += math.max(0L, e.taskInfo.launchTime - t))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    Option(e.taskMetrics).foreach { m =>
      cpuNs += m.executorCpuTime
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      gcMs += m.jvmGCTime
    }
  }

  def snapshot(wallS: Double, cores: Int): Map[String, Double] = synchronized {
    Map(
      "spark.jobs" -> jobs.toDouble, "spark.stages" -> stages.toDouble,
      "spark.tasks" -> tasks.toDouble, "spark.task_cpu_s" -> cpuNs / 1e9,
      "spark.task_wait_s" -> waitMs / 1e3,
      "spark.core_util" -> (if (wallS > 0) cpuNs / 1e9 / (wallS * cores) else 0.0),
      "spark.shuffle_read_mb" -> shuffleRead / 1e6,
      "spark.shuffle_write_mb" -> shuffleWrite / 1e6,
      "spark.spill_mb" -> spill / 1e6, "spark.gc_ms" -> gcMs.toDouble)
  }
}

/** Exchanges in the final (AQE) plan of the last SQL execution. */
final class LastPlan extends QueryExecutionListener with AdaptiveSparkPlanHelper {
  @volatile var exchanges = 0
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    exchanges = collectWithSubqueries(qe.executedPlan) {
      case p: SparkPlan if p.isInstanceOf[ShuffleExchangeLike] ||
        p.isInstanceOf[BroadcastExchangeLike] || p.isInstanceOf[ReusedExchangeExec] => 1
    }.size
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}

object Trace {
  /** Block until every event posted so far has reached the listeners, so
    * listener counts can be attributed to the call that just returned. */
  def drain(spark: SparkSession): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
}
