package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one home of every per-(session, sf dir) artifact the queries share:
  * verified pair sets, IVF indexes, covariance cells, fitted bases, the
  * EduFlow pipeline and the build-once latches of the persisted-table
  * queries. Keyed by `(session, dir, family)`, where `family` names the
  * artifact at the one def that serves it.
  *
  * Protocol:
  *  - entries of stopped sessions are purged on every access, so a JVM
  *    that cycles sessions (test suites, long-lived drivers) cannot keep
  *    dead session graphs alive behind this static map;
  *  - the map's `computeIfAbsent` only installs an empty per-key entry;
  *    the build runs under THAT entry's lock, outside the map's bin lock,
  *    so a build may resolve other keys (the PCA basis reads the
  *    covariance cells, the IVF reload reads the seeded index) and
  *    concurrent callers of one key run `build` exactly once;
  *  - a same-thread re-entrant build of the SAME key throws
  *    IllegalStateException naming the family instead of deadlocking;
  *  - a build that throws leaves no entry behind: the next call rebuilds.
  *
  * Each entry counts the calls it served without building (`hits`) and
  * records its build's wall seconds; [[snapshot]] exposes both, so the
  * reuse of an artifact is visible, not assumed. */
object SessionCache {
  // written under the entry's lock; `built`, `hits` and `buildS` are also
  // read by [[snapshot]] without it, so a snapshot never waits on a build
  private final class Entry {
    var value: Any = _
    @volatile var built = false
    var failed = false
    var builder: Thread = _
    @volatile var hits = 0L
    @volatile var buildS = 0.0
  }

  private val entries = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String, String), Entry]()

  /** The value of `(s, dir, family)`, running `build` on first use. */
  def get[T](s: SparkSession, dir: String, family: String)(build: => T): T = {
    entries.keySet.removeIf(k => k._1.sparkContext.isStopped)
    val key = (s, dir, family)
    var out: Option[Any] = None
    while (out.isEmpty) {
      val e = entries.computeIfAbsent(key, _ => new Entry)
      out = e.synchronized {
        if (e.builder eq Thread.currentThread)
          throw new IllegalStateException(
            s"SessionCache: re-entrant build of family '$family' (dir $dir)")
        if (e.built) { e.hits += 1; Some(e.value) }
        else if (e.failed) None // a failed build's orphan: re-resolve the key
        else {
          e.builder = Thread.currentThread
          val t0 = System.nanoTime
          try {
            e.value = build
            e.buildS = (System.nanoTime - t0) / 1e9
            e.built = true
          } catch {
            case t: Throwable =>
              e.failed = true
              entries.remove(key, e)
              throw t
          } finally e.builder = null
          Some(e.value)
        }
      }
    }
    out.get.asInstanceOf[T]
  }

  /** Session-lifetime DataFrame: `build` evaluates OUTSIDE
    * [[Checkpoints.sessionScope]] — its internal chain ckpts stay
    * query-scoped, dead once the final frame truncates lineage — and only
    * the returned frame is ckpt'd inside it, so the harness's query-scoped
    * block release never unpersists the cached frame. */
  def frame(s: SparkSession, dir: String, family: String)
           (build: => DataFrame): DataFrame =
    get(s, dir, family) {
      val f = build
      Checkpoints.sessionScope(f.transform(Checkpoints.ckpt))
    }

  /** One row per built entry of `spark`: family, dir, hits, build_s. */
  def snapshot(spark: SparkSession): DataFrame = {
    import scala.jdk.CollectionConverters._
    val rows = entries.asScala.toSeq.collect {
      case ((s, dir, family), e) if (s eq spark) && e.built =>
        (family, dir, e.hits, e.buildS)
    }.sortBy(r => (r._1, r._2))
    spark.createDataFrame(rows).toDF("family", "dir", "hits", "build_s")
  }
}
