package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftshim.Shim

/** The one place that decides which conf a session runs with: Bench,
  * Verify and the tools build their session here, and the stateful
  * pipelines start their streams on a [[scoped]] clone. The engine never
  * writes a shared session's conf at runtime. */
object Sessions {

  /** The local session of an entry point or tool: `cores` task
    * slots, `shuffle` partitions, AQE set to `aqe` (Spark's default, on,
    * when absent), UI off, UTC, WARN logs. */
  def local(cores: Int, shuffle: Int, aqe: Option[Boolean] = None)
      : SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", shuffle.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    aqe.foreach(b.config("spark.sql.adaptive.enabled", _))
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Lend `f` a clone of `s` with each `key -> value` set on the clone
    * only. A stateful pipeline builds its `MemoryStream`, starts its
    * stream and reads its memory sink on the clone, so its state width
    * and provider never reach `s`, and its sink view lives and dies with
    * the clone. A clone, not `newSession()`: it keeps `s`'s
    * runtime-registered SQL functions and execution listeners.
    *
    * When `f` returns or throws, the clone's still-active streams stop
    * and the clone's own streaming listener bus leaves the SparkContext's
    * shared bus (Spark adds one per session and never removes it). Only
    * this clone's bus goes: other pipelines' clones may still be running.
    * Frames `f` returns over the clone's sinks stay readable. */
  def scoped[A](s: SparkSession, kvs: (String, String)*)(
      f: SparkSession => A): A = {
    val c = Shim.cloneSession(s)
    kvs.foreach { case (k, v) => c.conf.set(k, v) }
    try f(c)
    finally {
      c.streams.active.foreach(_.stop())
      s.sparkContext.removeSparkListener(Shim.streamingBus(c))
    }
  }
}
