package graft

import org.apache.spark.sql.SparkSession

/** Serializes the [session-conf set → streaming-query start → restore]
  * critical sections of the stateful pipelines.
  *
  * A streaming query pins `spark.sql.shuffle.partitions` (its state-store
  * count) and the state-store provider at START — `start()` clones the
  * session for the stream's lifetime — so each pipeline only needs the
  * conf held for the few milliseconds between `set` and `start`. With the
  * warm-start concurrency ([[Prewarm]]) several pipelines reach their
  * start sections at once; unserialized, two interleaved save/restore
  * pairs lose an update (A saves 8, B sets 2, A restores 8, B restores
  * A's stale 8 → fine; but A saving B's transient 2 and restoring it
  * LAST would leave the whole session at width 2). Holding this lock for
  * exactly the set→start→restore span makes every started query's pinned
  * conf deterministic while the long drains still overlap freely.
  *
  * ACCEPTED RESIDUAL (r16 ADVICE, low): concurrent prewarm BATCH builds
  * are not gated — a batch job that happens to be PLANNED during a gated
  * section picks up the transient width (2/4/8) for that one job, so a
  * cached graded build can occasionally persist at a nondeterministic
  * partition count. Results are oracle-verified width-independent, so
  * this is partitioning/perf jitter on a handful of 8-partition builds,
  * not a correctness risk; gating every batch build would serialize the
  * warm-start and forfeit its −12 s/rep. Revisit only if a per-query
  * cloned-session start API lands (SPARK-45568-style scoped conf). */
object StartGate {
  /** Runs `start` inside the gate with each `key -> value` set on the
    * session conf; afterwards each key gets its previous value back, or
    * is unset if it had none — also when `start` throws. */
  def withConf[A](s: SparkSession, kvs: (String, String)*)(start: => A): A =
    synchronized {
      val prev = kvs.map { case (k, _) => k -> s.conf.getOption(k) }
      try {
        kvs.foreach { case (k, v) => s.conf.set(k, v) }
        start
      } finally prev.foreach {
        case (k, Some(v)) => s.conf.set(k, v)
        case (k, None) => s.conf.unset(k)
      }
    }
}
