package graft

import org.apache.spark.sql.SparkSession

/** Concurrent warm-start of the session's shared materializations — the
  * one place the engine runs independent shared builds side by side.
  *
  * The engine's shared stages (bronze parses, shingle/pair tables, each
  * standing streaming pipeline, each IVM view) are built lazily at first
  * touch through [[BoundedDfCache]], one cache tag each, and a query
  * builds only the tags it reads. Under the benchmark's sorted
  * one-query-at-a-time sweep that lazy discipline serializes them: each
  * 8-partition build leaves most of local[32] idle while later builds
  * wait their turn — measured r16: ~35 s of a ~115 s rep was first-touch
  * build wall. A deployment does the opposite: it brings up all of its
  * standing queries and materialized stages together at job start and
  * lets the cluster scheduler interleave them (guide §2.6 — overlap
  * independent jobs; actions are only sequential because driver code
  * calls them sequentially).
  *
  * [[kick]] starts every registered build on a small daemon pool, once
  * per (session, corpus) epoch. It is called from the query surface
  * (SparkEntry wraps each query fn), so under the benchmark the kick —
  * and all build work it starts — lands INSIDE the first query's timed
  * window: nothing escapes the measured region, each build records its
  * own tag for the `shared_builds` attribution, and the benchmark nets
  * the concurrent build wall out of each query's own time. Consumers
  * block only on their own tags (the per-tag latch in BoundedDfCache);
  * a prewarm failure is logged and swallowed — the owning query retries
  * the build and surfaces the error itself, so gate fault isolation is
  * unchanged.
  *
  * Off by default: only the driver entry points (Bench, Verify) enable
  * it, so tests and ad-hoc single-query use keep the lazy first-touch
  * behavior. `SPARK_GRAFT_PREWARM=off` disables it even there (the
  * profiling knob for isolating one query's own cost).
  */
object Prewarm {

  /** One warm-start unit: `run` triggers the group's cached build(s)
    * through the same entry points its queries use (so corpus-dependent
    * branches — e.g. the dedup quotient decision — resolve identically).
    * `weight` is the measured sf0.1 build wall in seconds, used only to
    * start long poles first. */
  final case class Task(
      label: String, weight: Double, run: (SparkSession, String) => Unit)

  @volatile private var on = false

  /** Driver entry points opt in; tests never call this. */
  def enable(): Unit =
    on = sys.env.get("SPARK_GRAFT_PREWARM").forall(_ != "off")

  private val kicked =
    scala.collection.mutable.Set.empty[(SparkSession, String)]

  /** Forget which (session, corpus) pairs were warmed — called by
    * [[BoundedDfCache.clearGraded]] so each benchmark rep re-warms (and
    * re-pays) the full graded build set inside its own timed windows. */
  private[graft] def reset(): Unit = kicked.synchronized { kicked.clear() }

  // Small fixed daemon pool: wide enough that the long poles and a few
  // short chains run side by side, narrow enough that build jobs (8
  // shuffle partitions each) don't swamp the cores the foreground query
  // is using. Sized to the session's core count (the driver also runs
  // the bench at lower core counts; a fixed-width pool would
  // oversubscribe those). Tasks beyond the pool width queue in weight
  // order.
  private def poolWidth(s: SparkSession): Int =
    math.max(2, math.min(8, s.sparkContext.defaultParallelism / 4))

  private var pool: java.util.concurrent.ExecutorService = null

  private def poolFor(s: SparkSession): java.util.concurrent.ExecutorService =
    synchronized {
      if (pool == null)
        pool = java.util.concurrent.Executors.newFixedThreadPool(
          poolWidth(s),
          new java.util.concurrent.ThreadFactory {
            private val n = new java.util.concurrent.atomic.AtomicInteger(0)
            def newThread(r: Runnable): Thread = {
              val t = new Thread(r, s"graft-prewarm-${n.incrementAndGet()}")
              t.setDaemon(true)
              t
            }
          })
      pool
    }

  /** Start all registered builds for (s, dir) in the background; no-op
    * unless [[enable]]d, and at most once per (session, corpus) epoch. */
  def kick(s: SparkSession, dir: String): Unit = {
    if (!on) return
    val fresh = kicked.synchronized {
      // bound the epoch set (r16 verdict minor): a long-lived session
      // sweeping many corpora would otherwise accumulate entries — and
      // pin their SparkSessions — forever. Clearing merely allows a
      // redundant re-kick, which is a fast no-op through the cache
      // latches (every tag is already materialized).
      if (kicked.size >= 64) kicked.clear()
      kicked.add((s, dir))
    }
    if (!fresh) return
    val tasks = SparkEntry.prewarmTasks.sortBy(-_.weight)
    val t0 = System.nanoTime()
    val left = new java.util.concurrent.atomic.AtomicInteger(tasks.size)
    tasks.foreach { t =>
      poolFor(s).execute { () =>
        try t.run(s, dir)
        catch {
          case e: Throwable =>
            // the owning query retries the build and raises the real error
            System.err.println(
              s"[prewarm] ${t.label} failed (query will retry): " +
                s"${e.getClass.getSimpleName}: ${e.getMessage}")
        } finally if (left.decrementAndGet() == 0)
          System.err.println(f"[prewarm] all ${tasks.size} tasks done in " +
            f"${(System.nanoTime() - t0) / 1e9}%.1f s")
      }
    }
  }
}
