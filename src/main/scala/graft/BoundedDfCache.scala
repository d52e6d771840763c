package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bounded per-JVM cache of persisted DataFrames, keyed by (session, tag).
  *
  * This is the "materialized stage" seam: fixture synthesis and
  * bronze-stage parses are computed ONCE per session and shared by every
  * consumer query, the way a deployed pipeline materializes a parsed
  * changelog (or a shingle/pair table) once rather than re-deriving it per
  * downstream reader. Bounded (unpersist + evict oldest) so long-lived
  * JVMs running many sessions/scale factors don't pin DataFrames — and
  * their SparkSessions — forever.
  */
private[graft] object BoundedDfCache {

  // Must exceed the number of DISTINCT tags one full catalog pass touches
  // (42 at the round-13 surface): with a smaller bound the benchmark's
  // sorted sweep evicted early tags mid-rep and re-built them when a
  // later query re-read them — double-paying graded builds within a rep
  // and re-synthesizing fixtures every rep (the eviction was the r12
  // "36 s/rep shared builds" cost). The bound still exists so long-lived
  // multi-sf sessions (sf0.01 + sf0.1 + sf1 in one JVM = 3× tags) evict
  // the stalest scale factor instead of pinning everything forever.
  private[graft] val maxEntries = 96

  private val entries =
    scala.collection.mutable.LinkedHashMap.empty[(SparkSession, String), DataFrame]

  /** One completed shared build: tag + the wall-clock window
    * (nanoTime start/end) its build+materialization occupied. The
    * benchmark drains these after EVERY query and (a) ships the per-tag
    * durations as the `shared_builds` JSON section — the attribution
    * unit for first-touch cost — and (b) subtracts the interval-UNION of
    * the builds that completed inside a query's timed window from that
    * query's reported time, so the query whose window [[Prewarm]]'s
    * concurrent builds land in reports its OWN cost, not theirs.
    * Intervals, not just durations: concurrent prewarm builds overlap,
    * so summing durations would over-subtract past the query's real
    * blocked wall time. */
  private[graft] final case class BuildRecord(
      tag: String, startNs: Long, endNs: Long) {
    def seconds: Double = (endNs - startNs) / 1e9
  }

  private val buildRecords =
    scala.collection.mutable.ArrayBuffer.empty[BuildRecord]

  /** Tags currently being built, each with a latch its waiters block on.
    * Builds run OUTSIDE the map monitor (r15): holding it for the whole
    * build serialized every concurrent first-touch — and deadlocked any
    * build whose nested tag another thread was building — which is
    * exactly what [[Prewarm]]'s side-by-side builds need to work. */
  private val building = scala.collection.mutable.Map
    .empty[(SparkSession, String),
      (Thread, java.util.concurrent.CountDownLatch)]

  /** Get the cached frame for (spark, tag), or build + persist it.
    * Concurrent callers of the SAME tag: one builds, the rest wait on the
    * latch and read the cached result (a failed build releases its
    * waiters, who then retry — the error surfaces on whoever builds).
    * Concurrent callers of DIFFERENT tags build in parallel. Nested
    * calls during a build are fine — no lock is held while building. */
  def getOrPersist(
      spark: SparkSession, tag: String)(build: => DataFrame): DataFrame = {
    val key = (spark, tag)
    while (true) {
      val claim = entries.synchronized {
        entries.get(key) match {
          case Some(df) => Some(Right(df))
          case None => building.get(key) match {
            case Some((thr, l)) =>
              // a build that re-enters getOrPersist for its OWN tag would
              // otherwise await its own latch and wedge silently — fail
              // loudly instead (no legitimate caller does this)
              if (thr eq Thread.currentThread())
                throw new IllegalStateException(
                  s"re-entrant build of cache tag '$tag' on its own thread")
              Some(Left(l))
            case None =>
              building(key) = (Thread.currentThread(),
                new java.util.concurrent.CountDownLatch(1))
              None
          }
        }
      }
      claim match {
        case Some(Right(df)) => return df
        case Some(Left(l)) =>
          // blocking{}: a waiter on a ForkJoinPool thread (any caller on
          // Scala's global ExecutionContext) gets a managed-blocker hint,
          // so enough same-tag waiters cannot pin every pool thread and
          // starve the builds they are waiting on
          scala.concurrent.blocking { l.await() } // built or failed — re-check
        case None =>
          try {
            val t0 = System.nanoTime()
            // deserialized MEMORY_AND_DISK (the default), measured
            // against MEMORY_AND_DISK_SER on the full suite: SER cost
            // ~10% of total bench time in decode on every cached read.
            // The resident set fits the sweep protocol's heap
            // (SPARK_DRIVER_MEM=48g at sf1 — an 8g default-heap sweep
            // OOMs in the cdc_* family, see the verify skill's gotcha);
            // at production scale this seam is a parquet-materialized
            // stage on disk, not an executor cache.
            val df = build.persist()
            // materialize NOW: persist() alone is lazy, so without this
            // the build would run inside the first consumer's action and
            // the recorded per-tag time would be 0 while the consumer's
            // time silently absorbed the build (the attribution problem
            // this timing exists to solve).
            df.count()
            entries.synchronized {
              while (entries.size >= maxEntries) {
                val (k, old) = entries.head
                scala.util.Try(old.unpersist())
                entries.remove(k)
              }
              entries(key) = df
              buildRecords += BuildRecord(tag, t0, System.nanoTime())
            }
            return df
          } finally entries.synchronized {
            building.remove(key).foreach(_._2.countDown())
          }
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Return and reset the build records accumulated since the previous
    * drain (the benchmark drains after every query; Verify/tests never
    * drain, which is fine — the buffer is bounded by the tag count). */
  def drainBuilds(): Seq[BuildRecord] = entries.synchronized {
    val out = buildRecords.toList
    buildRecords.clear()
    out
  }

  /** Tag prefix marking an entry as pure test-INPUT synthesis (e.g. the
    * fabricated Debezium changelog JSON built from the orders table). A
    * deployed pipeline reads its input from disk/Kafka — it never pays to
    * re-fabricate it — so these, and ONLY these, may survive a benchmark
    * rep boundary (the recorded baseline contract: "only the fixture
    * build is shared"). Everything else in the cache is the output of a
    * GRADED operator and must be re-executed every rep. A fixture lives
    * only in the memory of the JVM that built it: each process
    * synthesizes its own once, so no on-disk copy can go stale when a
    * synthesis changes. */
  val FixturePrefix = "fixture:"

  /** Unpersist and evict every GRADED entry (all tags except
    * [[FixturePrefix]] ones). The benchmark calls this at the top of each
    * rep: the cache's production seam is "materialize once per session",
    * but across benchmark reps that would let reps 2..N read rep 1's
    * persisted outputs of GRADED operators (bronze parses, shingle and
    * pair tables) and report a cache read as query time — so each rep
    * drops them and pays the full graded materialization work again. */
  def clearGraded(): Unit = {
    entries.synchronized {
      val graded =
        entries.keys.filterNot(_._2.startsWith(FixturePrefix)).toList
      graded.foreach { k =>
        scala.util.Try(entries(k).unpersist())
        entries.remove(k)
      }
    }
    // new epoch: the next query's kick re-warms (and re-pays) the full
    // graded build set
    Prewarm.reset()
  }
}
