package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** [[IncrementalJoinView]] with HASH-BUCKETED key state — the storage
  * layout its Scaladoc names as the 100 TB swap-out: instead of
  * rewriting the whole key-cardinality A/B snapshot every micro-batch,
  * state lives in a [[BucketCommit]] store bucketed on custkey (the
  * [[Sinks.upsertByKey]] layout, one root per side) and a batch rewrites
  * ONLY the buckets its delta keys hash into.
  *
  * The same bilinear merge algebra (Δ(A⋈B) = ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB over
  * signed integer measures) — only the state layout changes. Because A
  * and B are bucketed BY THE SAME key hash, every per-batch read is
  * bucket-pruned too, not just the writes:
  *   - ΔA ⋈ B probes only B's buckets for ΔA's keys (same hash);
  *   - A ⋈ ΔB probes only A's buckets for ΔB's keys;
  *   - each state merge reads only its own touched buckets.
  * Per-batch I/O is O(state in touched buckets) on both sides — the
  * property that survives unbounded key growth; `nBuckets` scales with
  * state size exactly like the reference sizes ES shards
  * (values-prod.yaml:22-28) and Kafka partitions (prod-resources.yaml:94).
  *
  * Replay discipline — the additive merge is NOT idempotent (re-adding a
  * delta double-counts), so exactly-once is enforced structurally:
  *   1. W commits FIRST as a [[SnapshotCommit]] version under `W/`,
  *      computed from the still-untouched pre-batch A/B (group-
  *      cardinality — tiny, full rewrite is the cheap and atomic choice);
  *   2. each A/B bucket publishes with a batch marker
  *      ([[BucketCommit]]'s additive discipline);
  *   3. a replayed batch (same batchId, same data — the Structured
  *      Streaming foreachBatch contract) skips the committed W and
  *      re-merges only buckets whose marker is still behind
  *      ([[BucketCommit.behind]]), each of which is bit-wise pre-batch
  *      state.
  * A crash at ANY point therefore resumes to the identical state: before
  * the W commit nothing moved (staged files are not state — recover()
  * deletes orphans); after it, per-bucket markers say exactly which
  * merges remain. Compute is NOT serialized by the protocol: both sides'
  * merge+stage writes overlap the W compute+write, and only the
  * rename-only publishes wait for W's commit.
  */
object BucketedJoinView {

  /** Apply one micro-batch of pre-deduped fact/dim event projections
    * ([[IncrementalJoinView.factEvents]]/[[IncrementalJoinView.dimEvents]]
    * — same op-sliced sharing contract as the snapshot form). */
  def applyBatchEvents(factEv: DataFrame, dimEv: DataFrame,
      batchId: Long, path: String, nBuckets: Int = 64): Unit = {
    val spark = factEv.sparkSession
    val fs = BucketCommit.open(spark, path, nBuckets, s"$path/A", s"$path/B")
    val wRoot = s"$path/W"
    val wPrevId = SnapshotCommit.predecessor(spark, wRoot, batchId)
    val wCommitted = SnapshotCommit.isCommitted(spark, wRoot, batchId)

    // each delta feeds the touched-bucket probe, two bilinear terms and
    // its state merge — persist so dedup + groupBy run once per batch
    val dA = IncrementalJoinView.factDeltaOfEvents(factEv)
      .withColumn("_bucket", BucketCommit.bucketOf(col("k"), nBuckets))
      .persist()
    val dB = IncrementalJoinView.dimDeltaOfEvents(dimEv)
      .withColumn("_bucket", BucketCommit.bucketOf(col("k"), nBuckets))
      .persist()
    // ONE bucket-pruned read per side per batch, shared by the bilinear
    // probe and the state merge (each multi-dir read pays a driver
    // listing — reading a side twice doubled it). The union of probe +
    // merge buckets is read: ΔA's join partners in B live in ΔA's
    // buckets OF B (same key hash), and symmetrically for A ⋈ ΔB, so
    // per-batch read I/O stays O(state in touched buckets).
    var cached = List.empty[DataFrame]
    try {
      // one action probes both sides' touched buckets AND materializes
      // both persisted deltas
      val Seq(touchedA, touchedB) = BucketCommit.touched(dA, dB)
      val touchedAll = (touchedA ++ touchedB).distinct
      def prevSide(root: String, schema: StructType): DataFrame = {
        val df = BucketCommit.readTouched(spark, fs, root, schema,
          BucketCommit.bucketOf(col("k"), nBuckets), touchedAll).persist()
        cached ::= df
        df
      }
      val aPrev = prevSide(s"$path/A", aSchema)
      val bPrev = prevSide(s"$path/B", bSchema)

      // The crash protocol constrains COMMIT order (W first, then bucket
      // markers), not COMPUTE order: staged files advance nothing until
      // publish, and recover() deletes orphaned stage dirs on replay. So
      // the two sides' merge+stage writes run CONCURRENTLY with the W
      // compute+write — three independent jobs the scheduler overlaps —
      // and only the (cheap, rename-only) publishes wait for W's commit.
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration.Duration
      val fA = Future(stageBuckets(fs, s"$path/A", aPrev,
        dA.select(col("k"), col("d_cents"), col("d_rows"), col("_bucket")),
        Seq("k"), Seq("cents" -> "d_cents", "rows" -> "d_rows"),
        col("cents") =!= 0L || col("rows") =!= 0L, touchedA, batchId))
      val fB = Future(stageBuckets(fs, s"$path/B", bPrev,
        dB.select(col("k"), col("seg"), col("d_m"), col("_bucket")),
        Seq("k", "seg"), Seq("m" -> "d_m"),
        col("m") =!= 0L, touchedB, batchId))

      if (!wCommitted) {
        // W from the PRE-batch states (all markers < batchId here — a
        // crash can only have happened before any bucket advanced,
        // because W commits first)
        val dW = SignedDelta.term(dA, bPrev.select(col("k"), col("seg"),
            col("m").as("d_m")))
          .unionByName(SignedDelta.term(aPrev.select(col("k"),
            col("cents").as("d_cents"), col("rows").as("d_rows")), dB))
          .unionByName(SignedDelta.term(dA, dB))
          .groupBy("seg")
          .agg(sum("c").as("d_cents"), sum("r").as("d_rows"))
        val wPrev = wPrevId.map(SnapshotCommit.read(spark, wRoot, _, wSchema))
        val wNew = SignedDelta.merge(wPrev, dW, Seq("seg"),
          Seq("revenue_cents" -> "d_cents", "n_orders" -> "d_rows"))
          .filter(col("revenue_cents") =!= 0L || col("n_orders") =!= 0L)
        SnapshotCommit.write(wNew, wRoot, batchId)
      }

      // publishes: rename-only swaps of the already-staged buckets whose
      // marker is still behind batchId (on the normal path, all touched
      // buckets; on replay, the ones the crash left pre-batch). W is
      // committed above, so a crash between here and the last marker
      // resumes via per-bucket markers.
      for ((side, f) <- Seq("A" -> fA, "B" -> fB)) {
        val toApply = Await.result(f, Duration.Inf)
        if (toApply.nonEmpty) BucketCommit.publish(fs, s"$path/$side",
          toApply, batchId, markers = true)
      }
    } finally {
      dA.unpersist(false); dB.unpersist(false)
      cached.foreach(_.unpersist(false))
    }
  }

  /** Merge one side's delta into its touched buckets and STAGE the
    * result (no publish — the caller swaps after the W commit):
    * outer-merge the pre-read bucket state, one staged file per bucket.
    * On replay, `prevAll` may contain post-batch buckets — they are
    * excluded from the returned buckets to publish, and the rows feeding
    * the merge are filtered to the pre-batch buckets only. */
  private def stageBuckets(fs: FileSystem, root: String,
      prevAll: DataFrame, delta: DataFrame, keys: Seq[String],
      cols: Seq[(String, String)],
      live: org.apache.spark.sql.Column,
      touchedBuckets: Seq[Int], batchId: Long): Seq[Int] = {
    // a bucket whose marker already reached batchId was committed by the
    // crashed attempt — its merge must not re-run
    val toApply = BucketCommit.behind(fs, root, touchedBuckets, batchId)
    if (toApply.isEmpty) return toApply
    def inApply(df: DataFrame) =
      df.filter(col("_bucket").isin(toApply.map(Int.box): _*))
    // the additive merge as one sum per (bucket, key) over prev ∪ delta —
    // each side holds a key at most once — so it shares the Sinks layout's
    // single exchange on the bucket (a full outer join on (bucket, key)
    // would shuffle both sides on all its keys, then again for the write)
    val ids = ("_bucket" +: keys).map(col)
    val sums = cols.map { case (o, _) => coalesce(sum(o), lit(0L)).as(o) }
    BucketCommit.stage(root, batchId,
      inApply(prevAll).select(ids ++ cols.map { case (o, _) => col(o) }: _*)
        .unionByName(inApply(delta)
          .select(ids ++ cols.map { case (o, d) => col(d).as(o) }: _*))) {
      _.groupBy(ids: _*).agg(sums.head, sums.tail: _*).filter(live)
    }
    toApply
  }

  /** OFFLINE geometry migration — the real form of
    * [[BucketCommit]]'s "rebuild under the new geometry": rebuild the
    * quiescent store at `src` under `newNBuckets` buckets at `dst`.
    * `nBuckets` sizes per-batch I/O, and as state grows the
    * original choice goes stale exactly like an under-sharded search
    * index or an under-partitioned topic (the reference resizes both the
    * same way — values-prod.yaml:22-28, prod-resources.yaml:94); the
    * cure is the same too: reshard offline, then point the consumer at
    * the new path.
    *
    * Safety gates — a reshard must not launder a half-applied batch into
    * "committed":
    *   1. refuse on crash residue next to either side
    *      ([[BucketCommit.requireHealed]]);
    *   2. refuse unless latest W == Agg(A ⋈ B) — the store's own
    *      consistency invariant; a crash caught after the W commit but
    *      before any stage write (the one window that leaves no residue)
    *      cannot pass it.
    * [[BucketCommit.reshard]] stages and commits the new store.
    *
    * Marker collapse: every new bucket is marked applied up to the last
    * W ([[BucketCommit.rebucketRoot]]). Sound because gate 2 proved
    * every batch ≤ lastW fully applied, and the only replay the
    * foreachBatch contract can deliver to the migrated store is batch
    * lastW itself (`applyBatchEvents` rejects anything older), which
    * must be skipped in every bucket it probes. */
  def rebucket(spark: SparkSession, src: String, dst: String,
      newNBuckets: Int): Unit =
    BucketCommit.reshard(spark, src, dst, newNBuckets) { (fs, tmp) =>
      BucketCommit.requireHealed(fs, s"$src/A", s"$src/B")
      val wSrc = s"$src/W"
      val wIds = SnapshotCommit.committed(spark, wSrc)
      // each side feeds the consistency aggregate AND the reshard rewrite —
      // persist so the whole-store read happens once per side, not twice
      val (a, b) = readStates(spark, src) match {
        case (x, y) => (x.persist(), y.persist())
      }
      try {
        val agg = a.join(b, "k").groupBy("seg")
          .agg(sum(col("cents") * col("m")).as("revenue_cents"),
            sum(col("rows") * col("m")).as("n_orders"))
          .filter(col("revenue_cents") =!= 0L || col("n_orders") =!= 0L)
          .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
        val w = wIds.lastOption.map(id =>
          SnapshotCommit.read(spark, wSrc, id, wSchema)
            .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
            .toSet).getOrElse(Set.empty)
        require(w == agg,
          s"store at $src is inconsistent (W ≠ Agg(A ⋈ B): " +
            s"${(w diff agg) ++ (agg diff w)}) — a half-applied batch must be " +
            "healed by its own stream's replay, not frozen into a reshard")
        for ((side, df) <- Seq("A" -> a, "B" -> b))
          BucketCommit.rebucketRoot(fs, df, "k", newNBuckets,
            new Path(tmp, side), wIds.lastOption)
        // W snapshots keep their batch ids — the migrated store resumes
        // from the same checkpoint frontier as the original
        wIds.foreach { id =>
          SnapshotCommit.write(SnapshotCommit.read(spark, wSrc, id, wSchema),
            new Path(tmp, "W").toString, id)
        }
      } finally { a.unpersist(false); b.unpersist(false) }
    }

  private val aSchema = StructType(Seq(
    StructField("k", LongType), StructField("cents", LongType),
    StructField("rows", LongType)))
  private val bSchema = StructType(Seq(
    StructField("k", LongType), StructField("seg", StringType),
    StructField("m", LongType)))

  private val wSchema = StructType(Seq(
    StructField("seg", StringType),
    StructField("revenue_cents", LongType),
    StructField("n_orders", LongType)))

  /** Versioned-maintenance as a streaming sink over the RAW multi-topic
    * stream — the [[IncrementalJoinView.maintain]] contract (one Kafka
    * subscription carries both tables' envelopes; each micro-batch splits
    * by topic, parses under its table's schema, and delta-applies), with
    * the dirty-bucket store underneath. The foreachBatch batchId sequence
    * plus the per-bucket `_applied` markers make crash replays
    * exactly-once (see [[applyBatchEvents]]). */
  def maintain(rawStream: DataFrame, path: String,
      checkpoint: Option[String] = None, nBuckets: Int = 64)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val w = rawStream.writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Update)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val (o, c) = IncrementalJoinView.splitAndParse(batch)
        applyBatchEvents(IncrementalJoinView.factEvents(o),
          IncrementalJoinView.dimEvents(c), batchId, path, nBuckets)
      }
    checkpoint.fold(w)(c => w.option("checkpointLocation", c))
  }

  /** The current view (highest committed W snapshot), if any. */
  def readView(spark: SparkSession, path: String): Option[DataFrame] =
    SnapshotCommit.readLatest(spark, s"$path/W", wSchema)

  /** Current A/B states (all buckets) — for the spec's invariant check. */
  def readStates(spark: SparkSession, path: String): (DataFrame, DataFrame) =
    (BucketCommit.readAll(spark, s"$path/A", Some(aSchema)),
      BucketCommit.readAll(spark, s"$path/B", Some(bSchema)))
}
