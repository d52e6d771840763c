package graft.streaming

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, Trigger}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

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
    * The table is a [[BucketCommit]] store hash-bucketed on the key (its
    * Scaladoc gives the layout and the rename commit), so a micro-batch
    * reads and rewrites ONLY the buckets its keys hash into, merging
    * batch rows in by (key, max ordering), a batch row winning a tie with
    * its stored row — replays and out-of-order events are no-ops, so the
    * sink stays idempotent under at-least-once delivery and needs no
    * replay markers. The merge runs behind the store's ONE exchange, on
    * `_bucket`: the bucket is a function of the key, so that partitioning
    * already clusters the per-key ranking ([[BucketCommit.stage]]).
    * Per-batch I/O is O(state in touched buckets), not O(total state),
    * and that state is shuffled once — the property that survives
    * unbounded state growth; at 100 TB
    * `nBuckets` scales with state size exactly like ES shards / Redis
    * hash slots in the reference (ES sized 3+5 nodes × 1 Ti,
    * values-prod.yaml:22-28). */
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
    * (`cdc_sink_upsert`) can drive it directly. */
  private[graft] def upsertBatch(
      batch: DataFrame,
      batchId: Long,
      path: String,
      key: String,
      orderingCol: String,
      nBuckets: Int): Unit = {
    // geometry is state: resuming with a different nBuckets would split a
    // key across its old and new bucket, so open() fails loudly instead
    // (rebucket() is the migration path)
    val fs = BucketCommit.open(batch.sparkSession, path, nBuckets, path)
    val bucket = BucketCommit.bucketOf(col(key), nBuckets)
    // two actions read the batch (the touched-bucket probe and the merge
    // write); persist so its upstream — under foreachBatch, the stateful
    // operators feeding this sink — runs once per batch, not twice
    val bucketed = batch.withColumn("_bucket", bucket).persist()
    try {
      val Seq(touched) = BucketCommit.touched(bucketed)
      if (touched.nonEmpty) {
        val existing = BucketCommit.readTouched(batch.sparkSession, fs, path,
          batch.schema, bucket, touched)
        // latest row per key; on an ordering tie the batch row wins (a
        // delete rewritten at its row's source position must replace the
        // stored row, and a replayed row equals the stored one)
        val w = Window.partitionBy(col("_bucket"), col(key))
          .orderBy(col(orderingCol).desc, col("_src").desc)
        BucketCommit.stage(path, batchId, existing.withColumn("_src", lit(0))
            .unionByName(bucketed.withColumn("_src", lit(1)))) {
          _.withColumn("_rn", row_number().over(w))
            .filter(col("_rn") === 1).drop("_rn", "_src")
        }
        BucketCommit.publish(fs, path, touched, batchId, markers = false)
      }
    } finally bucketed.unpersist(false)
  }

  /** Read current sink state (the data columns, without the internal
    * `_bucket` partition column). */
  def readState(spark: SparkSession, path: String): DataFrame =
    BucketCommit.readAll(spark, path, None)

  /** OFFLINE geometry migration for the upsert sink state — the
    * idempotent sibling of [[BucketedJoinView.rebucket]], and much
    * simpler for the same reason the sink needs no replay markers:
    * merges are idempotent, so a crashed batch is healed by
    * [[BucketCommit.recover]] (pre-batch state) + the stream's own
    * replay re-merging — which stays correct against the NEW geometry.
    * No consistency gate is needed; recover-then-reshard is always
    * sound ([[BucketCommit.reshard]] commits it); point the resumed
    * stream at `dst` with the new `nBuckets`. */
  def rebucket(spark: SparkSession, src: String, dst: String,
      key: String, newNBuckets: Int): Unit =
    BucketCommit.reshard(spark, src, dst, newNBuckets) { (fs, tmp) =>
      BucketCommit.recover(fs, src)
      BucketCommit.rebucketRoot(fs, readState(spark, src), key, newNBuckets,
        tmp, None)
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
