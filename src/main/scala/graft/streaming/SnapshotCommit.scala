package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** The versioned-snapshot commit protocol shared by the IVM stores
  * ([[IncrementalView]], [[IncrementalMinMax]], [[IncrementalJoinView]]
  * and the W view of [[BucketedJoinView]]): every micro-batch publishes
  * its whole state as `<root>/batch=<batchId>`, with parquet's `_SUCCESS`
  * as the commit marker, and readers only ever see the highest COMMITTED
  * version.
  *
  * Additive merges are not idempotent, so the foreachBatch batchId is the
  * exactly-once watermark:
  *   - a batch merges from its predecessor, the latest committed version
  *     STRICTLY BELOW its batchId — a replayed batch (same batchId after a
  *     restart) recomputes the same deterministic snapshot from the same
  *     base, an overwrite rather than a double-apply;
  *   - a batchId BELOW the latest committed version means the stream
  *     restarted against this path with a fresh or missing checkpoint
  *     (foreachBatch ids restart at 0); continuing would write a version
  *     that [[write]]'s prune deletes at once while readers keep serving
  *     stale data, so it is rejected;
  *   - [[Keep]] = 2 versions cover the replay window: Structured
  *     Streaming re-delivers at most the last in-flight batch, which
  *     merges from its immediate predecessor.
  *
  * Snapshots are read with an explicit schema: a legitimately EMPTY
  * version (every group cancelled) has no parquet footer to infer from.
  */
private[streaming] object SnapshotCommit {

  private val Keep = 2

  private def fs(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sessionState.newHadoopConf())

  private def dir(root: String, id: Long): String = s"$root/batch=$id"

  /** Committed version ids at `root`, ascending. */
  def committed(spark: SparkSession, root: String): Seq[Long] = {
    val f = fs(spark, root)
    val r = new Path(root)
    if (!f.exists(r)) Seq.empty
    else f.listStatus(r).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch=") &&
        f.exists(new Path(s.getPath, "_SUCCESS")))
      .map(_.getPath.getName.stripPrefix("batch=").toLong).sorted
  }

  def isCommitted(spark: SparkSession, root: String, id: Long): Boolean =
    fs(spark, root).exists(new Path(dir(root, id), "_SUCCESS"))

  /** The version batch `batchId` merges from, after rejecting a batchId
    * behind the latest committed version. */
  def predecessor(spark: SparkSession, root: String, batchId: Long)
      : Option[Long] = {
    val ids = committed(spark, root)
    require(ids.isEmpty || batchId >= ids.last,
      s"batchId $batchId is behind committed snapshot ${ids.last} at " +
        s"$root — the streaming checkpoint does not match this view path; " +
        "resume with the original checkpointLocation or start a new path")
    ids.filter(_ < batchId).lastOption
  }

  def read(spark: SparkSession, root: String, id: Long,
      schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(dir(root, id))

  /** The highest committed version, if any. */
  def readLatest(spark: SparkSession, root: String,
      schema: StructType): Option[DataFrame] =
    committed(spark, root).lastOption.map(read(spark, root, _, schema))

  /** Publish `state` as version `batchId` (overwriting a replayed batch's
    * earlier attempt), then prune all but the latest [[Keep]] versions. */
  def write(state: DataFrame, root: String, batchId: Long,
      partitionBy: String*): Unit = {
    val w = state.write.mode(SaveMode.Overwrite)
    (if (partitionBy.isEmpty) w else w.partitionBy(partitionBy: _*))
      .parquet(dir(root, batchId))
    val spark = state.sparkSession
    val f = fs(spark, root)
    committed(spark, root).dropRight(Keep)
      .foreach(id => f.delete(new Path(dir(root, id)), true))
  }
}
