package graft.streaming

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Incremental view maintenance (IVM) over a CDC change log — the
  * canonical "what is CDC actually FOR" consumer: keep a downstream
  * aggregate (here revenue + order count per order status) continuously
  * correct without ever recomputing it from the base table.
  *
  * Classic delta-propagation for distributive aggregates: each change
  * event contributes signed deltas —
  *   - insert/snapshot-read → +after
  *   - update              → −before, +after (two contributions, so a
  *     group-key change moves the row's measures ACROSS groups)
  *   - delete              → −before
  * and the view merge is `state ⊎ Σdeltas` (an additive outer merge).
  *
  * Exactly-once: additive merges are NOT naturally idempotent, so two
  * layers restore it under at-least-once delivery —
  *   1. event-level: duplicate deliveries inside a micro-batch are
  *      dropped by (key, position, op) before folding (the fixture log
  *      replays an update verbatim; see CdcOps). Duplicates that span
  *      batches are handled UPSTREAM by the stateful dedup operator
  *      ([[StreamOps]] / `stream_dedup`) — position-keyed dedup is its
  *      job, and composing it in front keeps this operator stateless
  *      w.r.t. event identity.
  *   2. batch-level: state is published through [[SnapshotCommit]]'s
  *      versioned snapshots; a replayed micro-batch (same batchId after
  *      restart) recomputes the SAME deterministic snapshot from the
  *      previous version — an overwrite, not a double-apply — and
  *      readers only ever see the highest COMMITTED version.
  *
  * Scale: per batch this reads view-sized state (group cardinality, not
  * corpus cardinality — aggregate views are small by construction), one
  * shuffle for the batch's delta fold, one outer merge join. For
  * key-cardinality views (latest-by-key materialization) the same merge
  * composes with [[Sinks.upsertByKey]]'s hash-bucket layout so a batch
  * only touches its buckets; that variant is the compaction path already
  * covered by [[StatefulCompaction]].
  *
  * Measures are exact integers (price cents as long) so merge order can
  * never perturb the result — the view is bit-identical to the batch
  * recompute, which is what IvmSpec and the `cdc_ivm_view` oracle assert.
  */
object IncrementalView {

  /** The narrow deduped event projection [[applyBatch]] folds — exposed so
    * a caller replaying SEVERAL batches out of one parsed changelog (the
    * backfill shape: `cdc_ivm_view` slices one archive into three
    * micro-batches by op) can compute the projection + dedup ONCE and
    * slice it per batch, instead of paying the dedup exchange per batch.
    * Safe to share across op-sliced batches because the dedup key
    * includes `op`: global dedup over the changelog is row-identical to
    * per-slice dedup whenever the slices partition by any dedup-key
    * column. A caller slicing by something OUTSIDE the key must dedup
    * per batch (use [[applyBatch]]). */
  def eventsOf(parsed: DataFrame): DataFrame =
    SignedDelta.events(parsed, "o_orderkey")(r => Seq(
      "status" -> r.getField("o_orderstatus"),
      "cents" -> SignedDelta.cents(r), "def" -> r.isNotNull))

  /** Signed per-group deltas (cents + rows) over an [[eventsOf]]
    * projection. */
  def deltaOfEvents(events: DataFrame): DataFrame =
    SignedDelta.fold(events, _("def"), "o_orderstatus")(s => Seq(
      s("status").as("o_orderstatus"), s.signed("cents").as("d_cents"),
      s.unit.as("d_rows")))

  /** Apply one micro-batch: previous committed snapshot ⊎ batch delta →
    * version `batchId` (replay-safe, see [[SnapshotCommit]]). */
  def applyBatch(parsed: DataFrame, batchId: Long, path: String): Unit =
    applyBatchEvents(eventsOf(parsed), batchId, path)

  /** [[applyBatch]] over a pre-projected [[eventsOf]] frame — the batch
    * must already be deduped (see the [[eventsOf]] sharing contract). */
  def applyBatchEvents(events: DataFrame, batchId: Long, path: String): Unit = {
    val spark = events.sparkSession
    val prev = SnapshotCommit.predecessor(spark, path, batchId)
      .map(SnapshotCommit.read(spark, path, _, schema))
    val merged = SignedDelta.merge(prev, deltaOfEvents(events),
      Seq("o_orderstatus"),
      Seq("revenue_cents" -> "d_cents", "n_orders" -> "d_rows"))
    // groups where EVERY measure cancels to zero leave the view entirely.
    // Row count alone is not enough: with out-of-order cross-batch
    // delivery an intermediate snapshot can legitimately hold a group at
    // 0 rows but nonzero cents (two keys passing through a status with
    // different prices), and dropping it would silently lose the cents
    // from every later merge (the IVM property test caught exactly this).
    // An aggregate view is group-cardinality, so ONE file per version:
    // shuffle-width writers would write near-empty files every batch.
    SnapshotCommit.write(
      merged.filter(col("n_orders") =!= 0L || col("revenue_cents") =!= 0L)
        .coalesce(1),
      path, batchId)
  }

  /** Versioned-snapshot maintenance as a streaming sink. Production
    * callers MUST pass a durable `checkpoint`: the batchId sequence is
    * the exactly-once watermark, and a lost checkpoint restarts ids at 0
    * (which [[applyBatch]] rejects against a non-empty view rather than
    * silently dropping data). */
  def maintain(parsedStream: DataFrame, path: String,
      checkpoint: Option[String] = None): DataStreamWriter[Row] = {
    val w = parsedStream.writeStream
      .outputMode(OutputMode.Update)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, batchId, path)
      }
    checkpoint.fold(w)(c => w.option("checkpointLocation", c))
  }

  /** The current view: highest committed snapshot, if any. */
  def readView(spark: SparkSession, path: String): Option[DataFrame] =
    SnapshotCommit.readLatest(spark, path, schema)

  private val schema = StructType(Seq(
    StructField("o_orderstatus", StringType),
    StructField("revenue_cents", LongType),
    StructField("n_orders", LongType)))
}
