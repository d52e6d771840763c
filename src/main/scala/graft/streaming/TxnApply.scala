package graft.streaming

import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._

/** One record of a transaction-tagged feed: either a data event
  * (`end = false`; `expected` ignored) or the transaction topic's END
  * record (`end = true`; `expected` = the transaction's event count —
  * Debezium emits it after the transaction's last data event). */
final case class TxnFeedEvent(
    txid: Long,
    collection: String,
    lsn: Long,
    end: Boolean,
    expected: Long)

/** One buffered data event — the (collection, lsn) pair IS the event's
  * replay-dedup identity (two captured tables can emit the same lsn in
  * the same transaction; lsn alone under-counts exactly the
  * multi-collection transactions this operator exists for). */
final case class TxnBufEntry(collection: String, lsn: Long)

/** Buffer state for one in-flight transaction. `expected = -1` until the
  * END record arrives; `applied = true` is a tombstone left after
  * emission so at-least-once replays of an already-applied transaction
  * can never re-emit it (in eviction mode a processing-time state
  * timeout drops the marker after the replay window — see
  * [[TxnApply.apply]]'s `replayWindowMs` contract). */
final case class TxnState(
    expected: Long,
    buffered: Seq[TxnBufEntry],
    applied: Boolean)

/** The applied-transaction record: emitted exactly once, when the
  * buffered distinct events match the END record's count. */
final case class TxnApplied(
    txid: Long,
    event_count: Long,
    min_lsn: Long,
    max_lsn: Long)

/** Transactional apply — the CONSUMER side of Debezium's
  * `provide.transaction.metadata` (public docs): a downstream sink that
  * must apply source transactions atomically buffers each transaction's
  * data events until the transaction topic's END record confirms all of
  * them arrived, then applies the whole set at once. Without this, a
  * micro-batch boundary can surface half a source transaction to
  * readers (the classic torn-enrichment bug on multi-table writes).
  *
  * State is keyed by txid — hash-partitioned across executors, one
  * buffer per IN-FLIGHT transaction only (applied transactions collapse
  * to a tombstone marker, completed buffers are dropped from the
  * payload). Replays dedup against the buffered lsn set, the same
  * (collection, lsn) identity the rest of the engine keys on.
  */
object TxnApply {

  /** How long an applied-transaction tombstone survives (processing
    * time) before eviction. At-least-once replays arrive within the
    * source's redelivery window (checkpoint restart ≈ minutes); an hour
    * covers that with a wide margin, while still bounding state: without
    * eviction a long-running stream accumulates one tombstone per source
    * transaction FOREVER — the unbounded-state mode the old NoTimeout
    * form only documented. */
  val DefaultReplayWindowMs: Long = 3600L * 1000

  def update(replayWindowMs: Option[Long])(
      txid: Long,
      events: Iterator[TxnFeedEvent],
      state: GroupState[TxnState]): Iterator[TxnApplied] = {
    // timeout callback (eviction mode only): this applied tombstone
    // outlived the replay window — evict it. (Timeouts are only ever set
    // on applied states, so an in-flight buffer can never reach here.)
    if (state.hasTimedOut) { state.remove(); return Iterator.empty }
    def armEviction(): Unit =
      replayWindowMs.foreach(state.setTimeoutDuration)
    val st0 = state.getOption.getOrElse(TxnState(-1L, Nil, applied = false))
    if (st0.applied) {
      armEviction() // replay restarts the tombstone's clock
      return Iterator.empty // replay of an applied txn
    }
    var expected = st0.expected
    // Set-backed dedup over the stored Seq: the state SHAPE stays a Seq
    // (encoder-stable), but membership checks are O(1) — the previous
    // Seq.contains + append made folding a k-event transaction O(k²)
    val seen = scala.collection.mutable.LinkedHashSet.from(st0.buffered)
    events.foreach { e =>
      if (e.end) expected = e.expected
      else seen += TxnBufEntry(e.collection, e.lsn)
    }
    val buf = seen.toSeq
    // MORE distinct events than the END record declared is an upstream
    // contract violation (the transaction topic's count is authoritative
    // and dedup already removed replays) — fail loudly rather than apply
    // a transaction whose span silently covers surplus events
    if (expected >= 0 && buf.length > expected)
      throw new IllegalStateException(
        s"TxnApply($txid): END record declared $expected events but " +
          s"${buf.length} distinct (collection, lsn) events arrived — " +
          "upstream transaction metadata is inconsistent with the feed")
    if (expected >= 0 && buf.length == expected) {
      // tombstone, not remove: a replayed END after removal would
      // otherwise rebuild the buffer and apply the transaction twice
      state.update(TxnState(expected, Nil, applied = true))
      armEviction()
      if (buf.isEmpty) Iterator.empty // END says 0 events: nothing to apply
      else Iterator.single(TxnApplied(
        txid, expected, buf.map(_.lsn).min, buf.map(_.lsn).max))
    } else {
      state.update(TxnState(expected, buf, applied = false))
      Iterator.empty
    }
  }

  /** Streaming form: one applied-transaction record per source
    * transaction, emitted in the micro-batch where it completes.
    *
    * `replayWindowMs = Some(ms)` turns on tombstone EVICTION: applied
    * markers are dropped `ms` of processing time after the apply
    * (see [[DefaultReplayWindowMs]]), bounding state on a long-running
    * stream — without it the store accumulates one tombstone per source
    * transaction forever. Eviction mode is a real trade, so it is
    * opt-in rather than the default:
    *   - the engine schedules data-less micro-batches on every trigger
    *     to fire pending timeouts (`FlatMapGroupsWithStateExec
    *     .shouldRunAnotherBatch` is unconditionally true under
    *     ProcessingTimeTimeout): under the default as-fast-as-possible
    *     trigger that is a continuous empty-batch loop, and
    *     `processAllAvailable()` never returns. With
    *     `spark.sql.streaming.noDataMicroBatches.enabled = false` the
    *     stream runs data batches only, `processAllAvailable()` drains it,
    *     and a pending timeout fires in the next data batch, not before;
    *   - a redelivery AFTER the window (archive replay) re-applies the
    *     transaction, by design.
    * `None` (default) keeps tombstones forever: exact at-least-once
    * semantics for bounded feeds, drain-style jobs, and tests. */
  def apply(feed: Dataset[TxnFeedEvent],
      replayWindowMs: Option[Long] = None): Dataset[TxnApplied] =
    feed
      .groupByKey(_.txid)(Encoders.scalaLong)
      .flatMapGroupsWithState(
        OutputMode.Update,
        if (replayWindowMs.isDefined) GroupStateTimeout.ProcessingTimeTimeout
        else GroupStateTimeout.NoTimeout)(
        update(replayWindowMs))(
        Encoders.product[TxnState], Encoders.product[TxnApplied])

  /** Batch twin of the apply decision under CONSUMER LAG: `events` is
    * the feed as the consumer has seen it so far — the caller truncates
    * each topic at that topic's own consumed offset, which is exactly
    * how multi-collection transactions tear in production (one topic's
    * consumer group runs behind another's). Per transaction: how many
    * data events have arrived, the expected count IF the transaction
    * topic's END record (riding at the transaction's max lsn) is within
    * `endCutoff`, and whether the transaction may be applied — END seen
    * AND every event in. `meta` is the full-feed transaction table
    * (txid, event_count, max_lsn). Same shuffle discipline as txnMeta:
    * keyed exchanges over shrinking provenance triples, nothing
    * row-sized. */
  def applyStatusBatch(
      events: DataFrame, meta: DataFrame, endCutoff: Long): DataFrame = {
    val arrived = events
      .dropDuplicates("collection", "lsn")
      .groupBy("txid").agg(count(lit(1)).as("arrived"))
    // meta drives the join: a transaction with ZERO arrived events is
    // the most-torn case of all and must still report (arrived = 0,
    // applied = false) — an inner join would silently drop exactly the
    // transactions a consumer most needs to see in flight
    meta.join(arrived, Seq("txid"), "left")
      .select(
        col("txid"),
        coalesce(col("arrived"), lit(0L)).as("arrived"),
        when(col("max_lsn") <= endCutoff, col("event_count"))
          .as("expected"),
        (col("max_lsn") <= endCutoff &&
          coalesce(col("arrived"), lit(0L)) === col("event_count"))
          .as("applied"))
  }
}
