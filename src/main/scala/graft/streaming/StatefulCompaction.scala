package graft.streaming

import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.{Dataset, Encoders}

/** One keyed change event after envelope parse + unwrap: the streaming
  * analog of a [[graft.operators.CdcOps.unwrap]] output row. `lsn` is the
  * source WAL position — the compaction ordering key (NOT arrival order;
  * at-least-once delivery reorders and replays, SURVEY.md §7.4.2). */
final case class KeyedChange(
    key: Long,
    lsn: Long,
    deleted: Boolean,
    payload: String)

/** Current materialized state of one key. */
final case class KeyState(
    key: Long,
    lsn: Long,
    deleted: Boolean,
    payload: String)

/** Op 41 + op 18 (streaming form): latest-by-key compaction as an arbitrary
  * stateful operator — the continuously-maintained "current table state"
  * that the reference's Redis / Elasticsearch sinks hold
  * (reference: README.md:48,51; upsert-by-PK semantics).
  *
  * State per key = the highest-lsn event seen. An arriving event only
  * updates state (and emits) if its lsn is newer — so replays (same lsn)
  * and stale out-of-order events are no-ops: idempotent under
  * at-least-once delivery by construction. Deletes stay in state as
  * `deleted=true` markers so a late pre-delete update cannot resurrect the
  * row (the marker is the streaming form of the `__deleted` rewrite,
  * reference: postgresql-connector.yaml:56).
  *
  * Scale: state is hash-partitioned by key across executors (same layout
  * as the reference's 12-way keyed Kafka partitions), one entry per live
  * key, checkpointed via the state store — no global coordination.
  */
object StatefulCompaction {

  /** (lsn, deleted) lexicographic rank — equal-lsn ties prefer the delete
    * rewrite, as the batch path [[graft.operators.CdcOps.compactLatest]]
    * does (it orders by the caller's position, then `__deleted` desc), so
    * batch and streaming materialize identical state even on sources
    * that can emit position ties (MySQL binlog pos, snapshot rows). */
  private def rank(lsn: Long, deleted: Boolean): (Long, Int) =
    (lsn, if (deleted) 1 else 0)

  /** The winner rule: `a` outranks the (lsn, deleted) state. */
  private def newerThan(a: KeyedChange, lsn: Long, deleted: Boolean): Boolean =
    Ordering[(Long, Int)].gt(rank(a.lsn, a.deleted), rank(lsn, deleted))

  /** One key's compaction step, shared by both state APIs: the batch's
    * newest event becomes the key's state when it outranks the current
    * state `cur`; returns the state to store and emit, if any. */
  private[streaming] def step(key: Long, events: Iterator[KeyedChange],
      cur: Option[KeyState]): Option[KeyState] =
    events.reduceOption((a, b) => if (newerThan(a, b.lsn, b.deleted)) a else b)
      .filter(e => cur.forall(c => newerThan(e, c.lsn, c.deleted)))
      .map(e => KeyState(key, e.lsn, e.deleted, e.payload))

  def update(
      key: Long,
      events: Iterator[KeyedChange],
      state: GroupState[KeyState]): Iterator[KeyState] = {
    val next = step(key, events, state.getOption)
    next.foreach(state.update)
    next.iterator
  }

  /** Compact a keyed change stream: emits the new current state of every
    * key that changed in the micro-batch (Update output mode). */
  def compact(changes: Dataset[KeyedChange]): Dataset[KeyState] =
    changes
      .groupByKey(_.key)(Encoders.scalaLong)
      .flatMapGroupsWithState(
        OutputMode.Update, GroupStateTimeout.NoTimeout)(update)(
        Encoders.product[KeyState], Encoders.product[KeyState])
}
