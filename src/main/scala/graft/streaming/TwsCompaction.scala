package graft.streaming

import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}
import org.apache.spark.sql.{Dataset, Encoders}

/** Op 41, modern form: latest-by-key compaction on the Spark 4
  * `transformWithState` API — the successor to `flatMapGroupsWithState`
  * ([[StatefulCompaction]]) with typed named state, per-state TTL, and the
  * RocksDB state store (required by this operator), which is what a
  * 100 TB keyed-state deployment runs anyway (state larger than heap,
  * incremental checkpoints). Each key's step is the legacy form's own
  * [[StatefulCompaction.step]] — TwsCompactionSpec asserts both APIs
  * materialize identical state.
  */
class CompactionProcessor
    extends StatefulProcessor[Long, KeyedChange, KeyState] {

  @transient private var state: ValueState[KeyState] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    state = getHandle.getValueState[KeyState](
      "compacted", Encoders.product[KeyState], TTLConfig.NONE)

  override def handleInputRows(
      key: Long,
      rows: Iterator[KeyedChange],
      timers: TimerValues): Iterator[KeyState] = {
    val next = StatefulCompaction.step(key, rows,
      if (state.exists()) Some(state.get()) else None)
    next.foreach(state.update)
    next.iterator
  }
}

object TwsCompaction {

  /** Compact a keyed change stream via transformWithState (Update mode).
    * Caller must run with the RocksDB state store provider:
    * `spark.sql.streaming.stateStore.providerClass =
    *  org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider`. */
  def compact(changes: Dataset[KeyedChange]): Dataset[KeyState] =
    changes
      .groupByKey(_.key)(Encoders.scalaLong)
      .transformWithState(
        new CompactionProcessor,
        TimeMode.None(),
        OutputMode.Update)(Encoders.product[KeyState])
}
