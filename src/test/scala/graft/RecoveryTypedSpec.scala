package graft

import graft.operators.CdcOps
import graft.sources.{ChangeEvent, Debezium, TypedCdc}
import graft.streaming.{KeyedChange, StatefulCompaction}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode


final case class OrdersRow(
    o_orderkey: Long, o_custkey: Long, o_orderstatus: String,
    o_totalprice: String, o_orderdate_us: Long, o_orderpriority: String)

/** Checkpoint recovery (the at-least-once progress contract the reference
  * delegates to `connect-offsets-*`, prod-resources.yaml:14-20) and the
  * typed Dataset facade. */
class RecoveryTypedSpec extends SparkSpec {

  test("stateful compaction state survives a query restart via checkpoint") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val ckpt = tempDir("graft_ckpt").toString
    val out = tempDir("graft_recov").toString + "/out"
    val in = MemoryStream[KeyedChange]
    // memory sink cannot recover from a checkpoint; foreachBatch can —
    // append each micro-batch's emitted states to parquet
    def start() = StatefulCompaction.compact(in.toDS())
      .writeStream
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Update)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[graft.streaming.KeyState], _: Long) =>
        b.write.mode("append").parquet(out); ()
      }
      .start()

    val q1 = start()
    in.addData(KeyedChange(1L, 10L, deleted = false, "v1"))
    q1.processAllAvailable()
    q1.stop()

    // restart from the same checkpoint: state (key 1 @ lsn 10) must be
    // remembered — a stale lsn=5 event for key 1 emits nothing
    val q2 = start()
    try {
      in.addData(
        KeyedChange(1L, 5L, deleted = false, "stale"),
        KeyedChange(2L, 20L, deleted = false, "v2"))
      q2.processAllAvailable()
      val all = spark.read.parquet(out)
        .select($"key", $"lsn", $"payload")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
        .toSet
      // emitted across the whole run: key1@10 (batch 1), key2@20 (batch 2);
      // crucially NO 'stale' overwrite of key 1 — recovered state kept lsn=10
      assert(all == Set((1L, 10L, "v1"), (2L, 20L, "v2")))
    } finally q2.stop()
  }

  test("typed facade exposes envelopes as Dataset[ChangeEvent[OrdersRow]]") {
    val parsed = Debezium.parseEnvelope(
      CdcOps.synthOrdersChangelog(spark, sfDir), Debezium.ordersRowSchema)
    val typed = TypedCdc.typed[OrdersRow](parsed)
    val events: Array[ChangeEvent[OrdersRow]] =
      typed.filter(_.source.lsn % 10 == 8).take(5) // deletes have lsn k*10+8
    assert(events.nonEmpty)
    events.foreach { e =>
      assert(e.op == "d")
      assert(e.after.isEmpty && e.before.nonEmpty)
      assert(e.before.get.o_orderkey % 7 == 0)
      assert(e.source.connector == "postgresql" && !e.source.snapshot)
    }
    // typed ops compose: current non-deleted keys via typed groupByKey
    import typed.sparkSession.implicits._
    val latest = typed
      .groupByKey(e => e.before.orElse(e.after).get.o_orderkey)
      .reduceGroups((a, b) => if (a.source.lsn >= b.source.lsn) a else b)
      .map(_._2)
    val deletedKeys = latest.filter(_.op == "d").count()
    val srcDeletes = graft.sources.Tables.scan(spark, sfDir, "orders")
      .filter(col("o_orderkey") % 7 === 0).count()
    assert(deletedKeys == srcDeletes)
  }
}
