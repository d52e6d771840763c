package graft

import graft.operators.CdcOps
import graft.sources.{Debezium, Tables}
import org.apache.spark.sql.functions._

/** CDC core semantics (SURVEY.md §5.2.2-3): envelope parse, unwrap with
  * delete-rewrite + tombstone retention, and compaction invariants —
  * idempotence under at-least-once replay and arrival-order independence. */
class CdcOpsSpec extends SparkSpec {

  private lazy val unwrapped = CdcOps.ordersUnwrapped(spark, sfDir)
  private lazy val orders = Tables.scan(spark, sfDir, "orders")
  private lazy val nOrders = orders.count()

  test("parse preserves tombstones as null envelopes") {
    val parsed = Debezium.parseEnvelope(
      CdcOps.synthOrdersChangelog(spark, sfDir), Debezium.ordersRowSchema)
    val tomb = parsed.filter(col("_tombstone")).count()
    assert(tomb == orders.filter(col("o_orderkey") % 7 === 0).count())
    assert(parsed.filter(col("_tombstone") && col("env").isNotNull).count() == 0)
  }

  test("route collapses server.schema.table to the table name") {
    val routed = CdcOps.route(CdcOps.synthOrdersChangelog(spark, sfDir))
    assert(routed.select("tbl").distinct().collect().map(_.getString(0))
      .toSeq == Seq("orders"))
  }

  test("unwrap rewrites deletes instead of dropping them") {
    // delete.handling.mode=rewrite (postgresql-connector.yaml:56): delete
    // rows survive as before-image + __deleted=true
    val dels = unwrapped.filter(col("__deleted") === "true")
    assert(dels.count() == orders.filter(col("o_orderkey") % 7 === 0).count())
    assert(dels.filter(col("o_orderkey").isNull).count() == 0)
  }

  test("compaction: deletes drop, updates win, replays are no-ops") {
    val compacted = CdcOps.ordersCompacted(spark, sfDir)
    val expected = orders.filter(col("o_orderkey") % 7 =!= 0)
    assert(compacted.count() == expected.count())
    // every surviving key whose orderkey%10==0 must show the updated status
    assert(compacted.filter(col("o_orderkey") % 10 === 0
      && col("o_orderstatus") =!= "X").count() == 0)
  }

  test("compaction is idempotent: applying the log twice == once") {
    // at-least-once invariant (§1.5): full replay of the changelog must not
    // change the compacted result
    val once = CdcOps.ordersCompacted(spark, sfDir)
    val twiceLog = unwrapped.unionByName(unwrapped)
    val twice = CdcOps.compactLatest(twiceLog,
      keys = Seq("o_orderkey"), ordering = Seq(col("_lsn").desc))
    assert(once.exceptAll(twice).count() == 0)
    assert(twice.exceptAll(once).count() == 0)
  }

  test("compaction is arrival-order independent (keys on lsn, not order)") {
    val shuffled = unwrapped.orderBy(rand(seed = 7))
    val fromShuffled = CdcOps.compactLatest(shuffled,
      keys = Seq("o_orderkey"), ordering = Seq(col("_lsn").desc))
    val expected = CdcOps.ordersCompacted(spark, sfDir)
    assert(fromShuffled.exceptAll(expected).count() == 0)
    assert(expected.exceptAll(fromShuffled).count() == 0)
  }

  test("compaction: on a position tie the delete wins in either arrival order") {
    import spark.implicits._
    // one key updated and deleted at the same position: the delete
    // rewrite must win whichever row arrives first, as in the streaming
    // form's (lsn, deleted) rank
    val update = (1L, 50L, "false", false, "X")
    val delete = (1L, 50L, "true", false, "O")
    for (rows <- Seq(Seq(update, delete), Seq(delete, update))) {
      val log = rows.toDF("o_orderkey", "_lsn", "__deleted", "_tombstone",
        "o_orderstatus").coalesce(1)
      val out = CdcOps.compactLatest(log,
        keys = Seq("o_orderkey"), ordering = Seq(col("_lsn").desc))
      assert(out.count() == 0,
        s"arrival order ${rows.map(_._3).mkString(", ")} kept the key")
    }
  }

  test("decimal-as-string mode survives round trip exactly") {
    // decimal.handling.mode=string (postgresql-connector.yaml:48): price
    // strings parse back to the exact source decimal
    val back = CdcOps.ordersCompacted(spark, sfDir)
      .select(col("o_orderkey"),
        col("o_totalprice").cast("decimal(12,2)").as("p"))
    val src = orders.filter(col("o_orderkey") % 7 =!= 0)
      .select(col("o_orderkey"),
        col("o_totalprice").cast("decimal(12,2)").as("p"))
    assert(back.exceptAll(src).count() == 0)
  }
}
