package graft

import graft.operators.{CdcOps, Skew}
import graft.sources.Debezium
import graft.streaming.StatefulCompaction
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** The full CDC chain under Structured Streaming: envelope JSON →
  * parse → unwrap → typed stateful compaction — the same batch
  * expressions, unmodified, on an unbounded DataFrame (SURVEY.md §3.1's
  * claim, proven). Plus the skew-salting utility contract. */
class EndToEndStreamSpec extends SparkSpec {

  private def env(key: Long, lsn: Long, op: String, status: String): String = {
    val row =
      s"""{"o_orderkey":$key,"o_custkey":1,"o_orderstatus":"$status",
         |"o_totalprice":"10.00","o_orderdate_us":0,"o_orderpriority":"1-URGENT"}"""
        .stripMargin.replaceAll("\n", "")
    val before = if (op == "c") "null" else row
    val after = if (op == "d") "null" else row
    s"""{"before":$before,"after":$after,
       |"source":{"version":"2.4.0.Final","connector":"postgresql",
       |"name":"postgres-prod","ts_ms":0,"db":"production","schema":"public",
       |"table":"orders","txId":${lsn / 2},"lsn":$lsn,"snapshot":"false"},
       |"op":"$op","ts_ms":0}""".stripMargin.replaceAll("\n", "")
  }

  test("streaming CDC: parse → unwrap → stateful compaction end-to-end") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[String]
    val raw = in.toDF().select(
      lit("prod.postgres.orders").as("topic"),
      lit("""{"o_orderkey":0}""").as("key"),
      col("value"))
    val unwrapped = CdcOps.unwrap(
      Debezium.parseEnvelope(raw, Debezium.ordersRowSchema))
    val keyed = unwrapped
      .filter(!col("_tombstone"))
      .select(
        col("o_orderkey").as("key"),
        col("_lsn").as("lsn"),
        (col("__deleted") === "true").as("deleted"),
        col("o_orderstatus").as("payload"))
      .as[graft.streaming.KeyedChange]
    val q = StatefulCompaction.compact(keyed)
      .writeStream.format("memory").queryName("e2e")
      .outputMode(OutputMode.Update).start()
    try {
      in.addData(env(1, 10, "c", "O"), env(2, 20, "c", "O"))
      q.processAllAvailable()
      in.addData(env(1, 15, "u", "X"), env(2, 25, "d", "O"),
        env(1, 15, "u", "X")) // replay
      q.processAllAvailable()
      val state = spark.table("e2e")
        .groupBy($"key")
        .agg(max(struct($"lsn", $"deleted", $"payload")).as("s"))
        .select($"key", $"s.deleted", $"s.payload")
        .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getString(2)))
        .toSet
      assert(state == Set((1L, false, "X"), (2L, true, "O")))
    } finally q.stop()
  }

  test("streaming CDC lands in the bucketed keyed sink (ES/Redis analog)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[String]
    val raw = in.toDF().select(
      lit("prod.postgres.orders").as("topic"),
      lit("""{"o_orderkey":0}""").as("key"),
      col("value"))
    val unwrapped = CdcOps.unwrap(
      Debezium.parseEnvelope(raw, Debezium.ordersRowSchema))
      .filter(!col("_tombstone"))
      .select("o_orderkey", "_lsn", "o_orderstatus", "__deleted")
    val dir = tempDir("graft_e2esink")
      .toString + "/orders"
    val q = graft.streaming.Sinks.upsertByKey(
      unwrapped, dir, "o_orderkey", "_lsn", nBuckets = 8).start()
    try {
      in.addData(env(1, 10, "c", "O"), env(2, 20, "c", "O"),
        env(3, 30, "c", "O"))
      q.processAllAvailable()
      in.addData(env(1, 15, "u", "X"), env(2, 25, "d", "O"),
        env(1, 15, "u", "X")) // replay must stay a no-op
      q.processAllAvailable()
      // current state = latest doc per key, deletes carry the rewrite
      // marker (the ES doc-id upsert contract); consumers filter it
      val state = graft.streaming.Sinks.readState(spark, dir)
        .filter(col("__deleted") =!= "true")
        .select("o_orderkey", "o_orderstatus").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(state == Set((1L, "X"), (3L, "O")))
    } finally q.stop()
  }

  test("stateful compaction feeding the upsert sink runs once per micro-batch") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[graft.streaming.KeyedChange]
    val dir = tempDir("graft_e2eonce")
      .toString + "/state"
    val q = graft.streaming.Sinks.upsertByKey(
      StatefulCompaction.compact(in.toDS()).toDF(), dir, "key", "lsn",
      nBuckets = 4).start()
    try {
      def change(k: Long, lsn: Long) =
        graft.streaming.KeyedChange(k, lsn, deleted = false, s"p$lsn")
      in.addData((1L to 40L).map(k => change(k, k)))
      q.processAllAvailable()
      in.addData((1L to 40L by 3).map(k => change(k, 100 + k)) :+ change(2L, 1L))
      q.processAllAvailable()
      // every state update is one emitted row; an input row can update a
      // key at most once, unless the sink re-ran the stateful operator
      val progress = q.recentProgress.filter(_.numInputRows > 0)
      val updated = progress.flatMap(_.stateOperators).map(_.numRowsUpdated).sum
      assert(updated > 0)
      assert(updated <= progress.map(_.numInputRows).sum)
      assert(graft.streaming.Sinks.readState(spark, dir).count() == 40)
    } finally q.stop()
  }

  test("salted aggregation equals direct aggregation on exact types") {
    import spark.implicits._
    // skewed input: key 7 holds 90% of rows
    val df = ((1 to 9000).map(i => (7L, i.toLong))
      ++ (1 to 1000).map(i => (i.toLong % 13, 1L))).toDF("k", "v")
    val direct = df.groupBy("k")
      .agg(sum($"v").as("total"), count(lit(1)).as("n"))
    val salted = Skew.saltedSumCount(df, $"k", $"v", salts = 8)
    assert(salted.exceptAll(direct).count() == 0)
    assert(direct.exceptAll(salted).count() == 0)
  }
}
