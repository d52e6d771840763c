package graft.tools

import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame

/** Measurement main for the bucketed join-view store's offline
  * resharding path (NOTES narrow-delta protocol, item 39 extension):
  * bootstrap the store from the full 3-phase changelog at 64 buckets,
  * time `rebucket` 64 → 128, then apply ONE steady-state order update
  * to both geometries and report files/bytes rewritten — the quantity
  * that scales with state size (wall time at test SF is fixed job
  * overhead). Run:
  *
  *   SPARK_DRIVER_MEM=48g sbt "runMain graft.tools.RebucketBench /tmp/graft_sf1"
  */
object RebucketBench {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/graft_sf1")
    val spark = graft.Sessions.local(32, 32)
    import graft.operators.CdcOps
    import graft.streaming.{BucketedJoinView, IncrementalJoinView}
    import spark.implicits._

    val fe = IncrementalJoinView.factEvents(
      CdcOps.parsedOrders(spark, dir)).persist()
    val de = IncrementalJoinView.dimEvents(
      CdcOps.parsedCustomerDim(spark, dir)).persist()
    def ops(df: DataFrame, o: Seq[String]) =
      df.filter(col("op").isin(o: _*))
    def timed[T](tag: String)(f: => T): T = {
      val t0 = System.nanoTime; val r = f
      println(f"[measure] $tag ${(System.nanoTime - t0) / 1e9}%.2f s"); r
    }
    val root = java.nio.file.Files
      .createTempDirectory("graft-rebucket-bench").toString
    val src = s"$root/src64"
    timed("bootstrap b0 (c,r)")(BucketedJoinView.applyBatchEvents(
      ops(fe, Seq("c", "r")), ops(de, Seq("c")), 0L, src, 64))
    timed("bootstrap b1 (u)")(BucketedJoinView.applyBatchEvents(
      ops(fe, Seq("u")), ops(de, Seq("u")), 1L, src, 64))
    timed("bootstrap b2 (d)")(BucketedJoinView.applyBatchEvents(
      ops(fe, Seq("d")), ops(de, Seq("d")), 2L, src, 64))
    def duBytes(p: String): Long = {
      def go(f: java.io.File): Long =
        if (f.isDirectory) f.listFiles.map(go).sum else f.length
      go(new java.io.File(p))
    }
    println(s"[measure] src64 total bytes ${duBytes(src)}")

    val dst = s"$root/dst128"
    timed("rebucket 64 -> 128")(BucketedJoinView.rebucket(spark, src, dst, 128))
    def view(p: String) =
      BucketedJoinView.readView(spark, p).get.orderBy("seg").collect().toSeq
    assert(view(dst) == view(src), "view diverged across reshard")
    println("[measure] view parity OK")

    // steady-state: ONE order price update, applied to both geometries
    def env(json: String) = graft.sources.Debezium.parseEnvelope(
      Seq(("t", "{}", json)).toDF("topic", "key", "value"),
      graft.sources.Debezium.ordersRowSchema)
    val b4 = """{"o_orderkey":4,"o_custkey":368,"o_orderstatus":"O","o_totalprice":"10.00","o_orderdate_us":0,"o_orderpriority":"1"}"""
    val a4 = """{"o_orderkey":4,"o_custkey":368,"o_orderstatus":"O","o_totalprice":"25.00","o_orderdate_us":0,"o_orderpriority":"1"}"""
    val fe3 = IncrementalJoinView.factEvents(env(
      s"""{"before":$b4,"after":$a4,"source":{"lsn":99999901,"table":"t","ts_ms":0},"op":"u","ts_ms":0}"""))
    val de3 = IncrementalJoinView.dimEvents(graft.sources.Debezium.parseEnvelope(
      Seq.empty[(String, String, String)].toDF("topic", "key", "value"),
      graft.sources.Debezium.customerRowSchema))
    def mtimes(p: String): Map[String, Long] = {
      def go(f: java.io.File): Seq[(String, Long)] =
        if (f.isDirectory) f.listFiles.toSeq.flatMap(go)
        else Seq(f.getPath -> f.lastModified)
      go(new java.io.File(p)).toMap
    }
    def steady(tag: String, path: String, n: Int): Unit = {
      val before = mtimes(path)
      timed(s"steady-state 1-update batch @$tag")(
        BucketedJoinView.applyBatchEvents(fe3, de3, 3L, path, n))
      val changed = mtimes(path)
        .filter { case (p, m) => before.get(p) != Some(m) }.keys.toSeq
      val bytes = changed.map(p => new java.io.File(p).length).sum
      val aBuckets = changed.filter(_.contains("/A/"))
        .flatMap(_.split('/').find(_.startsWith("_bucket="))).distinct.sorted
      println(s"[measure] @$tag files rewritten ${changed.size}, " +
        s"bytes $bytes, dirty A buckets ${aBuckets.mkString(",")}")
    }
    steady("128", dst, 128)
    steady("64", src, 64)
    assert(view(dst) == view(src), "post-batch views diverged")
    println("[measure] post-batch view parity OK")
    spark.stop()
  }
}
