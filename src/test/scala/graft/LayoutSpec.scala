package graft

import graft.operators.Layout
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Bucketing eliminates the join shuffle — the co-located-join claim of
  * PLANS.md, proven by plan inspection rather than asserted in prose. */
class LayoutSpec extends SparkSpec {

  test("partitioned layout prunes partitions at the scan") {
    val dir = tempDir("graft_part").toString + "/ev"
    Layout.writePartitioned(
      Tables.scan(spark, sfDir, "events"), dir, Seq("event_type"))
    val pruned = spark.read.parquet(dir)
      .filter(col("event_type") === "click")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.contains("event_type"),
      s"expected partition filter in scan:\n$plan")
    val expected = Tables.scan(spark, sfDir, "events")
      .filter(col("event_type") === "click").count()
    assert(pruned.count() == expected)
  }

  test("same-bucketed tables join without a shuffle exchange") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    // disable broadcast so the join strategy question is real (tiny test
    // tables would otherwise broadcast and trivially have no exchange)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      Layout.writeBucketed(
        Tables.scan(spark, sfDir, "orders"), "b_orders",
        Seq("o_orderkey"), buckets = 8)
      Layout.writeBucketed(
        Tables.scan(spark, sfDir, "lineitem")
          .withColumnRenamed("l_orderkey", "o_orderkey"), "b_lineitem",
        Seq("o_orderkey"), buckets = 8)

      val bucketed = Layout.bucketedJoin(
        spark, "b_orders", "b_lineitem", Seq("o_orderkey"))
      assert(!Layout.hasShuffleExchange(bucketed),
        "bucketed join must not shuffle:\n"
          + bucketed.queryExecution.executedPlan)
      // same join over raw parquet shuffles both sides
      val plain = Tables.scan(spark, sfDir, "orders").join(
        Tables.scan(spark, sfDir, "lineitem")
          .withColumnRenamed("l_orderkey", "o_orderkey"), Seq("o_orderkey"))
      assert(Layout.hasShuffleExchange(plain))
      // and the results agree
      assert(bucketed.count() == plain.count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
    }
  }

  test("Z-ordered layout clusters a two-dimensional box into fewer files " +
      "than a single-column sort") {
    val base = tempDir("graft_z").toString
    val orders = Tables.scan(spark, sfDir, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        dayofyear(col("o_orderdate")).as("doy"))
    // linear layout: the classic single-column sort order
    orders.orderBy("o_custkey")
      .write.option("maxRecordsPerFile", 50).parquet(s"$base/linear")
    Layout.writeZOrdered(orders, s"$base/zorder",
      "o_custkey", "doy", bits = 16, maxRecordsPerFile = 50)

    // a box constraining BOTH dimensions — the workload z-ordering exists
    // for; the custkey quarter alone would be handled by either layout
    val (xLo, xHi) = (0, 400)
    val (yLo, yHi) = (1, 92)
    def touchedFiles(path: String): Long =
      spark.read.parquet(path)
        .filter(col("o_custkey").between(xLo, xHi)
          && col("doy").between(yLo, yHi))
        .select(input_file_name()).distinct().count()
    val zFiles = touchedFiles(s"$base/zorder")
    val linFiles = touchedFiles(s"$base/linear")
    // the z tiles intersecting the box are a strict subset of the x-range
    // stripes the linear sort must visit (which contain every day-of-year
    // for their custkeys)
    assert(zFiles < linFiles,
      s"z-order should touch fewer files: z=$zFiles linear=$linFiles")
    // and the layouts hold the same data
    assert(
      spark.read.parquet(s"$base/zorder").count() ==
        spark.read.parquet(s"$base/linear").count())
    // z-value sanity: interleave of (1,0)=1, (0,1)=2, (3,3)=15
    val z = Seq((1, 0), (0, 1), (3, 3)).map { case (x, y) =>
      spark.range(1).select(
        Layout.zValue(lit(x), lit(y), 4).as("z"))
        .collect()(0).getLong(0)
    }
    assert(z == Seq(1L, 2L, 15L), s"morton encode wrong: $z")
  }

  test("IVF nearest-centroid assignment is map-side: no shuffle, correct") {
    import graft.functions.VectorFunctions
    val spark0 = spark
    import spark0.implicits._
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)),
      (3L, Array(0.9f, 0.1f)), (4L, Array(-1.0f, 0.0f)))
      .toDF("vec_id", "v")
      .withColumn("nrm", VectorFunctions.floatNorm(col("v")))
    val cents = Seq(
      (10L, Array(1.0f, 0.0f)), (20L, Array(0.0f, 1.0f)))
      .toDF("cid", "c")
    val assigned = operators.SimilarityQueries.assignNearest(vecs, cents)
    // the vector side folds the broadcast centroid array in place — a
    // hash-partitioned exchange would mean the per-Lloyd-round shuffle
    // the broadcast-array design exists to delete
    assert(!Layout.hasShuffleExchange(assigned),
      "assignment must not shuffle the vector side:\n"
        + assigned.queryExecution.executedPlan)
    val got = assigned.select("vec_id", "cid").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // vec 4 points opposite centroid 10: cosine -1 vs 0 → cid 20 wins
    assert(got == Map(1L -> 10L, 2L -> 20L, 3L -> 10L, 4L -> 20L))
  }
}
