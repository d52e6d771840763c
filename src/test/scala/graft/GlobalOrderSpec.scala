package graft.operators

import graft.SparkSpec
import graft.sources.Tables
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Every mode of [[GlobalOrder]] (rank, exclusive sum, inclusive sum,
  * ntile0) equals its direct single-window form row for row, on inputs
  * with many buckets, one bucket, a negated (descending) bucket, and
  * fewer rows than tiles; and every mode plans exactly one unpartitioned
  * window, the one over the bucket subtotals `n`. */
class GlobalOrderSpec extends SparkSpec {

  /** (id, w, bucket) rows, the total order, and the tile count. */
  private case class Input(name: String, df: DataFrame, order: Seq[Column],
      k: Int)

  /** Half of the sf0.01 corpus, which sits next to the suite's sf0.001. */
  private def docs: DataFrame =
    Tables.scan(spark, sfDir.replace("sf0.001", "sf0.01"), "documents")
      .filter(col("doc_id") % 2 === 0)
      .select(col("doc_id").as("id"),
        substring(lower(trim(col("text"))), 1, 40).as("key"),
        length(col("text")).cast("long").as("w"))

  private lazy val inputs = Seq(
    Input("sf0.01 documents slice",
      docs.withColumn("bucket", substring(col("key"), 1, 1)),
      Seq(col("key"), col("id")), 7),
    Input("single bucket", docs.withColumn("bucket", lit(0L)),
      Seq(col("key"), col("id")), 7),
    Input("negated bucket",
      docs.withColumn("bucket", -floor(col("w") / lit(100))),
      Seq(col("w").desc, col("id")), 7),
    Input("n < k", docs.orderBy("id").limit(3)
      .withColumn("bucket", substring(col("key"), 1, 1)),
      Seq(col("key"), col("id")), 5))

  /** (mode, two-phase value, direct single-window value); both read
    * `before`/`total` resp. the input's columns and name the result v. */
  private val modes: Seq[(String, Input => DataFrame, Input => DataFrame)] = {
    def global(in: Input) = Window.orderBy(in.order: _*)
    def two(in: Input, w: Column) =
      GlobalOrder.prefixBefore(in.df, "bucket", in.order, w)
    Seq(
      ("rank",
        in => two(in, lit(1L)).select(col("id"), col("before").as("v")),
        in => in.df.select(col("id"),
          (row_number().over(global(in)) - 1).cast("long").as("v"))),
      ("exclusive sum",
        in => two(in, col("w")).select(col("id"), col("before").as("v")),
        in => in.df.select(col("id"),
          coalesce(sum("w").over(global(in)
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)).as("v"))),
      ("inclusive sum",
        in => two(in, col("w"))
          .select(col("id"), (col("before") + col("w")).as("v")),
        in => in.df.select(col("id"), sum("w").over(global(in)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .as("v"))),
      ("ntile0",
        in => two(in, lit(1L)).select(col("id"),
          GlobalOrder.ntile0(col("before") + 1L, col("total"), in.k)
            .cast("long").as("v")),
        in => in.df.select(col("id"),
          (ntile(in.k).over(global(in)) - 1).cast("long").as("v"))))
  }

  for ((mode, twoPhase, direct) <- modes) {
    test(s"$mode equals its single-window form on every input") {
      inputs.foreach { in =>
        val a = twoPhase(in)
        val b = direct(in)
        val n = b.count()
        assert(n > 0, in.name)
        assert(a.count() === n, in.name)
        assert(a.exceptAll(b).count() === 0L, in.name)
        assert(b.exceptAll(a).count() === 0L, in.name)
      }
    }

    test(s"$mode plans one unpartitioned window, over the subtotals n") {
      assertOneGlobalWindowOverN(twoPhase(inputs.head))
    }
  }

  test("the feed fixtures' batch index plans one unpartitioned window, " +
      "over the subtotals n") {
    assertOneGlobalWindowOverN(StreamQueries.twoPhaseNtile0(
      Tables.scan(spark, sfDir, "events")
        .select(col("event_id"), col("ts").cast("timestamp").as("ts")), 5))
  }

  private def assertOneGlobalWindowOverN(df: DataFrame): Unit = {
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val plan =
      try df.queryExecution.executedPlan
      finally spark.conf.set("spark.sql.adaptive.enabled", prev)
    val global = plan.collect { case w: WindowExec => w }
      .filter(_.partitionSpec.isEmpty)
    assert(global.size == 1, s"one unpartitioned window:\n$plan")
    assert(global.head.windowExpression.mkString.contains("sum(n#"),
      s"the unpartitioned window must read the subtotals n:\n$plan")
  }
}
