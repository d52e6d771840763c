package graft

import graft.operators.AggQueries
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Numeric error contracts behind the sketch queries' oracle-pinned
  * invariant booleans (Spark's HLL++/KLL/CMS sketches have no cross-engine
  * twin, so the graded entries emit recomputable facts + contract booleans;
  * this spec keeps the RAW numbers honest by recomputing the sketches
  * directly — the estimate stays within 5% of the exact count-distinct
  * (rsd=0.02 leaves headroom without being vacuous), percentile sketches
  * within 2%, CMS one-sided within eps·N). */
class AggContractsSpec extends SparkSpec {

  private def relErr(dir: String): Double = {
    val approx = Tables.scan(spark, dir, "orders")
      .agg(approx_count_distinct(col("o_custkey"), 0.02).as("a"))
      .collect().head.getLong(0)
    val exact = Tables.scan(spark, dir, "orders")
      .select(countDistinct(col("o_custkey")).as("n"))
      .collect().head.getLong(0)
    math.abs(approx - exact).toDouble / exact
  }

  test("graded sketch booleans are all true (and the exact sides match)") {
    val dir = "/root/testdata/sf0.01"
    val ad = AggQueries.queries("agg_approx_distinct")(spark, dir)
      .collect().head
    assert(ad.getAs[Boolean]("approx_ok"))
    val hm = AggQueries.queries("agg_hll_merge")(spark, dir)
      .collect().head
    assert(hm.getAs[Boolean]("merge_close") && hm.getAs[Boolean]("est_ok"))
    val ap = AggQueries.queries("agg_approx_percentile")(spark, dir)
      .collect().head
    assert(ap.getAs[Boolean]("p50_ok") && ap.getAs[Boolean]("p99_ok"))
  }

  test("bm25: rare term dominates the ranking, output is score-sorted, " +
      "and the top-k is a TakeOrdered, not a global sort") {
    import org.apache.spark.sql.execution.TakeOrderedAndProjectExec
    val dir = "/root/testdata/sf0.01"
    val q = graft.operators.TextQueries.queries("text_bm25")(spark, dir)
    val out = q.collect()
    assert(out.length == 10)
    val scores = out.map(_.getAs[Double]("score"))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b },
      "top-10 must come back in descending score order")
    assert(scores.last > 0.0)
    // idf("dup") ≈ 18.6 vs ≈0.3 for the common terms, so a single "dup"
    // occurrence outranks any all-common document — with df("dup") ≥ 10
    // the whole top-10 must contain the rare term. This is the contract
    // that makes the operator a SEARCH (rare terms dominate), not a
    // length-normalized popularity count.
    val dupDocs = Tables.scan(spark, dir, "documents")
      .filter(array_contains(
        split(lower(trim(col("text"))), "\\s+"), "dup"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(dupDocs.size >= 10, "corpus premise: rare term df ≥ k")
    assert(out.map(_.getAs[Long]("doc_id")).forall(dupDocs.contains),
      "every top-10 doc must contain the rare query term")
    // plan shape: orderBy+limit must plan as TakeOrderedAndProject —
    // a distributed per-partition heap — never a full Sort exchange
    // (AQE off so executedPlan is the full static tree, not an adaptive
    // wrapper whose children collect() can't see)
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = graft.operators.TextQueries.queries("text_bm25")(spark, dir)
        .queryExecution.executedPlan
      assert(plan.collect { case t: TakeOrderedAndProjectExec => t }.nonEmpty,
        s"expected TakeOrderedAndProject in:\n$plan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("text_retrieval_ndcg: a driver-side recompute from the graded " +
      "ranking and relevance proxy reproduces every reported value") {
    val dir = "/root/testdata/sf0.01"
    val terms = Set("dup", "vector", "spark", "merge")
    val rel = Tables.scan(spark, dir, "documents")
      .select(col("doc_id"), split(lower(trim(col("text"))), "\\s+").as("w"))
      .collect()
      .map(r => r.getLong(0) ->
        r.getAs[scala.collection.Seq[String]](1).toSet.count(terms).toLong)
      .filter(_._2 > 0L).toMap
    val top = graft.operators.TextQueries.queries("text_bm25")(spark, dir)
      .collect().map(_.getAs[Long]("doc_id"))
    val dcgW = graft.operators.TextQueries.dcgW
    val mrrW = graft.operators.TextQueries.mrrW
    def gain(r: Long): Long = (1L << r.toInt) - 1L
    val dcg = top.zipWithIndex.map { case (d, i) =>
      dcgW(i) * gain(rel.getOrElse(d, 0L)) }.sum
    val idcg = rel.values.toSeq.sortBy(-_).take(10).zipWithIndex
      .map { case (rl, i) => dcgW(i) * gain(rl) }.sum
    val bestRank = top.zipWithIndex
      .collectFirst { case (d, i) if rel.getOrElse(d, 0L) >= 2L => i + 1 }
    val row = graft.operators.TextQueries
      .queries("text_retrieval_ndcg")(spark, dir).collect().head
    assert(row.getAs[Long]("dcg_fix") == dcg)
    assert(row.getAs[Long]("idcg_fix") == idcg)
    assert(row.getAs[Double]("ndcg") == dcg.toDouble / idcg.toDouble)
    assert(row.getAs[Int]("best_rank") == bestRank.getOrElse(0))
    assert(row.getAs[Long]("mrr_fix") ==
      bestRank.map(r => mrrW(r - 1)).getOrElse(0L))
    // the metric must be non-degenerate on this corpus: the ranking finds
    // relevant docs, so NDCG sits strictly inside (0, 1]
    assert(row.getAs[Double]("ndcg") > 0.0 &&
      row.getAs[Double]("ndcg") <= 1.0)
  }

  test("hll sketch merge: bounded merged-vs-one-pass gap + ≤5% error contract") {
    import org.apache.spark.sql.functions.{hll_sketch_agg, hll_sketch_estimate, hll_union_agg}
    val dir = "/root/testdata/sf0.01"
    // recomputed directly at BOTH fixture scales — estimate-level exact
    // equality between merged and one-pass sketches is NOT a real HLL
    // property (HIP vs composite estimator, insertion-order-sensitive
    // HLL_4 registers, plan-shape-sensitive partial merges; the sf1
    // sweep caught the old equality claim, and sf0.1 shows a real gap:
    // 1488 vs 1499). The honest contract: merged within 2% of one-pass,
    // both within 5% of exact.
    for (d <- Seq(dir, "/root/testdata/sf0.1")) {
      val merged = Tables.scan(spark, d, "events")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(hll_sketch_agg(col("user_id")).as("sk"))
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
        .collect().head.getLong(0)
      val global = Tables.scan(spark, d, "events")
        .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"))).as("est"))
        .collect().head.getLong(0)
      assert(math.abs(merged - global).toDouble / global <= 0.02,
        s"$d: merged sketch ($merged) >2% from one-pass sketch ($global)")
      val exact = Tables.scan(spark, d, "events")
        .select(countDistinct(col("user_id")).as("n"))
        .collect().head.getLong(0)
      val err = math.abs(merged - exact).toDouble / exact
      assert(err <= 0.05, s"$d: sketch estimate $merged vs exact $exact: $err > 5%")
    }
  }

  test("approx_count_distinct relative error ≤ 5% at sf0.01 and sf0.1") {
    val e1 = relErr("/root/testdata/sf0.01")
    assert(e1 <= 0.05, s"sf0.01 relative error $e1 exceeds 5%")
    val e2 = relErr("/root/testdata/sf0.1")
    assert(e2 <= 0.05, s"sf0.1 relative error $e2 exceeds 5%")
  }

  test("agg_sketch_quality report: exact sides are truly exact, and the " +
      "graded booleans equal independently recomputed ≤5% contracts") {
    val r = AggQueries.queries("agg_sketch_quality")(spark, sfDir)
      .collect().head
    val exactCust = Tables.scan(spark, sfDir, "orders")
      .select(countDistinct(col("o_custkey")).as("n"))
      .collect().head.getLong(0)
    val exactUsers = Tables.scan(spark, sfDir, "events")
      .select(countDistinct(col("user_id")).as("n"))
      .collect().head.getLong(0)
    assert(r.getAs[Long]("exact_cust") == exactCust)
    assert(r.getAs[Long]("exact_users") == exactUsers)
    // the booleans must BE the ≤5% contracts of the underlying sketches,
    // recomputed here from the raw estimates (the estimate VALUES are
    // engine-specific and live only in this spec since the r15 oracling)
    def relOf(est: Long, exact: Long) =
      math.abs(est - exact).toDouble / exact
    val approxCust = Tables.scan(spark, sfDir, "orders")
      .select(approx_count_distinct(col("o_custkey"), 0.02).as("n"))
      .collect().head.getLong(0)
    val hllUsers = Tables.scan(spark, sfDir, "events")
      .groupBy(to_date(col("ts")).as("day"))
      .agg(hll_sketch_agg(col("user_id")).as("sk"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("n"))
      .collect().head.getLong(0)
    assert(r.getAs[Boolean]("cust_est_ok") ==
      (relOf(approxCust, exactCust) <= 0.05))
    assert(r.getAs[Boolean]("users_est_ok") ==
      (relOf(hllUsers, exactUsers) <= 0.05))
    // and the contracts themselves hold (the oracle pins them TRUE)
    assert(r.getAs[Boolean]("cust_est_ok"))
    assert(r.getAs[Boolean]("users_est_ok"))
  }

  private def pctErr(dir: String): (Double, Double) = {
    val row = Tables.scan(spark, dir, "lineitem")
      .selectExpr(
        "percentile_approx(l_extendedprice, 0.5, 10000) AS a50",
        "percentile_approx(l_extendedprice, 0.99, 10000) AS a99",
        "percentile(l_extendedprice, 0.5) AS p50",
        "percentile(l_extendedprice, 0.99) AS p99")
      .collect().head
    (math.abs(row.getDouble(0) - row.getDouble(2)) / row.getDouble(2),
      math.abs(row.getDouble(1) - row.getDouble(3)) / row.getDouble(3))
  }

  test("approx_percentile value error ≤ 2% vs exact at sf0.01 and sf0.1") {
    for (dir <- Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")) {
      val (e50, e99) = pctErr(dir)
      assert(e50 <= 0.02 && e99 <= 0.02,
        s"$dir approx_percentile errors p50=$e50 p99=$e99 exceed 2%")
    }
  }

  test("count-min heavy hitters: one-sided error within eps*N") {
    for (dir <- Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")) {
      // the one-sided bound is graded in-query now (est_ok pinned true by
      // the oracle); here: the booleans hold at BOTH scale factors, the
      // top-10 is the exact top-10, and the exact counts are exact
      val rows = AggQueries.queries("agg_heavy_hitters_cms")(spark, dir)
        .collect()
      assert(rows.length == 10)
      assert(rows.forall(_.getBoolean(2)),
        s"$dir: a CMS estimate violated the one-sided eps*N contract")
      val expected = Tables.scan(spark, dir, "lineitem")
        .groupBy("l_suppkey").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("l_suppkey")).limit(10)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSet == expected)
    }
  }

  test("compression ratio: repetitive << prose << noise, ratios sane") {
    val spark0 = spark
    import spark0.implicits._
    import graft.functions.VectorFunctions
    val probes = Seq(
      ("rep", Seq.fill(200)("the same line again").mkString(" ")),
      ("noise", {
        val rnd = new scala.util.Random(42) // seeded → deterministic
        Seq.fill(800)((rnd.nextInt(94) + 33).toChar).mkString
      }))
      .toDF("tag", "text")
      .select(col("tag"), (VectorFunctions.deflateLen(col("text"))
        .cast("double") / length(col("text"))).as("ratio"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(probes("rep") < 0.1, s"repetitive should crush: $probes")
    assert(probes("noise") > 0.5, s"noise should resist: $probes")
    // corpus-wide: every ratio positive and bounded (deflate adds only
    // small framing overhead even on incompressible text). Raw ratios are
    // computed directly here — the graded text_compress entry now emits
    // oracle-checkable invariant booleans instead of raw sizes.
    val ratios = graft.sources.Tables
      .scan(spark, "/root/testdata/sf0.01", "documents")
      .select((VectorFunctions.deflateLen(col("text")).cast("double") /
        length(col("text"))).as("ratio"))
      .collect().map(_.getDouble(0))
    // and the graded invariants themselves must hold here too
    val inv = graft.operators.TextQueries
      .queries("text_compress")(spark, "/root/testdata/sf0.01")
      .collect()
    assert(inv.nonEmpty && inv.forall(r => r.getBoolean(2) && r.getBoolean(3)),
      "a deflate invariant column is false")
    assert(ratios.nonEmpty
      && ratios.forall(r => r > 0.0 && r < 1.2), "corpus ratios out of range")
    // and the synthetic word-salad corpus sits between the two probes
    val mean = ratios.sum / ratios.length
    assert(mean > probes("rep") && mean < probes("noise"),
      s"corpus mean $mean outside (${probes("rep")}, ${probes("noise")})")
  }

  test("histogram_quantile: monotone and within a bucket of the exact value") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.01"
    val hist = graft.operators.TimeSeriesQueries
      .queries("ts_histogram_quantile")(spark, dir).collect()
    assert(hist.nonEmpty)
    hist.foreach { r =>
      val (p50, p95, p99) =
        (r.getDouble(2), r.getDouble(3), r.getDouble(4))
      assert(p50 <= p95 && p95 <= p99, s"quantiles not monotone: $r")
      assert(p50 > 0 && p99 <= 500.0, s"quantiles out of bucket range: $r")
    }
    // interpolation accuracy contract: the recovered p95 must land
    // within the SAME bucket as the exact p95 (that is all a bucketed
    // histogram can promise — PromQL semantics)
    val exact = graft.sources.Tables.scan(spark, dir, "events")
      .groupBy("event_type")
      .agg(expr("percentile(value, 0.95)").as("x95"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val bounds = Seq(0.0, 5.0, 10.0, 25.0, 50.0, 100.0, 250.0, 500.0)
    def bucketOf(v: Double): Int = bounds.lastIndexWhere(_ < v)
    hist.foreach { r =>
      val b = bucketOf(r.getDouble(3))
      val be = bucketOf(exact(r.getString(0)))
      assert(math.abs(b - be) <= 0, // same bucket
        s"${r.getString(0)}: hist p95 bucket $b vs exact bucket $be")
    }
  }

  test("ts_ewma matches an independent driver-side recompute and damps " +
      "toward the series mean") {
    import graft.operators.TimeSeriesQueries
    val dir = sfDir
    val rows = TimeSeriesQueries.queries("ts_ewma")(spark, dir).collect()
    assert(rows.nonEmpty)
    // reference: per-series sorted hourly counts, the same dyadic weights
    val hourly = graft.sources.Tables.scan(spark, dir, "events")
      .groupBy(col("event_type"),
        expr("unix_micros(CAST(date_trunc('hour', ts) AS TIMESTAMP))")
          .as("hour_us"))
      .agg(count(lit(1)).as("n"))
      .collect()
      .groupBy(_.getString(0))
      .map { case (k, rs) =>
        k -> rs.sortBy(_.getLong(1)).map(r => (r.getLong(1), r.getLong(2)))
      }
    val wts = Seq(4096L, 3072L, 2304L, 1728L, 1296L, 972L, 729L, 2187L)
    rows.foreach { r =>
      val series = hourly(r.getString(0))
      val i = series.indexWhere(_._1 == r.getLong(1))
      assert(i >= 7, "rows must only emit from the 8th observation")
      val expected =
        wts.zipWithIndex.map { case (w, j) => w * series(i - j)._2 }.sum
      assert(r.getLong(3) == expected,
        s"${r.getString(0)}@${r.getLong(1)}: ewma_fix ${r.getLong(3)} " +
          s"!= driver recompute $expected")
      // the smoothed value sits inside the window's [min, max] — a
      // convex combination cannot escape its inputs
      val window = (0 to 7).map(j => series(i - j)._2)
      val ewma = r.getDouble(4)
      assert(ewma >= window.min - 1e-9 && ewma <= window.max + 1e-9,
        s"ewma $ewma escapes window [${window.min}, ${window.max}]")
    }
  }

  test("curate_temperature weights sum to 1, and the multiplier " +
      "up-samples exactly the below-average-share languages") {
    import graft.operators.CurationQueries
    val rows = CurationQueries.queries("curate_temperature")(spark, sfDir)
      .collect()
    assert(rows.length >= 2)
    val wSum = rows.map(_.getDouble(3)).sum
    assert(math.abs(wSum - 1.0) < 1e-6, s"weights sum to $wSum")
    val shareSum = rows.map(_.getDouble(2)).sum
    assert(math.abs(shareSum - 1.0) < 1e-9)
    // temperature flattening: multiplier > 1 iff the language is smaller
    // than the temperature-weighted break-even point — equivalently,
    // ordering by share must order multipliers the opposite way
    val byShare = rows.sortBy(_.getDouble(2))
    val mults = byShare.map(_.getDouble(4))
    assert(mults.zip(mults.tail).forall { case (a, b) => a >= b - 1e-12 },
      s"multiplier must be non-increasing in share: ${mults.toSeq}")
    assert(mults.head > 1.0 && mults.last < 1.0,
      "the smallest language must up-sample and the largest down-sample")
  }

  test("agg_equidepth on an empty lineitem fails its row-count guard, " +
      "not on the null bounds") {
    val dir = tempDir("graft-empty-li")
    Tables.scan(spark, sfDir, "lineitem").limit(0)
      .write.parquet(s"$dir/lineitem.parquet")
    val e = intercept[IllegalArgumentException] {
      AggQueries.queries("agg_equidepth")(spark, dir.toString)
    }
    assert(e.getMessage.contains("got 0"), e.getMessage)
  }
}
