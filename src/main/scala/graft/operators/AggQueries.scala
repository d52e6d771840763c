package graft.operators

import graft.{Dec, QueryGroup}
import graft.sources.Tables
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Aggregation operators (SURVEY.md §2.C ops 16, 17, 19, 20).
  * All run as partial(map-side)+final hash aggregates — Catalyst splits
  * the agg automatically, so the shuffle carries one row per group, not
  * per input row; that is the shape that survives 100 TB. */
object AggQueries extends QueryGroup {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // op 16: hash group-by with the full agg function set (TPC-H Q1 shape)
    "agg_groupby" -> ((s, dir) => {
      val li = Tables.scan(s, dir, "lineitem")
        .filter(col("l_shipdate") <= Dec.tsn("1998-09-02"))
      val qty = Dec.d2(col("l_quantity"))
      val price = Dec.d2(col("l_extendedprice"))
      val disc = Dec.rate(col("l_discount"))
      val tax = Dec.rate(col("l_tax"))
      li.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          // Dec.toDbl, not a direct cast: the scale-6 sum_charge sum's
          // unscaled value passes 2^53 at sf1 and the direct decimal→
          // double conversion stops being cross-engine bit-identical
          Dec.toDbl(sum(qty)).as("sum_qty"),
          Dec.toDbl(sum(price)).as("sum_base_price"),
          Dec.toDbl(sum(price * (lit(1) - disc))).as("sum_disc_price"),
          Dec.toDbl(sum(price * (lit(1) - disc) * (lit(1) + tax)))
            .as("sum_charge"),
          (Dec.toDbl(sum(qty)) / count(lit(1))).as("avg_qty"),
          (Dec.toDbl(sum(price)) / count(lit(1))).as("avg_price"),
          (Dec.toDbl(sum(disc)) / count(lit(1))).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // op 17: distinct & count-distinct (exact); HLL approx variant is
    // registered rows-only (agg_approx_distinct) since DuckDB's sketch
    // differs from Spark's
    "agg_distinct" -> ((s, dir) => {
      val o = Tables.scan(s, dir, "orders")
      o.agg(
        countDistinct(col("o_custkey")).as("n_cust"),
        countDistinct(col("o_orderpriority")).as("n_prio"),
        countDistinct(col("o_orderstatus"), col("o_orderpriority"))
          .as("n_status_prio"))
    }),

    // approx_count_distinct: Spark's HLL++ has no DuckDB twin, so the
    // graded surface is the ESTIMATE'S CONTRACT — the exact distinct
    // count (recomputable) plus a ≤5% relative-error boolean the oracle
    // pins to literal true (the text_compress invariant pattern; raw
    // estimates stay visible in agg_sketch_quality, numeric bounds in
    // AggContractsSpec)
    "agg_approx_distinct" -> ((s, dir) => {
      Tables.scan(s, dir, "orders")
        .agg(countDistinct(col("o_custkey")).as("exact_cust"),
          approx_count_distinct(col("o_custkey"), 0.02).as("a"))
        .select(col("exact_cust"),
          (abs(col("a") - col("exact_cust")).cast("double")
            / col("exact_cust") <= 0.05).as("approx_ok"))
    }),

    // ordered string aggregation (listagg/string_agg): the report-shaped
    // aggregate that turns a group into a delimited string. The built-in
    // string_agg carries NO intra-group ordering in the DataFrame API, so
    // its output depends on partitioning — useless under a hash gate.
    // The deterministic distributed form: collect the group as (sortkey,
    // value) structs, array_sort (sortkey leads, and is UNIQUE — struct
    // comparison never reaches the value), then project+join. Group size
    // bounds the per-group state, same contract as any listagg.
    "agg_string_agg" -> ((s, dir) => {
      Tables.scan(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(
          array_join(
            transform(
              array_sort(collect_list(
                struct(col("o_orderkey"), col("o_orderpriority")))),
              x => x.getField("o_orderpriority")), "|").as("prios"),
          count(lit(1)).as("n_orders"))
        .orderBy("o_custkey")
    }),

    // MERGEABLE distinct-count sketches — the warehouse pattern the
    // single-shot approx_count_distinct can't express: store one compact
    // HLL sketch per shard (here per day), then answer "distinct users
    // over any day range" by UNIONING stored sketches — no rescan of the
    // raw events. The ORIGINAL graded contract here ("merged estimate ==
    // one-pass estimate, exact equality") was wrong and the sf1 standing
    // sweep caught it: estimate-level equality holds only in sparse mode
    // and only between IDENTICAL aggregation topologies — a directly
    // built DataSketches HLL answers with its HIP estimator while a
    // union must use the composite estimate, HLL_4's curMin/exception
    // handling makes even register content insertion-order sensitive,
    // and mixing countDistinct into the same agg changes the partial
    // -merge structure (Expand rewrite) enough to shift the estimate
    // (measured: per-day-union 1488 vs one-pass 1499 at sf0.1; equal
    // at sf0.01; plan-shape-dependent at sf1). The durable contract is
    // a BOUNDED GAP: both are estimates of the same set with RSE ≈
    // 1.6%/√shards at lgK=12, so merged-vs-one-pass within 2% relative
    // (measured ≤0.8%) and merged-vs-exact within 5%. The sketch itself
    // has no DuckDB twin, so the graded columns are the recomputable
    // facts (shard count, exact distinct users) plus the two contracts
    // as booleans the oracle pins to true.
    "agg_hll_merge" -> ((s, dir) => {
      val ev = Tables.scan(s, dir, "events")
      val merged = ev
        .groupBy(to_date(col("ts")).as("day"))
        .agg(hll_sketch_agg(col("user_id")).as("sk"))
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("m"),
          count(lit(1)).as("n_shards"))
      val single = ev.agg(
        hll_sketch_estimate(hll_sketch_agg(col("user_id"))).as("sg"))
      val exact = ev.agg(
        countDistinct(col("user_id")).as("exact_users"))
      merged.crossJoin(single).crossJoin(exact).select(
        col("n_shards"), col("exact_users"),
        (abs(col("m") - col("sg")).cast("double")
          / col("sg") <= 0.02).as("merge_close"),
        (abs(col("m") - col("exact_users")).cast("double")
          / col("exact_users") <= 0.05).as("est_ok"))
    }),

    // EXACT distinct counts via the pre-aggregated BITMAP layout — the
    // warehouse acceleration pattern (store per-bucket roaring-style
    // bitmaps once, answer COUNT(DISTINCT) forever after by OR-merging
    // them): user ids bucket by bitmap_bucket_number, each
    // (key, bucket) stores ONE bitmap_construct_agg blob, and the final
    // count is sum over buckets of bitmap_count — buckets partition the
    // id space, so the sum IS the exact distinct count, mergeable and
    // incremental (a new micro-batch ORs into the touched buckets
    // only). Unlike HLL this is exact, so it has a direct DuckDB
    // oracle. Scale shape: two hash aggregates; the bitmap table is
    // (keys × occupied buckets) rows of fixed-size blobs — the
    // materialization a deployment keeps NEXT TO the fact table.
    "agg_bitmap_distinct" -> ((s, dir) => {
      val bm = Tables.scan(s, dir, "events")
        .groupBy(col("event_type"),
          expr("bitmap_bucket_number(user_id)").as("bkt"))
        .agg(expr("bitmap_construct_agg(bitmap_bit_position(user_id))")
          .as("bm"))
      bm.groupBy("event_type")
        .agg(sum(expr("bitmap_count(bm)")).as("n_users"),
          count(lit(1)).as("n_buckets"))
        .orderBy("event_type")
    }),

    // INCREMENTAL VIEW MAINTENANCE for a DISTINCT-count view — the
    // aggregate that is famously NOT self-maintainable (a new batch
    // can't update a stored COUNT(DISTINCT) without knowing which
    // members are already in it); the per-bucket bitmap IS the
    // auxiliary state that makes it maintainable for append-only
    // streams: the delta batch's bitmaps OR into the standing ones at
    // (key, bucket) grain and the view refreshes WITHOUT re-scanning
    // the base — the delta is the only raw data touched, which is the
    // entire IVM point at 100 TB. n_new (first-seen-in-delta users)
    // falls out as after − base, exactly the "net-new members" number
    // a dashboard wants. Deletes would need counting bitmaps; the
    // graded contract is the append-only case every event stream is.
    "agg_bitmap_ivm" -> ((s, dir) => {
      val ev = Tables.scan(s, dir, "events")
      def bm(df: DataFrame): DataFrame = df
        .groupBy(col("event_type"),
          expr("bitmap_bucket_number(user_id)").as("bkt"))
        .agg(expr("bitmap_construct_agg(bitmap_bit_position(user_id))")
          .as("bm"))
      val base = bm(ev.filter(col("event_id") % 5 =!= 0))
      val delta = bm(ev.filter(col("event_id") % 5 === 0))
      val merged = base.unionByName(delta)
        .groupBy("event_type", "bkt")
        .agg(expr("bitmap_or_agg(bm)").as("bm"))
      val nb = base.groupBy("event_type")
        .agg(sum(expr("bitmap_count(bm)")).as("n_base"))
      val na = merged.groupBy("event_type")
        .agg(sum(expr("bitmap_count(bm)")).as("n_after"))
      nb.join(na, "event_type")
        .select(col("event_type"), col("n_base"), col("n_after"),
          (col("n_after") - col("n_base")).as("n_new"))
        .orderBy("event_type")
    }),

    // HIERARCHICAL distinct rollup on the bitmap layout — the property
    // that makes stored bitmaps the right artifact: day-grain user
    // bitmaps are built from raw events ONCE, then month and all-time
    // distincts come from OR-MERGING the stored day bitmaps — no
    // re-scan of raw data at the coarser grains (COUNT(DISTINCT) can
    // never roll up; bitmaps always can). The engine path is literal:
    // month = bitmap_or_agg over day bitmaps, total = bitmap_or_agg
    // over month bitmaps. Scale: one corpus-sized aggregate (day), then
    // strictly shrinking merges keyed on (type, bucket); blob sizes
    // bounded by the 32k bucket width.
    "agg_bitmap_rollup" -> ((s, dir) => {
      val dayBm = Tables.scan(s, dir, "events")
        .groupBy(col("event_type"), col("ts").cast("date").as("day"),
          expr("bitmap_bucket_number(user_id)").as("bkt"))
        .agg(expr("bitmap_construct_agg(bitmap_bit_position(user_id))")
          .as("bm"))
      val day = dayBm.groupBy("event_type", "day")
        .agg(sum(expr("bitmap_count(bm)")).as("n_users"))
        .select(lit("day").as("grain"), col("event_type"),
          col("day").cast("string").as("period"), col("n_users"))
      val monthBm = dayBm
        .groupBy(col("event_type"),
          date_trunc("month", col("day")).cast("date").as("month"),
          col("bkt"))
        .agg(expr("bitmap_or_agg(bm)").as("bm"))
      val month = monthBm.groupBy("event_type", "month")
        .agg(sum(expr("bitmap_count(bm)")).as("n_users"))
        .select(lit("month").as("grain"), col("event_type"),
          col("month").cast("string").as("period"), col("n_users"))
      val total = monthBm.groupBy(col("event_type"), col("bkt"))
        .agg(expr("bitmap_or_agg(bm)").as("bm"))
        .groupBy("event_type")
        .agg(sum(expr("bitmap_count(bm)")).as("n_users"))
        .select(lit("all").as("grain"), col("event_type"),
          lit("all").as("period"), col("n_users"))
      day.unionByName(month).unionByName(total)
        .orderBy("grain", "event_type", "period")
    }),

    // EXACT set algebra on the bitmap layout (agg_bitmap_distinct's
    // sibling): audience-overlap analytics — |A|, |B|, |A∪B| — computed
    // from three OR-mergeable per-bucket bitmap aggregates, then
    // |A∩B| / |A\B| / |B\A| by inclusion-exclusion, which is EXACT here
    // because the bitmaps are exact sets (the identity sketches only
    // approximate). The layout point: per-segment bucket bitmaps are
    // the stored, incrementally-maintainable artifact; any segment
    // pair's full overlap report is three bitmap unions away — no
    // re-scan of the raw events. Scale: each aggregate is one hash
    // shuffle on (bucket), blob sizes bounded by the bucket width.
    "agg_bitmap_setops" -> ((s, dir) => {
      val ev = Tables.scan(s, dir, "events")
      val a = ev.filter(col("value") >= 100)
      val b = ev.filter(col("event_id") % 2 === 0)
      def cnt(df: DataFrame, name: String): DataFrame = df
        .groupBy(expr("bitmap_bucket_number(user_id)").as("bkt"))
        .agg(expr("bitmap_construct_agg(bitmap_bit_position(user_id))")
          .as("bm"))
        .agg(sum(expr("bitmap_count(bm)")).as(name))
      cnt(a, "n_a")
        .crossJoin(cnt(b, "n_b"))
        .crossJoin(cnt(a.unionByName(b), "n_union"))
        .select(col("n_a"), col("n_b"), col("n_union"),
          (col("n_a") + col("n_b") - col("n_union")).as("n_intersect"),
          (col("n_union") - col("n_b")).as("n_a_only"),
          (col("n_union") - col("n_a")).as("n_b_only"))
    }),

    // sketch-quality grade, FULLY ORACLED (was rows-only): the exact
    // distinct counts are cross-engine facts, and the sketches'
    // ≤5%-relative-error contracts become oracle-pinned BOOLEANS the
    // way agg_approx_percentile's ≤2% bounds already are — the estimate
    // VALUES are engine-specific (HLL register layout) and stay visible
    // in AggContractsSpec, which asserts the numeric bounds at two SFs.
    // The exact sides are single-shuffle countDistinct aggregates — the
    // comparison itself stays 100 TB-shaped; CMS heavy hitters already
    // self-report (agg_heavy_hitters_cms carries exact_cnt and est_cnt
    // side by side) and the quantile sketch's exact twin is the
    // order-statistics pass agg_median_exact grades.
    "agg_sketch_quality" -> ((s, dir) => {
      val cust = Tables.scan(s, dir, "orders").agg(
        countDistinct(col("o_custkey")).as("exact_cust"),
        approx_count_distinct(col("o_custkey"), 0.02).as("approx_cust"))
      val users = Tables.scan(s, dir, "events")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(hll_sketch_agg(col("user_id")).as("sk"))
        .agg(hll_sketch_estimate(hll_union_agg(col("sk")))
          .as("hll_est_users"))
      val exactUsers = Tables.scan(s, dir, "events")
        .agg(countDistinct(col("user_id")).as("exact_users"))
      cust.crossJoin(exactUsers).crossJoin(users).select(
        col("exact_cust"),
        (abs(col("approx_cust") - col("exact_cust")).cast("double")
          / col("exact_cust") <= 0.05).as("cust_est_ok"),
        col("exact_users"),
        (abs(col("hll_est_users") - col("exact_users")).cast("double")
          / col("exact_users") <= 0.05).as("users_est_ok"))
    }),

    // approx_percentile (mergeable quantile sketch — the distributed way
    // to get percentiles without a global sort): no DuckDB twin, so the
    // graded columns are the ≤2%-of-exact contracts as oracle-pinned
    // booleans (the exact side is Spark's own order-statistics
    // `percentile`, computed in the same plan — cross-engine float
    // interpolation never enters the hash); AggContractsSpec keeps the
    // numeric bounds at two scale factors
    "agg_approx_percentile" -> ((s, dir) => {
      Tables.scan(s, dir, "lineitem")
        .agg(count(lit(1)).as("n_rows"),
          percentile_approx(col("l_extendedprice"), lit(0.5), lit(10000))
            .as("p50a"),
          percentile_approx(col("l_extendedprice"), lit(0.99), lit(10000))
            .as("p99a"),
          expr("percentile(l_extendedprice, 0.5D)").as("p50e"),
          expr("percentile(l_extendedprice, 0.99D)").as("p99e"))
        .select(col("n_rows"),
          (abs(col("p50a") - col("p50e")) / col("p50e") <= 0.02)
            .as("p50_ok"),
          (abs(col("p99a") - col("p99e")) / col("p99e") <= 0.02)
            .as("p99_ok"))
    }),

    // op 19: rollup with subtotal rows (keys coalesced to sentinels so the
    // grouping-null vs data-null ambiguity never reaches the compare)
    "agg_rollup" -> ((s, dir) => {
      val o = Tables.scan(s, dir, "orders")
      val c = Tables.scan(s, dir, "customer")
      val n = Tables.scan(s, dir, "nation")
      o.join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .withColumn("yr", year(col("o_orderdate")).cast("long"))
        .rollup(col("n_name"), col("yr"))
        .agg(Dec.toDbl(sum(Dec.d2(col("o_totalprice")))).as("revenue"),
          count(lit(1)).as("n_orders"))
        .select(
          coalesce(col("n_name"), lit("ALL")).as("n_name"),
          coalesce(col("yr"), lit(-1L)).as("yr"),
          col("revenue"), col("n_orders"))
        .orderBy("n_name", "yr")
    }),

    // op 19b: cube — all grouping-set combinations
    "agg_cube" -> ((s, dir) => {
      Tables.scan(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          Dec.toDbl(sum(Dec.d2(col("o_totalprice")))).as("revenue"))
        .select(
          coalesce(col("o_orderstatus"), lit("ALL")).as("o_orderstatus"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("o_orderpriority"),
          col("n"), col("revenue"))
        .orderBy("o_orderstatus", "o_orderpriority")
    }),

    // op 19c: explicit GROUPING SETS — the general form rollup/cube are
    // sugar for: exactly the (status), (priority) marginals in ONE pass
    // (one shuffle, expand-then-aggregate), where two separate group-bys
    // would scan and shuffle twice
    "agg_grouping_sets" -> ((s, dir) => {
      Tables.scan(s, dir, "orders")
        .groupingSets(
          Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority"))),
          col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          Dec.toDbl(sum(Dec.d2(col("o_totalprice")))).as("revenue"))
        .select(
          coalesce(col("o_orderstatus"), lit("ALL")).as("o_orderstatus"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("o_orderpriority"),
          col("n"), col("revenue"))
        .orderBy("o_orderstatus", "o_orderpriority")
    }),

    // pivot — event counts per user bucketed by type as columns (the
    // wide-table reshape; compiles to conditional aggregation, one shuffle)
    "agg_pivot" -> ((s, dir) => {
      Tables.scan(s, dir, "events")
        .filter(col("user_id") < 50)
        .groupBy("user_id")
        .pivot("event_type", Seq("click", "view", "purchase"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy("user_id")
    }),

    // exact percentiles — median + p90 of order totals per status
    // (interpolated definition matches DuckDB quantile_cont; the
    // interpolation arithmetic is the same IEEE sequence in both engines)
    "agg_percentile" -> ((s, dir) => {
      Tables.scan(s, dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
          expr("percentile(o_totalprice, 0.5)").as("p50"),
          expr("percentile(o_totalprice, 0.9)").as("p90"))
        .orderBy("o_orderstatus")
    }),

    // custom Aggregator on the graded surface: quantity-weighted mean price
    // via the registered weighted_mean UDAF (graft.functions.Udx). Inputs
    // are integer-valued doubles (cents / centiquantities), so the double
    // accumulation is exact and order-independent below 2^53 — hash-stable
    // against the plain-SQL oracle despite being a custom agg.
    "agg_weighted" -> ((s, dir) => {
      graft.functions.Udx.register(s)
      Tables.scan(s, dir, "lineitem")
        .select(col("l_returnflag"),
          floor(col("l_extendedprice") * 100).cast("double").as("pc"),
          floor(col("l_quantity") * 100).cast("double").as("qc"))
        .groupBy("l_returnflag")
        .agg(expr("weighted_mean(pc, qc)").as("w_mean_price_cents"))
        .orderBy("l_returnflag")
    }),

    // equal-width histogram — the distribution-profiling primitive; bin
    // edges from exact integer floors so assignment is engine-identical
    "agg_histogram" -> ((s, dir) => {
      val cents = floor(col("value") * 100).cast("long")
      Tables.scan(s, dir, "events")
        .select(least(greatest(floor((cents - lit(-50000))
          / lit(5000.0)).cast("long"), lit(0L)), lit(19L)).as("bin"))
        .groupBy("bin").agg(count(lit(1)).as("n"))
        .orderBy("bin")
    }),

    // data-quality profile — per-column null/distinct/min/max, the first
    // thing any ingestion pipeline computes; one pass, all aggregates
    // partial+final
    "agg_profile" -> ((s, dir) => {
      Tables.scan(s, dir, "orders")
        .agg(
          count(lit(1)).as("n_rows"),
          count(col("o_custkey")).as("custkey_nonnull"),
          countDistinct(col("o_custkey")).as("custkey_distinct"),
          min(col("o_custkey")).as("custkey_min"),
          max(col("o_custkey")).as("custkey_max"),
          countDistinct(col("o_orderstatus")).as("status_distinct"),
          min(Dec.d2(col("o_totalprice"))).cast("double").as("price_min"),
          max(Dec.d2(col("o_totalprice"))).cast("double").as("price_max"),
          min(col("o_orderdate")).as("date_min"),
          max(col("o_orderdate")).as("date_max"))
    }),

    // op 20: threshold alert — sliding 6h/1h window sum over events, kept
    // only where the windowed sum exceeds the alert threshold (the
    // kafka_consumer_lag_sum > 1000 for 5m analog,
    // reference prometheus-rules.yaml:12-19)
    "agg_threshold" -> ((s, dir) => {
      // two-level regroup of the sliding window (guide §2.3 "aggregate
      // before you shuffle"): groupBy(window(ts, 6h, 1h)) explodes EVERY
      // event into its 6 containing windows before the exchange — 6× the
      // corpus through the shuffle. Both windows and hours are
      // epoch-aligned, so an event's 6 window-starts are exactly
      // trunc_hour(ts) − k·1h (k = 0..5): aggregate to hour grain first
      // (map-side combined, corpus-sized work happens once), then expand
      // the already-tiny hour partials ×6 and re-sum. DECIMAL partials
      // regroup exactly and a window has ≥1 event iff one of its 6 hours
      // does, so the result — and the oracle — is unchanged.
      val hourly = Tables.scan(s, dir, "events")
        .select(col("ts").cast("timestamp").as("ts"), col("value"))
        .groupBy(date_trunc("hour", col("ts")).as("hh"))
        .agg(sum(Dec.d2(col("value"))).as("part_dec"),
          count(lit(1)).as("nh"))
      hourly
        .select(explode(expr(
            "sequence(hh - interval 5 hours, hh, interval 1 hour)"))
            .as("ws0"),
          col("part_dec"), col("nh"))
        .groupBy(col("ws0"))
        .agg(sum(col("part_dec")).as("total_dec"), sum(col("nh")).as("n"))
        .filter(col("total_dec") > 5000)
        .select(
          col("ws0").cast("timestamp_ntz").as("ws"),
          Dec.toDbl(col("total_dec")).as("total"), col("n"))
        .orderBy("ws")
    }),

    // skew-hardened aggregation on the graded surface: the two-phase
    // salted sum/count ([[Skew.saltedSumCount]] — content-derived salt,
    // partial (key, salt) combine, then final per-key combine) must equal
    // the plain GROUP BY exactly — which is precisely what the oracle
    // checks, since the salting is invisible in the result. Decimal
    // accumulation keeps both phases exact, so the algebraic regroup
    // cannot drift.
    "agg_skew_salted" -> ((s, dir) => {
      Skew.saltedSumCount(
        Tables.scan(s, dir, "lineitem"),
        col("l_suppkey"), Dec.d2(col("l_quantity")), salts = 16)
        .select(col("k").as("l_suppkey"),
          Dec.toDbl(col("total")).as("total_qty"), col("n"))
        .orderBy("l_suppkey")
    }),

    // mode (most frequent value per group, smallest value wins ties) —
    // the classic two-stage distributed shape: count per (group, value),
    // then a per-group top-1 window; no value list is ever collected
    "agg_mode" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_orderstatus")
        .orderBy(col("cnt").desc, col("o_orderpriority"))
      Tables.scan(s, dir, "orders")
        .groupBy("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("cnt"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("o_orderstatus"),
          col("o_orderpriority").as("mode_priority"), col("cnt"))
        .orderBy("o_orderstatus")
    }),

    // EXACT median at scale — the order-statistic design the built-ins
    // lack: `percentile()` buffers every group value in the agg buffer
    // (OOM at 1e10-row groups) and `approx_percentile` is approximate.
    // Two bounded passes instead:
    //   1. histogram per (group, 65536-cent bucket) — one shuffle, output
    //      ≤ groups × ~160 rows;
    //   2. the driver walks each group's cumulative histogram to find the
    //      bucket(s) holding the two middle order statistics (bounded
    //      driver data, O(groups × buckets)); a second aggregation counts
    //      EXACT values only inside those buckets — per-group output
    //      bounded by the bucket width (≤ 65536 distinct cents), never by
    //      group size.
    // Median = avg of the two middle values (exact ints → the final
    // divide is one IEEE op, bit-identical to DuckDB's median()).
    "agg_median_exact" -> ((s, dir) => {
      import s.implicits._
      val bucketW = 65536L
      // both histogram passes read the same 2 narrow columns — the
      // session-shared [[liCents]] frame (also under agg_equidepth), so
      // the parquet scan + decimal cast is materialized once per rep
      val cents = liCents(s, dir)
      val hist = cents
        .groupBy(col("l_returnflag"), (col("y") / bucketW).cast("long")
          .as("b"))
        .agg(count(lit(1)).as("c"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      // per group: which order statistics do we need, and which buckets
      // hold them (cumulative walk over the bounded histogram)
      val targets = hist.groupBy(_._1).map { case (g, rows) =>
        val sorted = rows.sortBy(_._2)
        val n = sorted.map(_._3).sum
        val ks = if (n % 2 == 1) Seq((n + 1) / 2) else Seq(n / 2, n / 2 + 1)
        var cum = 0L
        val withCum = sorted.map { case (_, b, c) =>
          val below = cum; cum += c; (b, below, c)
        }
        val need = ks.map { k =>
          val (b, below, _) =
            withCum.find { case (_, below, c) => below < k && k <= below + c }.get
          (b, k, below)
        }
        g -> need
      }
      val wanted = targets.toSeq.flatMap { case (g, need) =>
        need.map(_._1).distinct.map(b => (g, b))
      }.toDF("l_returnflag", "b")
      // pass 2: exact per-value counts INSIDE the straddling buckets only
      val inBucket = cents
        .join(broadcast(wanted),
          cents("l_returnflag") === wanted("l_returnflag")
            && (cents("y") / bucketW).cast("long") === wanted("b"), "leftsemi")
        .groupBy(col("l_returnflag"), col("y"))
        .agg(count(lit(1)).as("c"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .groupBy(_._1)
      val medians = targets.toSeq.map { case (g, need) =>
        val vals = inBucket(g).sortBy(_._2)
        val picked = need.map { case (b, k, below) =>
          // resume the cumulative walk at the bucket's start and step
          // through its exact value counts until the k-th is covered
          var cum = below
          var ans = Option.empty[Long]
          for ((_, y, c) <- vals if y / bucketW == b && ans.isEmpty) {
            if (cum < k && k <= cum + c) ans = Some(y)
            cum += c
          }
          ans.getOrElse(sys.error(s"order statistic $k not found in $g/$b"))
        }
        (g, picked.sum.toDouble / picked.size)
      }
      medians.toDF("l_returnflag", "median_cents")
        .orderBy("l_returnflag")
    }),

    // EXACT equi-depth histogram (ANALYZE-grade statistics collection)
    // WITHOUT a global sort — the order-statistics pattern a CBO's stats
    // job needs at 100 TB. The naive form, one `ntile(B) OVER (ORDER BY
    // y)`, is the DuckDB oracle below; here the exact global rank is a
    // [[GlobalOrder]] rank and the tile is [[GlobalOrder.ntile0]], so
    // per-tile (n, min, max) hash-match the oracle's ntile exactly; ties
    // within a tile are order-ambiguous but the per-tile aggregates are
    // sorted-multiset positions — deterministic. min/max/count come in
    // one bounded 1-row aggregate (the accepted bounded-scalar seam).
    "agg_equidepth" -> ((s, dir) => {
      val B = 16
      // one parquet scan + decimal cast for the whole query: bounds, the
      // per-bucket counts, and the in-bucket rank all read the same
      // ~8-byte column — the session-shared [[liCents]] frame (also
      // under agg_median_exact), materialized once per rep
      val cents = liCents(s, dir).select("y")
      val bounds = cents.agg(min(col("y")), max(col("y")), count(lit(1))).head()
      // the count first: min and max are null on an empty input
      val n = bounds.getLong(2)
      require(n >= B, s"equi-depth needs at least $B rows, got $n")
      val (minY, maxY) = (bounds.getLong(0), bounds.getLong(1))
      val w = math.max(1L, (maxY - minY) / 4096 + 1)
      // ~4096 value-range buckets b = (y-min) div w are a prefix of y
      // order; equal values never straddle buckets
      GlobalOrder.prefixBefore(
          cents.withColumn("b", expr(s"(y - ${minY}L) div ${w}L")), "b",
          Seq(col("y")), lit(1L))
        .withColumn("tile", GlobalOrder.ntile0(col("before") + 1L, lit(n), B))
        .groupBy("tile")
        .agg(count(lit(1)).as("n_rows"),
          min(col("y")).as("lo_cents"), max(col("y")).as("hi_cents"))
        .orderBy("tile")
    }),

    // approximate heavy hitters via count-min sketch — the mergeable-
    // sketch answer to "top keys at 100 TB without a full groupBy
    // materialization": the sketch is built distributed (map-side
    // partials merge associatively inside the agg), only the fixed-size
    // sketch crosses to the driver, and candidate keys probe it. Seeded
    // → deterministic. ROWS-ONLY (DuckDB has no CMS); the contract spec
    // pins est ≥ exact (one-sided error) and est ≤ exact + εN.
    "agg_heavy_hitters_cms" -> ((s, dir) => {
      val li = Tables.scan(s, dir, "lineitem")
      // ONE eps constant for both the sketch and its graded bound —
      // a drift between the two would silently loosen (or falsely
      // tighten) the one-sided error contract
      val eps = 0.001
      val skRow = li.agg(
        expr(s"count_min_sketch(l_suppkey, ${eps}d, 0.99d, 42)").as("sk"))
        .head() // ONE fixed-size sketch row — bounded driver transfer
      val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(
        new java.io.ByteArrayInputStream(skRow.getAs[Array[Byte]](0)))
      val top = li.groupBy("l_suppkey").agg(count(lit(1)).as("exact_cnt"))
        .orderBy(col("exact_cnt").desc, col("l_suppkey")).limit(10)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      import s.implicits._
      // exact top-10 + exact counts are DuckDB-recomputable; the
      // engine-specific estimate grades as CMS's one-sided contract
      // (exact ≤ est ≤ exact + eps·N, N from the sketch itself) pinned
      // to true by the oracle — AggContractsSpec keeps the raw numbers
      val epsN = math.ceil(eps * cms.totalCount()).toLong
      top.map { case (k, exact) =>
        val est = cms.estimateCount(k)
        (k, exact, est >= exact && est <= exact + epsN)
      }.toSeq.toDF("l_suppkey", "exact_cnt", "est_ok")
        .orderBy("l_suppkey")
    }),

    // Pearson correlation computed DETERMINISTICALLY: built-in `corr`
    // streams doubles in partition order (not hash-stable), so the five
    // moments are accumulated as EXACT integers/decimals (quantity is
    // integral; price in cents). Per-ROW products fit Long comfortably
    // (x·y ≤ ~5e8, y² ≤ ~1e14), but the SUMS of everything touching y
    // ride DECIMAL so no group total can wrap Long at any corpus size
    // (at ~3e11 rows/group Σy ≈ 6e18 already grazes Long.MaxValue and
    // Σ(x·y)/Σy² exceed it); Spark widens decimal sums to (38,0).
    // The textbook formula is then one fixed tree of IEEE ops on
    // exactly-agreed operands — bit-identical cross-engine, map-side
    // combinable, one shuffle
    "agg_corr" -> ((s, dir) => {
      val x = col("l_quantity").cast("long")
      val y = (Dec.d2(col("l_extendedprice")) * 100).cast("long")
      Tables.scan(s, dir, "lineitem")
        .select(col("l_returnflag"), x.as("x"), y.as("y"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(col("x")).as("sx"),
          sum(col("y").cast("decimal(18,0)")).as("sy"),
          sum(col("x") * col("x")).as("sxx"),
          sum((col("x") * col("y")).cast("decimal(18,0)")).as("sxy"),
          sum(col("y").cast("decimal(18,0)") * col("y")).as("syy"))
        .select(col("l_returnflag"), col("n"),
          ((col("n").cast("double") * col("sxy").cast("double")
            - col("sx").cast("double") * col("sy").cast("double"))
            / (sqrt(col("n").cast("double") * col("sxx").cast("double")
                - col("sx").cast("double") * col("sx").cast("double"))
              * sqrt(col("n").cast("double") * col("syy").cast("double")
                - col("sy").cast("double") * col("sy").cast("double"))))
            .as("corr_qty_price"))
        .orderBy("l_returnflag")
    }))

  val oracles: Map[String, String] = Map(
    "agg_groupby" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sum_qty,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sum_base_price,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
        |       * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS VARCHAR) AS DOUBLE) AS sum_disc_price,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
        |       * (1 - CAST(l_discount AS DECIMAL(4,2)))
        |       * (1 + CAST(l_tax AS DECIMAL(4,2)))) AS VARCHAR) AS DOUBLE) AS sum_charge,
        |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) / COUNT(*) AS avg_qty,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) / COUNT(*) AS avg_price,
        |  CAST(CAST(SUM(CAST(l_discount AS DECIMAL(4,2))) AS VARCHAR) AS DOUBLE) / COUNT(*) AS avg_disc,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "agg_string_agg" ->
      """SELECT o_custkey,
        |  string_agg(o_orderpriority, '|' ORDER BY o_orderkey) AS prios,
        |  COUNT(*) AS n_orders
        |FROM orders
        |GROUP BY o_custkey
        |ORDER BY o_custkey""".stripMargin,

    "agg_weighted" ->
      """SELECT l_returnflag,
        |  SUM(floor(l_extendedprice * 100) * floor(l_quantity * 100))
        |    / SUM(floor(l_quantity * 100)) AS w_mean_price_cents
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    "agg_histogram" ->
      """SELECT least(greatest(CAST(floor(
        |    (CAST(floor(value * 100) AS BIGINT) - (-50000)) / 5000.0)
        |    AS BIGINT), 0), 19) AS bin,
        |  COUNT(*) AS n
        |FROM events GROUP BY bin ORDER BY bin""".stripMargin,

    "agg_profile" ->
      """SELECT COUNT(*) AS n_rows,
        |  COUNT(o_custkey) AS custkey_nonnull,
        |  COUNT(DISTINCT o_custkey) AS custkey_distinct,
        |  MIN(o_custkey) AS custkey_min,
        |  MAX(o_custkey) AS custkey_max,
        |  COUNT(DISTINCT o_orderstatus) AS status_distinct,
        |  CAST(MIN(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
        |    AS price_min,
        |  CAST(MAX(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
        |    AS price_max,
        |  MIN(o_orderdate) AS date_min,
        |  MAX(o_orderdate) AS date_max
        |FROM orders""".stripMargin,

    "agg_pivot" ->
      """SELECT user_id,
        |  COUNT(*) FILTER (event_type = 'click') AS "click",
        |  COUNT(*) FILTER (event_type = 'view') AS "view",
        |  COUNT(*) FILTER (event_type = 'purchase') AS "purchase"
        |FROM events WHERE user_id < 50
        |GROUP BY user_id ORDER BY user_id""".stripMargin,

    "agg_percentile" ->
      """SELECT o_orderstatus,
        |  quantile_cont(o_totalprice, 0.5) AS p50,
        |  quantile_cont(o_totalprice, 0.9) AS p90
        |FROM orders GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,

    "agg_distinct" ->
      """SELECT COUNT(DISTINCT o_custkey) AS n_cust,
        |  COUNT(DISTINCT o_orderpriority) AS n_prio,
        |  COUNT(DISTINCT (o_orderstatus, o_orderpriority)) AS n_status_prio
        |FROM orders""".stripMargin,

    "agg_approx_distinct" ->
      """SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_cust,
        |  true AS approx_ok
        |FROM orders""".stripMargin,

    "agg_hll_merge" ->
      """SELECT CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_shards,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
        |  true AS merge_close, true AS est_ok
        |FROM events""".stripMargin,

    "agg_approx_percentile" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  true AS p50_ok, true AS p99_ok
        |FROM lineitem""".stripMargin,

    // exact twin + the bucket-count fact (Spark's piecewise 1-based
    // 32768-wide bucketing: (x−1) div 32768 + 1 for x > 0, x div 32768
    // otherwise — ids include 0, which rides its own bucket 0)
    // exact sets restated with relational set ops; inclusion-exclusion
    // identities follow from exactness
    "agg_bitmap_setops" ->
      """WITH a AS (SELECT DISTINCT user_id FROM events WHERE value >= 100),
        |b AS (SELECT DISTINCT user_id FROM events WHERE event_id % 2 = 0),
        |u AS (SELECT user_id FROM a UNION SELECT user_id FROM b)
        |SELECT
        |  CAST((SELECT COUNT(*) FROM a) AS BIGINT) AS n_a,
        |  CAST((SELECT COUNT(*) FROM b) AS BIGINT) AS n_b,
        |  CAST((SELECT COUNT(*) FROM u) AS BIGINT) AS n_union,
        |  CAST((SELECT COUNT(*) FROM a) + (SELECT COUNT(*) FROM b)
        |    - (SELECT COUNT(*) FROM u) AS BIGINT) AS n_intersect,
        |  CAST((SELECT COUNT(*) FROM u) - (SELECT COUNT(*) FROM b)
        |    AS BIGINT) AS n_a_only,
        |  CAST((SELECT COUNT(*) FROM u) - (SELECT COUNT(*) FROM a)
        |    AS BIGINT) AS n_b_only""".stripMargin,

    // the maintained view restated as direct distincts over each slice
    "agg_bitmap_ivm" ->
      """SELECT event_type,
        |  CAST(COUNT(DISTINCT CASE WHEN event_id % 5 <> 0
        |    THEN user_id END) AS BIGINT) AS n_base,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_after,
        |  CAST(COUNT(DISTINCT user_id)
        |    - COUNT(DISTINCT CASE WHEN event_id % 5 <> 0
        |        THEN user_id END) AS BIGINT) AS n_new
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // the rollup restated as plain COUNT(DISTINCT) at each grain —
    // the bitmap merges must agree with the direct distincts exactly
    "agg_bitmap_rollup" ->
      """WITH d AS (SELECT 'day' AS grain, event_type,
        |    CAST(CAST(ts AS DATE) AS VARCHAR) AS period,
        |    CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        |  FROM events GROUP BY 2, 3),
        |m AS (SELECT 'month' AS grain, event_type,
        |    CAST(CAST(date_trunc('month', ts) AS DATE) AS VARCHAR)
        |      AS period,
        |    CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        |  FROM events GROUP BY 2, 3),
        |a AS (SELECT 'all' AS grain, event_type, 'all' AS period,
        |    CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        |  FROM events GROUP BY 2)
        |SELECT * FROM d UNION ALL SELECT * FROM m
        |UNION ALL SELECT * FROM a
        |ORDER BY grain, event_type, period""".stripMargin,

    "agg_bitmap_distinct" ->
      """SELECT event_type,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
        |  CAST(COUNT(DISTINCT CASE WHEN user_id > 0
        |    THEN (user_id - 1) // 32768 + 1
        |    ELSE user_id // 32768 END) AS BIGINT) AS n_buckets
        |FROM events GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    "agg_sketch_quality" ->
      """SELECT
        |  (SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) FROM orders)
        |    AS exact_cust,
        |  true AS cust_est_ok,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
        |  true AS users_est_ok
        |FROM events""".stripMargin,

    "agg_heavy_hitters_cms" ->
      """WITH t AS (SELECT l_suppkey, COUNT(*) AS exact_cnt
        |  FROM lineitem GROUP BY l_suppkey
        |  ORDER BY exact_cnt DESC, l_suppkey LIMIT 10)
        |SELECT l_suppkey, CAST(exact_cnt AS BIGINT) AS exact_cnt,
        |  true AS est_ok
        |FROM t ORDER BY l_suppkey""".stripMargin,

    "agg_rollup" ->
      """SELECT COALESCE(n_name, 'ALL') AS n_name,
        |  COALESCE(yr, -1) AS yr,
        |  CAST(CAST(SUM(sum_dec) AS VARCHAR) AS DOUBLE) AS revenue,
        |  CAST(SUM(cnt) AS BIGINT) AS n_orders
        |FROM (
        |  SELECT n_name, year(o_orderdate) AS yr,
        |    SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS sum_dec,
        |    COUNT(*) AS cnt
        |  FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY n_name, yr)
        |GROUP BY ROLLUP(n_name, yr)
        |ORDER BY n_name, yr""".stripMargin,

    "agg_cube" ->
      """SELECT COALESCE(o_orderstatus, 'ALL') AS o_orderstatus,
        |  COALESCE(o_orderpriority, 'ALL') AS o_orderpriority,
        |  COUNT(*) AS n,
        |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS revenue
        |FROM orders
        |GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus, o_orderpriority""".stripMargin,

    "agg_threshold" ->
      """SELECT ws, CAST(CAST(total_dec AS VARCHAR) AS DOUBLE) AS total, n FROM (
        |  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) - i * INTERVAL 1 HOUR AS ws,
        |    SUM(CAST(value AS DECIMAL(12,2))) AS total_dec,
        |    COUNT(*) AS n
        |  FROM events
        |  CROSS JOIN generate_series(0, 5) t(i)
        |  GROUP BY ws)
        |WHERE total_dec > 5000
        |ORDER BY ws""".stripMargin,

    "agg_grouping_sets" ->
      """SELECT COALESCE(o_orderstatus, 'ALL') AS o_orderstatus,
        |  COALESCE(o_orderpriority, 'ALL') AS o_orderpriority,
        |  COUNT(*) AS n,
        |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS VARCHAR)
        |    AS DOUBLE) AS revenue
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        |ORDER BY o_orderstatus, o_orderpriority""".stripMargin,

    "agg_skew_salted" ->
      """SELECT l_suppkey,
        |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS VARCHAR)
        |    AS DOUBLE) AS total_qty,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin,

    "agg_mode" ->
      """WITH c AS (SELECT o_orderstatus, o_orderpriority,
        |    COUNT(*) AS cnt FROM orders
        |  GROUP BY o_orderstatus, o_orderpriority),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderstatus
        |    ORDER BY cnt DESC, o_orderpriority) AS rn FROM c)
        |SELECT o_orderstatus, o_orderpriority AS mode_priority, cnt
        |FROM r WHERE rn = 1 ORDER BY o_orderstatus""".stripMargin,

    "agg_median_exact" ->
      """SELECT l_returnflag,
        |  CAST(median(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100
        |    AS BIGINT)) AS DOUBLE) AS median_cents
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    // the naive single-window form the Spark side deliberately avoids
    "agg_equidepth" ->
      """WITH y AS (SELECT CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100
        |    AS BIGINT) AS y FROM lineitem),
        |t AS (SELECT y, ntile(16) OVER (ORDER BY y) AS t1 FROM y)
        |SELECT CAST(t1 - 1 AS BIGINT) AS tile, COUNT(*) AS n_rows,
        |  MIN(y) AS lo_cents, MAX(y) AS hi_cents
        |FROM t GROUP BY t1 ORDER BY tile""".stripMargin,

    "agg_corr" ->
      """WITH t AS (SELECT l_returnflag,
        |    CAST(l_quantity AS BIGINT) AS x,
        |    CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)
        |      AS y
        |  FROM lineitem),
        |m AS (SELECT l_returnflag, COUNT(*) AS n,
        |    CAST(SUM(x) AS BIGINT) AS sx,
        |    SUM(CAST(y AS DECIMAL(18,0))) AS sy,
        |    CAST(SUM(x * x) AS BIGINT) AS sxx,
        |    SUM(CAST(x * y AS DECIMAL(18,0))) AS sxy,
        |    SUM(CAST(y AS DECIMAL(18,0)) * y) AS syy
        |  FROM t GROUP BY l_returnflag)
        |SELECT l_returnflag, n,
        |  (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |  / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |    * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
        |    AS corr_qty_price
        |FROM m ORDER BY l_returnflag""".stripMargin)

  /** `(l_returnflag, y)` — lineitem extendedprice in exact cents,
    * materialized once per (session, corpus): agg_median_exact reads it
    * for two histogram passes and agg_equidepth for three (bounds,
    * bucket counts, in-bucket rank) — previously each query paid its own
    * localCheckpoint of the same scan+decimal-cast. */
  private def liCents(
      s: SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    graft.BoundedDfCache.getOrPersist(s, s"agg:licents:$dir") {
      Tables.scan(s, dir, "lineitem")
        .select(col("l_returnflag"),
          (Dec.d2(col("l_extendedprice")) * 100).cast("long").as("y"))
    }

  /** Warm-start targets (see [[graft.Prewarm]]). */
  override def prewarm: Seq[graft.Prewarm.Task] = Seq(
    graft.Prewarm.Task("agg:licents", 0.4,
      (s, d) => { liCents(s, d); () }))

}
