package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, Join}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning

/** The 100×-scale guarantees of the flagship query plans, proven by plan
  * inspection instead of prose: filters reach the scans, dimension joins
  * broadcast (the fact side never shuffles for a join), the
  * decontamination join carries NO forced-broadcast hint of its
  * fraction-sized side, and the resample spine is distributed.
  *
  * AQE is disabled per-assertion so `executedPlan` is the full static
  * plan — the assertions are about what Catalyst commits to at ANY scale,
  * not what AQE happens to rewrite at test-fixture sizes.
  */
class PlanSpec extends SparkSpec {

  /** Build `SparkEntry.queries(name)` with AQE off and return its static
    * physical plan (plus the frame for logical-plan checks). */
  private def staticPlan(name: String): (DataFrame, SparkPlan) = {
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = SparkEntry.queries(name)(spark, sfDir)
      (df, df.queryExecution.executedPlan)
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("join_broadcast: lineitem never shuffles for a join — all dims broadcast") {
    val (_, plan) = staticPlan("join_broadcast")
    val bhj = plan.collect { case j: BroadcastHashJoinExec => j }
    val smj = plan.collect { case j: SortMergeJoinExec => j }
    val shj = plan.collect { case j: ShuffledHashJoinExec => j }
    assert(bhj.size == 3 && smj.isEmpty && shj.isEmpty,
      s"dim chain must be 3 broadcast joins, got $plan")
    // the ONLY hash shuffle is the final aggregate's — the fact table
    // flows scan → 3 map-side joins → partial agg without an exchange
    val hashShuffles = plan.collect {
      case e: ShuffleExchangeExec
          if e.outputPartitioning.isInstanceOf[HashPartitioning] => e
    }
    assert(hashShuffles.size == 1,
      s"expected exactly the aggregate shuffle, got:\n$plan")
    // and that shuffle carries PRE-AGGREGATED rows (partial agg below it),
    // not fact-width rows — the map-side-combine guarantee
    assert(hashShuffles.head.collectFirst {
        case a: HashAggregateExec => a
      }.nonEmpty,
      s"aggregate shuffle must sit above a partial HashAggregate:\n$plan")
  }

  test("join_multiway: every filter is pushed into its scan, below the joins") {
    val (_, plan) = staticPlan("join_multiway")
    val s = plan.toString
    // the three selective predicates reach the parquet readers
    // (PushedFilters in the scan metadata), so at 100 TB each table is
    // pruned by rowgroup stats before a single join row materializes
    assert(s.contains("EqualTo(c_mktsegment,BUILDING)"),
      s"customer filter not pushed:\n$s")
    assert(s.contains("LessThan(o_orderdate"), s"orders filter not pushed:\n$s")
    assert(s.contains("GreaterThan(l_shipdate"),
      s"lineitem filter not pushed:\n$s")
    // no Filter operator evaluates ABOVE a join — filtering after joining
    // would mean shuffling rows the predicate was going to discard
    val joins = plan.collect {
      case j: BroadcastHashJoinExec => j: SparkPlan
      case j: SortMergeJoinExec => j: SparkPlan
      case j: ShuffledHashJoinExec => j: SparkPlan
    }
    assert(joins.nonEmpty)
    val filtersAboveJoins = plan.collect {
      case f: org.apache.spark.sql.execution.FilterExec
          if f.collectFirst {
            case j: BroadcastHashJoinExec => j
            case j: SortMergeJoinExec => j
            case j: ShuffledHashJoinExec => j
          }.nonEmpty => f
    }
    assert(filtersAboveJoins.isEmpty,
      s"filters must stay below the joins:\n$plan")
  }

  test("pipeline_contamination: no forced broadcast of the fraction-sized split") {
    // the held-out side is a fixed FRACTION of the corpus — a broadcast
    // hint would force terabytes through the driver at the design scale.
    // Assert no join in the optimized plan carries a BROADCAST hint on
    // either side (a size-based AQE broadcast at toy scale is fine — it
    // is size-gated, which is exactly the scale-safe behavior).
    val (df, plan) = staticPlan("pipeline_contamination")
    val hinted = df.queryExecution.optimizedPlan.collect {
      case j: Join
          if j.hint.leftHint.exists(_.strategy.contains(BROADCAST)) ||
            j.hint.rightHint.exists(_.strategy.contains(BROADCAST)) => j
    }
    assert(hinted.isEmpty, s"broadcast hint found on the split join:\n" +
      df.queryExecution.optimizedPlan)
    // with size-based broadcast disabled the plan must still be viable —
    // a pure shuffle join on the shingle key (both sides clustered by s)
    val prevT = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    val prevA = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = SparkEntry.queries("pipeline_contamination")(spark, sfDir)
        .queryExecution.executedPlan
      assert(p.collect { case j: BroadcastHashJoinExec => j }.isEmpty &&
        p.collect {
          case j: SortMergeJoinExec => j: SparkPlan
          case j: ShuffledHashJoinExec => j: SparkPlan
        }.nonEmpty,
        s"split join must be a shuffle join when broadcast is off:\n$p")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevT)
      spark.conf.set("spark.sql.adaptive.enabled", prevA)
    }
  }

  test("join_skew_salted: the join actually distributes on (key, salt)") {
    // the operator's whole claim: a hot l_suppkey's rows spread across
    // `salts` shuffle partitions. With broadcast off (the regime salting
    // exists for — a dim too big to broadcast) the shuffle join's
    // exchanges must hash on BOTH the key and the salt column.
    val prevT = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    val prevA = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = SparkEntry.queries("join_skew_salted")(spark, sfDir)
        .queryExecution.executedPlan
      val saltedParts = plan.collect {
        case e: ShuffleExchangeExec => e.outputPartitioning
      }.collect {
        case hp: HashPartitioning
            if hp.expressions.exists(_.references.exists(_.name.endsWith("suppkey")))
              && hp.expressions.exists(_.references.exists(_.name == "_salt")) => hp
      }
      // both join sides repartition on (suppkey, _salt)
      assert(saltedParts.size == 2,
        s"expected 2 (key, salt) exchanges, got ${saltedParts.size}:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevT)
      spark.conf.set("spark.sql.adaptive.enabled", prevA)
    }
  }

  test("ts_resample: the minute spine is redistributed, not one task") {
    val (_, plan) = staticPlan("ts_resample")
    // the spine repartition shows up as a hash exchange on m ALONE (the
    // gap-fill join's exchange hashes (event_type, m) and starts with
    // event_type, so the substring is unambiguous)
    assert(plan.toString.contains("Exchange hashpartitioning(m#"),
      s"spine must be redistributed after the explode:\n$plan")
  }

  test("pipeline_forget: the request-bounded deletion set broadcasts " +
      "through the whole FK cascade") {
    // the mirror image of the contamination assertion: a limit(k) request
    // set is bounded by construction, so BOTH semi-joins must be
    // broadcast joins — the fact tables never shuffle for the cascade
    val (_, plan) = staticPlan("pipeline_forget")
    val bhj = plan.collect { case j: BroadcastHashJoinExec => j }
    val shuffled = plan.collect {
      case j: SortMergeJoinExec => j: SparkPlan
      case j: ShuffledHashJoinExec => j: SparkPlan
    }
    assert(bhj.size >= 2 && shuffled.isEmpty,
      s"forget cascade must be broadcast semi-joins only:\n$plan")
  }

  test("text_pii: the scrub pass is map-side — no hash exchange at all") {
    val (_, plan) = staticPlan("text_pii")
    val hashShuffles = plan.collect {
      case e: ShuffleExchangeExec
          if e.outputPartitioning.isInstanceOf[HashPartitioning] => e
    }
    // the only exchange is the harness ORDER BY's range partition
    assert(hashShuffles.isEmpty,
      s"PII redaction must not shuffle:\n$plan")
  }

  test("curate_chunk_cdc: content-defined chunking is map-side — " +
      "no hash exchange at all") {
    val (_, plan) = staticPlan("curate_chunk_cdc")
    val hashShuffles = plan.collect {
      case e: ShuffleExchangeExec
          if e.outputPartitioning.isInstanceOf[HashPartitioning] => e
    }
    // boundary hash, chunk pairing, slice+md5 are all per-document HOFs;
    // the only exchanges are scanPar's round-robin widening and the
    // harness ORDER BY's range partition
    assert(hashShuffles.isEmpty,
      s"content-defined chunking must not shuffle:\n$plan")
  }

  test("ts_interval_merge: lag, running sum, and the interval rollup " +
      "share one user_id exchange") {
    val (_, plan) = staticPlan("ts_interval_merge")
    val hashShuffles = plan.collect {
      case e: ShuffleExchangeExec
          if e.outputPartitioning.isInstanceOf[HashPartitioning] => e
    }
    assert(hashShuffles.size == 1,
      s"expected a single user_id exchange:\n$plan")
  }

  test("curate_pack_shards: the corpus prefix sum is partitioned, " +
      "only the bucket-subtotal window is global") {
    val (_, plan) = staticPlan("curate_pack_shards")
    val windows = plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.size == 2, s"expected local + bucket windows:\n$plan")
    val (global, partitioned) = windows.partition(_.partitionSpec.isEmpty)
    // exactly one window runs unpartitioned — and it must be the one over
    // the per-bucket subtotals (its frame sums `n`), never the
    // corpus-sized per-document window (which sums raw `tokens` and must
    // be partitioned by bucket)
    assert(global.size == 1 && partitioned.size == 1,
      s"one global (bucket subtotals) + one partitioned window:\n$plan")
    assert(global.head.windowExpression.mkString.contains("n#"),
      s"the global window must be over bucket subtotals only:\n$plan")
    assert(partitioned.head.partitionSpec.mkString.contains("bucket"),
      s"the per-document window must be partitioned by bucket:\n$plan")
  }

  test("curate_select_budget: the score-ordered token prefix sum is " +
      "partitioned by band, only the band-subtotal window is global") {
    val (_, plan) = staticPlan("curate_select_budget")
    val windows = plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.size == 2, s"expected local + band windows:\n$plan")
    val (global, partitioned) = windows.partition(_.partitionSpec.isEmpty)
    assert(global.size == 1 && partitioned.size == 1,
      s"one global (band subtotals) + one partitioned window:\n$plan")
    // the global window may only see the ≤~20-row band-subtotal table
    // (it sums `n`); the corpus-sized per-document running sum must be
    // partitioned by the score band
    assert(global.head.windowExpression.mkString.contains("n#")
      || global.head.windowExpression.mkString.contains("(n "),
      s"the global window must be over band subtotals only:\n$plan")
    assert(partitioned.head.partitionSpec.mkString.contains("band"),
      s"the per-document window must be partitioned by band:\n$plan")
  }

  test("dedup_substring: the islands window's partitioning is reused " +
      "by the run aggregate") {
    // the run-length groupBy keys (da, db, diag, grp) are a SUPERSET of
    // the islands window's partition keys (da, db, diag), so Catalyst
    // must NOT insert another corpus-scale exchange between them — no
    // hash exchange in the plan partitions on the derived `grp` column.
    // Asserted on the UNCACHED run-table build: the graded queries read
    // it through the materialize-once seam (substringRuns), where the
    // build plan hides inside an InMemoryRelation. Evict first — if
    // another suite already persisted the run table, the CacheManager
    // plan-matches this fresh build and substitutes the cached relation,
    // hiding the exchanges again (suite-order dependency otherwise)
    graft.BoundedDfCache.clearGraded()
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val plan =
      try graft.operators.DedupQueries.buildSubstringRuns(spark, sfDir)
        .queryExecution.executedPlan
      finally spark.conf.set("spark.sql.adaptive.enabled", prev)
    val hashParts = plan.collect {
      case e: ShuffleExchangeExec => e.outputPartitioning
    }.collect { case h: HashPartitioning => h.expressions.mkString(",") }
    assert(hashParts.exists(_.contains("diag")),
      s"expected the islands window exchange on (da, db, diag):\n$plan")
    assert(!hashParts.exists(_.contains("grp")),
      s"the run aggregate must reuse the window's partitioning:\n$plan")
  }

  test("ts_rolling_distinct: the 7x expansion runs on the DEDUPED " +
      "user-day grain, and the observed-day filter is a broadcast join") {
    val (_, plan) = staticPlan("ts_rolling_distinct")
    // the one corpus-sized pass is the user-day dedup; the explode must
    // sit ABOVE an aggregate (the dedup), never directly on the scan —
    // expanding the raw log 7x would be the data-sized mistake
    val gens = plan.collect {
      case g: org.apache.spark.sql.execution.GenerateExec => g
    }
    assert(gens.nonEmpty, s"expected the sequence explode:\n$plan")
    assert(gens.forall(_.collectFirst {
        case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec
          => a
      }.nonEmpty),
      s"the explode must expand the deduped user-day table, not the " +
        s"raw event scan:\n$plan")
    val bhj = plan.collect { case j: BroadcastHashJoinExec => j }
    assert(bhj.nonEmpty,
      s"the observed-day semi filter must broadcast the day axis:\n$plan")
  }

  test("alert_burn_rate: one corpus-sized aggregate, the 6h frame on " +
      "the bounded hour axis, and the top-20 as a TakeOrdered") {
    val (_, plan) = staticPlan("alert_burn_rate")
    // the global range-frame window is fine HERE because its input is
    // the hour axis (≤ span-hours rows), not the corpus — same bounded-
    // axis contract as the other alert rules; what must NOT appear is a
    // second corpus-sized exchange beyond the hourly aggregate's
    val windows = plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty, s"expected the 6h range frame:\n$plan")
    assert(plan.collect {
        case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec
          => t
      }.nonEmpty,
      s"orderBy+limit(20) must plan as TakeOrderedAndProject, not a " +
        s"global sort:\n$plan")
    val hashShuffles = plan.collect {
      case e: ShuffleExchangeExec
          if e.outputPartitioning.isInstanceOf[HashPartitioning] => e
    }
    assert(hashShuffles.size <= 1,
      s"only the hourly aggregate may hash-shuffle the corpus:\n$plan")
  }

  test("curate_shuffle: the corpus rank is partitioned, " +
      "only the bucket-offset window is global") {
    // same two-phase contract as pack_shards: the per-document row_number
    // runs partitioned by hash bucket; the single global window is over
    // the ≤256-row bucket-count table (sums `n`), never the corpus
    val (_, plan) = staticPlan("curate_shuffle")
    val windows = plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    val (global, partitioned) = windows.partition(_.partitionSpec.isEmpty)
    assert(global.size == 1 && partitioned.size == 1,
      s"one global (bucket offsets) + one partitioned window:\n$plan")
    assert(global.head.windowExpression.mkString.contains("n#"),
      s"the global window must be over bucket counts only:\n$plan")
    assert(partitioned.head.partitionSpec.mkString.contains("bucket"),
      s"the per-document rank must be partitioned by bucket:\n$plan")
  }

  test("curate_interleave: per-lang rank and per-bucket position are " +
      "partitioned; only the bucket-offset window is global") {
    val (_, plan) = staticPlan("curate_interleave")
    val windows = plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    // the lang-rank window lives BEHIND the localCheckpoint (it feeds
    // both branches, so it is materialized once and does not reappear
    // here); downstream, only the bucket-partitioned position window and
    // the thin bucket-offset global window remain
    val (global, partitioned) = windows.partition(_.partitionSpec.isEmpty)
    assert(global.size == 1 && partitioned.size == 1,
      s"one global (bucket offsets) + one partitioned window:\n$plan")
    assert(global.head.windowExpression.mkString.contains("n#"),
      s"the global window must be over bucket counts only:\n$plan")
    assert(partitioned.head.partitionSpec.mkString.contains("bucket"),
      s"the position rank must be partitioned by vt bucket:\n$plan")
  }

  test("alert_availability: every islands window is partitioned by the " +
      "rule key — monitoring series never funnel into one task") {
    val (_, plan) = staticPlan("alert_availability")
    val windows = plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty)
    windows.foreach { w =>
      assert(w.partitionSpec.nonEmpty &&
        w.partitionSpec.mkString.contains("connector"),
        s"islands row_number must partition by connector:\n$plan")
    }
  }

  test("join_bloom_prune: the Bloom probe filters BELOW the probe-side " +
      "exchange, and the join is the shuffle shape it would be at scale") {
    val (_, plan) = staticPlan("join_bloom_prune")
    // the hint pins the shuffle-hash join — the regime this operator
    // exists for (build past the broadcast threshold); no broadcast join
    val shj = plan.collect { case j: ShuffledHashJoinExec => j }
    assert(shj.size == 1 &&
      plan.collect { case j: BroadcastHashJoinExec => j }.isEmpty,
      s"expected one shuffled-hash join:\n$plan")
    // the bloom_might_contain Filter sits in the probe subtree UNDER the
    // join's exchange: non-matching probe rows die before shuffling
    val exchangesWithBloomBelow = plan.collect {
      case e: ShuffleExchangeExec
          if e.collectFirst {
            case f: org.apache.spark.sql.execution.FilterExec
                if f.condition.toString.contains("bloom_might_contain") => f
          }.nonEmpty => e
    }
    assert(exchangesWithBloomBelow.nonEmpty,
      s"bloom probe must prune below the probe exchange:\n$plan")
    // and nothing bloom-probes ABOVE a join (that would shuffle first,
    // prune after — the exact cost the operator deletes)
    val bloomAboveJoin = plan.collect {
      case f: org.apache.spark.sql.execution.FilterExec
          if f.condition.toString.contains("bloom_might_contain") &&
            f.collectFirst { case j: ShuffledHashJoinExec => j }.nonEmpty => f
    }
    assert(bloomAboveJoin.isEmpty, s"bloom probe above the join:\n$plan")
  }

  test("join_colocated: the bucketed layout IS the exchange — no shuffle " +
      "below the join") {
    // broadcast off so the join strategy question is real (the toy-scale
    // dim would otherwise broadcast and trivially show no exchange)
    val prevT = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    val prevA = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = SparkEntry.queries("join_colocated")(spark, sfDir)
        .queryExecution.executedPlan
      val joins = plan.collect {
        case j: SortMergeJoinExec => j: SparkPlan
        case j: ShuffledHashJoinExec => j: SparkPlan
      }
      assert(joins.size == 1, s"expected one shuffle-strategy join:\n$plan")
      // nothing below the join exchanges — the bucketed layout already
      // satisfies the join's distribution requirement on both sides, so
      // the only exchange in the whole plan is the aggregate's (above
      // the join). A partition-LOCAL SortExec may remain: Spark ≥3 no
      // longer reports bucket sort order from sortBy metadata
      // (legacy-conf-gated), and a local sort is linear with no data
      // movement — the deleted exchanges are the scale claim.
      val below = joins.head.collect {
        case e: ShuffleExchangeExec => e: SparkPlan
      }
      assert(below.isEmpty,
        s"bucketed join must not re-exchange its inputs:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevT)
      spark.conf.set("spark.sql.adaptive.enabled", prevA)
    }
  }

  test("bloom prune rejects non-integral keys loudly (a string key would " +
      "silently drop every matching row)") {
    val docs = graft.sources.Tables.scan(spark, sfDir, "documents")
    val ex = intercept[IllegalArgumentException] {
      graft.operators.BloomJoin.prunedEquiJoin(docs, docs, "lang", "lang", 10)
    }
    assert(ex.getMessage.contains("integral"))
  }

  test("cdc_outbox: the router is a pure map — no hash exchange anywhere") {
    val (_, plan) = staticPlan("cdc_outbox")
    // projection + filter over the (cached) parsed feed; the only
    // exchange in the whole plan is the harness's final range sort —
    // the routed stream keeps the broker's keyed partitioning, which is
    // the property a per-aggregate re-publish needs at any scale
    val hashShuffles = plan.collect {
      case e: ShuffleExchangeExec
          if e.outputPartitioning.isInstanceOf[HashPartitioning] => e
    }
    assert(hashShuffles.isEmpty,
      s"outbox routing must not shuffle, got:\n$plan")
  }

  test("cdc_incremental_snapshot: the watermark merge IS the standard " +
      "group-limit compaction — partial/final pair, one keyed exchange") {
    val (_, plan) = staticPlan("cdc_incremental_snapshot")
    val gl = plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowGroupLimitExec => w
    }
    // Partial (map-side, drops all but the newest row per key per task)
    // + Final — the shuffle moves ~|keys| rows, not |chunks ∪ stream|
    assert(gl.size == 2,
      s"expected the WindowGroupLimit partial/final pair, got:\n$plan")
    val hashShuffles = plan.collect {
      case e: ShuffleExchangeExec
          if e.outputPartitioning.isInstanceOf[HashPartitioning] => e
    }
    assert(hashShuffles.size == 1,
      s"expected exactly the compaction exchange, got:\n$plan")
  }

  test("cdc_shard_merge: the compaction key is the COMPOUND " +
      "(physical, PK) — the enrichment that stops cross-tenant merges") {
    val (_, plan) = staticPlan("cdc_shard_merge")
    val hashShuffles = plan.collect {
      case e: ShuffleExchangeExec
          if e.outputPartitioning.isInstanceOf[HashPartitioning] => e
    }
    assert(hashShuffles.size == 1,
      s"expected exactly the compaction exchange, got:\n$plan")
    val keys = hashShuffles.head.outputPartitioning
      .asInstanceOf[HashPartitioning].expressions.map(_.toString)
    assert(keys.exists(_.contains("_topic")) &&
      keys.exists(_.contains("o_orderkey")),
      s"compaction must partition on (_topic, o_orderkey), got $keys")
  }

  test("bloom prune is one-sided: no matching probe row is lost, " +
      "pruning actually reduces the shuffled volume") {
    import org.apache.spark.sql.functions._
    val build = graft.sources.Tables.scan(spark, sfDir, "customer")
      .filter(col("c_mktsegment") === "BUILDING")
    val probe = graft.sources.Tables.scan(spark, sfDir, "orders")
    val bf = build.stat.bloomFilter("c_custkey", build.count(), 0.01)
    val pruned = probe.filter(
      graft.functions.VectorFunctions.bloomMightContain(col("o_custkey"), bf))
    val exact = probe.join(build,
      probe("o_custkey") === build("c_custkey"), "left_semi")
    val (nProbe, nPruned, nExact) =
      (probe.count(), pruned.count(), exact.count())
    // false negatives are impossible …
    assert(nPruned >= nExact,
      s"bloom dropped matching rows: pruned=$nPruned exact=$nExact")
    // … and the fixture's ~4/5 non-matching segment rows mostly die
    // map-side (1% fpp ⇒ survivors ≈ exact + 1% of the rest)
    assert(nPruned <= nExact + (nProbe - nExact) / 10,
      s"bloom pruned too little: probe=$nProbe pruned=$nPruned exact=$nExact")
  }

  test("dedup_sorted_neighbors: the corpus rank is partitioned, only the " +
      "bucket-offset window is global, and pairing is an equi-join") {
    // the rank build is asserted at its builder seam — in the graded
    // query it sits behind a localCheckpoint (it feeds both pairing
    // sides; Catalyst has no common-subplan reuse)
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val rankPlan =
      try graft.operators.DedupQueries.sortedNeighborRank(spark, sfDir)
        .queryExecution.executedPlan
      finally spark.conf.set("spark.sql.adaptive.enabled", prev)
    val windows = rankPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    val (global, partitioned) = windows.partition(_.partitionSpec.isEmpty)
    assert(global.size == 1 && partitioned.size == 1,
      s"one global (bucket offsets) + one partitioned window:\n$rankPlan")
    assert(global.head.windowExpression.mkString.contains("n#"),
      s"the global window must be over bucket counts only:\n$rankPlan")
    assert(partitioned.head.partitionSpec.mkString.contains("bucket"),
      s"the per-document rank must be partitioned by bucket:\n$rankPlan")
    // the ±w pairing is an explode + EQUI-join on rank — a rank-range
    // predicate would plan as BroadcastNestedLoop/cartesian and blow up
    // at corpus scale; asserted on the full graded plan (the checkpointed
    // rank arrives as a leaf, so every join here is the pairing/verify)
    val (_, plan) = staticPlan("dedup_sorted_neighbors")
    val bnlj = plan.collect {
      case j: org.apache.spark.sql.execution.joins
        .BroadcastNestedLoopJoinExec => j
    }
    val cart = plan.collect {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }
    assert(bnlj.isEmpty && cart.isEmpty,
      s"window pairing must stay an equi-join:\n$plan")
  }

  test("join_interval_bucketed: containment runs as a bucketed equi-join " +
      "— never a nested-loop or cartesian plan") {
    val (_, plan) = staticPlan("join_interval_bucketed")
    val bnlj = plan.collect {
      case j: org.apache.spark.sql.execution.joins
        .BroadcastNestedLoopJoinExec => j
    }
    val cart = plan.collect {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }
    assert(bnlj.isEmpty && cart.isEmpty,
      s"interval containment must ride the hour-bucket equi-join:\n$plan")
    val equi = plan.collect {
      case j: SortMergeJoinExec => j
      case j: ShuffledHashJoinExec => j
      case j: BroadcastHashJoinExec => j
    }
    assert(equi.nonEmpty, s"expected an equi-join on the hour bucket:\n$plan")
  }

  test("join_interval_bucketed skew routing: the graded corpus stays on " +
      "the cold (plain) path with wide headroom, and a flash-crowd hour " +
      "takes the salted path with identical rows") {
    import org.apache.spark.sql.functions._
    import graft.operators.JoinQueries
    // (1) documented measurement: the hot-bucket estimate (per-hour
    // sessions × per-hour points) on the real corpus must sit far below
    // the routing threshold, so the graded plan is the plain equi-join.
    // sf0.01 max ≈ tens; candidates grow ~quadratically with corpus
    // density (100× rows → ~10^4× product), so the 2^22 default first
    // fires around sf10 on this corpus shape — sf1 sweeps stay cold.
    val HourUs = 3600L * 1000000L
    val ev = graft.sources.Tables.scan(spark, sfDir, "events")
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts").cast("timestamp")).as("tus"))
    val maxProd = {
      val wU = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("tus", "event_id")
      val sess = ev.withColumn("prev", lag(col("tus"), 1).over(wU))
        .withColumn("news", when(col("prev").isNull
          || col("tus") - col("prev") > HourUs, 1L).otherwise(0L))
        .withColumn("sid", sum(col("news")).over(wU))
        .groupBy("user_id", "sid")
        .agg(min(col("tus")).as("s_start"), max(col("tus")).as("s_end"))
      val sb = sess.select(explode(sequence(floor(col("s_start") / HourUs),
        floor(col("s_end") / HourUs))).as("hb"))
      val pts = ev.filter(col("event_id") % 8 === 0)
        .select(floor(col("tus") / HourUs).as("hb"))
      sb.groupBy("hb").agg(count(lit(1)).as("ns"))
        .join(pts.groupBy("hb").agg(count(lit(1)).as("np")), Seq("hb"))
        .agg(max(col("ns") * col("np"))).head().getLong(0)
    }
    assert(maxProd * 100 < (1L << 22),
      s"graded corpus too close to the hot threshold: max product $maxProd")
    // (2) flash-crowd equivalence: half the corpus compressed into ONE
    // hour; threshold=1 forces every bucket through the salted branch —
    // rows must be identical to the plain join on the same corpus
    val crowd = ev.withColumn("tus",
      when(col("event_id") % 2 === 0,
        lit(1700000000L * 1000000L) + pmod(col("tus"), lit(HourUs)))
        .otherwise(col("tus")))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val plain = rows(JoinQueries.intervalOpenCountsOf(crowd, Long.MaxValue, 8))
    val salted = rows(JoinQueries.intervalOpenCountsOf(crowd, 1L, 8))
    assert(plain.nonEmpty)
    assert(salted == plain,
      s"salted flash-crowd routing changed the result: " +
        s"only-salted=${(salted -- plain).take(3)} " +
        s"only-plain=${(plain -- salted).take(3)}")
  }

  test("cdc_sink_warehouse: the appended table is month-partitioned and a " +
      "month-bounded read prunes at the partition level") {
    import org.apache.spark.sql.functions.col
    // build the warehouse (the graded query writes it to the per-process
    // tmp before aggregating), then plan a bounded read of the artifact
    val out = SparkEntry.queries("cdc_sink_warehouse")(spark, sfDir)
      .limit(1).collect()
    assert(out.nonEmpty)
    val path = graft.TmpPaths.perProcess("graft-sink-warehouse", sfDir)
    val month = spark.read.parquet(s"$path/data")
      .select(col("month").cast("string")).head().getString(0)
    val bounded = spark.read.parquet(s"$path/data")
      .filter(col("month") === month)
    val scan = bounded.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scan.nonEmpty)
    assert(scan.head.partitionFilters.nonEmpty,
      s"month-bounded read must carry PartitionFilters:\n" +
        bounded.queryExecution.executedPlan)
    // and the partition grain bounds the writer fan-out: files scale with
    // months-touched × micro-batches (~81 × 4 at any sf), never with the
    // number of days covered (the measured 10k-file / 123 s failure mode)
    val files = scan.head.relation.location.inputFiles.length
    val months = spark.read.parquet(s"$path/data")
      .select(col("month")).distinct().count()
    val all = spark.read.parquet(s"$path/data").queryExecution
      .executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.head.relation.location.inputFiles.length
    assert(all <= months * 8,
      s"file count must be bounded by months × batches, got $all for " +
        s"$months months")
    assert(files <= all)
  }

  test("sim_ann_lsh_pinned: the coded queries broadcast onto the coded " +
      "corpus, and every window is query-partitioned") {
    // asserted on the UNCACHED build (the graded query reads the
    // session-cached search result, whose plan hides inside an
    // InMemoryRelation) — evict first so the CacheManager can't
    // substitute a copy another suite already persisted
    graft.BoundedDfCache.clearGraded()
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val plan =
      try graft.operators.SimilarityQueries.buildLshPinnedTopK(spark, sfDir)
        .queryExecution.executedPlan
      finally spark.conf.set("spark.sql.adaptive.enabled", prev)
    val bhj = plan.collect { case j: BroadcastHashJoinExec => j }
    assert(bhj.nonEmpty,
      s"the bucket probe must be a broadcast hash join on code:\n$plan")
    val windows = plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty && windows.forall(_.partitionSpec.nonEmpty),
      s"the re-rank must partition by query, never globally:\n$plan")
  }

  test("sim_ann_ivf_flat: probes broadcast onto the lists, and every " +
      "window is query-partitioned") {
    // uncached build, same reasoning as the lsh_pinned test above
    graft.BoundedDfCache.clearGraded()
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val plan =
      try graft.operators.SimilarityQueries.buildIvfFlatTopK(spark, sfDir)
        .queryExecution.executedPlan
      finally spark.conf.set("spark.sql.adaptive.enabled", prev)
    val bhj = plan.collect { case j: BroadcastHashJoinExec => j }
    assert(bhj.nonEmpty,
      s"the list probe must be a broadcast hash join on cid:\n$plan")
    val windows = plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty && windows.forall(_.partitionSpec.nonEmpty),
      s"probe ranking and re-rank must partition by query:\n$plan")
  }

  test("join_asof_nearest: the backward and forward passes share one " +
      "user-key exchange; every window is key-partitioned") {
    val (_, plan) = staticPlan("join_asof_nearest")
    val windows = plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    // four Window nodes: Spark splits each direction pass in two (the
    // match-time projection `_w0` forces a second node) — what matters is
    // that every one is key-partitioned
    assert(windows.size == 4 && windows.forall(_.partitionSpec.nonEmpty),
      s"two key-partitioned direction passes (2 nodes each) expected:\n$plan")
    // hash exchanges: ONE for the purchase (user,t) dedup aggregate and
    // ONE user-key exchange shared by both window passes (the descending
    // pass re-sorts in place — it must not re-shuffle)
    val hashShuffles = plan.collect {
      case e: ShuffleExchangeExec
          if e.outputPartitioning.isInstanceOf[HashPartitioning] => e
    }
    assert(hashShuffles.size == 2,
      s"expected the dedup-agg + one shared window exchange:\n$plan")
  }

  test("curate_epochs: the quartile rank sees only the bounded per-source " +
      "table; the corpus side is one broadcast join + map-side explode") {
    val (_, plan) = staticPlan("curate_epochs")
    val windows = plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    // the single (global) window ranks the per-source aggregate — its
    // input must be the aggregated q columns, never a corpus column
    assert(windows.size == 1,
      s"exactly one window (the source quartile rank):\n$plan")
    assert(windows.head.orderSpec.mkString.contains("mean_fix#"),
      s"the rank must order by the per-source fixed-point mean:\n$plan")
    val bhj = plan.collect { case j: BroadcastHashJoinExec => j }
    val smj = plan.collect { case j: SortMergeJoinExec => j }
    assert(bhj.size == 1 && smj.isEmpty,
      s"the factor table must broadcast onto the corpus:\n$plan")
  }

  test("pipeline_drift_ks: the per-source CDF window is source-partitioned; " +
      "only the bounded value-axis cumulative is global") {
    val (_, plan) = staticPlan("pipeline_drift_ks")
    val windows = plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    val (global, partitioned) = windows.partition(_.partitionSpec.isEmpty)
    assert(global.size == 1 && partitioned.size == 1,
      s"one global (axis cumulative) + one partitioned (CDF) window:\n$plan")
    // the global window cumulates the per-value totals (cv), never a
    // (source, value) grid column — the axis table is ≤|distinct values|
    assert(global.head.windowExpression.mkString.contains("sum(cv#"),
      s"the global window must cumulate the value-axis counts only:\n$plan")
    assert(partitioned.head.partitionSpec.mkString.startsWith("source#"),
      s"the CDF window must be partitioned by source:\n$plan")
  }

  test("agg_equidepth: the corpus rank is partitioned by value bucket, " +
      "only the bucket-offset prefix sum is global, offsets broadcast") {
    val (_, plan) = staticPlan("agg_equidepth")
    val windows = plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    val (global, partitioned) = windows.partition(_.partitionSpec.isEmpty)
    // the global window may only see the ≤4097-row bucket-count table
    // (its frame sums the bucket counts into `below`); the corpus-sized
    // rank must be partitioned by the value bucket
    assert(global.size == 1 && partitioned.size == 1,
      s"one global (bucket offsets) + one partitioned (rank) window:\n$plan")
    // the offset window's expression sums the bucket COUNTS (n), never a
    // corpus column (y) — plan names the output _we0, so match the input
    assert(global.head.windowExpression.mkString.contains("sum(n#"),
      s"the global window must compute the bucket offsets only:\n$plan")
    assert(partitioned.head.partitionSpec.mkString.startsWith("b#"),
      s"the rank window must be partitioned by the value bucket:\n$plan")
    val bhj = plan.collect { case j: BroadcastHashJoinExec => j }
    assert(bhj.size == 1,
      s"the offsets table must broadcast back onto the corpus:\n$plan")
  }

  test("ts_m4_downsample: one hash aggregate with map-side partials, " +
      "no window, no sort below the aggregate") {
    val (_, plan) = staticPlan("ts_m4_downsample")
    assert(plan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }.isEmpty,
      s"M4 must ride struct-ordered min/max, never a window:\n$plan")
    val hashShuffles = plan.collect {
      case e: ShuffleExchangeExec
          if e.outputPartitioning.isInstanceOf[HashPartitioning] => e
    }
    assert(hashShuffles.size == 1,
      s"expected exactly the aggregate shuffle:\n$plan")
    assert(hashShuffles.head.collectFirst {
        case a: HashAggregateExec => a
      }.nonEmpty,
      s"the shuffle must carry per-(series,bucket) partials:\n$plan")
    // the decimal order key exists precisely to keep min_by/max_by in the
    // HASH aggregate — a struct key demotes to SortAggregate and re-sorts
    // the corpus map-side (the regression this guards against)
    assert(plan.collect {
        case a: org.apache.spark.sql.execution.aggregate.SortAggregateExec => a
      }.isEmpty,
      s"M4 must stay a pure hash aggregate:\n$plan")
  }

  test("sim_range_search: queries broadcast, the corpus side never " +
      "hash-shuffles") {
    val (_, plan) = staticPlan("sim_range_search")
    val bnlj = plan.collect {
      case j: org.apache.spark.sql.execution.joins
        .BroadcastNestedLoopJoinExec => j
    }
    assert(bnlj.size == 1,
      s"radius search must be one broadcast join of the query set:\n$plan")
    val hashShuffles = plan.collect {
      case e: ShuffleExchangeExec
          if e.outputPartitioning.isInstanceOf[HashPartitioning] => e
    }
    // only scanPar's round-robin widening and the harness ORDER BY's
    // range partition may exchange — the τ filter is map-side
    assert(hashShuffles.isEmpty,
      s"the corpus must never hash-shuffle for a radius search:\n$plan")
  }

  test("text_collocations: bigrams are built map-side — no exchange " +
      "below any explode") {
    val (_, plan) = staticPlan("text_collocations")
    val gens = plan.collect {
      case g: org.apache.spark.sql.execution.GenerateExec => g
    }
    assert(gens.nonEmpty, s"expected the bigram/unigram explodes:\n$plan")
    gens.foreach { g =>
      assert(g.collect { case e: ShuffleExchangeExec => e }.isEmpty,
        s"the explode must sit directly on the scan (map-side):\n$plan")
    }
  }

  test("cdc_reconcile: only chunk-grain fingerprints cross the wire — " +
      "every hash exchange carries a partial aggregate") {
    val (_, plan) = staticPlan("cdc_reconcile")
    val hashShuffles = plan.collect {
      case e: ShuffleExchangeExec
          if e.outputPartitioning.isInstanceOf[HashPartitioning] => e
    }
    assert(hashShuffles.nonEmpty)
    // the compaction window's exchange carries raw rows by necessity;
    // both digest exchanges must sit above partial HashAggregates so
    // the reconciliation shuffle moves (chunk, cnt, hsum) rows only
    val digestShuffles = hashShuffles.filter(_.collectFirst {
      case a: HashAggregateExec => a
    }.nonEmpty)
    assert(digestShuffles.size >= 2,
      s"both sides must pre-aggregate chunk fingerprints map-side:\n$plan")
  }

  test("agg_bitmap_rollup: the day-bitmap build is computed once and " +
      "reused by the month/total merges (one raw scan)") {
    val (_, plan) = staticPlan("agg_bitmap_rollup")
    val scans = plan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    val reused = plan.collect {
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => r
    }
    assert(scans.size == 1 && reused.size >= 2,
      s"day/month/all grains must share ONE events scan via exchange " +
        s"reuse, got ${scans.size} scans / ${reused.size} reuses:\n$plan")
  }
}
