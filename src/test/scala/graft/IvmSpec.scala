package graft

import graft.operators.CdcOps
import graft.streaming.IncrementalView
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental view maintenance contracts: the maintained view equals the
  * from-scratch recompute, batch replay is a no-op (versioned snapshots),
  * uncommitted snapshots are invisible, and cross-group updates move
  * measures between groups. */
class IvmSpec extends SparkSpec {

  private def tmpDir(): String =
    tempDir("ivm-spec-").toString

  private def parsed: DataFrame = CdcOps.parsedOrders(spark, sfDir)

  private def applyPhases(path: String): Unit = {
    IncrementalView.applyBatch(
      parsed.filter(col("env.op").isin("c", "r")), 0L, path)
    IncrementalView.applyBatch(
      parsed.filter(col("env.op") === "u"), 1L, path)
    IncrementalView.applyBatch(
      parsed.filter(col("env.op") === "d" || col("_tombstone")), 2L, path)
  }

  /** From-scratch recompute via compaction — the ground truth IVM must
    * reproduce. */
  private def recompute: Seq[(String, Long, Long)] = {
    val state = CdcOps.ordersCompacted(spark, sfDir)
    state.groupBy("o_orderstatus")
      .agg(sum((col("o_totalprice").cast("decimal(12,2)") * 100)
        .cast("long")).as("revenue_cents"),
        count(lit(1)).as("n_orders"))
      .orderBy("o_orderstatus")
      .collect().toSeq
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
  }

  private def view(path: String): Seq[(String, Long, Long)] =
    IncrementalView.readView(spark, path).get
      .orderBy("o_orderstatus").collect().toSeq
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))

  test("maintained view equals the from-scratch recompute") {
    val path = tmpDir()
    applyPhases(path)
    assert(view(path) == recompute)
    // the update phase moved measures INTO the 'X' group (o_orderkey%10
    // rows changed status), so the cross-group two-contribution delta
    // demonstrably ran
    assert(view(path).exists(_._1 == "X"))
  }

  test("replaying a committed micro-batch does not change the view") {
    val path = tmpDir()
    applyPhases(path)
    val before = view(path)
    // restart semantics: the sink re-receives batchId=2 with identical
    // content; the snapshot for batch=2 is recomputed FROM batch=1, so
    // the merge applies once, not twice
    IncrementalView.applyBatch(
      parsed.filter(col("env.op") === "d" || col("_tombstone")), 2L, path)
    assert(view(path) == before)
  }

  test("an uncommitted snapshot directory is invisible to readers") {
    val path = tmpDir()
    applyPhases(path)
    val before = view(path)
    // simulate a crash mid-publish: a snapshot dir with data files but no
    // _SUCCESS marker must be ignored by readView
    val crashed = new java.io.File(s"$path/batch=99")
    assert(crashed.mkdirs())
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$path/batch=99/part-00000.parquet"),
      Array[Byte](1, 2, 3))
    assert(view(path) == before)
  }

  test("maintain(): the foreachBatch sink keeps the view correct " +
      "across streamed micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    def env(key: Long, lsn: Long, op: String,
        beforeStatus: String, afterStatus: String): String = {
      def row(status: String) =
        s"""{"o_orderkey":$key,"o_custkey":1,"o_orderstatus":"$status",
           |"o_totalprice":"10.00","o_orderdate_us":0,
           |"o_orderpriority":"1-URGENT"}"""
          .stripMargin.replaceAll("\n", "")
      val before = if (op == "c") "null" else row(beforeStatus)
      val after = if (op == "d") "null" else row(afterStatus)
      s"""{"before":$before,"after":$after,
         |"source":{"version":"2.4.0.Final","connector":"postgresql",
         |"name":"postgres-prod","ts_ms":0,"db":"production",
         |"schema":"public","table":"orders","txId":${lsn / 2},"lsn":$lsn,
         |"snapshot":"false"},"op":"$op","ts_ms":0}"""
        .stripMargin.replaceAll("\n", "")
    }
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[String]
    val raw = in.toDF().select(
      lit("prod.postgres.orders").as("topic"),
      lit("""{"o_orderkey":0}""").as("key"),
      col("value"))
    val parsed = graft.sources.Debezium.parseEnvelope(
      raw, graft.sources.Debezium.ordersRowSchema)
    val path = tmpDir()
    val q = IncrementalView.maintain(parsed, path).start()
    try {
      in.addData(env(1, 10, "c", "", "O"), env(2, 20, "c", "", "O"))
      q.processAllAvailable()
      assert(view(path).toSet == Set(("O", 2000L, 2L)))
      // update moves key 1 across groups; delete removes key 2 entirely
      in.addData(env(1, 15, "u", "O", "X"), env(2, 25, "d", "O", ""))
      q.processAllAvailable()
      assert(view(path).toSet == Set(("X", 1000L, 1L)))
    } finally q.stop()
  }

  test("IVM equals a driver-side fold on random change logs, even with " +
      "events scattered across batches out of order") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import spark.implicits._
    def envJson(key: Long, lsn: Long, op: String,
        before: Option[(String, Int)], after: Option[(String, Int)]): String = {
      def row(s: (String, Int)) =
        s"""{"o_orderkey":$key,"o_custkey":1,"o_orderstatus":"${s._1}",
           |"o_totalprice":"${s._2}.00","o_orderdate_us":0,
           |"o_orderpriority":"1-URGENT"}"""
          .stripMargin.replaceAll("\n", "")
      s"""{"before":${before.map(row).getOrElse("null")},
         |"after":${after.map(row).getOrElse("null")},
         |"source":{"version":"2.4.0.Final","connector":"postgresql",
         |"name":"postgres-prod","ts_ms":0,"db":"production",
         |"schema":"public","table":"orders","txId":${lsn / 2},"lsn":$lsn,
         |"snapshot":"false"},"op":"$op","ts_ms":0}"""
        .stripMargin.replaceAll("\n", "")
    }
    val statuses = Seq("O", "F", "P", "X")
    // per key: insert, 0..3 updates (status/price change), optional
    // delete; every event is independently assigned to one of 3 batches,
    // so deletes can arrive in an EARLIER batch than their insert —
    // additive deltas must commute across any batch partition
    val historyGen: Gen[Seq[(Long, Long, String,
        Option[(String, Int)], Option[(String, Int)], Int)]] = for {
      nKeys <- Gen.choose(1, 10)
      hists <- Gen.sequence[Seq[Seq[(Long, Long, String, Option[(String, Int)],
          Option[(String, Int)], Int)]], Seq[(Long, Long, String,
          Option[(String, Int)], Option[(String, Int)], Int)]](
        (0 until nKeys).map { k =>
          for {
            nUpd <- Gen.choose(0, 3)
            vs <- Gen.listOfN(nUpd + 1, for {
              st <- Gen.oneOf(statuses)
              pr <- Gen.choose(1, 50)
            } yield (st, pr))
            del <- Gen.oneOf(true, false)
            batches <- Gen.listOfN(nUpd + 2, Gen.choose(0, 2))
          } yield {
            val key = k.toLong
            val ins = (key, key * 100, "c",
              None: Option[(String, Int)], Some(vs.head), batches.head)
            val upds = (1 to nUpd).map(i => (key, key * 100 + i, "u",
              Some(vs(i - 1)), Some(vs(i)), batches(i)))
            val dels = if (del)
              Seq((key, key * 100 + 50, "d", Some(vs.last),
                None: Option[(String, Int)], batches(nUpd + 1)))
            else Seq.empty
            Seq(ins) ++ upds ++ dels
          }
        })
    } yield hists.flatten
    (1 to 5).foreach { i =>
      val seed = Seed(0x117L + i)
      val events = historyGen.apply(Gen.Parameters.default, seed)
        .getOrElse(fail(s"generator produced nothing for seed $i"))
      // driver-side ground truth: surviving keys contribute their LAST
      // version to its status group
      val expected = events.groupBy(_._1).values.flatMap { h =>
        val sorted = h.sortBy(_._2)
        if (sorted.last._3 == "d") None
        else sorted.last._5.map { case (st, pr) => (st, pr * 100L) }
      }.groupBy(_._1).map { case (st, xs) =>
        (st, xs.map(_._2).sum, xs.size.toLong)
      }.toSet
      val path = tmpDir()
      (0 to 2).foreach { b =>
        val batch = events.filter(_._6 == b)
          .map(e => envJson(e._1, e._2, e._3, e._4, e._5))
        val raw = batch.toDF("value").select(
          lit("prod.postgres.orders").as("topic"),
          lit("""{"o_orderkey":0}""").as("key"), col("value"))
        IncrementalView.applyBatch(graft.sources.Debezium.parseEnvelope(
          raw, graft.sources.Debezium.ordersRowSchema), b.toLong, path)
      }
      withClue(s"seed=${0x117L + i} events=$events: ")(
        assert(view(path).toSet == expected))
    }
  }

  // ---- join-view IVM (IncrementalJoinView) ----

  private def parsedDim: DataFrame = CdcOps.parsedCustomerDim(spark, sfDir)

  private def applyJoinPhases(path: String): Unit = {
    import graft.streaming.IncrementalJoinView
    def ops(df: DataFrame, o: Seq[String]) =
      df.filter(col("env.op").isin(o: _*))
    IncrementalJoinView.applyBatch(
      ops(parsed, Seq("c", "r")), ops(parsedDim, Seq("c")), 0L, path)
    IncrementalJoinView.applyBatch(
      ops(parsed, Seq("u")), ops(parsedDim, Seq("u")), 1L, path)
    IncrementalJoinView.applyBatch(
      ops(parsed, Seq("d")), ops(parsedDim, Seq("d")), 2L, path)
  }

  private def joinView(path: String): Seq[(String, Long, Long)] =
    graft.streaming.IncrementalJoinView.readView(spark, path).get
      .orderBy("seg").collect().toSeq
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))

  test("join view: W equals the aggregate of the committed A ⋈ B states at every commit") {
    import graft.streaming.IncrementalJoinView
    val path = tmpDir()
    def ops(df: DataFrame, o: Seq[String]) =
      df.filter(col("env.op").isin(o: _*))
    val batches = Seq(
      (ops(parsed, Seq("c", "r")), ops(parsedDim, Seq("c"))),
      (ops(parsed, Seq("u")), ops(parsedDim, Seq("u"))),
      (ops(parsed, Seq("d")), ops(parsedDim, Seq("d"))))
    batches.zipWithIndex.foreach { case ((po, pc), i) =>
      IncrementalJoinView.applyBatch(po, pc, i.toLong, path)
      // the bilinear delta's whole claim: the incrementally merged W is
      // exactly Agg(A ⋈ B) of the states committed alongside it — at
      // EVERY intermediate commit, not just the final one
      val (a, b) = IncrementalJoinView.readStates(spark, path).get
      val expect = a.join(b, "k")
        .groupBy("seg")
        .agg(sum(col("cents") * col("m")).as("revenue_cents"),
          sum(col("rows") * col("m")).as("n_orders"))
        .filter(col("revenue_cents") =!= 0L || col("n_orders") =!= 0L)
        .orderBy("seg").collect().toSeq
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      assert(joinView(path) == expect, s"W diverged from Agg(A⋈B) at batch $i")
    }
    // the dimension updates moved revenue into MOVED, and the final view
    // is non-trivial — the A ⋈ ΔB path demonstrably ran
    assert(joinView(path).exists(_._1 == "MOVED"))
  }

  test("join view: replaying a committed micro-batch does not change the view") {
    import graft.streaming.IncrementalJoinView
    val path = tmpDir()
    applyJoinPhases(path)
    val before = joinView(path)
    def ops(df: DataFrame, o: Seq[String]) =
      df.filter(col("env.op").isin(o: _*))
    // restart semantics: the sink re-receives batchId=2 with identical
    // content — must recompute the SAME snapshot from batch 1, not merge
    // the deltas on top of its own earlier output
    IncrementalJoinView.applyBatch(
      ops(parsed, Seq("d")), ops(parsedDim, Seq("d")), 2L, path)
    assert(joinView(path) == before)
  }

  test("join view: same-batch order+customer deletes are removed exactly once (cross term)") {
    import graft.streaming.IncrementalJoinView
    import spark.implicits._
    val path = tmpDir()
    // hand-built envelopes through the real parse: one customer (seg S)
    // with one order (100.00), inserted in batch 0, BOTH deleted in
    // batch 1 — without the ΔA⋈ΔB correction the two unary terms would
    // subtract the order twice and leave seg S at -10000 cents
    def env(json: String) =
      graft.sources.Debezium.parseEnvelope(
        Seq(("t", "{}", json)).toDF("topic", "key", "value"),
        if (json.contains("c_custkey")) graft.sources.Debezium.customerRowSchema
        else graft.sources.Debezium.ordersRowSchema)
    val oRow = """{"o_orderkey":1,"o_custkey":7,"o_orderstatus":"O","o_totalprice":"100.00","o_orderdate_us":0,"o_orderpriority":"1-URGENT"}"""
    val cRow = """{"c_custkey":7,"c_name":"n","c_nationkey":1,"c_acctbal":"0.00","c_mktsegment":"S"}"""
    def wrap(before: String, after: String, op: String, lsn: Long) =
      s"""{"before":$before,"after":$after,"source":{"lsn":$lsn,"table":"t","ts_ms":0},"op":"$op","ts_ms":0}"""
    IncrementalJoinView.applyBatch(
      env(wrap("null", oRow, "c", 1L)), env(wrap("null", cRow, "c", 2L)),
      0L, path)
    assert(joinView(path) == Seq(("S", 10000L, 1L)))
    IncrementalJoinView.applyBatch(
      env(wrap(oRow, "null", "d", 3L)), env(wrap(cRow, "null", "d", 4L)),
      1L, path)
    // exactly once removed: the view is EMPTY, not negative
    assert(joinView(path).isEmpty)
    val (a, b) = IncrementalJoinView.readStates(spark, path).get
    assert(a.count() == 0 && b.count() == 0)
  }

  test("join view: streaming maintain over the raw multi-topic stream equals the one-shot apply") {
    import graft.streaming.IncrementalJoinView
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // the production feed shape: ONE subscription carrying both tables'
    // envelopes, split arbitrarily across micro-batches. (The orders
    // fixture's %20 replay rides in the same batch as its original OR
    // nets a zero fact-delta either way — status flips don't move the
    // join key — so the arbitrary split cannot double-apply; feeds with
    // cross-batch replays of measure-moving events compose the upstream
    // stateful dedup operator first, as IncrementalView documents.)
    val raw = CdcOps.synthOrdersChangelog(spark, sfDir)
      .unionByName(CdcOps.synthCustomerDimChangelog(spark, sfDir))
      .select("topic", "key", "value")
      .as[(String, String, String)].collect()
    val path = tmpDir()
    val in = MemoryStream[(String, String, String)]
    val q = IncrementalJoinView.maintain(
      in.toDF().toDF("topic", "key", "value"), path, Some(tmpDir())).start()
    try {
      raw.grouped(raw.length / 2 + 1).foreach { c =>
        in.addData(c.toIndexedSeq: _*); q.processAllAvailable()
      }
    } finally q.stop()
    val ref = tmpDir()
    IncrementalJoinView.applyBatch(parsed, parsedDim, 0L, ref)
    assert(joinView(path).nonEmpty && joinView(path) == joinView(ref))
  }

  // ---- bucketed join-view state (BucketedJoinView) ----

  private def applyBucketedPhases(path: String, nBuckets: Int): Unit = {
    import graft.streaming.{BucketedJoinView, IncrementalJoinView}
    def ops(df: DataFrame, o: Seq[String]) =
      df.filter(col("op").isin(o: _*))
    val fe = IncrementalJoinView.factEvents(parsed)
    val de = IncrementalJoinView.dimEvents(parsedDim)
    BucketedJoinView.applyBatchEvents(
      ops(fe, Seq("c", "r")), ops(de, Seq("c")), 0L, path, nBuckets)
    BucketedJoinView.applyBatchEvents(
      ops(fe, Seq("u")), ops(de, Seq("u")), 1L, path, nBuckets)
    BucketedJoinView.applyBatchEvents(
      ops(fe, Seq("d")), ops(de, Seq("d")), 2L, path, nBuckets)
  }

  private def bucketedView(path: String): Seq[(String, Long, Long)] =
    graft.streaming.BucketedJoinView.readView(spark, path).get
      .orderBy("seg").collect().toSeq
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))

  test("bucketed join view: equals the snapshot-store view, and W equals Agg(A ⋈ B)") {
    val path = tmpDir()
    applyBucketedPhases(path, nBuckets = 16)
    val ref = tmpDir()
    applyJoinPhases(ref)
    assert(bucketedView(path).nonEmpty && bucketedView(path) == joinView(ref))
    // same layout-independence invariant as the snapshot store: the
    // maintained W is exactly the aggregate of the committed A ⋈ B
    val (a, b) = graft.streaming.BucketedJoinView.readStates(spark, path)
    val expect = a.join(b, "k").groupBy("seg")
      .agg(sum(col("cents") * col("m")).as("revenue_cents"),
        sum(col("rows") * col("m")).as("n_orders"))
      .filter(col("revenue_cents") =!= 0L || col("n_orders") =!= 0L)
      .orderBy("seg").collect().toSeq
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(bucketedView(path) == expect)
  }

  test("bucketed join view: a batch rewrites ONLY the buckets its delta keys hash into") {
    import graft.streaming.{BucketedJoinView, IncrementalJoinView}
    import spark.implicits._
    val nBuckets = 16
    val path = tmpDir()
    applyBucketedPhases(path, nBuckets)
    def listing(root: String): Map[String, Seq[(String, Long, Long)]] = {
      val d = new java.io.File(root)
      d.listFiles().filter(_.getName.startsWith("_bucket="))
        .map(b => b.getName -> b.listFiles().toSeq
          .map(f => (f.getName, f.length, f.lastModified))
          .sortBy(_._1)).toMap
    }
    val aBefore = listing(s"$path/A")
    val bBefore = listing(s"$path/B")
    assert(aBefore.size == nBuckets) // sf corpus keys populate every bucket
    def aState77(): Seq[(Long, Long)] =
      graft.streaming.BucketedJoinView.readStates(spark, path)._1
        .filter(col("k") === 77L).collect().toSeq
        .map(r => (r.getLong(1), r.getLong(2)))
    val state77Before = aState77()
    // batch 3: ONE order update for one custkey — a single fact bucket is
    // dirty, and the dim side has no delta at all
    def env(json: String) = graft.sources.Debezium.parseEnvelope(
      Seq(("t", "{}", json)).toDF("topic", "key", "value"),
      graft.sources.Debezium.ordersRowSchema)
    val before = """{"o_orderkey":900001,"o_custkey":77,"o_orderstatus":"O","o_totalprice":"10.00","o_orderdate_us":0,"o_orderpriority":"1"}"""
    val after = """{"o_orderkey":900001,"o_custkey":77,"o_orderstatus":"O","o_totalprice":"25.00","o_orderdate_us":0,"o_orderpriority":"1"}"""
    val fe = IncrementalJoinView.factEvents(env(
      s"""{"before":$before,"after":$after,"source":{"lsn":999901,"table":"t","ts_ms":0},"op":"u","ts_ms":0}"""))
    val de = IncrementalJoinView.dimEvents(
      graft.sources.Debezium.parseEnvelope(
        Seq.empty[(String, String, String)].toDF("topic", "key", "value"),
        graft.sources.Debezium.customerRowSchema))
    BucketedJoinView.applyBatchEvents(fe, de, 3L, path, nBuckets)
    val aAfter = listing(s"$path/A")
    val dirtyA = aBefore.keySet.filter(k => aAfter.get(k) != aBefore.get(k))
    // exactly one fact bucket rewritten; the dim state is untouched
    assert(dirtyA.size == 1, s"expected 1 dirty A bucket, got $dirtyA")
    assert(listing(s"$path/B") == bBefore)
    // and the dirty write was real: custkey 77's partial aggregate moved
    // by exactly the update's +15.00 (1500 cents), same row count
    val state77After = aState77()
    val beforeCents = state77Before.map(_._1).sum
    val beforeRows = state77Before.map(_._2).sum
    assert(aState77() == Seq((beforeCents + 1500L, beforeRows)) ||
      (state77Before.isEmpty && state77After == Seq((1500L, 0L))))
  }

  test("bucketed join view: replaying a committed batch is a no-op (markers gate the additive merge)") {
    import graft.streaming.{BucketedJoinView, IncrementalJoinView}
    val path = tmpDir()
    applyBucketedPhases(path, nBuckets = 16)
    val before = bucketedView(path)
    def ops(df: DataFrame, o: Seq[String]) =
      df.filter(col("op").isin(o: _*))
    BucketedJoinView.applyBatchEvents(
      ops(IncrementalJoinView.factEvents(parsed), Seq("d")),
      ops(IncrementalJoinView.dimEvents(parsedDim), Seq("d")),
      2L, path, 16)
    assert(bucketedView(path) == before)
  }

  test("bucketed join view: same-batch order+customer deletes cancel to an EMPTY state, and replay stays empty") {
    import graft.streaming.{BucketedJoinView, IncrementalJoinView}
    import spark.implicits._
    val path = tmpDir()
    def env(json: String) =
      graft.sources.Debezium.parseEnvelope(
        Seq(("t", "{}", json)).toDF("topic", "key", "value"),
        if (json.contains("c_custkey")) graft.sources.Debezium.customerRowSchema
        else graft.sources.Debezium.ordersRowSchema)
    val oRow = """{"o_orderkey":1,"o_custkey":7,"o_orderstatus":"O","o_totalprice":"100.00","o_orderdate_us":0,"o_orderpriority":"1-URGENT"}"""
    val cRow = """{"c_custkey":7,"c_name":"n","c_nationkey":1,"c_acctbal":"0.00","c_mktsegment":"S"}"""
    def wrap(before: String, after: String, op: String, lsn: Long) =
      s"""{"before":$before,"after":$after,"source":{"lsn":$lsn,"table":"t","ts_ms":0},"op":"$op","ts_ms":0}"""
    def fe(j: String) = IncrementalJoinView.factEvents(env(j))
    def de(j: String) = IncrementalJoinView.dimEvents(env(j))
    BucketedJoinView.applyBatchEvents(
      fe(wrap("null", oRow, "c", 1L)), de(wrap("null", cRow, "c", 2L)),
      0L, path, 4)
    assert(bucketedView(path) == Seq(("S", 10000L, 1L)))
    BucketedJoinView.applyBatchEvents(
      fe(wrap(oRow, "null", "d", 3L)), de(wrap(cRow, "null", "d", 4L)),
      1L, path, 4)
    // cross term: removed exactly once — empty, not negative; the
    // all-cancelled buckets still committed (marker present, zero rows)
    assert(bucketedView(path).isEmpty)
    val (a, b) = BucketedJoinView.readStates(spark, path)
    assert(a.count() == 0 && b.count() == 0)
    // replay of the delete batch: markers say applied — still empty
    BucketedJoinView.applyBatchEvents(
      fe(wrap(oRow, "null", "d", 3L)), de(wrap(cRow, "null", "d", 4L)),
      1L, path, 4)
    assert(bucketedView(path).isEmpty)
  }

  test("bucketed join view: crash mid-swap (bucket displaced, not republished) recovers to the clean result") {
    import graft.streaming.{BucketedJoinView, IncrementalJoinView}
    val nBuckets = 8
    def ops(df: DataFrame, o: Seq[String]) =
      df.filter(col("op").isin(o: _*))
    val fe = IncrementalJoinView.factEvents(parsed)
    val de = IncrementalJoinView.dimEvents(parsedDim)
    // clean reference: batches 0 and 1 applied normally
    val ref = tmpDir()
    BucketedJoinView.applyBatchEvents(
      ops(fe, Seq("c", "r")), ops(de, Seq("c")), 0L, ref, nBuckets)
    BucketedJoinView.applyBatchEvents(
      ops(fe, Seq("u")), ops(de, Seq("u")), 1L, ref, nBuckets)
    // crashed run: batch 0 committed, then batch 1 "crashed" after
    // displacing one A bucket to trash but before publishing its staged
    // replacement (the displace-then-publish window) — and with W for
    // batch 1 NOT yet committed, i.e. the crash also lost the W write
    // ordering guard's precondition is intact (no bucket ADVANCED)
    val path = tmpDir()
    BucketedJoinView.applyBatchEvents(
      ops(fe, Seq("c", "r")), ops(de, Seq("c")), 0L, path, nBuckets)
    val live = new java.io.File(s"$path/A/_bucket=3")
    val trash = new java.io.File(s"$path/A.trash-1/_bucket=3")
    assert(live.isDirectory)
    assert(trash.getParentFile.mkdirs() && live.renameTo(trash))
    // stage leftovers from the crashed attempt must also be swept
    assert(new java.io.File(s"$path/A.stage-1/_bucket=5").mkdirs())
    // replay of batch 1 (same data, the foreachBatch contract)
    BucketedJoinView.applyBatchEvents(
      ops(fe, Seq("u")), ops(de, Seq("u")), 1L, path, nBuckets)
    assert(bucketedView(path).nonEmpty && bucketedView(path) == bucketedView(ref))
    assert(!new java.io.File(s"$path/A.trash-1").exists)
    assert(!new java.io.File(s"$path/A.stage-1").exists)
  }

  test("bucketed join view: crash after the W commit but before the merges replays to the clean result") {
    import graft.streaming.{BucketedJoinView, IncrementalJoinView}
    val nBuckets = 8
    def ops(df: DataFrame, o: Seq[String]) =
      df.filter(col("op").isin(o: _*))
    val fe = IncrementalJoinView.factEvents(parsed)
    val de = IncrementalJoinView.dimEvents(parsedDim)
    val ref = tmpDir()
    BucketedJoinView.applyBatchEvents(
      ops(fe, Seq("c", "r")), ops(de, Seq("c")), 0L, ref, nBuckets)
    BucketedJoinView.applyBatchEvents(
      ops(fe, Seq("u")), ops(de, Seq("u")), 1L, ref, nBuckets)
    // torn state: A/B at batch-0, but W already carries batch 1 (the
    // protocol's other crash window: W commits FIRST, then the bucket
    // swaps — here none of them happened)
    val path = tmpDir()
    BucketedJoinView.applyBatchEvents(
      ops(fe, Seq("c", "r")), ops(de, Seq("c")), 0L, path, nBuckets)
    def copyTree(src: java.nio.file.Path, dst: java.nio.file.Path): Unit = {
      java.nio.file.Files.walk(src).forEach { p =>
        val t = dst.resolve(src.relativize(p))
        if (java.nio.file.Files.isDirectory(p))
          java.nio.file.Files.createDirectories(t)
        else java.nio.file.Files.copy(p, t)
      }
    }
    copyTree(java.nio.file.Paths.get(s"$ref/W/batch=1"),
      java.nio.file.Paths.get(s"$path/W/batch=1"))
    // replay: W for batch 1 is committed → skipped; every bucket's
    // marker is still 0 → all merges re-run against pre-batch state
    BucketedJoinView.applyBatchEvents(
      ops(fe, Seq("u")), ops(de, Seq("u")), 1L, path, nBuckets)
    assert(bucketedView(path) == bucketedView(ref))
    val (a, b) = graft.streaming.BucketedJoinView.readStates(spark, path)
    val (ra, rb) = graft.streaming.BucketedJoinView.readStates(spark, ref)
    assert(a.collect().toSet == ra.collect().toSet)
    assert(b.collect().toSet == rb.collect().toSet)
  }

  test("bucketed join view: an uncommitted W snapshot directory is invisible to readers") {
    import graft.streaming.{BucketedJoinView, IncrementalJoinView}
    val path = tmpDir()
    def ops(df: DataFrame, o: Seq[String]) =
      df.filter(col("op").isin(o: _*))
    BucketedJoinView.applyBatchEvents(
      ops(IncrementalJoinView.factEvents(parsed), Seq("c", "r")),
      ops(IncrementalJoinView.dimEvents(parsedDim), Seq("c")),
      0L, path, 8)
    val before = bucketedView(path)
    // crash mid-W-write: a batch=99 dir with data files but no _SUCCESS
    val crashed = new java.io.File(s"$path/W/batch=99")
    assert(crashed.mkdirs())
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$path/W/batch=99/part-00000.parquet"),
      Array[Byte](1, 2, 3))
    assert(bucketedView(path) == before)
  }

  test("bucketed join view: a batch with mismatched bucket geometry is rejected, not silently corrupting") {
    import graft.streaming.{BucketedJoinView, IncrementalJoinView}
    val path = tmpDir()
    def ops(df: DataFrame, o: Seq[String]) =
      df.filter(col("op").isin(o: _*))
    val fe = IncrementalJoinView.factEvents(parsed)
    val de = IncrementalJoinView.dimEvents(parsedDim)
    BucketedJoinView.applyBatchEvents(
      ops(fe, Seq("c", "r")), ops(de, Seq("c")), 0L, path, nBuckets = 8)
    // resuming with a different nBuckets would probe the wrong dirs and
    // drop rows during rewrites — the geometry pin must fail loudly
    val e = intercept[IllegalArgumentException] {
      BucketedJoinView.applyBatchEvents(
        ops(fe, Seq("u")), ops(de, Seq("u")), 1L, path, nBuckets = 64)
    }
    assert(e.getMessage.contains("nBuckets=8"))
    // and the correct geometry still proceeds
    BucketedJoinView.applyBatchEvents(
      ops(fe, Seq("u")), ops(de, Seq("u")), 1L, path, nBuckets = 8)
    assert(bucketedView(path).nonEmpty)
  }

  test("bucketed join view: rebucket resharding keeps the view, states, replay gate, and continuation") {
    import graft.streaming.{BucketedJoinView, IncrementalJoinView}
    import spark.implicits._
    val src = tmpDir()
    applyBucketedPhases(src, nBuckets = 8)
    val dst = tmpDir() + "/wide"
    // a crashed earlier attempt's staging leftovers are rebuilt, not trusted
    new java.io.File(dst + ".inprogress/A/_bucket=0").mkdirs()
    BucketedJoinView.rebucket(spark, src, dst, newNBuckets = 16)
    assert(!new java.io.File(dst + ".inprogress").exists())
    // view and states survive the reshard as identical row sets
    assert(bucketedView(dst) == bucketedView(src))
    val (sa, sb) = BucketedJoinView.readStates(spark, src)
    val (da, db) = BucketedJoinView.readStates(spark, dst)
    assert(da.collect().toSet == sa.collect().toSet)
    assert(db.collect().toSet == sb.collect().toSet)
    // layout actually moved: all 16 bucket dirs exist (marker collapse
    // touches empty ones too) and every row sits in the bucket its key
    // hashes to under the NEW geometry
    val aDirs = new java.io.File(s"$dst/A").listFiles()
      .filter(_.getName.startsWith("_bucket=")).map(_.getName).toSet
    assert(aDirs == (0 until 16).map(b => s"_bucket=$b").toSet)
    val misplaced = (0 until 16).flatMap { bkt =>
      val d = new java.io.File(s"$dst/A/_bucket=$bkt")
      if (d.listFiles().exists(_.getName.endsWith(".parquet")))
        spark.read.parquet(d.toString)
          .filter(pmod(xxhash64(col("k")), lit(16L)).cast("int") =!= bkt)
          .collect().toSeq
      else Seq.empty
    }
    assert(misplaced.isEmpty, s"rows outside their new-geometry bucket: $misplaced")
    // the old geometry is rejected on the migrated store
    def ops(df: DataFrame, o: Seq[String]) =
      df.filter(col("op").isin(o: _*))
    val fe = IncrementalJoinView.factEvents(parsed)
    val de = IncrementalJoinView.dimEvents(parsedDim)
    intercept[IllegalArgumentException] {
      BucketedJoinView.applyBatchEvents(
        ops(fe, Seq("d")), ops(de, Seq("d")), 3L, dst, nBuckets = 8)
    }
    // replay of the LAST pre-migration batch is a no-op: collapsed
    // markers gate every bucket the replayed delta probes
    val viewBefore = bucketedView(dst)
    BucketedJoinView.applyBatchEvents(
      ops(fe, Seq("d")), ops(de, Seq("d")), 2L, dst, nBuckets = 16)
    assert(bucketedView(dst) == viewBefore)
    // continuation: the same NEXT batch applied to both geometries gives
    // the same view
    def env(json: String) = graft.sources.Debezium.parseEnvelope(
      Seq(("t", "{}", json)).toDF("topic", "key", "value"),
      graft.sources.Debezium.ordersRowSchema)
    val before = """{"o_orderkey":900001,"o_custkey":77,"o_orderstatus":"O","o_totalprice":"10.00","o_orderdate_us":0,"o_orderpriority":"1"}"""
    val after = """{"o_orderkey":900001,"o_custkey":77,"o_orderstatus":"O","o_totalprice":"25.00","o_orderdate_us":0,"o_orderpriority":"1"}"""
    val fe3 = IncrementalJoinView.factEvents(env(
      s"""{"before":$before,"after":$after,"source":{"lsn":999901,"table":"t","ts_ms":0},"op":"u","ts_ms":0}"""))
    val de3 = IncrementalJoinView.dimEvents(graft.sources.Debezium.parseEnvelope(
      Seq.empty[(String, String, String)].toDF("topic", "key", "value"),
      graft.sources.Debezium.customerRowSchema))
    BucketedJoinView.applyBatchEvents(fe3, de3, 3L, src, nBuckets = 8)
    BucketedJoinView.applyBatchEvents(fe3, de3, 3L, dst, nBuckets = 16)
    assert(bucketedView(dst) == bucketedView(src))
  }

  test("rebucket refuses an unhealed store and an inconsistent one") {
    import graft.streaming.BucketedJoinView
    val src = tmpDir()
    applyBucketedPhases(src, nBuckets = 8)
    // crash residue next to a side: heal by resuming the stream, not here
    assert(new java.io.File(s"$src/A.stage-99").mkdirs())
    val e1 = intercept[IllegalArgumentException](
      BucketedJoinView.rebucket(spark, src, src + "-x", 16))
    assert(e1.getMessage.contains("crash residue"))
    assert(new java.io.File(s"$src/A.stage-99").delete())
    // destination must be fresh
    val e2 = intercept[IllegalArgumentException](
      BucketedJoinView.rebucket(spark, src, src, 16))
    assert(e2.getMessage.contains("NEW path"))
    // silently losing a bucket breaks W == Agg(A ⋈ B) — refuse to freeze
    // the inconsistency into a reshard
    val victim = new java.io.File(s"$src/A").listFiles()
      .filter(d => d.getName.startsWith("_bucket=") &&
        d.listFiles().exists(_.getName.endsWith(".parquet"))).head
    victim.listFiles().foreach(f => assert(f.delete()))
    assert(victim.delete())
    val e3 = intercept[IllegalArgumentException](
      BucketedJoinView.rebucket(spark, src, src + "-y", 16))
    assert(e3.getMessage.contains("inconsistent"))
  }

  test("bucketed join view: streaming maintain over the raw multi-topic stream equals the one-shot apply") {
    import graft.streaming.{BucketedJoinView, IncrementalJoinView}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val raw = CdcOps.synthOrdersChangelog(spark, sfDir)
      .unionByName(CdcOps.synthCustomerDimChangelog(spark, sfDir))
      .select("topic", "key", "value")
      .as[(String, String, String)].collect()
    val path = tmpDir()
    val in = MemoryStream[(String, String, String)]
    val q = BucketedJoinView.maintain(
      in.toDF().toDF("topic", "key", "value"), path, Some(tmpDir()),
      nBuckets = 8).start()
    try {
      raw.grouped(raw.length / 2 + 1).foreach { c =>
        in.addData(c.toIndexedSeq: _*); q.processAllAvailable()
      }
    } finally q.stop()
    val ref = tmpDir()
    IncrementalJoinView.applyBatch(parsed, parsedDim, 0L, ref)
    assert(bucketedView(path).nonEmpty && bucketedView(path) == joinView(ref))
  }

  test("join view stores agree with each other AND a driver-side fold on random two-table change logs") {
    import graft.streaming.{BucketedJoinView, IncrementalJoinView}
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import spark.implicits._
    def oEnv(key: Long, cust: Long, lsn: Long, op: String,
        before: Option[Int], after: Option[Int]): String = {
      def row(p: Int) =
        s"""{"o_orderkey":$key,"o_custkey":$cust,"o_orderstatus":"O","o_totalprice":"$p.00","o_orderdate_us":0,"o_orderpriority":"1"}"""
      s"""{"before":${before.map(row).getOrElse("null")},"after":${after.map(row).getOrElse("null")},"source":{"lsn":$lsn,"table":"orders","ts_ms":0},"op":"$op","ts_ms":0}"""
    }
    def cEnv(cust: Long, lsn: Long, op: String,
        before: Option[String], after: Option[String]): String = {
      def row(s: String) =
        s"""{"c_custkey":$cust,"c_name":"n","c_nationkey":1,"c_acctbal":"0.00","c_mktsegment":"$s"}"""
      s"""{"before":${before.map(row).getOrElse("null")},"after":${after.map(row).getOrElse("null")},"source":{"lsn":$lsn,"table":"customers","ts_ms":0},"op":"$op","ts_ms":0}"""
    }
    val segs = Seq("AUTO", "BIKE", "SHIP")
    // per-key coherent histories: insert, 0..2 updates, optional delete;
    // every event lands in an ARBITRARY one of 3 batches (deletes can
    // precede their insert across batches — the additive algebra must
    // commute); orders reference customer keys 0..nCust-1, some of which
    // are never inserted (dangling facts must simply not join)
    type Ev = (String, Long, String, Int) // (json, lsn, side, batch)
    val gen: Gen[Seq[Ev]] = for {
      nCust <- Gen.choose(1, 4)
      nOrd <- Gen.choose(1, 8)
      custHists <- Gen.sequence[Seq[Seq[Ev]], Seq[Ev]]((0 until nCust).map { c =>
        for {
          present <- Gen.oneOf(true, true, false)
          nUpd <- Gen.choose(0, 2)
          vs <- Gen.listOfN(nUpd + 1, Gen.oneOf(segs))
          del <- Gen.oneOf(true, false, false)
          bs <- Gen.listOfN(nUpd + 2, Gen.choose(0, 2))
        } yield if (!present) Seq.empty[Ev] else {
          val base = 1000L + c * 100
          val ins = (cEnv(c, base, "c", None, Some(vs.head)), base, "C", bs.head)
          val upds = (1 to nUpd).map(i => (cEnv(c, base + i, "u",
            Some(vs(i - 1)), Some(vs(i))), base + i, "C", bs(i)))
          val dels = if (del) Seq((cEnv(c, base + 50, "d", Some(vs.last), None),
            base + 50, "C", bs(nUpd + 1))) else Seq.empty
          Seq(ins) ++ upds ++ dels
        }
      })
      ordHists <- Gen.sequence[Seq[Seq[Ev]], Seq[Ev]]((0 until nOrd).map { k =>
        for {
          cust <- Gen.choose(0, nCust) // nCust itself = never-inserted key
          nUpd <- Gen.choose(0, 2)
          ps <- Gen.listOfN(nUpd + 1, Gen.choose(1, 40))
          del <- Gen.oneOf(true, false)
          bs <- Gen.listOfN(nUpd + 2, Gen.choose(0, 2))
        } yield {
          val base = k * 100L
          val ins = (oEnv(k, cust, base, "c", None, Some(ps.head)), base, "O", bs.head)
          val upds = (1 to nUpd).map(i => (oEnv(k, cust, base + i, "u",
            Some(ps(i - 1)), Some(ps(i))), base + i, "O", bs(i)))
          val dels = if (del) Seq((oEnv(k, cust, base + 50, "d", Some(ps.last), None),
            base + 50, "O", bs(nUpd + 1))) else Seq.empty
          Seq(ins) ++ upds ++ dels
        }
      })
    } yield custHists.flatten ++ ordHists.flatten
    (1 to 5).foreach { i =>
      val events = gen.apply(Gen.Parameters.default, Seed(0xB17L + i))
        .getOrElse(fail(s"generator produced nothing for seed $i"))
      // driver-side ground truth: surviving last order versions joined to
      // surviving last customer versions, aggregated by segment
      def lastBy[A](evs: Seq[Ev])(parse: String => A): Map[Long, Option[A]] =
        evs.groupBy(e => keyOf(e._1)).map { case (k, h) =>
          val last = h.maxBy(_._2)
          k -> (if (last._3 == "O" && last._1.contains("\"op\":\"d\"")) None
                else if (last._3 == "C" && last._1.contains("\"op\":\"d\"")) None
                else Some(parse(last._1)))
        }
      def keyOf(json: String): Long =
        if (json.contains("c_custkey")) {
          val m = """"c_custkey":(\d+)""".r.findFirstMatchIn(json).get
          m.group(1).toLong
        } else """"o_orderkey":(\d+)""".r.findFirstMatchIn(json).get
          .group(1).toLong
      // LAST regex match, not first: an update envelope carries the
      // before row first and the after row second — the surviving
      // version's value is the LAST occurrence in the JSON
      val custs = lastBy(events.filter(_._3 == "C")) { j =>
        """"c_mktsegment":"(\w+)"""".r.findAllMatchIn(j).toSeq.last.group(1)
      }.collect { case (k, Some(s)) => k -> s }
      val ords = lastBy(events.filter(_._3 == "O")) { j =>
        val c = """"o_custkey":(\d+)""".r.findAllMatchIn(j).toSeq.last
          .group(1).toLong
        val p = """"o_totalprice":"(\d+)\.00"""".r.findAllMatchIn(j).toSeq
          .last.group(1).toLong
        (c, p)
      }.collect { case (k, Some(v)) => k -> v }
      val expected = ords.values.toSeq
        .flatMap { case (c, p) => custs.get(c).map(s => (s, p * 100L)) }
        .groupBy(_._1).map { case (s, xs) =>
          (s, xs.map(_._2).sum, xs.size.toLong) }.toSet
      val snap = tmpDir(); val bkt = tmpDir()
      val batches = scala.collection.mutable.ArrayBuffer
        .empty[(DataFrame, DataFrame)]
      (0 to 2).foreach { b =>
        def df(side: String) = {
          val batch = events.filter(e => e._3 == side && e._4 == b).map(_._1)
          val raw = batch.toDF("value").select(lit("t").as("topic"),
            lit("{}").as("key"), col("value"))
          graft.sources.Debezium.parseEnvelope(raw,
            if (side == "C") graft.sources.Debezium.customerRowSchema
            else graft.sources.Debezium.ordersRowSchema)
        }
        val fe = IncrementalJoinView.factEvents(df("O"))
        val de = IncrementalJoinView.dimEvents(df("C"))
        IncrementalJoinView.applyBatchEvents(fe, de, b.toLong, snap)
        BucketedJoinView.applyBatchEvents(fe, de, b.toLong, bkt, 4)
        batches += ((fe, de))
      }
      val lastBatch = batches.last
      val vSnap = joinView(snap).toSet
      val vBkt = bucketedView(bkt).toSet
      withClue(s"seed=${0xB17L + i}: ") {
        assert(vSnap.map(t => (t._1, t._2, t._3)) == expected)
        assert(vBkt == vSnap)
        // replay safety on random data: re-delivering the committed last
        // batch changes NEITHER store (the snapshot store recomputes from
        // its predecessor; the bucketed store's markers gate the merge)
        IncrementalJoinView.applyBatchEvents(
          lastBatch._1, lastBatch._2, 2L, snap)
        BucketedJoinView.applyBatchEvents(
          lastBatch._1, lastBatch._2, 2L, bkt, 4)
        assert(joinView(snap).toSet == vSnap)
        assert(bucketedView(bkt).toSet == vBkt)
        // mid-stream reshard equivalence: the same changelog with an
        // OFFLINE rebucket (4 → 7) between batches 1 and 2 must land on
        // the identical view, and the collapsed markers must still gate
        // a replay of the post-reshard batch
        val mig = tmpDir()
        BucketedJoinView.applyBatchEvents(
          batches(0)._1, batches(0)._2, 0L, mig, 4)
        BucketedJoinView.applyBatchEvents(
          batches(1)._1, batches(1)._2, 1L, mig, 4)
        val mig2 = tmpDir() + "/resharded"
        BucketedJoinView.rebucket(spark, mig, mig2, 7)
        BucketedJoinView.applyBatchEvents(
          batches(2)._1, batches(2)._2, 2L, mig2, 7)
        assert(bucketedView(mig2).toSet == vSnap,
          "mid-stream reshard diverged from the never-resharded stores")
        BucketedJoinView.applyBatchEvents(
          batches(2)._1, batches(2)._2, 2L, mig2, 7)
        assert(bucketedView(mig2).toSet == vSnap,
          "replay after a reshard re-applied a committed batch")
      }
    }
  }

  test("min/max view: a deleted minimum RECOVERS to the surviving runner-up") {
    import graft.streaming.{IncrementalMinMax, IncrementalView}
    import spark.implicits._
    val path = tmpDir()
    def env(json: String) =
      IncrementalView.eventsOf(graft.sources.Debezium.parseEnvelope(
        Seq(("t", "{}", json)).toDF("topic", "key", "value"),
        graft.sources.Debezium.ordersRowSchema))
    def oRow(k: Long, price: String) =
      s"""{"o_orderkey":$k,"o_custkey":1,"o_orderstatus":"S","o_totalprice":"$price","o_orderdate_us":0,"o_orderpriority":"1"}"""
    def wrap(before: String, after: String, op: String, lsn: Long) =
      s"""{"before":$before,"after":$after,"source":{"lsn":$lsn,"table":"t","ts_ms":0},"op":"$op","ts_ms":0}"""
    // batch 0: group S holds {100.00, 200.00} → min 10000
    IncrementalMinMax.applyBatchEvents(
      env(wrap("null", oRow(1, "100.00"), "c", 1L))
        .unionByName(env(wrap("null", oRow(2, "200.00"), "c", 2L))),
      0L, path)
    def view() = IncrementalMinMax.readView(spark, path).get
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    assert(view() == Seq(("S", 10000L, 20000L, 2L)))
    // batch 1: DELETE the minimum row — a min-of-deltas fold has already
    // forgotten 20000; the multiset support has not
    IncrementalMinMax.applyBatchEvents(
      env(wrap(oRow(1, "100.00"), "null", "d", 3L)), 1L, path)
    assert(view() == Seq(("S", 20000L, 20000L, 1L)))
    // batch 2: delete the last row — the group leaves the view entirely
    IncrementalMinMax.applyBatchEvents(
      env(wrap(oRow(2, "200.00"), "null", "d", 4L)), 2L, path)
    assert(view().isEmpty)
    // replay of the committed delete batch is a no-op (recomputed from
    // batch 1's snapshot, not double-applied)
    IncrementalMinMax.applyBatchEvents(
      env(wrap(oRow(2, "200.00"), "null", "d", 4L)), 2L, path)
    assert(view().isEmpty)
  }

  test("min/max support answers exact quantiles, delete-safely, from the same state") {
    import graft.streaming.{IncrementalMinMax, IncrementalView}
    import spark.implicits._
    val path = tmpDir()
    def env(json: String) =
      IncrementalView.eventsOf(graft.sources.Debezium.parseEnvelope(
        Seq(("t", "{}", json)).toDF("topic", "key", "value"),
        graft.sources.Debezium.ordersRowSchema))
    def oRow(k: Long, price: String) =
      s"""{"o_orderkey":$k,"o_custkey":1,"o_orderstatus":"S","o_totalprice":"$price","o_orderdate_us":0,"o_orderpriority":"1"}"""
    def wrap(before: String, after: String, op: String, lsn: Long) =
      s"""{"before":$before,"after":$after,"source":{"lsn":$lsn,"table":"t","ts_ms":0},"op":"$op","ts_ms":0}"""
    // batch 0: S = {10, 20, 20, 30, 40} (cents ×100)
    val ins = Seq((1L, "10.00"), (2L, "20.00"), (3L, "20.00"),
      (4L, "30.00"), (5L, "40.00"))
      .map { case (k, p) => env(wrap("null", oRow(k, p), "c", k)) }
      .reduce(_ unionByName _)
    IncrementalMinMax.applyBatchEvents(ins, 0L, path)
    def quant(q: Double): Seq[(String, Long)] =
      IncrementalMinMax.readQuantile(spark, path, q).get
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    // exact lower-interpolation quantiles of {1000,2000,2000,3000,4000}
    assert(quant(0.5) == Seq(("S", 2000L)))   // 3rd of 5
    assert(quant(0.9) == Seq(("S", 4000L)))   // ceil(4.5) = 5th
    assert(quant(0.2) == Seq(("S", 1000L)))   // 1st
    // delete BOTH 20.00 rows — the median must recover upward to 30.00,
    // which a scalar percentile sketch folded over deltas cannot do
    val dels = Seq((2L, "20.00"), (3L, "20.00"))
      .map { case (k, p) => env(wrap(oRow(k, p), "null", "d", 100 + k)) }
      .reduce(_ unionByName _)
    IncrementalMinMax.applyBatchEvents(dels, 1L, path)
    assert(quant(0.5) == Seq(("S", 3000L)))   // {10,30,40} → 2nd of 3
    assert(quant(1.0) == Seq(("S", 4000L)))   // max, agreeing with readView

    // float-trap regression: 0.07 * 100 is 7.000000000000001 in doubles,
    // whose ceil is 8 — the decimal rank arithmetic must return the 7th
    // value, not the 8th
    val path2 = tmpDir()
    val hundred = IncrementalView.eventsOf(
      graft.sources.Debezium.parseEnvelope(
        (1 to 100).map(k => ("t", "{}", wrap("null", oRow(k, s"$k.00"), "c", k)))
          .toDF("topic", "key", "value"),
        graft.sources.Debezium.ordersRowSchema))
    IncrementalMinMax.applyBatchEvents(hundred, 0L, path2)
    val q07 = IncrementalMinMax.readQuantile(spark, path2, 0.07).get
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(q07 == Seq(("S", 700L)))
  }

  test("duplicate deliveries within a batch fold once") {
    val path = tmpDir()
    // the fixture's update phase contains the %20 replay rows twice;
    // delta() must drop them before folding. Compare against a manually
    // deduplicated log applied the same way.
    IncrementalView.applyBatch(
      parsed.filter(col("env.op").isin("c", "r")), 0L, path)
    IncrementalView.applyBatch(
      parsed.filter(col("env.op") === "u"), 1L, path)
    val withReplays = view(path)

    val path2 = tmpDir()
    IncrementalView.applyBatch(
      parsed.filter(col("env.op").isin("c", "r")), 0L, path2)
    IncrementalView.applyBatch(
      parsed.filter(col("env.op") === "u")
        .dropDuplicates("key", "value"), 1L, path2)
    assert(withReplays == view(path2))
  }
}
