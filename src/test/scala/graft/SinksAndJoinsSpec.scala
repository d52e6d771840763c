package graft

import graft.operators.CdcOps
import graft.sources.Debezium
import graft.streaming.{Sinks, StreamJoins}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import java.sql.Timestamp

/** Sink idempotence, streaming joins, and the CdcPipeline builder API. */
class SinksAndJoinsSpec extends SparkSpec {

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("upsertByKey sink: replayed batches do not change sink state") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = tempDir("graft_sink").toString + "/t"
    val in = MemoryStream[(Long, Long, String)]
    val q = Sinks.upsertByKey(
      in.toDF().toDF("k", "lsn", "v"), dir, "k", "lsn")
      .start()
    try {
      in.addData((1L, 10L, "a"), (2L, 20L, "b"))
      q.processAllAvailable()
      in.addData((1L, 10L, "a"), (1L, 15L, "a2")) // replay + newer
      q.processAllAvailable()
      val state = spark.read.parquet(dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      assert(state == Set((1L, 15L, "a2"), (2L, 20L, "b")))
    } finally q.stop()
  }

  test("upsertByKey rewrites only the buckets a batch touches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val nBuckets = 4
    // pick two keys that hash to different state buckets
    val buckets = spark.createDataset(1L to 50L).toDF("k")
      .withColumn("b",
        pmod(xxhash64(col("k")), lit(nBuckets.toLong)).cast("int"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val kA = buckets.keys.min
    val kB = buckets.keys.filter(buckets(_) != buckets(kA)).min
    val (bA, bB) = (buckets(kA), buckets(kB))
    val dir = tempDir("graft_bsink").toString + "/t"
    def bucketFiles(b: Int): Set[String] = {
      val p = new org.apache.hadoop.fs.Path(s"$dir/_bucket=$b")
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      if (!fs.exists(p)) Set.empty
      else fs.listStatus(p).filter(_.isFile).map(_.getPath.getName).toSet
    }
    val in = MemoryStream[(Long, Long, String)]
    val q = Sinks.upsertByKey(
      in.toDF().toDF("k", "lsn", "v"), dir, "k", "lsn", nBuckets)
      .start()
    try {
      in.addData((kA, 10L, "a"), (kB, 20L, "b"))
      q.processAllAvailable()
      val filesA0 = bucketFiles(bA)
      val filesB0 = bucketFiles(bB)
      assert(filesA0.nonEmpty && filesB0.nonEmpty)
      in.addData((kA, 15L, "a2")) // touches only bucket bA
      q.processAllAvailable()
      // partition rewrites produce fresh part-file names: bucket bA must
      // have changed, bucket bB must be byte-for-byte untouched
      assert(bucketFiles(bA) != filesA0, "touched bucket was not rewritten")
      assert(bucketFiles(bB) == filesB0,
        "batch touching only one bucket rewrote another bucket's files")
      val state = Sinks.readState(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      assert(state == Set((kA, 15L, "a2"), (kB, 20L, "b")))
    } finally q.stop()
  }

  test("upsertByKey writes each touched bucket exactly once per batch " +
    "(single-write commit: one part file per bucket dir, no rewrite pass)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val nBuckets = 4
    val dir = tempDir("graft_swsink").toString + "/t"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val in = MemoryStream[(Long, Long, String)]
    val q = Sinks.upsertByKey(
      in.toDF().toDF("k", "lsn", "v"), dir, "k", "lsn", nBuckets)
      .start()
    try {
      in.addData((1L to 40L).map(k => (k, k, s"v$k")): _*)
      q.processAllAvailable()
      in.addData((1L to 40L).map(k => (k, k + 100, s"w$k")): _*)
      q.processAllAvailable()
      // the staged file IS the published file: every bucket dir holds
      // exactly one parquet part file (the merged state), not a staged
      // copy plus an overwrite-pass copy and not per-task fragments
      val bucketDirs = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("_bucket="))
      assert(bucketDirs.nonEmpty)
      bucketDirs.foreach { d =>
        val parts = fs.listStatus(d.getPath)
          .filter(f => f.isFile && f.getPath.getName.startsWith("part-"))
        assert(parts.length == 1,
          s"${d.getPath.getName} has ${parts.length} part files, expected 1")
      }
      // no commit scaffolding left behind
      assert(fs.globStatus(
        new org.apache.hadoop.fs.Path(dir + ".stage-*")).isEmpty)
      assert(fs.globStatus(
        new org.apache.hadoop.fs.Path(dir + ".trash-*")).isEmpty)
      val state = Sinks.readState(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      assert(state == (1L to 40L).map(k => (k, k + 100, s"w$k")).toSet)
    } finally q.stop()
  }

  test("upsertBatch: on an ordering tie the batch row beats the stored row " +
    "(a delete rewritten at its row's position), and its replay is a no-op") {
    import spark.implicits._
    val dir = tempDir("graft_tiesink").toString + "/t"
    val keys = 1L to 20L
    def state() = Sinks.readState(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    Sinks.upsertBatch(keys.map(k => (k, 10L, false)).toDF("k", "lsn", "deleted"),
      0L, dir, "k", "lsn", 4)
    val deletes = keys.map(k => (k, 10L, true)).toDF("k", "lsn", "deleted")
    Sinks.upsertBatch(deletes, 1L, dir, "k", "lsn", 4)
    assert(state() == keys.map(k => (k, 10L, true)).toSet)
    Sinks.upsertBatch(deletes, 1L, dir, "k", "lsn", 4)
    assert(state() == keys.map(k => (k, 10L, true)).toSet)
  }

  test("upsertBatch recovers a crash between displace and publish " +
    "(bucket in trash, missing from live) without losing state") {
    import spark.implicits._
    val nBuckets = 4
    val dir = tempDir("graft_crsink").toString + "/t"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // batch 0: seed two keys in different buckets
    val buckets = spark.createDataset(1L to 50L).toDF("k")
      .withColumn("b",
        pmod(xxhash64(col("k")), lit(nBuckets.toLong)).cast("int"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val kA = buckets.keys.min
    val kB = buckets.keys.filter(buckets(_) != buckets(kA)).min
    Sinks.upsertBatch(
      Seq((kA, 10L, "a"), (kB, 20L, "b")).toDF("k", "lsn", "v"),
      0L, dir, "k", "lsn", nBuckets)
    // simulate a crash mid-swap of batch 1: bucket bA was displaced to
    // trash but its staged replacement never landed, and a stale stage
    // dir is still lying around
    val bA = buckets(kA)
    val liveA = new org.apache.hadoop.fs.Path(s"$dir/_bucket=$bA")
    val trash = new org.apache.hadoop.fs.Path(dir + ".trash-1")
    fs.mkdirs(trash)
    assert(fs.rename(liveA, new org.apache.hadoop.fs.Path(trash, s"_bucket=$bA")))
    fs.mkdirs(new org.apache.hadoop.fs.Path(dir + ".stage-1/_bucket=9"))
    assert(!fs.exists(liveA))
    // the replayed batch (same data, same batchId) must first restore the
    // displaced bucket, then merge on top of the restored state
    Sinks.upsertBatch(
      Seq((kA, 15L, "a2")).toDF("k", "lsn", "v"),
      1L, dir, "k", "lsn", nBuckets)
    val state = Sinks.readState(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(state == Set((kA, 15L, "a2"), (kB, 20L, "b")),
      "recovery lost or duplicated sink state")
    assert(fs.globStatus(
      new org.apache.hadoop.fs.Path(dir + ".trash-*")).isEmpty)
    assert(fs.globStatus(
      new org.apache.hadoop.fs.Path(dir + ".stage-*")).isEmpty)
  }

  test("upsert sink: mismatched bucket geometry is rejected, and rebucket migrates it") {
    import spark.implicits._
    val base = tempDir("graft_rbsink").toString
    val dir = base + "/t"
    def batch(rows: (Long, Long, String)*) =
      rows.toDF("k", "lsn", "v")
    Sinks.upsertBatch(batch((1L, 10L, "a"), (2L, 20L, "b"), (77L, 5L, "c")),
      0L, dir, "k", "lsn", nBuckets = 4)
    // resuming with a different count would split keys across old/new
    // buckets and read back stale duplicates — pinned geometry fails loudly
    val e = intercept[IllegalArgumentException] {
      Sinks.upsertBatch(batch((1L, 11L, "a2")), 1L, dir, "k", "lsn",
        nBuckets = 8)
    }
    assert(e.getMessage.contains("nBuckets=4"))
    // the migration path: reshard to 8 buckets at a new path
    val wide = base + "/t8"
    Sinks.rebucket(spark, dir, wide, "k", 8)
    assert(!new java.io.File(wide + ".inprogress").exists())
    def state(p: String) = Sinks.readState(spark, p).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(state(wide) == state(dir))
    // every migrated row sits in the bucket its key hashes to under the
    // NEW geometry
    val misplaced = spark.read.parquet(wide)
      .filter(pmod(xxhash64(col("k")), lit(8L)).cast("int") =!= col("_bucket"))
      .count()
    assert(misplaced == 0L)
    // rebucket refuses to reshard in place, onto an existing path, to zero
    // buckets, or from a root that holds no bucket — and writes nothing
    val empty = base + "/empty"
    assert(new java.io.File(empty).mkdirs())
    for ((from, to, n, why) <- Seq(
        (dir, dir, 8, "NEW path"), (dir, wide, 8, "already exists"),
        (dir, base + "/t0", 0, "positive"), (empty, base + "/t9", 8, "")))
      withClue(s"$from -> $to ($n): ") {
        val e = intercept[IllegalArgumentException](
          Sinks.rebucket(spark, from, to, "k", n))
        assert(e.getMessage.contains(why))
        assert(!new java.io.File(to + ".inprogress").exists())
      }
    assert(!new java.io.File(base + "/t0").exists())
    assert(!new java.io.File(base + "/t9").exists())
    assert(state(dir) == state(wide))
    // the resumed stream continues against the new geometry (old rejected)
    intercept[IllegalArgumentException] {
      Sinks.upsertBatch(batch((1L, 11L, "a2")), 1L, wide, "k", "lsn",
        nBuckets = 4)
    }
    Sinks.upsertBatch(batch((1L, 11L, "a2")), 1L, wide, "k", "lsn",
      nBuckets = 8)
    assert(state(wide) == Set((1L, 11L, "a2"), (2L, 20L, "b"), (77L, 5L, "c")))
  }

  test("upsertByKey accumulates state on a file:-URI path (Hadoop FS probe)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // an explicit file: URI — a java.io.File existence probe would always
    // say "missing", silently dropping prior state on every batch
    val dir = "file://" +
      tempDir("graft_fsink").toString + "/t"
    val in = MemoryStream[(Long, Long, String)]
    val q = Sinks.upsertByKey(
      in.toDF().toDF("k", "lsn", "v"), dir, "k", "lsn")
      .start()
    try {
      in.addData((1L, 10L, "a"))
      q.processAllAvailable()
      in.addData((2L, 20L, "b")) // second batch must keep key 1's state
      q.processAllAvailable()
      val state = Sinks.readState(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      assert(state == Set((1L, 10L, "a"), (2L, 20L, "b")))
    } finally q.stop()
  }

  test("stream-static enrich broadcasts the dim side") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dim = Seq((1L, "BUILDING"), (2L, "MACHINERY")).toDF("k", "seg")
    val in = MemoryStream[Long]
    val q = StreamJoins.enrich(in.toDF().toDF("k"), dim, Seq("k"))
      .writeStream.format("memory").queryName("enriched").start()
    try {
      in.addData(1L, 2L, 3L)
      q.processAllAvailable()
      val rows = spark.table("enriched").collect()
        .map(r => (r.getLong(0), Option(r.getString(1)))).toSet
      assert(rows == Set((1L, Some("BUILDING")), (2L, Some("MACHINERY")),
        (3L, None)))
    } finally q.stop()
  }

  test("stream-stream interval join matches only in-window pairs") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val orders = MemoryStream[(Long, Timestamp)]
    val pays = MemoryStream[(Long, Timestamp)]
    val joined = StreamJoins.intervalJoin(
      orders.toDF().toDF("k", "o_ts"), "o_ts",
      pays.toDF().toDF("k", "p_ts"), "p_ts",
      "k", lateness = "10 minutes", maxDelay = "5 minutes")
      .select("k")
    val q = joined.writeStream.format("memory").queryName("ssj").start()
    try {
      orders.addData((1L, ts("2024-01-01 00:00:00")),
        (2L, ts("2024-01-01 00:00:00")))
      pays.addData((1L, ts("2024-01-01 00:03:00")),  // within 5 min → match
        (2L, ts("2024-01-01 00:09:00")))             // beyond → no match
      q.processAllAvailable()
      assert(spark.table("ssj").collect().map(_.getLong(0)).toSeq == Seq(1L))
    } finally q.stop()
  }

  test("CdcPipeline builder materializes a configured table") {
    val cfg = CdcPipelineConfig(
      tables = Map("orders" -> Debezium.ordersRowSchema),
      keyColumns = Map("orders" -> Seq("o_orderkey")))
    val pipe = new CdcPipeline(cfg)
    val raw = CdcOps.synthOrdersChangelog(spark, sfDir)
    val current = pipe.table(raw, "orders")
    val expected = CdcOps.ordersCompacted(spark, sfDir)
    assert(current.exceptAll(expected).count() == 0)
    assert(expected.exceptAll(current).count() == 0)
    intercept[IllegalArgumentException](pipe.unwrapped(raw, "nope"))
  }
}
