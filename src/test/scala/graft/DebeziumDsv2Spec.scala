package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import graft.operators.CdcOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The `debezium-json` DataSourceV2 connector (sources/DebeziumJsonSource):
  * scan correctness, in-reader filter pushdown, column pruning, split
  * handling, and the corrupt-line dead-letter contract. */
class DebeziumDsv2Spec extends SparkSpec {

  private lazy val archive = CdcOps.ordersChangelogArchive(spark, sfDir)
  private def read(opts: (String, String)*): DataFrame = {
    val r = spark.read.format("debezium-json")
    opts.foreach { case (k, v) => r.option(k, v) }
    r.load(archive)
  }
  private def scanDesc(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("archive round-trip: record counts and tombstones survive") {
    val df = read()
    val total = CdcOps.synthOrdersChangelog(spark, sfDir).count()
    assert(df.count() === total)
    // tombstones: null value lines → _tombstone, op null, no corruption
    val tomb = df.filter(col("_tombstone")).count()
    val deletes = df.filter(col("op") === "d").count()
    assert(tomb === deletes && tomb > 0)
    assert(df.filter(col("_corrupt")).count() === 0)
  }

  test("filter pushdown reaches the scan and the reader agrees with Spark") {
    val upd = read().filter(col("op") === "u")
    // the pushed filter must be visible in the DSv2 scan description
    assert(scanDesc(upd).contains("EqualTo(op,u)"),
      s"pushdown missing from plan:\n${scanDesc(upd)}")
    // residual re-check means the count is trustworthy either way; the
    // fixture has one update per key%10 plus one replay per key%20
    val o = graft.sources.Tables.scan(spark, sfDir, "orders")
    val expected =
      o.filter(col("o_orderkey") % 10 === 0).count() +
        o.filter(col("o_orderkey") % 20 === 0).count()
    assert(upd.count() === expected)

    // WAL-position resume: lsn > X composes with op pushdown
    val mid = read().agg(max("lsn")).head.getLong(0) / 2
    val resumed = read().filter(col("op").isNotNull && col("lsn") > mid)
    assert(scanDesc(resumed).contains(s"GreaterThan(lsn,$mid)"))
    val full = read().filter(col("op").isNotNull)
      .filter(col("lsn") > mid).count()
    assert(resumed.count() === full)
  }

  test("column pruning reaches the scan") {
    val slim = read().select("topic", "key")
    assert(scanDesc(slim).contains("ReadSchema=[topic,key]"),
      s"pruning missing from plan:\n${scanDesc(slim)}")
    assert(slim.distinct().count() > 0)
  }

  test("splits: small maxSplitBytes multiplies partitions, not rows") {
    val whole = read()
    val sliced = read("maxSplitBytes" -> "4096")
    assert(sliced.rdd.getNumPartitions > whole.rdd.getNumPartitions)
    assert(sliced.count() === whole.count())
    // straddling lines land exactly once: keys of live events match
    val k = (df: DataFrame) => df.filter(col("op").isNotNull)
      .select("key").as[String](org.apache.spark.sql.Encoders.STRING)
      .collect().sorted.toSeq
    assert(k(sliced) === k(whole))
  }

  test("limit pushdown caps each partition reader") {
    val lim = read().limit(5)
    assert(scanDesc(lim).contains("PushedLimit=5"),
      s"pushed limit missing from plan:\n${scanDesc(lim)}")
    assert(lim.count() === 5)
    // a limit above a residual filter cannot (and must not) push through
    // it, but the composed query still answers correctly
    val limF = read().filter(col("op") === "u").limit(3).collect()
    assert(limF.length === 3 && limF.forall(_.getAs[String]("op") == "u"))
  }

  test("corrupt lines become _corrupt rows, never crashes or silent drops") {
    val dir = tempDir("graft-dbz-corrupt")
    val lines = Seq(
      """{"topic":"t.s.orders","key":"{\"o_orderkey\":1}","value":"{\"op\":\"c\",\"ts_ms\":5,\"source\":{\"lsn\":10,\"table\":\"orders\"},\"after\":{\"o_orderkey\":1}}"}""",
      """{"topic":"t.s.orders","key":"{\"o_orderkey\":2}"}""", // tombstone
      """{"topic":"t.s.orders","key":"{\"o_orderkey\":3}","value":"{\"before\":null,\"after\""}""", // truncated envelope
      """not json at all""")
    Files.write(Paths.get(dir.toString, "part-00000.json"),
      lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
    val df = spark.read.format("debezium-json").load(dir.toString)
    assert(df.count() === 4)
    assert(df.filter(col("_corrupt")).count() === 2)
    assert(df.filter(col("_tombstone")).count() === 1)
    val live = df.filter(col("op").isNotNull)
    assert(live.count() === 1)
    assert(live.select("lsn").head.getLong(0) === 10L)
    assert(live.select("tbl").head.getString(0) === "orders")
    // the corrupt raw payload is preserved for the DLQ
    assert(df.filter(col("_corrupt")).select("value")
      .collect().forall(!_.isNullAt(0)))
  }

  test("streaming: tailing the archive ingests each new file exactly once") {
    val dir = tempDir("graft-dbz-tail")
    def rec(k: Long): String =
      s"""{"topic":"t.s.orders","key":"{\\"o_orderkey\\":$k}","value":"{\\"op\\":\\"c\\",\\"ts_ms\\":$k,\\"source\\":{\\"lsn\\":$k,\\"table\\":\\"orders\\"},\\"after\\":{\\"o_orderkey\\":$k}}"}"""
    def writeFile(name: String, ks: Seq[Long]): Unit =
      Files.write(Paths.get(dir.toString, name),
        ks.map(rec).mkString("\n").getBytes(StandardCharsets.UTF_8))

    writeFile("part-001.json", Seq(1L, 2L))
    val got = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    val q = spark.readStream.format("debezium-json").load(dir.toString)
      .filter(col("op").isNotNull)
      .writeStream.foreachBatch {
        (df: org.apache.spark.sql.DataFrame, id: Long) =>
          got ++= df.select("lsn").collect().map(r => (id, r.getLong(0)))
          ()
      }.start()
    try {
      q.processAllAvailable()
      assert(got.map(_._2).sorted == Seq(1L, 2L))
      writeFile("part-002.json", Seq(3L, 4L, 5L))
      q.processAllAvailable()
      // the second batch carries ONLY the new file's records — nothing
      // from part-001 is re-ingested
      assert(got.map(_._2).sorted == Seq(1L, 2L, 3L, 4L, 5L))
      val batches = got.groupBy(_._1).view.mapValues(_.map(_._2).sorted)
      assert(batches.values.toSeq.map(_.toSeq).sortBy(_.head) ==
        Seq(Seq(1L, 2L), Seq(3L, 4L, 5L)))
    } finally q.stop()
  }

  test("streaming: maxFilesPerTrigger drains a backlog in bounded batches") {
    val dir = tempDir("graft-dbz-rate")
    def rec(k: Long): String =
      s"""{"topic":"t.s.orders","key":"{\\"o_orderkey\\":$k}","value":"{\\"op\\":\\"c\\",\\"ts_ms\\":$k,\\"source\\":{\\"lsn\\":$k,\\"table\\":\\"orders\\"},\\"after\\":{\\"o_orderkey\\":$k}}"}"""
    (1 to 3).foreach(i => Files.write(
      Paths.get(dir.toString, s"part-00$i.json"),
      rec(i.toLong).getBytes(StandardCharsets.UTF_8)))
    val perBatch = scala.collection.mutable.ArrayBuffer[Long]()
    val q = spark.readStream.format("debezium-json")
      .option("maxFilesPerTrigger", "1").load(dir.toString)
      .writeStream.foreachBatch {
        (df: org.apache.spark.sql.DataFrame, _: Long) =>
          perBatch += df.count(); ()
      }.start()
    try q.processAllAvailable() finally q.stop()
    // the 3-file backlog must drain one file (one record) per batch —
    // never one giant catch-up batch
    assert(perBatch.filter(_ > 0).toSeq == Seq(1L, 1L, 1L),
      s"expected 3 single-file batches, got $perBatch")
  }

  test("streaming: archive tail composes with the stateful compaction operator") {
    import spark.implicits._
    val dir = tempDir("graft-dbz-e2e")
    def rec(k: Long, lsn: Long, op: String): String = {
      val after = if (op == "d") "null"
        else s"""{\\"o_orderkey\\":$k,\\"o_orderstatus\\":\\"s$lsn\\"}"""
      s"""{"topic":"t.s.orders","key":"{\\"o_orderkey\\":$k}","value":"{\\"op\\":\\"$op\\",\\"ts_ms\\":$lsn,\\"source\\":{\\"lsn\\":$lsn,\\"table\\":\\"orders\\"},\\"after\\":$after}"}"""
    }
    Files.write(Paths.get(dir.toString, "f1.json"),
      Seq(rec(1, 10, "c"), rec(2, 20, "c")).mkString("\n")
        .getBytes(StandardCharsets.UTF_8))
    val state = scala.collection.mutable.Map[Long, graft.streaming.KeyState]()
    val changes = spark.readStream.format("debezium-json").load(dir.toString)
      .filter(col("op").isNotNull)
      .select(
        get_json_object(col("key"), "$.o_orderkey").cast("long").as("key"),
        col("lsn"),
        (col("op") === "d").as("deleted"),
        coalesce(col("after"), lit("")).as("payload"))
      .as[graft.streaming.KeyedChange]
    val q = graft.streaming.StatefulCompaction.compact(changes)
      .writeStream.outputMode("update").foreachBatch {
        (ds: org.apache.spark.sql.Dataset[graft.streaming.KeyState], _: Long) =>
          ds.collect().foreach(s => state(s.key) = s); ()
      }.start()
    try {
      q.processAllAvailable()
      assert(state(1L).payload.contains("s10") && !state(1L).deleted)
      // second archive file: update key 1, delete key 2, replay key 1's
      // ORIGINAL insert (stale lsn — must NOT resurrect the old status)
      Files.write(Paths.get(dir.toString, "f2.json"),
        Seq(rec(1, 30, "u"), rec(2, 40, "d"), rec(1, 10, "c"))
          .mkString("\n").getBytes(StandardCharsets.UTF_8))
      q.processAllAvailable()
      assert(state(1L).payload.contains("s30"), s"key 1: ${state(1L)}")
      assert(state(2L).deleted, s"key 2: ${state(2L)}")
    } finally q.stop()
  }

  test("reader filter evaluator: In with null elements never crashes, " +
      "null elements never match") {
    import org.apache.spark.sql.sources.In
    val ev = graft.sources.DebeziumFilterEval
    assert(ev.supports(In("op", Array("u", null))))
    assert(ev.eval(In("op", Array("u", null)), Map("op" -> "u")))
    assert(!ev.eval(In("op", Array[Any](null)), Map("op" -> "u")))
    assert(!ev.eval(In("op", Array("u", null)), Map("op" -> null)))
  }

  test("streaming: compacted offset stays bounded as the archive grows") {
    val dir = tempDir("graft-dbz-offsets")
    def rec(k: Long): String =
      s"""{"topic":"t.s.orders","key":"{\\"o_orderkey\\":$k}","value":"{\\"op\\":\\"c\\",\\"ts_ms\\":$k,\\"source\\":{\\"lsn\\":$k,\\"table\\":\\"orders\\"},\\"after\\":{\\"o_orderkey\\":$k}}"}"""
    // drive the MicroBatchStream directly: batch-by-batch offset evolution
    // with controlled modTimes (slack = 1 s, files 10 s apart, so each
    // batch's files age out of the recent window by the next batch)
    val scan = new graft.sources.DebeziumScanBuilder(
      dir.toString, 128L * 1024 * 1024, -1, 1000L)
      .build().asInstanceOf[graft.sources.DebeziumScan]
    val stream = scan.toMicroBatchStream("unused")
      .asInstanceOf[graft.sources.DebeziumMicroBatchStream]
    var off = stream.initialOffset()
    val jsonSizes = scala.collection.mutable.ArrayBuffer[Int]()
    val planned = scala.collection.mutable.ArrayBuffer[String]()
    var t = 1000000000L
    val nBatches = 40
    for (b <- 1 to nBatches) {
      (1 to 2).foreach { j =>
        val p = Paths.get(dir.toString, f"part-$b%03d-$j.json")
        Files.write(p, rec(b * 10L + j).getBytes(StandardCharsets.UTF_8))
        assert(p.toFile.setLastModified(t)); t += 10000L
      }
      val end = stream.latestOffset(off, stream.getDefaultReadLimit)
      stream.planInputPartitions(off, end).foreach {
        case graft.sources.DebeziumInputPartition(f, _, _) => planned += f
      }
      jsonSizes += end.json().length
      off = end
    }
    // every file ingested exactly once, none lost, none repeated
    assert(planned.size === nBatches * 2)
    assert(planned.distinct.size === planned.size)
    // BOUNDED: the offset JSON must not grow with archive size — late
    // offsets are no bigger than early ones (the old file-set offset grew
    // by ~80 file names here)
    assert(jsonSizes.takeRight(5).max <= jsonSizes.take(5).max,
      s"offset JSON grew with the archive: $jsonSizes")
    // round-trip: a deserialized offset plans an empty next batch when
    // nothing new arrived
    val rt = stream.deserializeOffset(off.json())
    val next = stream.latestOffset(rt, stream.getDefaultReadLimit)
    assert(stream.planInputPartitions(rt, next).isEmpty)
  }

  test("streaming: compacted offset property — random arrivals, caps, and " +
      "restarts lose nothing and duplicate nothing") {
    // seeded randomized drive of the offset machinery: bursts of 0-3 new
    // files with jittered modTimes (±1.5 s on a 5 s slack — inside the
    // contract), random admission caps, and random checkpoint round-trips
    // (deserialize(json) standing in for a restart). Invariant: when the
    // backlog drains, every written file was planned exactly once.
    val rnd = new scala.util.Random(42)
    val dir = tempDir("graft-dbz-prop")
    val scan = new graft.sources.DebeziumScanBuilder(
      dir.toString, 128L * 1024 * 1024, -1, 5000L)
      .build().asInstanceOf[graft.sources.DebeziumScan]
    val stream = scan.toMicroBatchStream("unused")
      .asInstanceOf[graft.sources.DebeziumMicroBatchStream]
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    var off = stream.initialOffset()
    val written = scala.collection.mutable.Set[String]()
    val planned = scala.collection.mutable.ArrayBuffer[String]()
    def step(limit: ReadLimit): Int = {
      val end = stream.latestOffset(off, limit)
      val parts = stream.planInputPartitions(off, end)
      parts.foreach {
        case graft.sources.DebeziumInputPartition(f, _, _) => planned += f
      }
      off = if (rnd.nextBoolean()) stream.deserializeOffset(end.json()) else end
      parts.length
    }
    var t = 1000000000L
    for (b <- 1 to 50) {
      (1 to rnd.nextInt(4)).foreach { j =>
        val p = Paths.get(dir.toString, f"f-$b%03d-$j.json")
        Files.write(p,
          """{"topic":"t","key":"k","value":null}"""
            .getBytes(StandardCharsets.UTF_8))
        assert(p.toFile.setLastModified(t + rnd.nextInt(3000) - 1500))
        written += p.toString
      }
      t += 2000L + rnd.nextInt(6000)
      step(if (rnd.nextBoolean()) ReadLimit.maxFiles(1 + rnd.nextInt(3))
        else ReadLimit.allAvailable())
    }
    // drain whatever the caps left behind
    var drained = 0
    while (step(ReadLimit.allAvailable()) > 0 && drained < 100) drained += 1
    // the listing returns qualified file: URIs; compare scheme-stripped
    val got = planned.map(_.stripPrefix("file:")).sorted
    assert(got == written.toSeq.sorted,
      s"planned ${got.size} of ${written.size}: " +
        s"missing=${written -- got.toSet}, dup=${got.diff(got.distinct)}")
  }

  test("streaming: a committed file vanishing from the archive fails loudly") {
    val dir = tempDir("graft-dbz-vanish")
    val p = Paths.get(dir.toString, "part-001.json")
    Files.write(p,
      """{"topic":"t","key":"k","value":null}"""
        .getBytes(StandardCharsets.UTF_8))
    val scan = new graft.sources.DebeziumScanBuilder(
      dir.toString, 128L * 1024 * 1024, -1, 1000L)
      .build().asInstanceOf[graft.sources.DebeziumScan]
    val stream = scan.toMicroBatchStream("unused")
      .asInstanceOf[graft.sources.DebeziumMicroBatchStream]
    val start = stream.initialOffset()
    val end = stream.latestOffset(start, stream.getDefaultReadLimit)
    Files.delete(p) // archive mutated between offset commit and planning
    val e = intercept[IllegalStateException] {
      stream.planInputPartitions(start, end)
    }
    assert(e.getMessage.contains("no longer listed"))
  }

  test("user-specified column-subset schema is honored, mismatches rejected") {
    import org.apache.spark.sql.types._
    // subset in a caller-chosen order: the table must report exactly these
    // columns in this order, and the values must match the full read
    val subset = StructType(Seq(
      StructField("op", StringType), StructField("topic", StringType),
      StructField("lsn", LongType)))
    val df = spark.read.format("debezium-json").schema(subset).load(archive)
    assert(df.schema.fieldNames.toSeq == Seq("op", "topic", "lsn"))
    val viaSubset = df.filter(col("op") === "d")
      .select("lsn").collect().map(_.getLong(0)).sorted.toSeq
    val viaFull = read().filter(col("op") === "d")
      .select("lsn").collect().map(_.getLong(0)).sorted.toSeq
    assert(viaSubset == viaFull && viaSubset.nonEmpty)
    // wrong type / unknown column → the validation error, not a silent read
    val bad = StructType(Seq(StructField("lsn", StringType)))
    val e = intercept[Exception] {
      spark.read.format("debezium-json").schema(bad).load(archive).collect()
    }
    assert(e.getMessage.contains("fixed schema"))
  }

  test("archive fixture: written once per process, pid-scoped") {
    val path = CdcOps.ordersChangelogArchive(spark, sfDir)
    assert(path.endsWith(s"-p${ProcessHandle.current().pid()}"))
    def mtimes: Map[String, java.nio.file.attribute.FileTime] = {
      import scala.jdk.CollectionConverters._
      val walk = Files.walk(Paths.get(path))
      try walk.iterator().asScala
        .map(p => p.toString -> Files.getLastModifiedTime(p)).toMap
      finally walk.close()
    }
    val before = mtimes
    assert(before.keys.exists(_.endsWith(".txt")))
    assert(CdcOps.ordersChangelogArchive(spark, sfDir) == path)
    assert(mtimes == before, "a second call must not rewrite the archive")
    assert(spark.read.format("debezium-json").load(path).count() ===
      CdcOps.synthOrdersChangelog(spark, sfDir).count())
  }

  test("differential: archive-replay compaction equals in-memory compaction") {
    val viaArchive = SparkEntry.queries("cdc_dsv2_compact")(spark, sfDir)
    val inMemory = SparkEntry.queries("cdc_compact")(spark, sfDir)
    assert(viaArchive.collect().toSeq === inMemory.collect().toSeq)
  }
}
