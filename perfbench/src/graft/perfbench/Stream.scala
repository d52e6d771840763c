package graft.perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import scala.collection.mutable

import graft.CdcPipeline
import graft.sources.Debezium
import graft.streaming.{IncrementalView, KeyedChange, Sinks, StatefulCompaction}
import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQueryProgress}

/** `cdc_stream`: the changelog lands one archive file per micro-batch
  * and feeds two standing queries on `readStream.format("debezium-json")`
  * — [[StatefulCompaction]] into the bucketed upsert sink, and the
  * [[IncrementalView]] aggregate. Closed loop: the next file lands only
  * after both queries committed the last one. Both queries start from
  * empty checkpoint, state, sink and view directories; the first
  * [[WarmupFiles]] files warm up, and the next [[timedFiles]] are timed. */
object Stream {
  val WarmupFiles = 3
  /** A batch's wall time on the reference host in a busy window (README).
    * The timed phase is a fixed range of files for a given run length, so
    * every run and every commit does the same work whatever the host's
    * speed. */
  val NominalBatchS = 2.0
  def timedFiles(seconds: Double): Int =
    math.max(3, math.ceil(seconds / NominalBatchS).toInt)
  val SinkBuckets = 4
  val PayloadCols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
    "o_totalprice", "o_orderdate_us", "o_orderpriority")

  def run(c: Ctx): Outcome = {
    import c._
    val files = new File(s"$data/archive").listFiles()
      .filter(_.getName.endsWith(".json")).sortBy(_.getName).toSeq
    val dir = new File(s"$work/stream")
    val landing = new File(dir, "landing")
    val staging = new File(dir, "staging")
    landing.mkdirs(); staging.mkdirs()
    val sink = s"$dir/sink"
    val view = s"$dir/view"
    val pipe = new CdcPipeline(Replay.config)

    def raw: DataFrame = spark.readStream.format("debezium-json")
      .load(landing.toString).select("topic", "key", "value")
    val changes: Dataset[KeyedChange] = pipe.unwrapped(raw, "orders")
      .filter(!col("_tombstone"))
      .select(col("o_orderkey").as("key"), col("_lsn").as("lsn"),
        (col("__deleted") === "true").as("deleted"),
        to_json(struct(PayloadCols.map(col): _*)).as("payload"))
      .as(Encoders.product[KeyedChange])
    val compact = StatefulCompaction.compact(changes).toDF().writeStream
      .queryName("compact")
      .outputMode(OutputMode.Update)
      .option("checkpointLocation", s"$dir/ckpt-compact")
      .foreachBatch { (b: DataFrame, id: Long) =>
        tracer.span("streaming.sink_upsert") {
          val before =
            if (tracer.enabled) bucketFiles(sink) else Map.empty[String, Set[String]]
          ledger.tagged("sink")(
            Sinks.upsertBatch(b, id, sink, "key", "lsn", SinkBuckets))
          if (tracer.enabled) tracer.count("buckets_touched",
            bucketFiles(sink).count { case (k, v) => !before.get(k).contains(v) })
        }
        ()
      }.start()
    val ivm = Debezium.parseEnvelope(raw, Debezium.ordersRowSchema)
      .writeStream
      .queryName("ivm")
      .outputMode(OutputMode.Update)
      .option("checkpointLocation", s"$dir/ckpt-ivm")
      .foreachBatch { (b: DataFrame, id: Long) =>
        tracer.span("streaming.ivm_apply")(
          ledger.tagged("ivm")(IncrementalView.applyBatch(b, id, view)))
        ()
      }.start()
    val queries = Seq(compact, ivm)
    val lines = files.map(f => Files.lines(f.toPath).count())

    /** Land file i and wait until both queries committed it: wall ns,
      * bytes the engine wrote and CPU ns it used meanwhile. */
    def land(i: Int): (Long, Long, Long) = {
      val tmp = new File(staging, files(i).getName)
      // copy outside the watched directory, then rename into it, so the
      // source never lists a half-written file
      Files.copy(files(i).toPath, tmp.toPath, StandardCopyOption.REPLACE_EXISTING)
      val w0 = Stats.wchar()
      val c0 = Stats.cpuNs()
      val t0 = System.nanoTime()
      Files.move(tmp.toPath, new File(landing, files(i).getName).toPath,
        StandardCopyOption.ATOMIC_MOVE)
      queries.foreach(_.processAllAvailable())
      (System.nanoTime() - t0, Stats.wchar() - w0, Stats.cpuNs() - c0)
    }

    val batchNs = mutable.ArrayBuffer.empty[Long]
    var written = 0L
    var cpuNs = 0L
    var startMs = 0L
    var progress0 = 0
    var mark0: (Double, Map[String, Double]) = null
    var sink0: Map[String, Double] = null
    val calMs = mutable.ArrayBuffer.empty[Double]
    try {
      (0 until WarmupFiles).foreach { i =>
        Stats.calibrationMs()
        val (ns, _, _) = land(i)
        System.err.println(f"warm-up batch $i: ${ns / 1e6}%.0f ms")
      }
      startMs = System.currentTimeMillis()
      mark0 = Main.ledgerMark(c)
      sink0 = ledger.get("sink")
      progress0 = ledger.synchronized(ledger.progress.size)
      val end = math.min(files.size, WarmupFiles + timedFiles(seconds))
      (WarmupFiles until end).foreach { i =>
        calMs += Stats.calibrationMs()
        val (ns, w, cpu) = land(i)
        batchNs += ns
        written += w
        cpuNs += cpu
      }
    } finally queries.foreach(_.stop())
    queries.foreach(q => q.exception.foreach(e => throw e))
    val mark1 = Main.ledgerMark(c)
    val sink1 = ledger.get("sink")
    val landed = WarmupFiles + batchNs.size
    val events = lines.slice(WarmupFiles, landed).sum.toDouble
    val phaseS = batchNs.sum / 1e9
    System.err.println(s"batches: ${batchNs.map(ns => (ns / 1e6).round)}")

    val perLayer = mutable.Map.empty[String, Double]
    if (tracer.enabled) {
      val prog = ledger.synchronized(ledger.progress.drop(progress0).toList)
        .map(_.progress).filter(_.numInputRows > 0)
      def dur(p: StreamingQueryProgress, k: String): Double =
        Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
      val comp = prog.filter(_.name == "compact")
      val ops = comp.flatMap(_.stateOperators.headOption)
      val emitted = ops.map(_.numRowsUpdated).sum.toDouble
      def timed(sp: String) = tracer.selfMs(sp).takeRight(batchNs.size)
      perLayer ++= Map(
        "sources.latest_offset_ms" ->
          Stats.median(prog.map(dur(_, "latestOffset"))),
        "sources.get_batch_ms" -> Stats.median(prog.map(dur(_, "getBatch"))),
        "streaming.state_commit_ms" ->
          Stats.median(ops.map(_.commitTimeMs.toDouble)),
        "streaming.state_rows" ->
          ops.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0),
        "streaming.state_bytes" ->
          ops.lastOption.map(_.memoryUsedBytes.toDouble).getOrElse(0.0),
        "streaming.compaction_emit_ratio" ->
          emitted / math.max(1L, comp.map(_.numInputRows).sum),
        "streaming.sink_upsert_ms" -> Stats.median(timed("streaming.sink_upsert")),
        "streaming.sink_buckets_touched" -> Stats.median(
          tracer.countsOf("streaming.sink_upsert", "buckets_touched")
            .takeRight(batchNs.size)),
        "streaming.sink_rewrite_ratio" ->
          (sink1("records_out") - sink0("records_out")) / math.max(1.0, emitted),
        "streaming.sink_bytes_per_event" ->
          (sink1("bytes_out") - sink0("bytes_out")) / events,
        "streaming.ivm_apply_ms" -> Stats.median(timed("streaming.ivm_apply")),
        "streaming.wal_commit_ms" -> Stats.median(prog.map(dur(_, "walCommit"))),
        "streaming.query_planning_ms" ->
          Stats.median(prog.map(dur(_, "queryPlanning"))))
      perLayer ++= Main.sparkPerOp(mark0, mark1, batchNs.size)
      perLayer ++= Replay.layers(c, landing.toString, lines.take(landed).sum)
    }

    val cal = Stats.median(calMs.toSeq)
    Outcome(startMs, batchNs.size, 0, cal,
      Map("cpu_ms_per_event" -> Stats.scaled(cpuNs / 1e6 / events, cal),
        "write_bytes_per_event" -> written / events),
      Map("cpu_ms_per_event_unscaled" -> cpuNs / 1e6 / events,
        "events_per_s" -> events / phaseS,
        "batch_p50_ms" -> Stats.median(batchNs.map(_ / 1e6).toSeq)),
      perLayer.toMap,
      Map("landed" -> files.take(landed).map(_.toString),
        "sink_dir" -> sink, "view_dir" -> view))
  }

  /** Bucket directory → names of its data files. */
  private def bucketFiles(sink: String): Map[String, Set[String]] =
    Option(new File(sink).listFiles()).getOrElse(Array.empty[File])
      .filter(d => d.isDirectory && d.getName.startsWith("_bucket="))
      .map(d => d.getName -> Option(d.list()).getOrElse(Array.empty[String])
        .filter(_.endsWith(".parquet")).toSet).toMap
}
