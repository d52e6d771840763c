package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.spark.sql.SparkSession

/** What the benchmark's workloads share: the session, the sf0.1 corpus
  * (`corpus`), the seeded changelog (`data`), a scratch directory inside
  * the checkout (`work`), the run length and the two instruments. */
final case class Ctx(spark: SparkSession, corpus: String, data: String,
    work: String, seconds: Double, tracer: Tracer, ledger: Ledger)

/** One run's result: when timing began (epoch ms), operations attempted
  * and failed in the timed phase, the median time of the calibration
  * kernel over it, end-to-end metrics, figures reported beside the metrics
  * (wall-clock figures and the unscaled CPU cost, see the README),
  * per-layer metrics, and what the checker needs to verify the outputs. */
final case class Outcome(timedStartMs: Long, attempted: Int, failed: Int,
    calibrationMs: Double, endToEnd: Map[String, Double],
    beside: Map[String, Double],
    perLayer: Map[String, Double], check: Map[String, Any])

/** Runs one workload in this JVM and writes its [[Outcome]] as JSON.
  *
  * Usage: Main <workload> <corpus dir> <data dir> <work dir> <seconds>
  *        <trace 0|1> <out>
  */
object Main {
  /** Fixed engine width and shuffle layout. One core: on the shared 4-vCPU
    * reference host the CPU cost per event spread less at local[1] than at
    * local[2] (README). */
  val Cores = 1
  val ShufflePartitions = 2

  def main(args: Array[String]): Unit = {
    val Array(workload, corpus, data, work, seconds, trace, out) = args
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", ShufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.SqlFunctions.register(spark)
    val ctx = Ctx(spark, corpus, data, work, seconds.toDouble,
      new Tracer(trace == "1", s"$workload-${ProcessHandle.current().pid()}"),
      new Ledger(spark))
    val o = workload match {
      case "cdc_stream" => Stream.run(ctx)
      case "corpus_curation" => Corpus.run(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    if (ctx.tracer.enabled)
      Files.write(new File(s"$work/spans.json").toPath,
        ctx.tracer.json.getBytes(StandardCharsets.UTF_8))
    val json = Json(Map("timed_start_ms" -> o.timedStartMs,
      "attempted" -> o.attempted, "failed" -> o.failed,
      "calibration_ms" -> o.calibrationMs, "end_to_end" -> o.endToEnd,
      "beside" -> o.beside, "per_layer" -> o.perLayer,
      "check" -> o.check))
    Files.write(new File(out).toPath, json.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  /** Per-operation Spark figures over a phase: planning time from the
    * query trackers, tasks, executor CPU and GC. */
  def sparkPerOp(before: (Double, Map[String, Double]),
      after: (Double, Map[String, Double]), ops: Int): Map[String, Double] = {
    val n = math.max(ops, 1).toDouble
    Map("spark.plan_ms" -> (after._1 - before._1) / n,
      "spark.tasks" -> (after._2("tasks") - before._2("tasks")) / n,
      "spark.executor_cpu_ms" -> (after._2("cpu_ms") - before._2("cpu_ms")) / n,
      "spark.gc_ms" -> (after._2("gc_ms") - before._2("gc_ms")) / n)
  }

  def ledgerMark(c: Ctx): (Double, Map[String, Double]) = {
    c.ledger.drain()
    (c.ledger.planMs, c.ledger.get("total"))
  }
}
