package graft

import graft.operators.CdcOps
import graft.streaming.{BucketedJoinView, IncrementalJoinView, Sinks}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** The bucketed stores' merges move their stored state ONCE per batch:
  * the write that stages a batch's touched buckets has exactly one shuffle
  * exchange between it and the scan of the stored buckets — the exchange
  * on `_bucket` that both the per-key merge and the one-file-per-bucket
  * write reuse. Checked on the executed plan of the staging write itself,
  * captured by a listener, with AQE off (the static plan) and on. */
class BucketMergePlanSpec extends SparkSpec {

  /** Run `body` and return the query plans under the `expected` parquet
    * writes it issued whose output path contains `stageMarker`. */
  private def stagingWrites(stageMarker: String, expected: Int)(
      body: => Unit): Seq[SparkPlan] = {
    val seen = new ConcurrentLinkedQueue[QueryExecution]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = { seen.add(qe); () }
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    def writes = seen.asScala.toSeq.flatMap(qe => nodes(qe.executedPlan))
      .collect { case w: DataWritingCommandExec => w }
      .filter(_.cmd match {
        case c: InsertIntoHadoopFsRelationCommand =>
          c.outputPath.toString.contains(stageMarker)
        case _ => false
      })
    spark.listenerManager.register(listener)
    try {
      body
      // listener delivery is asynchronous
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (writes.size < expected && System.nanoTime() < deadline)
        Thread.sleep(100)
    } finally spark.listenerManager.unregister(listener)
    writes.map(_.child)
  }

  /** The children of `plan`, looking through AQE stages, reused exchanges
    * and cached relations. */
  private def inputs(plan: SparkPlan): Seq[SparkPlan] = plan match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case q: QueryStageExec => Seq(q.plan)
    case r: ReusedExchangeExec => Seq(r.child)
    case m: InMemoryTableScanExec => Seq(m.relation.cachedPlan)
    case p => p.children
  }

  private def nodes(plan: SparkPlan): Seq[SparkPlan] =
    plan +: inputs(plan).flatMap(nodes)

  /** Shuffle exchanges on each path from `plan` down to a scan that
    * `isState` accepts. */
  private def exchangesAbove(plan: SparkPlan,
      isState: FileSourceScanExec => Boolean): Seq[Int] = plan match {
    case s: FileSourceScanExec => if (isState(s)) Seq(0) else Nil
    case other =>
      val here = if (other.isInstanceOf[ShuffleExchangeExec]) 1 else 0
      inputs(other).flatMap(exchangesAbove(_, isState)).map(_ + here)
  }

  private def scansUnder(root: String)(s: FileSourceScanExec): Boolean =
    s.relation.location.rootPaths.exists(_.toString.contains(root))

  private def withAqe[T](on: Boolean)(body: => T): T = {
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", on.toString)
    try body finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  for (aqe <- Seq(false, true))
    test(s"upsert sink merge: one exchange above the stored-state scan " +
      s"(AQE ${if (aqe) "on" else "off"})") {
      import spark.implicits._
      withAqe(aqe) {
        val dir = tempDir("graft_sinkplan").toString + "/t"
        def batch(lsn: Long) =
          (1L to 40L).map(k => (k, lsn + k, s"v$k")).toDF("k", "lsn", "v")
        Sinks.upsertBatch(batch(0L), 0L, dir, "k", "lsn", 4)
        val plans = stagingWrites(".stage-1", expected = 1) {
          Sinks.upsertBatch(batch(100L), 1L, dir, "k", "lsn", 4)
        }
        assert(plans.size == 1, s"expected one staging write, got $plans")
        val paths = exchangesAbove(plans.head, scansUnder(dir))
        assert(paths.nonEmpty, s"no stored-state scan in:\n${plans.head}")
        assert(paths.forall(_ == 1),
          s"exchanges above the stored-state scan: $paths\n${plans.head}")
        assert(Sinks.readState(spark, dir).count() == 40L)
      }
    }

  for (aqe <- Seq(false, true))
    test(s"bucketed join view merge: one exchange above each side's " +
      s"stored-state scan (AQE ${if (aqe) "on" else "off"})") {
      withAqe(aqe) {
        val dir = tempDir("graft_bjvplan").toString + "/v"
        val fe = IncrementalJoinView.factEvents(CdcOps.parsedOrders(spark, sfDir))
        val de = IncrementalJoinView.dimEvents(
          CdcOps.parsedCustomerDim(spark, sfDir))
        def apply(id: Long, ops: String*): Unit =
          BucketedJoinView.applyBatchEvents(fe.filter(col("op").isin(ops: _*)),
            de.filter(col("op").isin(ops: _*)), id, dir, nBuckets = 4)
        apply(0L, "c", "r")
        val plans = stagingWrites(".stage-1", expected = 2)(apply(1L, "u", "d"))
        assert(plans.size == 2, s"expected A and B staging writes, got $plans")
        for (side <- Seq("A", "B")) {
          val paths = plans.flatMap(
            exchangesAbove(_, scansUnder(s"$dir/$side/_bucket=")))
          assert(paths.nonEmpty, s"no $side state scan in:\n$plans")
          assert(paths.forall(_ == 1),
            s"exchanges above the $side state scan: $paths\n$plans")
        }
      }
    }
}
