package graft

import graft.operators.CdcOps
import graft.streaming.{BucketedJoinView, IncrementalJoinView, IncrementalMinMax, IncrementalView}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

/** The versioned-snapshot protocol, checked once per IVM store: a batchId
  * behind the latest committed version is rejected without touching the
  * view, replaying the latest batchId leaves the view unchanged, an
  * uncommitted `batch=` directory stays invisible, and only two committed
  * versions are kept. */
class SnapshotCommitSpec extends SparkSpec {

  /** One IVM store: apply op-phase `phase` (0 = c/r, 1 = u, 2 = d,
    * 3 = no events) as micro-batch `batchId`, read its view, and where
    * its snapshot versions live. */
  private case class Store(name: String,
      apply: (Int, Long, String) => Unit,
      view: String => Option[DataFrame],
      versions: String => String)

  private val phaseOps = Seq(Seq("c", "r"), Seq("u"), Seq("d"), Seq.empty)
  private val dimOps = Seq(Seq("c"), Seq("u"), Seq("d"), Seq.empty)
  private def ops(df: DataFrame, o: Seq[String]) =
    if (o.isEmpty) df.limit(0) else df.filter(col("op").isin(o: _*))

  private lazy val events = IncrementalView.eventsOf(CdcOps.parsedOrders(spark, sfDir))
  private lazy val fact = IncrementalJoinView.factEvents(CdcOps.parsedOrders(spark, sfDir))
  private lazy val dim = IncrementalJoinView.dimEvents(CdcOps.parsedCustomerDim(spark, sfDir))

  private val stores = Seq(
    Store("IncrementalView",
      (p, id, path) => IncrementalView.applyBatchEvents(ops(events, phaseOps(p)), id, path),
      IncrementalView.readView(spark, _), identity),
    Store("IncrementalMinMax",
      (p, id, path) => IncrementalMinMax.applyBatchEvents(ops(events, phaseOps(p)), id, path),
      IncrementalMinMax.readView(spark, _), identity),
    Store("IncrementalJoinView",
      (p, id, path) => IncrementalJoinView.applyBatchEvents(
        ops(fact, phaseOps(p)), ops(dim, dimOps(p)), id, path),
      IncrementalJoinView.readView(spark, _), identity),
    Store("BucketedJoinView",
      (p, id, path) => BucketedJoinView.applyBatchEvents(
        ops(fact, phaseOps(p)), ops(dim, dimOps(p)), id, path, 4),
      BucketedJoinView.readView(spark, _), _ + "/W"))

  private def tmpDir(): String =
    tempDir("snapshot-commit-spec-").toString

  private def snapshot(s: Store, path: String): Set[Row] =
    s.view(path).get.collect().toSet

  /** Committed versions on disk, ascending. */
  private def committed(dir: String): Seq[Long] =
    Option(new java.io.File(dir).listFiles()).toSeq.flatten
      .filter(f => f.getName.startsWith("batch=") &&
        new java.io.File(f, "_SUCCESS").exists())
      .map(_.getName.stripPrefix("batch=").toLong).sorted

  /** A store after all three phases as batches 0, 1 and 2. */
  private def built(s: Store): String = {
    val path = tmpDir()
    (0 to 2).foreach(p => s.apply(p, p.toLong, path))
    path
  }

  for (s <- stores) {
    test(s"${s.name}: a batchId behind the latest committed version is rejected, view unchanged") {
      val path = built(s)
      val before = snapshot(s, path)
      assert(before.nonEmpty)
      intercept[IllegalArgumentException](s.apply(0, 1L, path))
      assert(snapshot(s, path) == before)
      assert(committed(s.versions(path)) == Seq(1L, 2L))
    }

    test(s"${s.name}: replaying the latest batchId leaves the view unchanged") {
      val path = built(s)
      val before = snapshot(s, path)
      s.apply(2, 2L, path)
      assert(snapshot(s, path) == before)
      s.apply(2, 2L, path)
      assert(snapshot(s, path) == before)
    }

    test(s"${s.name}: an uncommitted version is invisible and only two versions are kept") {
      val path = built(s)
      val before = snapshot(s, path)
      assert(committed(s.versions(path)) == Seq(1L, 2L))
      // a crash mid-publish: data files, no commit marker
      val crashed = new java.io.File(s"${s.versions(path)}/batch=99")
      assert(crashed.mkdirs())
      java.nio.file.Files.write(
        new java.io.File(crashed, "part-00000.parquet").toPath, Array[Byte](1, 2, 3))
      assert(snapshot(s, path) == before)
      // an empty batch commits a new version; the oldest is pruned and the
      // uncommitted directory neither counts nor becomes visible
      s.apply(3, 3L, path)
      assert(committed(s.versions(path)) == Seq(2L, 3L))
      assert(crashed.exists())
      assert(snapshot(s, path) == before)
    }
  }
}
