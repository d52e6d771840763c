package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}

/** The hash-bucket commit protocol shared by [[Sinks.upsertByKey]] and
  * [[BucketedJoinView]]: one hive partition directory per
  * `pmod(xxhash64(key), nBuckets)` bucket, batch writes staged under
  * `<root>.stage-<batchId>` and swapped in with displace-then-publish
  * renames (old bucket → `<root>.trash-<batchId>`, staged → live), so old
  * data is never deleted before its replacement is live and a crash at
  * ANY point leaves every bucket recoverable by [[recover]].
  *
  * Two client disciplines ride the same swap:
  *   - idempotent merges (the upsert sink): replay simply re-merges —
  *     no markers needed, and a missing staged bucket is an error;
  *   - additive merges ([[BucketedJoinView]]): replay must NOT re-apply,
  *     so `markers = true` drops an `_applied-<batchId>` file into each
  *     staged bucket (creating the dir when the merge cancelled every
  *     row) — the marker travels with the atomic rename, making commit
  *     and marker one operation.
  *
  * All filesystem probes go through the Hadoop FileSystem of the path, so
  * the same code runs on file:, hdfs:, or s3a: URIs — on an object store
  * without atomic directory rename, swap the commit step for a
  * dynamic-partition overwrite.
  */
private[streaming] object BucketCommit {

  /** Key → state bucket. Int-typed so the hive partition directory value
    * round-trips under partition-column type inference. */
  def bucketOf(key: Column, nBuckets: Int): Column =
    pmod(xxhash64(key), lit(nBuckets.toLong)).cast("int")

  /** Bucket geometry is part of the on-disk state: reading or rewriting
    * with a DIFFERENT nBuckets than the store was built with probes the
    * wrong directories — for the additive store that silently drops rows
    * during a rewrite; for the idempotent upsert sink it splits a key
    * across its old and new bucket, so reads return stale duplicates.
    * Pin the count in a `_nbuckets` file on first use (the underscore
    * name is invisible to parquet readers over the store root) and
    * require equality after. */
  def pinGeometry(fs: FileSystem, path: String, nBuckets: Int): Unit = {
    val f = new Path(path, "_nbuckets")
    if (fs.exists(f)) {
      val in = fs.open(f)
      val stored =
        try new String(in.readAllBytes(), "UTF-8").trim.toInt
        finally in.close()
      require(stored == nBuckets,
        s"store at $path was built with nBuckets=$stored, this batch " +
          s"passed $nBuckets — bucket geometry is immutable for a store " +
          "(rebucket to a new path to change it)")
    } else {
      val out = fs.create(f, true)
      try out.write(nBuckets.toString.getBytes("UTF-8")) finally out.close()
    }
  }

  /** Stage one batch's merge of its touched buckets: `rows` (the stored
    * rows of those buckets ∪ the batch's rows, all carrying `_bucket`)
    * cross ONE exchange, on `_bucket`, then `merge`, then a
    * `partitionBy("_bucket")` write under `dir`. The exchange puts each
    * bucket in one task, so the write emits one file per bucket instead
    * of fanning every task across every bucket directory (tasks × buckets
    * tiny files — measured 4× the whole publish cost at sf0.1). The
    * bucket is a function of the key, so a `merge` that groups or windows
    * by (`_bucket`, key…) is already clustered by that exchange and adds
    * none: the stored state moves once per batch. */
  def stage(rows: DataFrame, dir: Path)(
      merge: DataFrame => DataFrame): Unit =
    merge(rows.repartition(col("_bucket")))
      .write.mode(SaveMode.Overwrite).partitionBy("_bucket")
      .parquet(dir.toString)

  /** Swap the staged buckets into the live tree. */
  def publish(fs: FileSystem, root: Path, stage: Path, buckets: Seq[Int],
      batchId: Long, markers: Boolean): Unit = {
    val trash = new Path(root.toString + s".trash-$batchId")
    if (!fs.exists(root)) fs.mkdirs(root)
    fs.mkdirs(trash)
    for (b <- buckets) {
      val staged = new Path(stage, s"_bucket=$b")
      if (markers) {
        if (!fs.exists(staged)) fs.mkdirs(staged) // zero-row bucket
        fs.create(new Path(staged, s"_applied-$batchId"), true).close()
      }
      val live = new Path(root, s"_bucket=$b")
      if (fs.exists(live) && !fs.rename(live, new Path(trash, s"_bucket=$b")))
        throw new java.io.IOException(s"bucket commit: cannot displace $live")
      if (!fs.rename(staged, live))
        throw new java.io.IOException(s"bucket commit: cannot publish $staged")
    }
    fs.delete(trash, true)
    fs.delete(stage, true)
  }

  /** Restore a crashed [[publish]]. Batches are serial per query, so any
    * `.trash-*` / `.stage-*` dir present at batch start was orphaned by a
    * crash mid-swap: a bucket sitting in trash with no live twin was
    * displaced but never replaced — rename it back (pre-batch state; the
    * replayed batch re-merges idempotently, or skips via its `_applied`
    * marker). A trash bucket WITH a live twin was already replaced — the
    * live side is newer, drop the trash copy. Stage leftovers are never
    * partially live (publish rename is atomic per bucket), so they are
    * simply deleted and rebuilt by the replay. */
  def recover(fs: FileSystem, root: String): Unit = {
    val trashes = fs.globStatus(new Path(root + ".trash-*"))
    if (trashes != null) trashes.foreach { t =>
      fs.listStatus(t.getPath).foreach { b =>
        val live = new Path(root, b.getPath.getName)
        if (!fs.exists(live) && !fs.rename(b.getPath, live))
          throw new java.io.IOException(
            s"bucket recovery: cannot restore ${b.getPath}")
      }
      fs.delete(t.getPath, true)
    }
    val stale = fs.globStatus(new Path(root + ".stage-*"))
    if (stale != null) stale.foreach(s => fs.delete(s.getPath, true))
  }
}
