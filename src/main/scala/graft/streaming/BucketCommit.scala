package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
import org.apache.spark.sql.types.StructType

/** The hash-bucket store under [[Sinks.upsertByKey]] and
  * [[BucketedJoinView]], and the only code that knows its layout. A store
  * dir holds one or more roots (the sink's root is the store dir itself;
  * the join view keeps its two sides in `A/` and `B/`):
  *   - `<root>/_bucket=<b>/` — bucket `b = pmod(xxhash64(key), nBuckets)`
  *     ([[bucketOf]]), one hive partition directory holding the bucket's
  *     parquet part file and, in an additive store, its `_applied-<id>`
  *     marker files;
  *   - `<store>/_nbuckets` — the pinned bucket count ([[pinGeometry]]);
  *   - `<root>.stage-<batchId>/` — a batch's merged buckets ([[stage]]);
  *   - `<root>.trash-<batchId>/` — live buckets displaced by a [[publish]]
  *     in flight;
  *   - `<dst>.inprogress/` — a reshard being built ([[reshard]]).
  *
  * One batch: [[open]] (pin + [[recover]]), [[touched]] probes the
  * batch's buckets, [[readTouched]] reads their stored rows, [[stage]]
  * writes the client's merge of both, [[publish]] swaps the staged
  * buckets in with displace-then-publish renames (old bucket → trash,
  * staged → live), so old data is never deleted before its replacement
  * is live and a crash at ANY point leaves every bucket recoverable by
  * [[recover]].
  *
  * Two client disciplines ride the same swap:
  *   - idempotent merges (the upsert sink): replay simply re-merges —
  *     no markers needed, and a missing staged bucket is an error;
  *   - additive merges ([[BucketedJoinView]]): replay must NOT re-apply,
  *     so `markers = true` drops an `_applied-<batchId>` file into each
  *     staged bucket (creating the dir when the merge cancelled every
  *     row) — the marker travels with the atomic rename, making commit
  *     and marker one operation; [[behind]] is the replay filter.
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

  private def bucketDir(root: String, b: Int) = new Path(root, s"_bucket=$b")

  private def fileSystem(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sessionState.newHadoopConf())

  /** Open the store at `store` for one batch: pin its geometry and heal
    * every root in `roots` from a crashed batch. */
  def open(spark: SparkSession, store: String, nBuckets: Int,
      roots: String*): FileSystem = {
    val fs = fileSystem(spark, store)
    pinGeometry(fs, store, nBuckets)
    roots.foreach(recover(fs, _))
    fs
  }

  /** Bucket geometry is part of the on-disk state: reading or rewriting
    * with a DIFFERENT nBuckets than the store was built with probes the
    * wrong directories — for the additive store that silently drops rows
    * during a rewrite; for the idempotent upsert sink it splits a key
    * across its old and new bucket, so reads return stale duplicates.
    * Pin the count in a `_nbuckets` file on first use (the underscore
    * name is invisible to parquet readers over the store root) and
    * require equality after. */
  private def pinGeometry(fs: FileSystem, path: String, nBuckets: Int): Unit = {
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

  /** The sorted buckets each of `batches` (all carrying `_bucket`)
    * touches, in one action — the only driver-side collect, bounded by
    * `batches.size · nBuckets`, never by data volume. */
  def touched(batches: DataFrame*): Seq[Seq[Int]] = {
    val rows = batches.zipWithIndex
      .map { case (b, i) => b.select(lit(i).as("_side"), col("_bucket")) }
      .reduce(_ unionByName _).distinct().collect()
      .groupBy(_.getInt(0))
    batches.indices.map(i =>
      rows.getOrElse(i, Array.empty[Row]).map(_.getInt(1)).toSeq.sorted)
  }

  /** The stored rows of the named buckets of `root` under `schema`, with
    * `_bucket` = `bucket` (the client's [[bucketOf]] its key); empty when
    * none of them exists yet (the first-batch case). */
  def readTouched(spark: SparkSession, fs: FileSystem, root: String,
      schema: StructType, bucket: Column, buckets: Seq[Int]): DataFrame = {
    val dirs = buckets.map(bucketDir(root, _)).filter(fs.exists)
    val rows =
      if (dirs.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
      else spark.read.schema(schema).parquet(dirs.map(_.toString): _*)
    rows.withColumn("_bucket", bucket)
  }

  /** Every stored row of `root` (all buckets, without `_bucket`) under
    * `schema`, or under the schema of its files when `schema` is None —
    * which needs at least one bucket to exist. */
  def readAll(spark: SparkSession, root: String,
      schema: Option[StructType]): DataFrame = {
    val dirs = Option(fileSystem(spark, root).globStatus(
      new Path(root, "_bucket=*"))).toSeq.flatten
      .filter(_.isDirectory).map(_.getPath.toString)
    require(dirs.nonEmpty || schema.isDefined, s"no bucket state at $root")
    schema.fold(spark.read)(spark.read.schema).parquet(dirs: _*)
  }

  /** The additive discipline's replay filter: of `buckets`, those whose
    * last `_applied` marker is still behind `batchId`. A bucket already
    * AT `batchId` was committed by a crashed attempt; one ahead of it
    * means a replay older than the store, which is refused. */
  def behind(fs: FileSystem, root: String, buckets: Seq[Int],
      batchId: Long): Seq[Int] = buckets.filter { b =>
    val dir = bucketDir(root, b)
    val ids =
      if (!fs.exists(dir)) Seq.empty
      else fs.listStatus(dir).toSeq.map(_.getPath.getName)
        .filter(_.startsWith("_applied-")).map(_.stripPrefix("_applied-").toLong)
    val id = ids.maxOption.getOrElse(-1L)
    require(id <= batchId, s"bucket $dir is at $id, ahead of replayed $batchId")
    id < batchId
  }

  private def stagePath(root: String, batchId: Long) =
    new Path(s"$root.stage-$batchId")

  /** Write `rows` (all carrying `_bucket`) as one hive partition dir per
    * bucket under `dir`. */
  private def write(rows: DataFrame, dir: Path): Unit =
    rows.write.mode(SaveMode.Overwrite).partitionBy("_bucket")
      .parquet(dir.toString)

  /** Stage one batch's merge of its touched buckets of `root`: `rows`
    * (the stored rows of those buckets ∪ the batch's rows, all carrying
    * `_bucket`) cross ONE exchange, on `_bucket`, then `merge`, then a
    * `partitionBy("_bucket")` write. The exchange puts each bucket in one
    * task, so the write emits one file per bucket instead of fanning
    * every task across every bucket directory (tasks × buckets tiny files
    * — measured 4× the whole publish cost at sf0.1). The bucket is a
    * function of the key, so a `merge` that groups or windows by
    * (`_bucket`, key…) is already clustered by that exchange and adds
    * none: the stored state moves once per batch. */
  def stage(root: String, batchId: Long, rows: DataFrame)(
      merge: DataFrame => DataFrame): Unit =
    write(merge(rows.repartition(col("_bucket"))), stagePath(root, batchId))

  /** Swap the staged `buckets` of `root` into the live tree. */
  def publish(fs: FileSystem, root: String, buckets: Seq[Int],
      batchId: Long, markers: Boolean): Unit = {
    val stage = stagePath(root, batchId)
    val trash = new Path(s"$root.trash-$batchId")
    if (!fs.exists(new Path(root))) fs.mkdirs(new Path(root))
    fs.mkdirs(trash)
    for (b <- buckets) {
      val staged = bucketDir(stage.toString, b)
      if (markers) mark(fs, staged, batchId)
      val live = bucketDir(root, b)
      if (fs.exists(live) && !fs.rename(live, bucketDir(trash.toString, b)))
        throw new java.io.IOException(s"bucket commit: cannot displace $live")
      if (!fs.rename(staged, live))
        throw new java.io.IOException(s"bucket commit: cannot publish $staged")
    }
    fs.delete(trash, true)
    fs.delete(stage, true)
  }

  /** Drop an `_applied-<batchId>` marker into bucket dir `dir`, creating
    * it for a zero-row bucket. */
  private def mark(fs: FileSystem, dir: Path, batchId: Long): Unit = {
    if (!fs.exists(dir)) fs.mkdirs(dir)
    fs.create(new Path(dir, s"_applied-$batchId"), true).close()
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

  /** Refuse while any of `roots` holds crash residue (stage or trash
    * dirs): the additive store is healed by resuming its stream once
    * (replay + [[recover]] finish the batch), never by a reshard. */
  def requireHealed(fs: FileSystem, roots: String*): Unit =
    for (root <- roots; kind <- Seq("stage", "trash")) {
      val g = fs.globStatus(new Path(s"$root.$kind-*"))
      require(g == null || g.isEmpty,
        s"store at $root has unhealed crash residue " +
          s"(${Option(g).toSeq.flatten.map(_.getPath.getName).mkString(", ")}) " +
          "— resume its stream once to heal it, then rebucket")
    }

  /** The offline reshard commit both `rebucket`s share: rebuild the
    * quiescent store at `src` under `newNBuckets` buckets at the NEW path
    * `dst`. `build(fs, tmp)` runs the client's gates and fills
    * `<dst>.inprogress` (each root through [[rebucketRoot]]); leftovers of
    * a crashed attempt there are deleted first, never trusted. Then the
    * new geometry is pinned and the whole store committed with ONE
    * directory rename. */
  def reshard(spark: SparkSession, src: String, dst: String,
      newNBuckets: Int)(build: (FileSystem, Path) => Unit): Unit = {
    require(newNBuckets > 0, s"newNBuckets must be positive: $newNBuckets")
    val fs = fileSystem(spark, src)
    val dstPath = new Path(dst)
    require(fs.makeQualified(dstPath) != fs.makeQualified(new Path(src)),
      "rebucket rewrites into a NEW path (one-rename commit) — " +
        "in-place resharding is not supported")
    require(!fs.exists(dstPath), s"rebucket destination $dst already exists")
    val tmp = new Path(dst + ".inprogress")
    fs.delete(tmp, true)
    build(fs, tmp)
    pinGeometry(fs, tmp.toString, newNBuckets)
    val parent = dstPath.getParent
    if (parent != null && !fs.exists(parent)) fs.mkdirs(parent)
    if (!fs.rename(tmp, dstPath))
      throw new java.io.IOException(s"rebucket: cannot commit $tmp -> $dst")
  }

  /** Write `rows` as root `dir` of a resharded store, bucketed on `key`.
    * With `marker` (the additive discipline), EVERY new bucket — empty
    * ones included — gets `_applied-<marker>`: per-bucket frontiers
    * cannot survive a reshard (keys move between buckets), so the client
    * must have proved every batch up to `marker` fully applied. */
  def rebucketRoot(fs: FileSystem, rows: DataFrame, key: String,
      nBuckets: Int, dir: Path, marker: Option[Long]): Unit = {
    write(rows.withColumn("_bucket", bucketOf(col(key), nBuckets))
      .repartition(col("_bucket")), dir)
    marker.foreach(id =>
      (0 until nBuckets).foreach(b => mark(fs, bucketDir(dir.toString, b), id)))
  }
}
