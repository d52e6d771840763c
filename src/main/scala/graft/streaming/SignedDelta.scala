package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType}
import org.apache.spark.sql.{Column, DataFrame}

/** The change-event algebra the IVM stores share: event identity, the
  * op→sign rule, the additive merge and the bilinear join term. Every
  * measure is an exact signed integer, so merge order can never perturb a
  * view.
  *
  * Event projections name each row image's columns `b_<name>` (before)
  * and `a_<name>` (after); a [[Side]] reads one image with its sign. */
private[streaming] object SignedDelta {

  /** Exact price cents of one `orders` row image. */
  def cents(row: Column): Column =
    (row.getField("o_totalprice").cast(DecimalType(12, 2)) * 100)
      .cast(LongType)

  /** Narrow projection + batch-local at-least-once dedup. `image` projects
    * the named columns each side contributes, applied to `env.before` and
    * `env.after`. A duplicated delivery has an identical (key, op, source
    * position) triple; the key is the row's primary key `pk`, and the
    * position is the full source tuple, not just lsn: MySQL logs carry
    * (file, pos) and Mongo (ts_ms, ord→pos) with lsn NULL, and
    * dropDuplicates treats NULLs as equal — keying on lsn alone would
    * collapse DISTINCT same-key events from those sources.
    *
    * The measures are projected BEFORE the dedup shuffle: duplicated
    * deliveries are identical rows, so deduping the narrow projection
    * equals deduping the wide envelope, and the exchange carries a few
    * scalar columns instead of two row structs. */
  def events(parsed: DataFrame, pk: String)(
      image: Column => Seq[(String, Column)]): DataFrame = {
    def side(p: String) = image(col(s"env.$p"))
      .map { case (n, c) => c.as(s"${p.head}_$n") }
    parsed
      .filter(!col("_corrupt") && !col("_tombstone"))
      .select((col("env.op").as("op") +: side("before")) ++ side("after") ++
        Seq(col("env.source.lsn").as("lsn"), col("env.source.file").as("file"),
          col("env.source.pos").as("pos"), col("env.source.ts_ms").as("ts"),
          coalesce(col(s"env.after.$pk"), col(s"env.before.$pk")).as("pk")): _*)
      .dropDuplicates("pk", "op", "lsn", "file", "pos", "ts")
  }

  /** One row image of an [[events]] projection, with its sign. */
  final class Side private[SignedDelta] (prefix: String, sign: Long) {
    def apply(name: String): Column = col(s"${prefix}_$name")
    def signed(name: String): Column =
      if (sign < 0) -apply(name) else apply(name)
    def unit: Column = lit(sign)
  }
  private val Before = new Side("b", -1L)
  private val After = new Side("a", 1L)

  /** The op→sign rule: insert/snapshot-read/update contribute +after,
    * update/delete contribute −before (so an update that changes a group
    * key moves the row's measures ACROSS groups). A side contributes
    * only where `present` holds. The projected rows are summed per
    * `keys` — every other projected column is a measure — and groups
    * whose measures all cancel to zero are dropped: they change nothing. */
  def fold(events: DataFrame, present: Side => Column, keys: String*)(
      project: Side => Seq[Column]): DataFrame = {
    val minus = events.filter(col("op").isin("u", "d") && present(Before))
      .select(project(Before): _*)
    val plus = events.filter(col("op").isin("c", "r", "u") && present(After))
      .select(project(After): _*)
    val measures = plus.columns.toSeq.filterNot(keys.contains)
    val sums = measures.map(m => sum(m).as(m))
    plus.unionByName(minus)
      .groupBy(keys.map(col): _*).agg(sums.head, sums.tail: _*)
      .filter(measures.map(m => col(m) =!= 0L).reduce(_ || _))
  }

  /** Additive outer merge `prev ⊎ delta` on `keys`; `cols` maps each
    * output measure to its delta column. */
  def merge(prev: Option[DataFrame], delta: DataFrame,
      keys: Seq[String], cols: Seq[(String, String)]): DataFrame =
    prev match {
      case None =>
        delta.select(keys.map(col) ++
          cols.map { case (o, d) => col(d).as(o) }: _*)
      case Some(p) =>
        p.join(delta, keys, "full")
          .select(keys.map(col) ++ cols.map { case (o, d) =>
            (coalesce(col(o), lit(0L)) + coalesce(col(d), lit(0L))).as(o)
          }: _*)
    }

  /** One bilinear term: a signed fact stream (k, d_cents, d_rows) joined
    * to a signed dimension stream (k, seg, d_m) → signed (seg, c, r)
    * contributions. The algebra is the same for both join-view layouts;
    * only the storage differs. */
  def term(aSide: DataFrame, bSide: DataFrame): DataFrame =
    aSide.join(bSide, "k").select(col("seg"),
      (col("d_cents") * col("d_m")).as("c"),
      (col("d_rows") * col("d_m")).as("r"))
}
