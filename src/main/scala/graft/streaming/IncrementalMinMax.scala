package graft.streaming

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Incremental maintenance of MIN/MAX (+count) per group under a CDC
  * changelog WITH DELETES — the non-distributive case plain delta
  * folding cannot handle: when the current minimum row is deleted, the
  * view must RECOVER to the next-smallest surviving value, which a
  * min-of-deltas state has already forgotten. The classic fix (DBSP /
  * multiset-semantics IVM, published) is to keep the GROUP'S VALUE
  * MULTISET as signed counts — state rows `(group, value) → n` — so a
  * delete decrements one count and the aggregate re-emerges from the
  * surviving support on read.
  *
  * State size is |distinct (group, value)| — bounded by live rows, in
  * practice far smaller (prices repeat), and the merge per batch is one
  * keyed outer join of delta-sized against state-sized frames on
  * (group, value). The read-side aggregate is one shuffle over the
  * support. Same [[SnapshotCommit]] versioned-snapshot discipline as
  * [[IncrementalView]] (replay recomputes the same snapshot from the
  * same predecessor — overwrite, never double-apply).
  *
  * Uses [[IncrementalView.eventsOf]]'s projection/dedup (status + exact
  * cents per side), so callers sharing the deduped event table across
  * op-sliced batches reuse it here too.
  */
object IncrementalMinMax {

  /** Signed value-multiset deltas `(o_orderstatus, cents, d_n)` of one
    * deduped [[IncrementalView.eventsOf]] micro-batch. */
  def deltaOfEvents(events: DataFrame): DataFrame =
    SignedDelta.fold(events, _("def"), "o_orderstatus", "cents")(s => Seq(
      s("status").as("o_orderstatus"), s("cents").as("cents"),
      s.unit.as("d_n")))

  /** Apply one micro-batch of deduped events: previous committed support
    * ⊎ batch delta → version `batchId`, zero-count values dropped from
    * the support. */
  def applyBatchEvents(
      events: DataFrame, batchId: Long, path: String): Unit = {
    val spark = events.sparkSession
    val prev = SnapshotCommit.predecessor(spark, path, batchId)
      .map(SnapshotCommit.read(spark, path, _, supportSchema))
    val merged = SignedDelta.merge(prev, deltaOfEvents(events),
      Seq("o_orderstatus", "cents"), Seq("n" -> "d_n"))
    // a value whose signed count cancels to zero LEAVES the support —
    // that removal is exactly what lets a deleted minimum recover
    SnapshotCommit.write(merged.filter(col("n") =!= 0L), path, batchId)
  }

  /** The current view — min/max cents + row count per group, aggregated
    * from the committed support (a read-heavy deployment materializes
    * this alongside the support in the same commit; the algebra is
    * unchanged). */
  def readView(spark: SparkSession, path: String): Option[DataFrame] =
    SnapshotCommit.readLatest(spark, path, supportSchema).map(
      _.groupBy("o_orderstatus")
        .agg(min(col("cents")).as("min_cents"),
          max(col("cents")).as("max_cents"),
          sum(col("n")).as("n_orders")))

  /** Exact order statistics from the SAME support state — the payoff of
    * keeping the value multiset rather than scalar min/max: any quantile
    * is read-side arithmetic over (value, n) rows, delete-safe for free.
    * Per group: cumulative count over values ascending, pick the first
    * value whose running count reaches ceil(q·total) — the exact
    * lower-interpolation quantile of the SURVIVING rows. One keyed
    * window over support-cardinality state; no rescan of any changelog. */
  def readQuantile(spark: SparkSession, path: String, q: Double)
      : Option[DataFrame] = {
    require(q > 0 && q <= 1, s"quantile must be in (0, 1], got $q")
    val w = Window.partitionBy("o_orderstatus").orderBy("cents")
      .rowsBetween(Window.unboundedPreceding, 0)
    val wAll = Window.partitionBy("o_orderstatus")
    // rank target computed in DECIMAL, not double: ceil(q·total) in
    // binary floats bumps the rank by one whenever the exact product
    // is an integer whose double form rounds up (q=0.07, total=100 →
    // 7.000000000000001 → ceil 8). BigDecimal(q.toString) is the
    // decimal the caller wrote, so the product and ceil are exact.
    val qd = BigDecimal(q.toString)
    SnapshotCommit.readLatest(spark, path, supportSchema).map(
      _.withColumn("_cum", sum(col("n")).over(w))
        .withColumn("_tot", sum(col("n")).over(wAll))
        .filter(col("_cum") >= ceil(col("_tot").cast("decimal(20,0)") * lit(qd)))
        .groupBy("o_orderstatus")
        .agg(min(col("cents")).as("q_cents")))
  }

  private val supportSchema = StructType(Seq(
    StructField("o_orderstatus", StringType),
    StructField("cents", LongType),
    StructField("n", LongType)))
}
