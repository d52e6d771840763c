package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Global rank, prefix sum and NTILE over a total order, without the
  * single-task window such a query plans naively.
  *
  * The naive form is one window with an empty PARTITION BY, e.g.
  * `SUM(tokens) OVER (ORDER BY doc_id)` or `NTILE(k) OVER (ORDER BY ts)`.
  * Spark executes it as ONE task holding the whole input (`WindowExec`
  * warns "No Partition Defined"): the does-not-survive-100-TB shape.
  * [[prefixBefore]] runs the classic two-phase scan instead:
  *
  *   1. rows are grouped into buckets, where the bucket is a PREFIX of
  *      the total order (a contiguous key block, a hash prefix, an hour,
  *      a value range), so bucket-local order composes to global order;
  *      the per-row running sum is a window PARTITIONED by bucket
  *      (distributed, one bucket of state per task);
  *   2. the per-bucket subtotals `n` (one tiny row per bucket) get their
  *      own prefix sum and the grand total. This window IS single-task,
  *      but over the bucket table, not the input (at 10^10 rows and 2^16
  *      rows per bucket that is ~150k rows; a third level extends it
  *      indefinitely);
  *   3. global value = bucket offset + local prefix, computed map-side
  *      after a broadcast join against the bounded offset table.
  *
  * The result is identical to the single-window form, which is what the
  * DuckDB oracles state; GlobalOrderSpec and FeedBatchEquivalenceSpec
  * compare the two directly, and PlanSpec asserts that the only
  * unpartitioned window of each consumer reads `n`. */
private[graft] object GlobalOrder {

  /** Adds `before`, the sum of `weight` over all rows strictly before
    * each row in the total order (`bucket`, `order`…), and `total`, the
    * sum over all rows. The caller guarantees that `bucket` (a column of
    * `df`) is a prefix of that order and that the order is total; a row
    * whose bucket is null is dropped. A 0-based rank is `before` with
    * `weight = lit(1L)`, an inclusive running sum is `before + weight`. */
  def prefixBefore(df: DataFrame, bucket: String, order: Seq[Column],
      weight: Column): DataFrame = {
    val local = df.withColumn("_local",
      coalesce(sum(weight).over(Window.partitionBy(bucket).orderBy(order: _*)
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val byBucket = Window.orderBy(bucket)
    val offsets = df.groupBy(bucket).agg(sum(weight).as("n"))
      .select(col(bucket),
        coalesce(sum("n").over(
          byBucket.rowsBetween(Window.unboundedPreceding, -1)), lit(0L))
          .as("_off"),
        sum("n").over(byBucket.rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing)).as("total"))
    local.join(broadcast(offsets), bucket)
      .withColumn("before", col("_off") + col("_local"))
      .drop("_off", "_local")
  }

  /** The 0-based SQL NTILE tile of 1-based global row number `rn` among
    * `n` rows: the first n%k tiles take ⌈n/k⌉ rows, the rest ⌊n/k⌋,
    * exactly what `ntile(k) - 1` assigns. Floor-over-double division is
    * exact for counts ≪ 2^53. */
  def ntile0(rn: Column, n: Column, k: Int): Column = {
    val q = floor(n / lit(k))
    val rem = n % lit(k)
    val boundary = rem * (q + lit(1L))
    when(rn <= boundary, floor((rn - lit(1L)) / (q + lit(1L))))
      .otherwise(rem + floor((rn - boundary - lit(1L)) / greatest(q, lit(1L))))
  }
}
