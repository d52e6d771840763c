package graft.perfbench

import scala.collection.mutable

import graft.{CdcPipeline, CdcPipelineConfig}
import graft.sources.Debezium
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType}

/** Batch replay of a changelog archive through the top-level
  * [[CdcPipeline]] — debezium-json read, envelope parse, unwrap,
  * latest-by-key compaction, then revenue by customer segment — timed
  * layer by layer. Spark runs the pipeline lazily, so each layer is
  * isolated by prefix passes (read only, + parse, + unwrap, + compaction,
  * + join), each consumed in full by the `noop` sink; a layer's time is
  * the difference of two prefix medians. */
object Replay {
  val PrefixReps = 5

  val config = CdcPipelineConfig(
    tables = Map("orders" -> Debezium.ordersRowSchema),
    keyColumns = Map("orders" -> Seq("o_orderkey")))

  def cents(c: Column): Column =
    (c.cast(DecimalType(12, 2)) * 100).cast(LongType)

  def revenue(live: DataFrame, customer: DataFrame): DataFrame =
    live.join(customer, col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(sum(cents(col("o_totalprice"))).as("revenue_cents"),
        count(lit(1)).as("n_orders"))

  /** Per-layer figures of replaying the archive in `dir` (`events`
    * records). */
  def layers(c: Ctx, dir: String, events: Double): Map[String, Double] = {
    import c._
    val pipe = new CdcPipeline(config)
    val customer = spark.read.parquet(s"$corpus/customer.parquet")
      .select("c_custkey", "c_mktsegment")
    def raw: DataFrame = spark.read.format("debezium-json").load(dir)
      .select("topic", "key", "value")
    val prefixes: Seq[(String, () => DataFrame)] = Seq(
      "sources.archive_read_ms" -> (() => raw),
      "sources.envelope_parse_ms" ->
        (() => Debezium.parseEnvelope(raw, Debezium.ordersRowSchema)),
      "operators.unwrap_ms" -> (() => pipe.unwrapped(raw, "orders")),
      "operators.compact_ms" -> (() => pipe.table(raw, "orders")),
      "operators.join_agg_ms" ->
        (() => revenue(pipe.table(raw, "orders"), customer)))
    ledger.drain()
    val before = ledger.get("replay")
    for (_ <- 1 to PrefixReps; (name, df) <- prefixes)
      tracer.span(name)(ledger.tagged("replay")(
        df().write.format("noop").mode("overwrite").save()))
    ledger.drain()
    val after = ledger.get("replay")
    val out = mutable.Map.empty[String, Double]
    val med = prefixes.map { case (n, _) => Stats.median(tracer.selfMs(n)) }
    prefixes.map(_._1).zip(med.zip(0.0 +: med)).foreach {
      case (n, (m, prev)) => out(n) = m - prev
    }
    val passes = PrefixReps * prefixes.size
    out("operators.shuffle_write_bytes_per_event") =
      (after("shuffle_write") - before("shuffle_write")) / (events * passes)
    out("operators.spill_bytes") = (after("spill") - before("spill")) / passes
    out.toMap
  }
}
