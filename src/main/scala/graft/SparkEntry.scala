package graft

import graft.operators._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * Aggregates every [[QueryGroup]]; each SURVEY.md §2 operator has one
  * `queries` entry and (where SQL-expressible) a DuckDB `oracleSql` twin
  * with identical column names and ordering. */
object SparkEntry {

  private def groups: Seq[QueryGroup] = Seq(
    CdcQueries,
    AggQueries,
    JoinQueries,
    FilterSetQueries,
    WindowQueries,
    ScalarQueries,
    StreamQueries,
    TextQueries,
    DedupQueries,
    SimilarityQueries,
    TimeSeriesQueries,
    MultimodalQueries,
    PipelineQueries,
    SamplingQueries,
    CurationQueries)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The SURVEY.md §7.2 end-to-end slice: synthesized Debezium change log
    * → parse → unwrap → compact → join dim → aggregate. */
  def entry(spark: SparkSession): DataFrame =
    CdcQueries.queries("cdc_revenue_by_segment")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = {
    val all = groups.flatMap(_.queries)
    val dups = all.groupBy(_._1).filter(_._2.sizeIs > 1).keys
    // a duplicate name would silently shadow a query in the Map and the
    // driver's correctness gate would grade the wrong plan — fail loudly
    require(dups.isEmpty, s"duplicate query names across groups: $dups")
    all.toMap
  }

  /** Every group's start-up build tasks (see [[QueryGroup.prewarm]]). */
  private[graft] def prewarmTasks: Seq[Prewarm.Task] =
    groups.flatMap(_.prewarm)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    groups.flatMap(_.oracles).toMap

  /** Query name → owning [[QueryGroup]] simple name ([[CatalogGen]]'s
    * operator-family column). */
  def families: Map[String, String] =
    groups.flatMap(g => g.queries.keys
      .map(_ -> g.getClass.getSimpleName.stripSuffix("$"))).toMap
}
