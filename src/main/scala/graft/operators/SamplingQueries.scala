package graft.operators

import graft.QueryGroup
import graft.sources.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Deterministic sampling and split-assignment operators over `documents`
  * (the north-star training-data-pipeline family: every large corpus build
  * carves train/val/test splits and draws QA/eval samples, and at 100 TB
  * both must be reproducible without any RNG state).
  *
  * Scale design — all three operators derive membership from a CONTENT
  * hash (`md5` of the stable record key), never from `rand()` or
  * `monotonically_increasing_id`:
  *   - re-running the job, re-ordering the input, or retrying a task
  *     assigns every record to the same sample/split (rand() under task
  *     retry is the SPARK-23207 duplicated/lost-rows bug class);
  *   - `sample_hash` / `sample_split` are pure map-side filters/projections
  *     — no shuffle at all, the 100 TB shape (the filter prunes before any
  *     downstream work, and split assignment can be computed inline in any
  *     later pipeline without materializing an assignment table);
  *   - `sample_stratified` needs one shuffle on the stratum key (the
  *     per-stratum top-k is a window over `lang`); at extreme stratum skew
  *     the same result is computable with a two-phase per-partition
  *     pre-top-k (each partition keeps its k smallest hashes, then one
  *     tiny final pass), so no single reducer ever sees a full stratum.
  *
  * md5 (not xxhash64) because the oracle must reproduce it: both engines
  * implement standard MD5 over the decimal-string key and return lowercase
  * hex, so the DuckDB twin is exact.
  */
object SamplingQueries extends QueryGroup {
  import OracleSql._

  /** First hex nibble of md5 of the record key — a uniform, deterministic
    * 16-bucket content hash (measured spread on the corpus: 24-42 docs per
    * nibble at sf0.01). */
  private def h1(key: Column): Column = substring(md5(key.cast("string")), 1, 1)

  /** train/val/test assignment (12/2/2 nibbles ≈ 75/12.5/12.5) from the
    * record key alone. A plain column expression, so it composes onto BATCH
    * AND STREAMING frames identically — an arriving record's split is
    * decided statelessly at ingest, which is what makes the assignment
    * consistent between a backfill job and the live stream of the same
    * table (SamplingSpec asserts the parity). */
  def splitOf(key: Column): Column = {
    val h = h1(key)
    when(h.isin("c", "d"), lit("val"))
      .when(h.isin("e", "f"), lit("test"))
      .otherwise(lit("train"))
  }

  /** k-fold assignment from the record key alone (cross-validation's
    * split operator): fold = first md5 byte mod k — 256 source buckets
    * keep the folds near-uniform for any k ≤ ~16, and like [[splitOf]]
    * the assignment is a pure column expression: map-side, retry-stable,
    * batch/stream identical. */
  def foldOf(key: Column, k: Int): Column =
    conv(substring(md5(key.cast("string")), 1, 2), 16, 10)
      .cast("int") % k

  /** Deterministic fixed-size sample of k rows per group from ANY frame:
    * rank inside each group by the content hash of the stable record key
    * (key itself as tie-break → total order even under hash collisions)
    * and keep the k smallest. The per-group generalization of
    * `sample_stratified` — group columns and key are the caller's, so the
    * same operator draws QA samples per language, per source domain, per
    * date partition, per topic… One shuffle on the group key; at extreme
    * group skew the same result is computable with a per-partition
    * pre-top-k (each partition keeps its k smallest hashes, then one tiny
    * final pass), so no single reducer ever needs a full group. */
  def topKPerGroup(
      df: DataFrame, groupCols: Seq[String], key: Column, k: Int): DataFrame = {
    val w = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(md5(key.cast("string")), key)
    df.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // deterministic Bernoulli sample: keep the 4/16 hash buckets → 25%
    // expected rate, exact membership reproducible from the key alone
    "sample_hash" -> ((s, dir) => {
      Tables.scan(s, dir, "documents")
        .select(col("doc_id"), col("lang"), h1(col("doc_id")).as("h"))
        .filter(col("h").isin("0", "1", "2", "3"))
        .orderBy("doc_id")
    }),

    // train/val/test split assignment (12/2/2 nibbles ≈ 75/12.5/12.5) —
    // reported as the per-(lang, split) contingency a corpus build logs
    // TEMPORAL split with an EMBARGO gap — the leakage discipline a
    // content-hash split cannot provide when the target is time-ordered
    // (a model evaluated on the future must not train on events adjacent
    // to the test boundary; the embargo drops the gap rows entirely,
    // the standard quant/forecasting protocol). Cutoff = 80% through
    // the corpus hour span, embargo = max(1, span/50) hours, both
    // derived from a broadcast 1-row span aggregate — assignment is a
    // pure map-side CASE, one aggregate on top, no shuffle before it.
    "sample_split_temporal" -> ((s, dir) => {
      val ev = Tables.scan(s, dir, "events")
      def hi(c: Column): Column =
        (unix_micros(date_trunc("hour", c).cast("timestamp"))
          / 3600000000L).cast("long")
      val span = ev.agg(hi(min(col("ts"))).as("t0i"),
        hi(max(col("ts"))).as("t1i"))
      ev.crossJoin(broadcast(span))
        .withColumn("hi", hi(col("ts")))
        .withColumn("span_h", col("t1i") - col("t0i") + 1)
        .withColumn("cut", col("t0i") + expr("span_h * 4 div 5"))
        .withColumn("emb", greatest(lit(1L), expr("span_h div 50")))
        .withColumn("split",
          when(col("hi") >= col("cut"), "test")
            .when(col("hi") >= col("cut") - col("emb"), "embargo")
            .otherwise("train"))
        .groupBy("split", "event_type")
        .agg(count(lit(1)).as("n"),
          min("event_id").as("min_eid"), max("event_id").as("max_eid"))
        .orderBy("split", "event_type")
    }),

    "sample_split" -> ((s, dir) => {
      Tables.scan(s, dir, "documents")
        .select(col("lang"), splitOf(col("doc_id")).as("split"))
        .groupBy("lang", "split")
        .agg(count(lit(1)).as("n"))
        .orderBy("lang", "split")
    }),

    // 5-fold cross-validation assignment, reported as the per-(lang, fold)
    // contingency (measured spread at sf0.01: 88-114 docs per fold)
    "sample_kfold" -> ((s, dir) => {
      Tables.scan(s, dir, "documents")
        .select(col("lang"), foldOf(col("doc_id"), 5).as("fold"))
        .groupBy("lang", "fold")
        .agg(count(lit(1)).as("n"))
        .orderBy("lang", "fold")
    }),

    // stratified fixed-size sample: k docs per language, chosen by hash
    // order (pseudo-random but fully deterministic; doc_id tie-break makes
    // the order total even under hash collisions)
    "sample_stratified" -> ((s, dir) => {
      topKPerGroup(
        Tables.scan(s, dir, "documents").select(col("doc_id"), col("lang")),
        Seq("lang"), col("doc_id"), 20)
        .orderBy("lang", "rk")
    }),

    // CLASS-BALANCED downsampling — the label-balancing step before
    // classifier/reward-model training: every label keeps EXACTLY
    // min-class-size rows, chosen by content-hash rank (md5 of the id —
    // seedless, retry-stable, the curate_shuffle permutation applied
    // per class). Scale shape: one labeled pass for the per-class
    // counts (a bounded class-cardinality table, broadcast back), one
    // class-partitioned rank window — no global sort, no collect.
    "sample_class_balance" -> ((s, dir) => {
      val e = Tables.scan(s, dir, "embeddings")
        .select(col("vec_id"), col("label"))
      val floor = e.groupBy("label").agg(count(lit(1)).as("cn"))
        .agg(min(col("cn")).as("m"))
      val w = Window.partitionBy("label")
        .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
      e.withColumn("rk", row_number().over(w))
        .crossJoin(broadcast(floor))
        .filter(col("rk") <= col("m"))
        .select(col("label"), col("rk"), col("vec_id"))
        .orderBy("label", "rk")
    }),

    // POISSON BOOTSTRAP — the resampling scheme that actually scales:
    // classic bootstrap draws n-with-replacement (a global operation),
    // Poisson bootstrap gives each row an INDEPENDENT Poisson(1)
    // multiplicity per replicate, so resampling is embarrassingly
    // map-side and 8 replicates ride ONE pass (the standard big-data
    // substitute, n large ⇒ distributionally equivalent). Determinism:
    // the Poisson draw inverts the CDF against a 24-bit content-hash
    // uniform using PRECOMPUTED integer thresholds (floor(cdf·2²⁴) —
    // the same constants in both engines, so no float CDF is ever
    // evaluated at query time; tail capped at 7, P ≈ 5·10⁻⁵). Scale:
    // the ×8 explode multiplies rows map-side, the partial aggregate
    // collapses to 8 replicate rows before the only exchange — the
    // statistic (n_rows, sum_chars per replicate) is what a driver
    // needs to report a bootstrap CI on mean doc length.
    "sample_bootstrap" -> ((s, dir) => {
      // floor(Poisson(1) cdf(k) * 2^24), k = 0..6; >= last → 7
      val t = Seq(6171992L, 12343985L, 15429982L, 16458647L,
        16715813L, 16767247L, 16775819L)
      val u = conv(substring(md5(concat_ws(":",
        col("doc_id").cast("string"), col("rep").cast("string"))),
        1, 6), 16, 10).cast("long")
      val m = t.zipWithIndex.foldLeft(when(u < t.head, 0L)) {
        case (acc, (th, k)) => if (k == 0) acc else acc.when(u < th, k.toLong)
      }.otherwise(7L)
      Tables.scan(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"),
          explode(sequence(lit(0), lit(7))).as("rep"))
        .withColumn("m", m)
        .groupBy("rep")
        .agg(sum(col("m")).as("n_rows"),
          sum(col("m") * col("n_chars")).as("sum_chars"))
        .orderBy("rep")
    }),

    // NEYMAN-ALLOCATION stratified sampling — the survey-sampling
    // budget split (n_h ∝ N_h·S_h) that beats proportional allocation
    // when strata differ in spread. The spread proxy is the exact
    // integer RANGE (max−min of n_chars; the classic range rule — a
    // std-dev proxy with no sqrt, so the whole allocation stays in
    // BIGINTs). Largest-remainder rounding makes Σn_h == budget
    // exactly (floor quotas, then +1 to the biggest remainders, ties
    // to the lexicographic stratum), and each n_h is capped at N_h
    // (no redistribution — the uncovered remainder is the report's
    // business, not silently reassigned). Selection inside a stratum
    // is content-hash rank — deterministic and retry-stable, as every
    // sampler in this family. Scale: stratum stats and the allocation
    // algebra live on the stratum axis (bounded); the only data-sized
    // work is one partitioned hash-rank window + a broadcast-sized
    // allocation join; the graded selection identity is Σdoc_id per
    // stratum, not a data-sized dump.
    "sample_neyman" -> ((s, dir) => {
      val d = Tables.scan(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val strata = d.groupBy("lang").agg(count(lit(1)).as("n_pop"),
        (max(col("n_chars")) - min(col("n_chars"))).as("rng"))
      val tot = strata.agg(sum(col("n_pop")).as("total"),
        sum(col("n_pop") * (col("rng") + lit(1L))).as("wsum"))
      val a0 = strata.crossJoin(broadcast(tot))
        .withColumn("w", col("n_pop") * (col("rng") + lit(1L)))
        .withColumn("budget", expr("total div 5"))
        .withColumn("base", expr("(budget * w) div wsum"))
        .withColumn("rem", expr("(budget * w) % wsum"))
      val give = a0.agg((max(col("budget")) - sum(col("base")))
        .cast("long").as("give"))
      val wr = Window.orderBy(col("rem").desc, col("lang"))
      val alloc = a0.withColumn("rk", row_number().over(wr))
        .crossJoin(broadcast(give))
        .withColumn("alloc", least(
          col("base") + when(col("rk") <= col("give"), 1L).otherwise(0L),
          col("n_pop")))
      val wsel = Window.partitionBy("lang")
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      val sel = d.withColumn("rk", row_number().over(wsel))
        .join(broadcast(alloc.select("lang", "alloc")), "lang")
        .filter(col("rk") <= col("alloc"))
        .groupBy("lang").agg(count(lit(1)).as("n_sel"),
          sum(col("doc_id")).as("sel_id_sum"))
      alloc.select("lang", "n_pop", "rng", "alloc")
        .join(sel, Seq("lang"), "left")
        .select(col("lang"), col("n_pop"), col("rng"), col("alloc"),
          coalesce(col("n_sel"), lit(0L)).as("n_sel"),
          coalesce(col("sel_id_sum"), lit(0L)).as("sel_id_sum"))
        .orderBy("lang")
    }),

    // LEAKAGE-SAFE split assignment: hashing each doc independently
    // (sample_split) lets a near-dup pair straddle train/test — the
    // classic eval-contamination bug (the model "generalizes" to a test
    // doc it effectively saw in train). The fix: hash the near-dup
    // COMPONENT's canonical id, so a whole cluster lands in one split.
    // Pure composition of catalog operators: the shared per-doc CC
    // labels ([[DedupQueries.docComponents]] — quotient-level
    // large-star/small-star, no closure materialized, built once per
    // session and also consumed by dedup_clusters) and the SAME md5
    // split CASE ([[splitOf]]) applied to the component id. Singleton
    // docs are their own component, so their assignment equals
    // sample_split's.
    "sample_split_safe" -> ((s, dir) => {
      val labels = DedupQueries.docComponents(s, dir)
        .withColumnRenamed("component", "_cc")
      Tables.scan(s, dir, "documents").select(col("doc_id"), col("lang"))
        .join(labels, Seq("doc_id"), "left")
        .select(col("doc_id"), col("lang"),
          coalesce(col("_cc"), col("doc_id")).as("component"))
        .withColumn("split", splitOf(col("component")))
        .orderBy("doc_id")
    }),

    // quality-weighted importance sampling (the quality-filter /
    // data-selection flavor): each document keeps with probability equal
    // to its quality score, using a deterministic content-hash coin
    // instead of rand() — u = first 24 md5 bits / 2^24, an EXACT double
    // (integer over a power of two), so the keep decision is
    // retry-stable and bit-identical cross-engine (same SPARK-23207
    // argument as the rest of the family). The score is the SAME
    // expression tree as `text_quality` (both oracles share it), so the
    // sampler and the quality report can never disagree about a doc.
    // Pure map-side: coin, score, and keep decision are all column
    // expressions over the scan — zero shuffles before the harness sort.
    "sample_importance" -> ((s, dir) => {
      val u = conv(substring(md5(col("doc_id").cast("string")), 1, 6),
        16, 10).cast("double") / lit(16777216.0)
      // metric tuple off the shared corpus pass (PipelineQueries.
      // docQualityMetrics — identical expression trees, so q is
      // bit-identical); the hash coin is a cheap projection on top
      PipelineQueries.docQualityMetrics(s, dir)
        .select(col("doc_id"), col("lang"), col("n_tokens"),
          col("n_chars"), col("n_punct"), col("n_stop"), u.as("u01"))
        .select(col("doc_id"), col("lang"), col("u01"),
          (least(lit(1.0), col("n_tokens") / lit(50.0))
            * (lit(1.0) - col("n_punct") / col("n_chars"))
            * (lit(1.0) - lit(0.5) * col("n_stop") / col("n_tokens")))
            .as("q"))
        .filter(col("u01") < col("q"))
        .orderBy("doc_id")
    }),

    // the same operator on a DIFFERENT table and grouping — per-priority QA
    // sample of orders (proves topKPerGroup is table-agnostic, not a
    // documents/lang special case)
    "sample_topk_group" -> ((s, dir) => {
      topKPerGroup(
        Tables.scan(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderpriority")),
        Seq("o_orderpriority"), col("o_orderkey"), 7)
        .orderBy("o_orderpriority", "rk")
    }))

  val oracles: Map[String, String] = Map(
    "sample_hash" ->
      """SELECT doc_id, lang,
        |  substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS h
        |FROM documents
        |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
        |  IN ('0', '1', '2', '3')
        |ORDER BY doc_id""".stripMargin,

    // the same hour-index arithmetic (epoch//3600), 80% cutoff, and
    // max(1, span//50) embargo; integer division floors in both engines
    "sample_split_temporal" ->
      """WITH span AS (SELECT
        |    CAST(epoch(date_trunc('hour', MIN(ts))) AS BIGINT) // 3600
        |      AS t0i,
        |    CAST(epoch(date_trunc('hour', MAX(ts))) AS BIGINT) // 3600
        |      AS t1i
        |  FROM events),
        |lab AS (SELECT e.event_type, e.event_id,
        |    CAST(epoch(date_trunc('hour', e.ts)) AS BIGINT) // 3600 AS hi,
        |    s.t0i + (s.t1i - s.t0i + 1) * 4 // 5 AS cut,
        |    greatest(1, (s.t1i - s.t0i + 1) // 50) AS emb
        |  FROM events e CROSS JOIN span s)
        |SELECT CASE WHEN hi >= cut THEN 'test'
        |            WHEN hi >= cut - emb THEN 'embargo'
        |            ELSE 'train' END AS split,
        |  event_type, COUNT(*) AS n,
        |  MIN(event_id) AS min_eid, MAX(event_id) AS max_eid
        |FROM lab GROUP BY 1, 2 ORDER BY split, event_type""".stripMargin,

    "sample_split" ->
      """WITH a AS (SELECT lang,
        |  CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
        |         IN ('c', 'd') THEN 'val'
        |       WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
        |         IN ('e', 'f') THEN 'test'
        |       ELSE 'train' END AS split
        |  FROM documents)
        |SELECT lang, split, COUNT(*) AS n
        |FROM a GROUP BY lang, split ORDER BY lang, split""".stripMargin,

    "sample_kfold" ->
      """SELECT lang,
        |  CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 2))
        |    AS INTEGER) % 5 AS fold,
        |  COUNT(*) AS n
        |FROM documents GROUP BY lang, fold ORDER BY lang, fold""".stripMargin,

    "sample_stratified" ->
      """WITH r AS (SELECT doc_id, lang,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY lang
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS INT) AS rk
        |  FROM documents)
        |SELECT doc_id, lang, rk FROM r
        |WHERE rk <= 20 ORDER BY lang, rk""".stripMargin,

    // same md5 rank, capped at the min class size (exact-k per class)
    "sample_class_balance" ->
      """WITH r AS (SELECT vec_id, label,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY label
        |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS INT)
        |      AS rk
        |  FROM embeddings),
        |m AS (SELECT CAST(MIN(cn) AS BIGINT) AS m FROM (
        |  SELECT COUNT(*) AS cn FROM embeddings GROUP BY label))
        |SELECT label, rk, vec_id FROM r CROSS JOIN m
        |WHERE rk <= m.m ORDER BY label, rk""".stripMargin,

    // the same integer CDF thresholds against the same 24-bit hash
    // uniform — no float Poisson CDF on either side
    "sample_bootstrap" ->
      """WITH r AS (SELECT doc_id, n_chars, unnest(range(0, 8)) AS rp
        |  FROM documents),
        |u AS (SELECT CAST(rp AS INT) AS rep, n_chars,
        |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || ':'
        |      || CAST(rp AS VARCHAR)), 1, 6)) AS BIGINT) AS u
        |  FROM r),
        |m AS (SELECT rep, n_chars,
        |    CASE WHEN u < 6171992 THEN 0 WHEN u < 12343985 THEN 1
        |         WHEN u < 15429982 THEN 2 WHEN u < 16458647 THEN 3
        |         WHEN u < 16715813 THEN 4 WHEN u < 16767247 THEN 5
        |         WHEN u < 16775819 THEN 6 ELSE 7 END AS m
        |  FROM u)
        |SELECT rep, CAST(SUM(m) AS BIGINT) AS n_rows,
        |  CAST(SUM(m * n_chars) AS BIGINT) AS sum_chars
        |FROM m GROUP BY 1 ORDER BY rep""".stripMargin,

    // same range-rule weights, floor quotas + largest-remainder (+1 to
    // the top `give` remainders, lexicographic tiebreak), cap at N_h,
    // hash-rank selection; aggregates cast back from int128 BEFORE the
    // quota products
    "sample_neyman" ->
      """WITH d AS (SELECT doc_id, lang, n_chars FROM documents),
        |st AS (SELECT lang, COUNT(*) AS n_pop,
        |    MAX(n_chars) - MIN(n_chars) AS rng
        |  FROM d GROUP BY 1),
        |t AS (SELECT CAST(SUM(n_pop) AS BIGINT) AS total,
        |    CAST(SUM(n_pop * (rng + 1)) AS BIGINT) AS wsum FROM st),
        |a0 AS (SELECT lang, n_pop, rng,
        |    total // 5 AS budget,
        |    ((total // 5) * (n_pop * (rng + 1))) // wsum AS base,
        |    ((total // 5) * (n_pop * (rng + 1))) % wsum AS rem
        |  FROM st CROSS JOIN t),
        |g AS (SELECT MAX(budget) - CAST(SUM(base) AS BIGINT) AS give
        |  FROM a0),
        |ar AS (SELECT a0.*, ROW_NUMBER() OVER (ORDER BY rem DESC, lang)
        |    AS rk FROM a0),
        |al AS (SELECT lang, n_pop, rng,
        |    LEAST(base + CASE WHEN rk <= give THEN 1 ELSE 0 END, n_pop)
        |      AS alloc
        |  FROM ar CROSS JOIN g),
        |r AS (SELECT doc_id, lang, ROW_NUMBER() OVER (PARTITION BY lang
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |  FROM d),
        |sel AS (SELECT r.lang, COUNT(*) AS n_sel,
        |    CAST(SUM(doc_id) AS BIGINT) AS sel_id_sum
        |  FROM r JOIN al ON r.lang = al.lang AND r.rk <= al.alloc
        |  GROUP BY 1)
        |SELECT al.lang AS lang, al.n_pop, al.rng, al.alloc,
        |  COALESCE(n_sel, 0) AS n_sel,
        |  COALESCE(sel_id_sum, 0) AS sel_id_sum
        |FROM al LEFT JOIN sel ON al.lang = sel.lang
        |ORDER BY al.lang""".stripMargin,

    // the shared verified-pair chain (OracleSql.jaccardPairs), closed
    // into components; the chain ends at the `e AS (SELECT` seam
    // tools/check.py --sf1 slices at to swap the recursive closure for
    // bounded min-label propagation on dup-dense corpora
    "sample_split_safe" ->
      s"""WITH RECURSIVE
         |${jaccardPairs()},
         |e AS (SELECT da, db FROM jp UNION SELECT db, da FROM jp),
         |reach(v, r) AS (
         |  SELECT da AS v, da AS r FROM e
         |  UNION
         |  SELECT e.da, reach.r FROM e JOIN reach ON e.db = reach.v),
         |comp AS (SELECT v, MIN(r) AS component FROM reach GROUP BY v)
         |SELECT d.doc_id, d.lang,
         |  COALESCE(c.component, d.doc_id) AS component,
         |  CASE WHEN substr(md5(CAST(COALESCE(c.component, d.doc_id)
         |         AS VARCHAR)), 1, 1) IN ('c', 'd') THEN 'val'
         |       WHEN substr(md5(CAST(COALESCE(c.component, d.doc_id)
         |         AS VARCHAR)), 1, 1) IN ('e', 'f') THEN 'test'
         |       ELSE 'train' END AS split
         |FROM documents d LEFT JOIN comp c ON d.doc_id = c.v
         |ORDER BY doc_id""".stripMargin,

    "sample_importance" ->
      s"""WITH m AS (SELECT doc_id, lang,
         |    $qualityCols,
         |    CAST(CAST(concat('0x',
         |        substr(md5(CAST(doc_id AS VARCHAR)), 1, 6)) AS INTEGER)
         |      AS DOUBLE) / CAST(16777216 AS DOUBLE) AS u01
         |  FROM documents),
         |sc AS (SELECT doc_id, lang, u01, $qualityScore AS q FROM m)
         |SELECT doc_id, lang, u01, q FROM sc
         |WHERE u01 < q ORDER BY doc_id""".stripMargin,

    "sample_topk_group" ->
      """WITH r AS (SELECT o_orderkey, o_orderpriority,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY o_orderpriority
        |    ORDER BY md5(CAST(o_orderkey AS VARCHAR)), o_orderkey) AS INT)
        |    AS rk
        |  FROM orders)
        |SELECT o_orderkey, o_orderpriority, rk FROM r
        |WHERE rk <= 7 ORDER BY o_orderpriority, rk""".stripMargin)
}
