package graft.operators

import graft.QueryGroup
import graft.sources.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Corpus-curation operators: token-budget shard packing and domain
  * mixing weights (the north-star training-data-pipeline steps that sit
  * between cleaning and training: concatenate the corpus into a token
  * stream, cut it into fixed-budget shards, and compute per-domain
  * sampling weights to hit a target mixture).
  *
  * Scale design: every global position here (a document's token offset
  * in the concatenated stream, its shuffle or interleave position, the
  * running token sum of the budgeted selection) is a two-phase
  * [[GlobalOrder.prefixBefore]] over a bucket that is a prefix of the
  * order, never a corpus-sized single-task window; the DuckDB oracle is
  * the naive single-window query.
  */
object CurationQueries extends QueryGroup {
  import OracleSql._

  /** Contiguous doc_id block size for the two-phase prefix sum. Small
    * here so the sf0.01 corpus (500 docs) exercises many buckets; at
    * warehouse scale this would be ~2^16. */
  private val blockSize = 64L

  /** Tokens per shard. */
  private val budget = 2000L

  /** Chunking geometry: window size and stride in tokens (stride < size
    * gives `chunkSize - chunkStride` tokens of overlap per boundary). */
  private val chunkSize = 128L
  private val chunkStride = 96L

  /** (doc_id, lang, tokens) — materialized once per (session, corpus):
    * both pack_shards branches (local window + bucket subtotals) and
    * both mix_weights branches (per-lang + total) read it, and without
    * the persist each branch re-runs the corpus scan + tokenize (no
    * cross-branch common-subplan reuse in Catalyst). Tokenizer is THE
    * shared one ([[TextQueries.toks]]), so curate token counts stay in
    * lockstep with the text_* family. Graded cache entry: cleared
    * between bench reps. */
  private def withTokens(s: SparkSession, dir: String): DataFrame =
    graft.BoundedDfCache.getOrPersist(s, s"curate:tokens:$dir") {
      Tables.scan(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          size(TextQueries.toks(col("text"))).cast("long").as("tokens"))
    }

  /** Content-defined chunking core (see the `curate_chunk_cdc` entry):
    * docs(doc_id, text) → (doc_id, chunk_id, start_tok, n_tok,
    * chunk_md5). Pure map-side HOFs — hash every token, cut after each
    * token whose hash ≡ 0 (mod 32), slice+md5 each [start, end] run.
    * Hoisted so the boundary-stability contract (edits only touch
    * overlapping chunks) is spec-testable on synthetic docs. */
  private[graft] def chunkCdc(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), TextQueries.toks(col("text")).as("w"))
      .withColumn("h", transform(col("w"), t => TextQueries.charFold(t)))
      // boundary AFTER 1-based position i, never after the last token
      .withColumn("bnd", filter(
        when(size(col("w")) > 1, sequence(lit(1), size(col("w")) - 1))
          .otherwise(array().cast("array<int>")),
        i => element_at(col("h"), i) % 32 === lit(0L)))
      .withColumn("starts",
        concat(array(lit(1)), transform(col("bnd"), i => i + 1)))
      .withColumn("ends", concat(col("bnd"), array(size(col("w")))))
      .select(col("doc_id"), col("w"),
        posexplode(arrays_zip(col("starts"), col("ends")))
          .as(Seq("chunk_id", "se")))
      .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
        (col("se.starts") - 1).cast("long").as("start_tok"),
        (col("se.ends") - col("se.starts") + 1).cast("long").as("n_tok"),
        md5(array_join(
          slice(col("w"), col("se.starts"),
            col("se.ends") - col("se.starts") + 1), " ").cast("binary"))
          .as("chunk_md5"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // TWO-PHASE DATA SCHEDULE (pretrain → anneal) — the midtraining
    // move every modern run makes: the long pretrain phase samples
    // sources in proportion to their token mass, the short anneal
    // phase re-weights toward each source's GATED-quality token mass
    // (the "end on your best data" schedule). The gate is three
    // cross-multiplied integer predicates on the same counts the
    // quality score uses (≥20 tokens, punct < 10% of chars,
    // stopwords < 50% of tokens) — no doubles anywhere, so phase
    // shares and the per-source anneal boost (w2/w1 as exact
    // permille) are bit-stable. Map-side gate + one source-grain
    // aggregate + a 1-row totals broadcast; the schedule card is
    // sources-sized at any corpus scale.
    "curate_anneal_mix" -> ((s, dir) => {
      // counts off the shared corpus pass (PipelineQueries.
      // docQualityMetrics): nt is exactly its `tokens`; nc/np/ns are its
      // doubles cast back to long — every one an exact integer (counts
      // and lengths < 2^31), so the gate and the per-source sums are
      // bit-identical to the private-scan form this replaces
      val d = PipelineQueries.docQualityMetrics(s, dir)
        .select(col("source"), col("n_chars").cast("long").as("nc"),
          col("tokens").as("nt"),
          col("n_punct").cast("long").as("np"),
          col("n_stop").cast("long").as("ns"))
        .withColumn("good", col("nt") >= 20 &&
          col("np") * 10 < col("nc") && col("ns") * 2 < col("nt"))
      val per = d.groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("good"), 1L).otherwise(0L)).as("n_good"),
        sum(col("nc")).as("tokens"),
        sum(when(col("good"), col("nc")).otherwise(0L))
          .as("good_tokens"))
      val tot = per.agg(sum(col("tokens")).cast("long").as("total"),
        sum(col("good_tokens")).cast("long").as("good_total"))
      per.crossJoin(broadcast(tot))
        .withColumn("w1_ppm", expr("(tokens * 1000000) div total"))
        .withColumn("w2_ppm",
          expr("(good_tokens * 1000000) div good_total"))
        .withColumn("boost_x1000", expr("(w2_ppm * 1000) div w1_ppm"))
        .select("source", "n_docs", "n_good", "tokens", "good_tokens",
          "w1_ppm", "w2_ppm", "boost_x1000")
        .orderBy("source")
    }),

    // quality-ranked data selection under a global token budget — the
    // data-selection step (C4/DsDm shape): rank every document by the
    // shared quality score, keep the best until 30% of the corpus's
    // tokens are spent. The budget gate compares exact integers
    // (cum·10 ≤ total·3), so the cut is bit-stable however large the
    // corpus.
    "curate_select_budget" -> ((s, dir) => {
      // the per-doc metric tuple (two corpus-wide regex counts) is the
      // shared [[PipelineQueries.docQualityMetrics]] pass — the same
      // doubles this query previously derived itself, so q is
      // bit-identical and the corpus regex pass is paid once per session
      val scored = PipelineQueries.docQualityMetrics(s, dir)
        .select(col("doc_id"), col("tokens"),
          (least(lit(1.0), col("n_tokens") / lit(50.0))
            * (lit(1.0) - col("n_punct") / col("n_chars"))
            * (lit(1.0) - lit(0.5) * col("n_stop") / col("n_tokens")))
            .as("q"))
        // floor is monotone, so the ≤ ~21 bands -floor(q·20) ascending
        // are a prefix of (q desc, doc_id)
        .withColumn("band", -floor(col("q") * lit(20.0)).cast("long"))
      GlobalOrder.prefixBefore(scored, "band",
          Seq(col("q").desc, col("doc_id")), col("tokens"))
        .withColumn("cum_tokens", col("before") + col("tokens"))
        .select(col("doc_id"), col("tokens"), col("q"), col("cum_tokens"),
          col("total"),
          (col("cum_tokens") * 10L <= col("total") * 3L).as("kept"))
        .orderBy("doc_id")
    }),

    // token-budget shard packing: document i goes to the shard where its
    // FIRST token lands in the concatenated corpus token stream (docs may
    // straddle a boundary; assignment is by start offset, the standard
    // offset-index convention)
    "curate_pack_shards" -> ((s, dir) => {
      // a contiguous doc_id block is a prefix of doc_id order
      GlobalOrder.prefixBefore(withTokens(s, dir)
          .withColumn("bucket", floor(col("doc_id") / blockSize)),
        "bucket", Seq(col("doc_id")), col("tokens"))
        .withColumn("shard",
          floor(col("before").cast("double") / lit(budget.toDouble)))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"),
          sum("tokens").as("shard_tokens"),
          min("doc_id").as("first_doc"),
          max("doc_id").as("last_doc"))
        .orderBy("shard")
    }),

    // domain mixing weights: per-language token share vs a uniform
    // target; weight = target_share / actual_share is the per-record
    // sampling multiplier that rebalances the mixture. Two tiny
    // aggregates (per-lang, then 1-row total); the expensive stage is
    // the per-doc token count, which is map-side. All divisions are
    // single IEEE ops on exactly-represented longs — bit-identical
    // cross-engine.
    "curate_mix_weights" -> ((s, dir) => {
      val per = withTokens(s, dir)
        .groupBy("lang").agg(sum("tokens").as("tokens"))
      val tot = per.agg(sum("tokens").as("total"),
        count(lit(1)).as("n_langs"))
      per.crossJoin(broadcast(tot))
        .select(col("lang"), col("tokens"),
          (col("tokens").cast("double") / col("total").cast("double"))
            .as("share"),
          (col("total").cast("double")
            / (col("n_langs").cast("double") * col("tokens").cast("double")))
            .as("weight"))
        .orderBy("lang")
    }),

    // TEMPERATURE-scaled language sampling (the mT5/XLM-R multilingual
    // mixing rule): sampling probability ∝ share^(1/T) with T = 2 —
    // low-resource languages are up-sampled toward (never to) uniform,
    // the standard compromise between proportional (drowns the tail)
    // and uniform (overfits it). Determinism: sqrt IS an IEEE
    // correctly-rounded operation (unlike pow/ln, which differ by ulps
    // across math libraries), so share^(1/2) = sqrt(tokens)/sqrt(total)
    // is bit-stable — each language's sqrt(tokens) is quantized ONCE to
    // 2^-20 fixed point and the normalizing sum is an exact BIGINT
    // (order-independent — a direct SUM of raw doubles would depend on
    // reduction order and diverge cross-engine). weight = sw/Σsw and
    // the up/down-sampling multiplier weight/share are each ONE IEEE
    // divide-of-exact-ints tree. Bounded work: one per-lang aggregate
    // off the shared token table, then a |langs|-row crossJoin.
    // SOFT dedup — train on every copy but DOWNWEIGHT by duplicate-group
    // size (1/k per member, in exact ppm ints), the alternative to
    // dropping that some pipelines prefer (keeps natural duplication
    // signal while bounding template spam's gradient share). Rides the
    // session's textGroups materialization — the entry costs one explode
    // of the (already tiny) group table, nothing new shuffles.
    "curate_dup_weights" -> ((s, dir) => {
      DedupQueries.textGroups(s, dir)
        .select(explode(col("members")).as("doc_id"),
          col("sz").as("n_copies"))
        .withColumn("weight_ppm", expr("1000000L div n_copies"))
        .orderBy("doc_id")
    }),

    "curate_temperature" -> ((s, dir) => {
      val per = withTokens(s, dir)
        .groupBy("lang").agg(sum("tokens").as("tokens"))
        .withColumn("sw_fix",
          floor(sqrt(col("tokens").cast("double")) * lit(1048576.0))
            .cast("long"))
      val tot = per.agg(sum("tokens").as("total"),
        sum("sw_fix").as("sw_total"))
      per.crossJoin(broadcast(tot))
        .select(col("lang"), col("tokens"),
          (col("tokens").cast("double") / col("total").cast("double"))
            .as("share"),
          (col("sw_fix").cast("double") / col("sw_total").cast("double"))
            .as("weight"),
          // weight/share with both ratios cross-multiplied into one
          // exact-int divide: (sw_fix·total) / (sw_total·tokens). The
          // products wrap silently in Spark where DuckDB errors, so guard
          // the operand magnitudes and fail LOUDLY on overflow (NullType
          // raise_error coerces to the otherwise-branch's double).
          // integer `div`, not fractional `/`: Long.MaxValue as a double
          // rounds UP to 2^63, so a fractional threshold lets exact-
          // boundary products (e.g. 2 × 2^62) slip through unguarded
          when(
            (col("sw_fix") > lit(0L)
              && col("total") > expr(s"${Long.MaxValue}L div sw_fix"))
              || (col("tokens") > lit(0L)
                && col("sw_total") > expr(s"${Long.MaxValue}L div tokens")),
            raise_error(lit("curate_temperature: BIGINT overflow in the " +
              "cross-multiplied multiplier — use the DECIMAL(38) form")))
            .otherwise((col("sw_fix") * col("total")).cast("double")
              / (col("sw_total") * col("tokens")).cast("double"))
            .as("multiplier"))
        .orderBy("lang")
    }),

    // EPOCH/REPETITION assignment — the data-mixing knob every training
    // run sets ("repeat the high-quality sources 4×, the tail once"):
    // sources are ranked by the SHARED per-source quality aggregate
    // ([[PipelineQueries.sourceQualityAgg]] — the domain gate's scorer),
    // the ascending quality quartile maps to epochs 1..4, and each doc
    // explodes into (doc_id, copy) rows map-side after a broadcast of
    // the bounded factor table. Exact arithmetic end-to-end: the rank
    // orders by a FLOOR-DIVIDED fixed-point mean (q_sum_fix·2^20 div
    // n_docs — integer division, so cross-engine ordering can't wobble
    // on a double ratio), ties broken by source. The only window ranks
    // the per-source table (|sources| rows — domains are unbounded at
    // corpus scale but the aggregate is still corpus-size-independent);
    // corpus-sized work is one broadcast join + a sequence explode.
    "curate_epochs" -> ((s, dir) => {
      val q = PipelineQueries.sourceQualityAgg(s, dir)
        .withColumn("mean_fix",
          expr("(q_sum_fix * 1048576L) div n_docs"))
      val factors = q
        .withColumn("epochs",
          ntile(4).over(Window.orderBy("mean_fix", "source"))
            .cast("long"))
        .select(col("source"), col("epochs"))
      Tables.scan(s, dir, "documents")
        .select(col("doc_id"), col("source"))
        .join(broadcast(factors), "source")
        .select(col("doc_id"), col("source"), col("epochs"),
          explode(expr("sequence(1L, epochs)")).as("copy"))
        .orderBy("doc_id", "copy")
    }),

    // deterministic global corpus shuffle: every document gets a stable
    // pseudo-random position (rank of its content-derived md5) — the
    // shuffle-before-sharding step of a training pipeline. Seedless and
    // content-derived, so retries/re-runs produce the identical
    // permutation (an RNG-backed orderBy(rand()) would not). The oracle
    // is the naive single-window ROW_NUMBER over the whole corpus.
    "curate_shuffle" -> ((s, dir) => {
      val d = Tables.scan(s, dir, "documents")
        .select(col("doc_id"),
          md5(col("doc_id").cast("string").cast("binary")).as("h"))
        // the md5's first two hex chars are a prefix of h order
        .withColumn("bucket", substring(col("h"), 1, 2))
      GlobalOrder.prefixBefore(d, "bucket", Seq(col("h"), col("doc_id")),
          lit(1L))
        .select(col("doc_id"), col("before").as("pos"))
        .orderBy("pos")
    }),

    // fixed-size overlapping token chunking: every document becomes
    // chunks of `chunkSize` tokens starting every `chunkStride` tokens
    // (stride < size → overlap, the context-continuity convention for
    // training windows). Entirely map-side — tokenize, explode the start
    // offsets, slice — no shuffle until the harness ORDER BY, so it
    // scales as a pure scan transform. Chunk content is verified by md5
    // (identical hex in both engines) so the graded rows stay slim while
    // still pinning every token of every chunk. Tokenizer is THE shared
    // one (TextQueries.toks) — chunk boundaries stay in lockstep with
    // the token counts the packing/mixing operators use.
    "curate_chunk" -> ((s, dir) => {
      Tables.scan(s, dir, "documents")
        .select(col("doc_id"), TextQueries.toks(col("text")).as("w"))
        .withColumn("n_doc", size(col("w")).cast("long"))
        .withColumn("start", explode(sequence(
          lit(0L), greatest(col("n_doc") - 1, lit(0L)), lit(chunkStride))))
        .select(col("doc_id"),
          (col("start") / chunkStride).cast("long").as("chunk_id"),
          col("start").as("start_tok"),
          least(lit(chunkSize), col("n_doc") - col("start")).as("n_tok"),
          md5(array_join(
            slice(col("w"), (col("start") + 1).cast("int"), lit(chunkSize)),
            " ").cast("binary")).as("chunk_md5"))
        .orderBy("doc_id", "chunk_id")
    }),

    // CONTENT-DEFINED chunking — the dedup-stable complement of
    // curate_chunk's fixed stride: a boundary falls after token i
    // whenever the token's rolling hash ≡ 0 (mod 32), so boundaries are
    // decided by LOCAL content. Insert a paragraph and only the chunks
    // that overlap the edit change identity — every chunk after the edit
    // re-aligns on the same hash boundaries (fixed-stride chunking
    // shifts EVERY later chunk, defeating chunk-level dedup between
    // corpus snapshots; same reason backup/dedup systems use CDC
    // chunking, here applied to token streams). The hash is THE shared
    // rolling hash ([[TextQueries.charFold]] — text_fingerprint's), so
    // chunk identity never drifts from the fingerprint family. Pure
    // map-side HOFs per document (boundary positions, starts/ends,
    // slice+md5): no shuffle at all, embarrassingly parallel at any
    // scale; expected chunk length = the modulus (32 tokens).
    // scanPar: the per-token char-fold hash is the heavy map stage —
    // spread it instead of one task over the single-split test parquet
    // (16.5 s → ~1 s at sf0.1)
    "curate_chunk_cdc" -> ((s, dir) =>
      chunkCdc(Tables.scanPar(s, dir, "documents"))
        .orderBy("doc_id", "chunk_id")),

    // weighted source interleaving — the EXECUTION step of data mixing
    // (curate_mix_weights computes targets; this emits the actual
    // training order): classic stride scheduling, where doc k of
    // language l gets virtual time k / p_l for target mixture p, and
    // the global order is ascending virtual time — every prefix of the
    // output then holds each source in ≈ its target proportion (the
    // property the mixture exists for, and what an RNG-draw interleave
    // only achieves in expectation; spec asserts it on real prefixes).
    // Within a language, docs arrive in the deterministic content-hash
    // shuffle order (the curate_shuffle discipline — seedless,
    // retry-stable). Rank-in-lang is a lang-PARTITIONED window; the
    // oracle is the naive single-window ROW_NUMBER over vt.
    "curate_interleave" -> ((s, dir) => {
      // declared target mixture (sums to 1; en upweighted, the common
      // DoReMi-style non-uniform target)
      val p = Seq("de" -> 0.2, "en" -> 0.4, "es" -> 0.2,
        "fr" -> 0.1, "zh" -> 0.1)
      val pCol = p.tail.foldLeft(when(col("lang") === p.head._1,
        lit(p.head._2))) { case (acc, (l, w)) =>
        acc.when(col("lang") === l, lit(w))
      }.otherwise(lit(0.1))
      val wLang = Window.partitionBy("lang")
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      // localCheckpoint (the connectedComponents discipline): the ranked
      // frame feeds BOTH the per-bucket position branch and the bucket
      // count branch, and without materialization each branch re-executes
      // the lang-rank window over the corpus (Catalyst has no cross-branch
      // common-subplan reuse); eager + lineage-truncated, blocks reclaimed
      // by the ContextCleaner once the returned plan is collected
      val d = Tables.scan(s, dir, "documents")
        .select(col("doc_id"), col("lang"))
        .withColumn("rk", row_number().over(wLang).cast("long"))
        .withColumn("vt", col("rk").cast("double") / pCol)
        // floor(vt) is a prefix of vt order; per-lang density is p_l docs
        // per unit vt, so a bucket holds ≤ ~|langs| rows at any size
        .withColumn("bucket", floor(col("vt")))
        .localCheckpoint(true)
      GlobalOrder.prefixBefore(d, "bucket",
          Seq(col("vt"), col("lang"), col("rk")), lit(1L))
        .select(col("doc_id"), col("lang"), col("rk"), col("vt"),
          col("before").as("pos"))
        .orderBy("pos")
    }),

    // sequence packing — the pretraining step that concatenates documents
    // into fixed-capacity context windows ("sequences", capacity 512
    // tokens) with NEXT-FIT semantics: scan docs in order, append to the
    // open sequence while it fits, else close it and start a new one; an
    // oversize doc occupies a sequence alone. Packing is inherently a
    // sequential fold, so it runs WITHIN a doc_id block (the same
    // [[blockSize]] geometry as curate_pack_shards) — exactly how production
    // packers work (each worker packs its own shard independently), which
    // makes the operator embarrassingly parallel: one shuffle keyed by
    // block, then a pure Catalyst higher-order `aggregate` fold over the
    // ≤blockSize-doc array — no UDF, no driver loop, no global state.
    // (seq, off_tok) are block-local; (block, seq) is the global sequence
    // id. The oracle is a DuckDB recursive CTE computing the identical
    // fold — recursion depth = blockSize, width = #blocks.
    "curate_pack_sequences" -> ((s, dir) => {
      val cap = 512L
      val outT = "array<struct<doc_id:bigint,tokens:bigint," +
        "seq:bigint,off:bigint>>"
      withTokens(s, dir)
        .withColumn("block", floor(col("doc_id") / blockSize))
        .groupBy("block")
        .agg(array_sort(collect_list(struct(col("doc_id"), col("tokens"))))
          .as("docs"))
        .withColumn("p",
          explode(aggregate(col("docs"),
            struct(lit(0L).as("seq"), lit(0L).as("fill"),
              array().cast(outT).as("out")),
            (acc, x) => {
              // first doc (fill=0) always opens seq 0 — even oversize
              val fits = acc.getField("fill") === 0L ||
                acc.getField("fill") + x.getField("tokens") <= lit(cap)
              val seq2 = when(fits, acc.getField("seq"))
                .otherwise(acc.getField("seq") + 1L)
              val off2 = when(fits, acc.getField("fill")).otherwise(lit(0L))
              val fill2 = when(fits,
                acc.getField("fill") + x.getField("tokens"))
                .otherwise(x.getField("tokens"))
              struct(seq2.as("seq"), fill2.as("fill"),
                concat(acc.getField("out"), array(struct(
                  x.getField("doc_id").as("doc_id"),
                  x.getField("tokens").as("tokens"),
                  seq2.as("seq"), off2.as("off")))).as("out"))
            },
            acc => acc.getField("out"))))
        .select(col("block"), col("p.doc_id").as("doc_id"),
          col("p.tokens").as("tokens"), col("p.seq").as("seq"),
          col("p.off").as("off_tok"))
        .orderBy("doc_id")
    }),

    // Z-order (Morton) clustering key — the Delta/Iceberg-style layout
    // key for two-dimensional pruning, as a pure bitwise column
    // expression ([[Layout.zValue]]; writeZOrdered sorts by it so each
    // output file covers a small (x, y) tile — LayoutSpec proves the
    // fewer-files-touched property). Graded here as the key computation
    // itself: the oracle re-derives the interleave with DuckDB's bit
    // operators, so the hash compare verifies bit-exactness
    "curate_zorder" -> ((s, dir) => {
      Tables.scan(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          dayofyear(col("o_orderdate")).as("doy"))
        .withColumn("zval",
          Layout.zValue(col("o_custkey"), col("doy"), 16))
        .orderBy("zval", "o_orderkey")
    }))

  val oracles: Map[String, String] = Map(
    // same integer gate predicates, source rollup, ppm/permille divs
    "curate_anneal_mix" ->
      s"""WITH d AS (SELECT source,
         |    CAST(length(text) AS BIGINT) AS nc,
         |    CAST(len(${words()})
         |      AS BIGINT) AS nt,
         |    CAST($punctCount
         |      AS BIGINT) AS np,
         |    CAST($stopCount AS BIGINT) AS ns
         |  FROM documents),
         |g AS (SELECT source, nc,
         |    (nt >= 20 AND np * 10 < nc AND ns * 2 < nt) AS good
         |  FROM d),
         |p AS (SELECT source, COUNT(*) AS n_docs,
         |    CAST(SUM(CASE WHEN good THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_good,
         |    CAST(SUM(nc) AS BIGINT) AS tokens,
         |    CAST(SUM(CASE WHEN good THEN nc ELSE 0 END) AS BIGINT)
         |      AS good_tokens
         |  FROM g GROUP BY 1),
         |t AS (SELECT CAST(SUM(tokens) AS BIGINT) AS total,
         |    CAST(SUM(good_tokens) AS BIGINT) AS good_total FROM p)
         |SELECT source, n_docs, n_good, tokens, good_tokens,
         |  (tokens * 1000000) // total AS w1_ppm,
         |  (good_tokens * 1000000) // good_total AS w2_ppm,
         |  (((good_tokens * 1000000) // good_total) * 1000)
         |    // ((tokens * 1000000) // total) AS boost_x1000
         |FROM p CROSS JOIN t ORDER BY source""".stripMargin,

    // same lower(trim(text)) grouping key as the dedup family's
    // textGroups, 1/k weights as truncating integer division
    "curate_dup_weights" ->
      """WITH g AS (SELECT lower(trim(text)) AS t, COUNT(*) AS sz
        |  FROM documents GROUP BY 1)
        |SELECT d.doc_id, CAST(g.sz AS BIGINT) AS n_copies,
        |  CAST(1000000 // g.sz AS BIGINT) AS weight_ppm
        |FROM documents d JOIN g ON lower(trim(d.text)) = g.t
        |ORDER BY d.doc_id""".stripMargin,

    // sqrt is correctly-rounded IEEE, quantized once to fixed point so
    // the normalizing sum is exact BIGINT in both engines
    "curate_temperature" ->
      s"""WITH t AS (SELECT lang,
         |    CAST(SUM(len(${words()}))
         |      AS BIGINT) AS tokens
         |  FROM documents GROUP BY lang),
         |f AS (SELECT lang, tokens,
         |    CAST(floor(sqrt(CAST(tokens AS DOUBLE)) * 1048576.0) AS BIGINT)
         |      AS sw_fix
         |  FROM t),
         |g AS (SELECT CAST(SUM(tokens) AS BIGINT) AS total,
         |    CAST(SUM(sw_fix) AS BIGINT) AS sw_total FROM f)
         |SELECT lang, tokens,
         |  CAST(tokens AS DOUBLE) / CAST(total AS DOUBLE) AS share,
         |  CAST(sw_fix AS DOUBLE) / CAST(sw_total AS DOUBLE) AS weight,
         |  CAST(sw_fix * total AS DOUBLE)
         |    / CAST(sw_total * tokens AS DOUBLE) AS multiplier
         |FROM f CROSS JOIN g ORDER BY lang""".stripMargin,

    // the same fixed-point scorer as pipeline_source_filter's oracle,
    // ranked by the integer-divided mean, exploded to epoch copies
    "curate_epochs" ->
      s"""WITH m AS (SELECT source,
         |    $qualityCols
         |  FROM documents),
         |sc AS (SELECT source,
         |    CAST(floor(($qualityScore) * 1048576.0) AS BIGINT)
         |      AS q_fix
         |  FROM m),
         |q AS (SELECT source, COUNT(*) AS n_docs,
         |    CAST(SUM(q_fix) AS BIGINT) AS q_sum_fix
         |  FROM sc GROUP BY source),
         |f AS (SELECT source,
         |    CAST(ntile(4) OVER (ORDER BY (q_sum_fix * 1048576) // n_docs,
         |      source) AS BIGINT) AS epochs
         |  FROM q)
         |SELECT d.doc_id, d.source, f.epochs,
         |  CAST(unnest(range(1, f.epochs + 1)) AS BIGINT) AS copy
         |FROM documents d JOIN f ON f.source = d.source
         |ORDER BY d.doc_id, copy""".stripMargin,

    // the naive single-window statement of the two-phase selection
    "curate_select_budget" ->
      s"""WITH m AS (SELECT doc_id,
         |    CAST(len(${words()})
         |      AS BIGINT) AS tokens,
         |    $qualityCols
         |  FROM documents),
         |s AS (SELECT doc_id, tokens,
         |    $qualityScore AS q
         |  FROM m),
         |c AS (SELECT doc_id, tokens, q,
         |    SUM(tokens) OVER (ORDER BY q DESC, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS cum_tokens,
         |    SUM(tokens) OVER () AS total
         |  FROM s)
         |SELECT doc_id, tokens, q,
         |  CAST(cum_tokens AS BIGINT) AS cum_tokens,
         |  CAST(total AS BIGINT) AS total,
         |  (cum_tokens * 10 <= total * 3) AS kept
         |FROM c ORDER BY doc_id""".stripMargin,

    // the oracle is deliberately the NAIVE single-window global prefix
    // sum — same math, which is the whole point of the two-phase plan
    "curate_pack_shards" ->
      s"""WITH t AS (SELECT doc_id,
         |    CAST(len(${words()})
         |      AS BIGINT) AS tokens
         |  FROM documents),
         |c AS (SELECT doc_id, tokens,
         |    COALESCE(SUM(tokens) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS cum_before
         |  FROM t)
         |SELECT CAST(floor(CAST(cum_before AS DOUBLE) / 2000.0) AS BIGINT)
         |    AS shard,
         |  COUNT(*) AS n_docs,
         |  CAST(SUM(tokens) AS BIGINT) AS shard_tokens,
         |  MIN(doc_id) AS first_doc,
         |  MAX(doc_id) AS last_doc
         |FROM c GROUP BY 1 ORDER BY shard""".stripMargin,

    "curate_mix_weights" ->
      s"""WITH t AS (SELECT lang,
         |    CAST(len(${words()})
         |      AS BIGINT) AS tokens
         |  FROM documents),
         |per AS (SELECT lang, CAST(SUM(tokens) AS BIGINT) AS tokens
         |  FROM t GROUP BY lang),
         |tot AS (SELECT CAST(SUM(tokens) AS BIGINT) AS total,
         |    COUNT(*) AS n_langs
         |  FROM per)
         |SELECT lang, tokens,
         |  CAST(tokens AS DOUBLE) / CAST(total AS DOUBLE) AS share,
         |  CAST(total AS DOUBLE)
         |    / (CAST(n_langs AS DOUBLE) * CAST(tokens AS DOUBLE)) AS weight
         |FROM per CROSS JOIN tot ORDER BY lang""".stripMargin,

    // the naive single-window rank — same math the two-phase plan computes
    "curate_shuffle" ->
      """SELECT doc_id,
        |  CAST(ROW_NUMBER() OVER (
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1 AS BIGINT)
        |    AS pos
        |FROM documents ORDER BY pos""".stripMargin,

    "curate_chunk" ->
      s"""WITH toks AS (SELECT doc_id,
         |    ${words()} AS w
         |  FROM documents),
         |st AS (SELECT doc_id, w, CAST(len(w) AS BIGINT) AS n,
         |    unnest(generate_series(0,
         |      CAST(greatest(len(w) - 1, 0) AS BIGINT), 96)) AS start
         |  FROM toks)
         |SELECT doc_id,
         |  CAST(start // 96 AS BIGINT) AS chunk_id,
         |  CAST(start AS BIGINT) AS start_tok,
         |  CAST(least(128, n - start) AS BIGINT) AS n_tok,
         |  md5(array_to_string(
         |    w[CAST(start + 1 AS INT):CAST(start + 128 AS INT)], ' '))
         |    AS chunk_md5
         |FROM st ORDER BY doc_id, chunk_id""".stripMargin,

    // relational twin of the map-side HOF form: per-token rows, boundary
    // flag from the same rolling hash, chunk id = running count of
    // boundaries strictly before the token, group back to chunks
    "curate_chunk_cdc" ->
      s"""WITH toks AS (SELECT doc_id,
         |    ${words()} AS w
         |  FROM documents),
         |tok AS (SELECT doc_id, w,
         |    unnest(generate_series(CAST(1 AS BIGINT),
         |      CAST(len(w) AS BIGINT))) AS i
         |  FROM toks),
         |h AS (SELECT doc_id, i, w[CAST(i AS INT)] AS t,
         |    CAST(len(w) AS BIGINT) AS n,
         |    ${charFold("w[CAST(i AS INT)]")} AS hv
         |  FROM tok),
         |cid AS (SELECT doc_id, i, t,
         |    COALESCE(SUM(CASE WHEN i < n AND hv % 32 = 0 THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY doc_id ORDER BY i
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS chunk_id
         |  FROM h)
         |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
         |  CAST(MIN(i) - 1 AS BIGINT) AS start_tok,
         |  CAST(COUNT(*) AS BIGINT) AS n_tok,
         |  md5(string_agg(t, ' ' ORDER BY i)) AS chunk_md5
         |FROM cid GROUP BY doc_id, chunk_id
         |ORDER BY doc_id, chunk_id""".stripMargin,

    // the naive single-window rank over virtual time — same math the
    // two-phase bucketed plan computes
    "curate_interleave" ->
      """WITH r AS (SELECT doc_id, lang,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT)
        |      AS rk
        |  FROM documents),
        |v AS (SELECT doc_id, lang, rk,
        |    CAST(rk AS DOUBLE) / (CASE lang
        |      WHEN 'de' THEN CAST(0.2 AS DOUBLE)
        |      WHEN 'en' THEN CAST(0.4 AS DOUBLE)
        |      WHEN 'es' THEN CAST(0.2 AS DOUBLE)
        |      WHEN 'fr' THEN CAST(0.1 AS DOUBLE)
        |      WHEN 'zh' THEN CAST(0.1 AS DOUBLE)
        |      ELSE CAST(0.1 AS DOUBLE) END) AS vt
        |  FROM r)
        |SELECT doc_id, lang, rk, vt,
        |  CAST(ROW_NUMBER() OVER (ORDER BY vt, lang, rk) - 1 AS BIGINT)
        |    AS pos
        |FROM v ORDER BY pos""".stripMargin,

    // the identical next-fit fold as a recursive CTE: base case = each
    // block's first doc (seq 0, fill = its tokens), inductive step walks
    // rn+1 carrying (seq, fill) — depth ≤ blockSize, width = #blocks
    "curate_pack_sequences" ->
      s"""WITH RECURSIVE t AS (SELECT doc_id,
         |    CAST(len(${words()})
         |      AS BIGINT) AS tokens,
         |    CAST(doc_id // 64 AS BIGINT) AS block
         |  FROM documents),
         |r AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY block
         |    ORDER BY doc_id) AS BIGINT) AS rn FROM t),
         |step AS (
         |  SELECT block, rn, doc_id, tokens,
         |    CAST(0 AS BIGINT) AS seq, tokens AS fill,
         |    CAST(0 AS BIGINT) AS off
         |  FROM r WHERE rn = 1
         |  UNION ALL
         |  SELECT r.block, r.rn, r.doc_id, r.tokens,
         |    CASE WHEN s.fill + r.tokens <= 512 THEN s.seq
         |         ELSE s.seq + 1 END,
         |    CASE WHEN s.fill + r.tokens <= 512 THEN s.fill + r.tokens
         |         ELSE r.tokens END,
         |    CASE WHEN s.fill + r.tokens <= 512 THEN s.fill
         |         ELSE CAST(0 AS BIGINT) END
         |  FROM step s JOIN r ON r.block = s.block AND r.rn = s.rn + 1)
         |SELECT block, doc_id, tokens, seq, off AS off_tok
         |FROM step ORDER BY doc_id""".stripMargin,

    // same 16-bit interleave, unrolled with DuckDB's bit operators
    "curate_zorder" -> {
      val terms = (0 until 16).flatMap { i =>
        Seq(s"(((x >> $i) & 1) << ${2 * i})",
          s"(((y >> $i) & 1) << ${2 * i + 1})")
      }.mkString(" | ")
      s"""WITH t AS (SELECT o_orderkey,
         |    CAST(o_custkey AS BIGINT) AS x,
         |    CAST(date_part('doy', o_orderdate) AS BIGINT) AS y
         |  FROM orders)
         |SELECT o_orderkey, x AS o_custkey, CAST(y AS INT) AS doy,
         |  CAST($terms AS BIGINT) AS zval
         |FROM t ORDER BY zval, o_orderkey""".stripMargin
    })

  /** Warm-start targets (see [[graft.Prewarm]]). */
  override def prewarm: Seq[graft.Prewarm.Task] = Seq(
    graft.Prewarm.Task("curate:tokens", 0.2,
      (s, d) => { withTokens(s, d); () }))

}
