package graft.operators

import graft.QueryGroup
import graft.functions.VectorFunctions
import graft.sources.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Text-analysis operators over the `documents` table (SURVEY.md §2.C op 47
  * + the north-star text-analysis list: token counting, quality scoring,
  * language ID, document fingerprinting, term statistics).
  *
  * All operators are pure Catalyst column expressions — `split`,
  * `regexp_count`, higher-order `aggregate`/`transform` — no UDFs, so the
  * whole pipeline stays codegen-friendly and fully distributed: every
  * operator here is embarrassingly parallel per document except the final
  * term-stats aggregation (one hash shuffle on `term`).
  *
  * Determinism note: quality/langid scores use only +,-,*,/ and integer
  * counts (IEEE-exact, bit-identical across engines); no transcendental
  * functions (exp/ln/pow), whose last-ULP rounding differs between libm
  * implementations and would break the DuckDB hash-compare (measured:
  * 6/300k integer inputs differ in the last ulp, JVM vs DuckDB ln). The
  * one deliberate exception is `text_perplexity`, which QUANTIZES ln to
  * 2^-20 fixed point at the vocabulary seam — a quantization flip needs
  * the 1-ulp disagreement interval to straddle a 2^-20 grid line
  * (P ≈ 2^-29 per input) — and is exact BIGINT arithmetic downstream.
  */
object TextQueries extends QueryGroup {

  /** Whitespace tokens of lower-cased trimmed text — THE corpus
    * tokenizer; shared with [[CurationQueries]] so token counts can
    * never desynchronize between the text_* and curate_* families. */
  private[operators] def toks(c: Column): Column =
    split(lower(trim(c)), "\\s+")

  /** BPE-ish word/number/punct splitter (the classic pre-tokenizer shape:
    * letter runs | digit runs | single non-alnum). */
  private val bpePat = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

  /** The fixed BM25 bag-of-words query (see `text_bm25`): one rare term
    * plus three common ones, in the FIXED order the per-doc score sums
    * them (the oracle adds in the same literal order). */
  private val bm25Terms = Seq("dup", "vector", "spark", "merge")

  /** Fixed-point DCG position weights for `text_retrieval_ndcg`:
    * w_r = round(1e6 / log2(r+1)). log2 is NOT correctly-rounded-
    * guaranteed across math libraries, so the weights are computed ONCE
    * here and inlined as integer literals into BOTH the Spark plan and
    * the generated oracle — one source of truth, no libm drift. */
  private[graft] val dcgW: IndexedSeq[Long] =
    (1 to 10).map(r => math.round(1e6 / (math.log(r + 1.0) / math.log(2.0))))

  /** Fixed-point reciprocal-rank weights (integer division — exact). */
  private[graft] val mrrW: IndexedSeq[Long] =
    (1 to 10).map(r => 1000000L / r)

  /** Stopword markers per language for n-gram/marker language ID. On real
    * multilingual corpora these separate languages sharply; the synthetic
    * testdata is English-vocabulary for every `lang`, so the *machinery*
    * (marker counting, argmax with deterministic tie-break) is what this
    * operator demonstrates and the oracle verifies. */
  private val langMarkers: Seq[(String, String)] = Seq(
    "en" -> "\\b(the|a|of|and|to|in|is|it)\\b",
    "de" -> "\\b(der|die|das|und|ist|nicht)\\b",
    "es" -> "\\b(el|la|los|de|que|es)\\b",
    "fr" -> "\\b(le|la|les|des|et|est)\\b",
    "zh" -> "[\\x{4e00}-\\x{9fff}]") // same \x{…} escape parses in RE2 too

  /** Polynomial rolling hash of a string, char by char:
    * h = (h * 1000003 + code(c)) mod 1000000007. Stays within Long
    * (max ~1e9*1e6+1114111 < 2^63) so both engines compute it exactly.
    * Evaluated by the codegen'd kernel ([[VectorFunctions.charFold]]) —
    * the HOF form below paid an interpreted lambda per CHARACTER on the
    * shingle/term/chunk hot paths; CharFoldSpec pins the two identical. */
  private[operators] def charFold(c: Column): Column =
    VectorFunctions.charFold(c)

  /** The portable HOF statement of [[charFold]] — the parity reference
    * the kernel is spec-pinned against, and the form the DuckDB oracles
    * restate (`string_split`/`ord` fold). */
  private[graft] def charFoldHof(c: Column): Column =
    aggregate(split(c, ""), lit(0L),
      (acc, ch) => (acc * 1000003L + ascii(ch)) % 1000000007L)

  /** Per-(doc, term) frequency table — materialized once per (session,
    * corpus) and shared by every consumer (`text_tfidf` reads it twice:
    * the tf side and the df side of the join; `text_repetition` derives
    * its word totals from it). Without the materialization each consumer
    * branch re-runs the tokenize + (doc, term) shuffle — the heaviest
    * stage — once PER BRANCH: Catalyst has no cross-branch common-subplan
    * reuse for aggregates. At warehouse scale this is the document-term
    * table a corpus pipeline writes once as a real artifact. */
  /** Stopword list shared by the calibration gold label (both engines
    * inline the same terms). */
  private val clfStopTerms =
    Seq("the", "a", "of", "and", "to", "in", "is", "it")

  /** Per-doc classifier aggregate shared by `text_linear_classifier` and
    * `text_classifier_calibration`: hashed-bucket fixed-point score,
    * token count, and stopword mass — one pass over the shared tf table,
    * cached per (session, corpus). */
  private def classifierScores(s: SparkSession, dir: String): DataFrame =
    graft.BoundedDfCache.getOrPersist(s, s"text:clf:$dir") {
      val wFix: Column => Column =
        b => (b * 2654435761L) % 2048L * 1000L - 1023500L
      tfTable(s, dir)
        .select(col("doc_id"), col("tf"), col("term"),
          (charFold(col("term")) % 1024L).as("b"))
        .groupBy("doc_id")
        .agg(sum(col("tf")).as("n_tokens"),
          sum(col("tf") * wFix(col("b"))).as("score_fix"),
          sum(when(col("term").isin(clfStopTerms: _*), col("tf"))
            .otherwise(0L)).as("n_stop"))
    }

  private def tfTable(s: SparkSession, dir: String): DataFrame =
    graft.BoundedDfCache.getOrPersist(s, s"text:tf:$dir") {
      // scanPar: tokenize+explode is the heavy stage — parallelize it
      // instead of running one task over the single-split test parquet
      Tables.scanPar(s, dir, "documents")
        .select(col("doc_id"), explode(toks(col("text"))).as("term"))
        .groupBy("doc_id", "term")
        .agg(count(lit(1)).as("tf"))
    }

  /** Per-doc BM25 score over the fixed query, pre-top-k — shared by the
    * ranking query (`text_bm25`) and the retrieval-quality report
    * (`text_retrieval_ndcg`). Design per the `text_bm25` entry: inverted-
    * index probe off the shared tf table, broadcast df, score norm
    * multiplied through by the exact-int tot_tok so the whole score is
    * one fixed-shape double tree; the per-doc sum adds the ≤4 term
    * scores in FIXED literal order via a pivot. */
  private def bm25PerDoc(s: SparkSession, dir: String): DataFrame =
    graft.BoundedDfCache.getOrPersist(s, s"text:bm25doc:$dir") {
      bm25PerDocBuild(s, dir)
    }

  /** The uncached [[bm25PerDoc]] build (plan-assertion seam). */
  private def bm25PerDocBuild(s: SparkSession, dir: String): DataFrame = {
    val tf = tfTable(s, dir)
    val post = tf.filter(col("term").isin(bm25Terms: _*))
    val dl = tf.groupBy("doc_id").agg(sum("tf").as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum("dl").as("tot_tok"))
    val dfreq = post.groupBy("term").agg(count(lit(1)).as("df"))
    val idf = (col("n_docs") - col("df") + lit(0.5)) /
      (col("df") + lit(0.5))
    val num = col("tf").cast("double") * lit(2.2) *
      col("tot_tok").cast("double")
    val den = col("tf").cast("double") * col("tot_tok").cast("double") +
      lit(1.2) * (lit(0.25) * col("tot_tok").cast("double") +
        lit(0.75) * (col("dl").cast("double") *
          col("n_docs").cast("double")))
    val scored = post.join(broadcast(dfreq), "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), col("term"), (idf * (num / den)).as("s"))
    val termScore = bm25Terms.map(t =>
      coalesce(max(when(col("term") === t, col("s"))), lit(0.0)))
    scored.groupBy("doc_id")
      .agg(count(lit(1)).cast("int").as("n_hit"),
        termScore.reduce(_ + _).as("score"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // COLLOCATION extraction — the phrase-mining pass behind tokenizer
    // phrase vocabularies and "New York"-style multi-word units: the
    // top-100 bigrams by association lift (= c12·N/(c1·c2)) at support
    // c12 ≥ 5. PMI's log never gets computed — the ranking key is the
    // EXACT integer permille lift (c12·N·1000) div (c1·c2) (every
    // operand bounded by corpus token count, products ≤ ~10¹⁷ at sf1),
    // with (w1, w2) as the total-order tiebreak, so the top-k is
    // deterministic cross-engine with no float anywhere. Shapes:
    // bigrams are built MAP-SIDE (zip_with over the token array — the
    // explode multiplies rows, not work, and no per-doc window shuffle
    // exists); the two unigram joins key on the vocabulary, which is
    // sublinear in the corpus, so at 100 TB AQE broadcasts them and
    // the only data-sized exchange is the bigram groupBy; the final
    // rank is a top-k over support-filtered candidates (sublinear),
    // not the corpus.
    "text_collocations" -> ((s, dir) => {
      val sc = Tables.scanPar(s, dir, "documents")
      // three subtrees read the token arrays (bigram counts, unigram
      // counts, token total) and Catalyst has no common-subplan reuse,
      // so the corpus regex split — measured as THE cost of this query
      // (see the unigram A/B note below) — would run three times; the
      // eager localCheckpoint materializes the split once (guide §1.2:
      // don't compute things twice before tuning what you compute)
      val d = sc.select(toks(col("text")).as("w")).localCheckpoint()
      val bgc = d.filter(size(col("w")) >= 2)
        .select(explode(expr("zip_with(slice(w, 1, size(w) - 1), " +
          "slice(w, 2, size(w) - 1), (x, y) -> concat(x, ' ', y))"))
          .as("bg"))
        .groupBy("bg").agg(count(lit(1)).as("c12"))
        .withColumn("w1", expr("split_part(bg, ' ', 1)"))
        .withColumn("w2", expr("split_part(bg, ' ', 2)"))
      // unigram counts by the direct explode: A/B-measured (5-rep
      // subset bench, quiet host) against two "clever" variants —
      // deriving c(w) from bigram-w1 sums + the doc's last token via
      // an anchored (\S+)$ regex (1.49 s: left-to-right backtracking
      // scans each doc) or via element_at(split, -1) (1.28 s: the
      // corpus re-split dominates) — the plain explode + map-side-
      // combined hash aggregate is fastest at 1.08 s: token explosion
      // is cheap, the regex split is the real cost, and both variants
      // still pay it
      val uni = d.select(explode(col("w")).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("c"))
      val n = uni.agg(sum(col("c")).cast("long").as("n_tokens"))
      val scored = bgc
        .join(uni.select(col("tok").as("w1"), col("c").as("c1")), "w1")
        .join(uni.select(col("tok").as("w2"), col("c").as("c2")), "w2")
        .crossJoin(broadcast(n))
        .filter(col("c12") >= 5)
        .select(col("w1"), col("w2"), col("c12"), col("c1"), col("c2"),
          expr("(c12 * n_tokens * 1000) div (c1 * c2)").as("lift_x1000"))
      scored
        .withColumn("rk", row_number().over(org.apache.spark.sql
          .expressions.Window.orderBy(col("lift_x1000").desc,
            col("w1"), col("w2"))))
        .filter(col("rk") <= 100)
        .orderBy("rk")
    }),

    // CORPUS NOVELTY by source — the curation signal behind "is this
    // source adding new content or re-serving what we already have":
    // a doc's shingle is NOVEL iff the doc is the corpus-wide FIRST
    // (min doc_id) to contain it, and a source's novelty is the exact
    // ppm of novel shingles it contributes. Rides the session-shared
    // distinct shingle table ([[DedupQueries.shingles]] — the same
    // feature table every dedup policy reads); first-occurrence is one
    // shingle-keyed groupBy and the credit join reuses that
    // partitioning, so the corpus-sized work is the two exchanges the
    // dedup family already pays, then everything is doc- and
    // source-grain. Docs under 4 tokens have no shingles and are out
    // of scope on both sides (inner joins).
    "text_novelty" -> ((s, dir) => {
      val sh = DedupQueries.shingles(s, dir)
      val firsts = sh.groupBy("s").agg(min(col("doc_id")).as("first_doc"))
      val perDoc = sh.join(firsts, "s")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_sh"),
          sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
            .as("n_novel"))
      Tables.scan(s, dir, "documents")
        .select(col("doc_id"), col("source"))
        .join(perDoc, "doc_id")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_sh")).as("n_shingles"),
          sum(col("n_novel")).as("n_novel"))
        .withColumn("novelty_ppm",
          expr("(n_novel * 1000000) div n_shingles"))
        .orderBy("source")
    }),

    // TOKENIZER FERTILITY by language — the multilingual-data-budget
    // number (how many subword tokens a language pays per word decides
    // its real share of a token-capped training mix; high-fertility
    // languages are systematically under-served by a token budget).
    // Fertility = BPE-ish pre-tokenizer count / whitespace word count,
    // reported as the exact integer permille ratio of corpus-level
    // sums — both counts are the same map-side expressions text_tokens
    // grades per-doc, so the only exchange carries one partial
    // aggregate row per language.
    "text_fertility" -> ((s, dir) => {
      Tables.scan(s, dir, "documents")
        .select(col("lang"),
          size(toks(col("text"))).cast("long").as("ws"),
          regexp_count(col("text"), lit(bpePat)).cast("long").as("bpe"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("ws")).as("ws_tokens"),
          sum(col("bpe")).as("bpe_tokens"))
        .withColumn("fertility_x1000",
          expr("(bpe_tokens * 1000) div ws_tokens"))
        .orderBy("lang")
    }),

    // token counting: whitespace tokens + BPE-ish pre-tokenizer count
    "text_tokens" -> ((s, dir) => {
      Tables.scan(s, dir, "documents")
        .select(
          col("doc_id"),
          size(toks(col("text"))).as("n_ws_tokens"),
          regexp_count(col("text"), lit(bpePat)).as("n_bpe_tokens"),
          length(col("text")).as("n_chars_meas"))
        .orderBy("doc_id")
    }),

    // quality scoring: length/punct/stopword ratios → composite score
    "text_quality" -> ((s, dir) => {
      // the metric tuple comes off the shared corpus pass
      // ([[PipelineQueries.docQualityMetrics]] — the identical expression
      // trees, so every ratio below is bit-identical); was a private
      // corpus scan + 2 regex passes per invocation
      PipelineQueries.docQualityMetrics(s, dir)
        .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
          (col("n_punct") / col("n_chars")).as("punct_ratio"),
          (col("n_stop") / col("n_tokens")).as("stop_ratio"),
          (least(lit(1.0), col("n_tokens") / lit(50.0))
            * (lit(1.0) - col("n_punct") / col("n_chars"))
            * (lit(1.0) - lit(0.5) * col("n_stop") / col("n_tokens")))
            .as("quality_score"))
        .orderBy("doc_id")
    }),

    // language ID: per-language marker counts, argmax with fixed tie-break
    // order (first in langMarkers wins ties)
    "text_langid" -> ((s, dir) => {
      val scored = langMarkers.foldLeft(Tables.scan(s, dir, "documents")) {
        case (df, (l, pat)) =>
          df.withColumn(s"s_$l", regexp_count(lower(col("text")), lit(pat)))
      }
      val best = langMarkers.map { case (l, _) => col(s"s_$l") }
        .reduce((a, b) => greatest(a, b))
      val pred = langMarkers.reverse.foldLeft(lit("und")) {
        case (acc, (l, _)) => when(col(s"s_$l") === best, lit(l)).otherwise(acc)
      }
      scored
        .select(col("doc_id"), col("lang"),
          pred.as("pred_lang"), best.cast("long").as("best_score"),
          (pred === col("lang")).as("is_match"))
        .orderBy("doc_id")
    }),

    // document fingerprinting: rolling hash of whitespace-normalized text;
    // fp collisions = exact-duplicate candidates
    "text_fingerprint" -> ((s, dir) => {
      Tables.scan(s, dir, "documents")
        .select(col("doc_id"),
          charFold(regexp_replace(lower(trim(col("text"))), "\\s+", " "))
            .as("fp"),
          charFold(substring(regexp_replace(lower(trim(col("text"))),
            "\\s+", " "), 1, 64)).as("fp_prefix64"))
        .orderBy("doc_id")
    }),

    // edit distance — exact Levenshtein between document prefixes for a
    // bounded id range (the verify step of fuzzy-matching pipelines; both
    // engines implement the same DP definition, so values match exactly)
    "text_editdist" -> ((s, dir) => {
      val d = Tables.scan(s, dir, "documents")
        .filter(col("doc_id") < 30)
        .select(col("doc_id"), substring(col("text"), 1, 40).as("p"))
      val a = d.toDF("da", "pa")
      val b = d.toDF("db", "pb")
      a.crossJoin(b).filter(col("da") < col("db"))
        .select(col("da"), col("db"),
          levenshtein(col("pa"), col("pb")).as("dist"))
        .filter(col("dist") <= 25)
        .orderBy("da", "db")
    }),

    // term statistics: tf + document frequency, top 100 terms — derived
    // from the shared [[tfTable]]: corpus tf = sum of per-doc tf, and df =
    // plain row count per term since (doc, term) is unique there
    "text_termstats" -> ((s, dir) => {
      tfTable(s, dir)
        .groupBy("term")
        .agg(sum("tf").as("tf"), count(lit(1)).as("df"))
        .orderBy(col("tf").desc, col("term"))
        .limit(100)
    }),

    // tf-idf term weighting: top-5 terms per document by
    // tf × (N − df + 0.5)/(df + 0.5) — the BM25 idf core, kept RATIONAL
    // (no ln) so both engines compute bit-identical doubles: tf, N, df
    // are exact integers, the +0.5 operands are exactly representable,
    // and the single multiply + single divide are correctly-rounded IEEE
    // ops. Distributed shape: one shuffle for per-(doc, term) tf, one for
    // per-term df, a term-keyed join (df is vocabulary-sized — too big to
    // broadcast at corpus scale), and a per-doc window for the top-k.
    "text_tfidf" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val tf = tfTable(s, dir)
      // tf is already one row per (doc, term), so df = plain count
      val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val nDocs = Tables.scan(s, dir, "documents")
        .agg(count(lit(1)).as("n_docs"))
      val w = Window.partitionBy("doc_id")
        .orderBy(col("score").desc, col("term"))
      tf.join(dfreq, "term")
        .crossJoin(broadcast(nDocs))
        .select(col("doc_id"), col("term"), col("tf"), col("df"),
          (col("tf").cast("double")
            * (col("n_docs") - col("df") + lit(0.5))
            / (col("df") + lit(0.5))).as("score"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .orderBy("doc_id", "rank")
    }),

    // repetition signals (the Gopher/C4-style quality gates for generated
    // or boilerplate text): top-2-gram fraction — share of the document's
    // word bigrams taken by its single most frequent bigram — and
    // duplicate-word fraction. Both are per-document partial aggregates
    // (two narrow shuffles keyed by doc, combine map-side); docs under two
    // tokens have no bigrams and drop out in both engines alike. Fractions
    // are one exact-int division each — bit-identical cross-engine.
    "text_repetition" -> ((s, dir) => {
      val grams = Tables.scan(s, dir, "documents")
        .select(col("doc_id"),
          explode(VectorFunctions.wordShingles(lower(trim(col("text"))), 2))
            .as("g"))
      val gs = grams.groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(sum("c").as("n_grams"), max("c").as("top_c"))
      val ws = tfTable(s, dir)
        .groupBy("doc_id")
        .agg(sum("tf").as("n_words"), count(lit(1)).as("n_distinct"))
      gs.join(ws, "doc_id")
        .select(col("doc_id"), col("n_grams"),
          (col("top_c").cast("double") / col("n_grams"))
            .as("top_gram_frac"),
          ((col("n_words") - col("n_distinct")).cast("double")
            / col("n_words")).as("dup_word_frac"))
        .orderBy("doc_id")
    }),

    // PII redaction — the mandatory scrub pass of any corpus pipeline.
    // Pure map-side (zero shuffles: detect + replace are per-row regex
    // ops), which is exactly the 100 TB shape — a scrub that shuffled
    // would be unusable. The synthetic corpus carries no organic PII, so
    // the operator derives a contact string from the events row
    // DETERMINISTICALLY (same construction in the oracle) and then
    // redacts it; the graded work is the regex detect/replace machinery.
    // Patterns stay in the RE2-compatible subset (char classes + bounded
    // repetition, no backrefs/lookahead) so Java regex and DuckDB RE2
    // match identically.
    "text_pii" -> ((s, dir) => {
      val email = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
      val phone = "\\+1-555-[0-9]{4}"
      Tables.scan(s, dir, "events")
        .select(col("event_id"),
          concat(lit("contact user"), col("user_id").cast("string"),
            lit(" at user"), col("user_id").cast("string"),
            lit("@example.com or +1-555-"),
            lpad((col("event_id") % 10000).cast("string"), 4, "0"),
            lit(" ref "), col("props")).as("msg"))
        .select(col("event_id"),
          regexp_count(col("msg"), lit(email)).cast("int").as("n_emails"),
          regexp_count(col("msg"), lit(phone)).cast("int").as("n_phones"),
          regexp_replace(regexp_replace(col("msg"), email, "<EMAIL>"),
            phone, "<PHONE>").as("redacted"))
        .orderBy("event_id")
    }),

    // compression-ratio quality signal (the Gopher gate the repetition
    // fractions approximate lexically): deflate_len/n_chars via the
    // codegen'd [[VectorFunctions.deflateLen]] kernel — templated text
    // compresses far below prose, noise barely compresses. Map-side,
    // single codegen span. ROWS-ONLY: zlib output is JDK-deterministic
    // but not reproducible in DuckDB; the contract spec pins the ratio
    // range and the repetitive≪prose≪noise ordering instead.
    // DuckDB has no DEFLATE, so the raw compressed sizes can't be
    // hash-checked cross-engine — instead the graded surface is the
    // kernel's INVARIANTS, each emitted as a boolean the oracle pins to
    // literal true (a kernel bug flips a bit → hash-red):
    //  - bounds_ok: raw-deflate output within [2, n + 5·⌈n/16383⌉ + 16]
    //    (zlib never does worse than stored blocks + small framing);
    //  - self_concat_ok: doubling the text costs at most one extra
    //    back-reference's framing, never 2× (the second copy is in the
    //    32 KiB window; vacuously true for texts too big for the window).
    // The exact raw sizes stay covered by AggContractsSpec's probes
    // (repetitive crushes, noise resists, corpus mean in between).
    "text_compress" -> ((s, dir) => {
      val dl = VectorFunctions.deflateLen(col("text"))
      val nBytes = octet_length(col("text"))
      Tables.scan(s, dir, "documents")
        .select(col("doc_id"), length(col("text")).as("n_chars"),
          (dl >= 2 && dl <= nBytes + lit(5) * ceil(nBytes / lit(16383.0))
            .cast("int") + lit(16)).as("bounds_ok"),
          (octet_length(col("text")) > 30000 ||
            VectorFunctions.deflateLen(concat(col("text"), col("text")))
              <= dl * 2 + lit(16)).as("self_concat_ok"))
        .orderBy("doc_id")
    }),

    // BM25 retrieval — the search side of a corpus pipeline (quality-
    // targeted retrieval, decontamination lookups, eval-set mining).
    // Okapi BM25 (k1=1.2, b=0.75) over a fixed 4-term bag-of-words query
    // ("dup" is the corpus's one rare term, df≈5% — the discriminative
    // case; the rest are common, so the score mixes a rare-term spike
    // with tf/length normalization), top-10 documents. Distributed shape
    // = an inverted-index probe: the postings list is the shared
    // [[tfTable]] FILTERED to the query terms — candidate docs, not the
    // corpus, flow onward — df is a 4-row broadcast, per-doc length joins
    // doc-keyed, corpus stats (n_docs, tot_tok) are a broadcast scalar,
    // and the top-10 is a TakeOrdered, never a global sort. DETERMINISM
    // (the §7.4.3 discipline): log-free Robertson idf, and the length
    // norm is multiplied through by tot_tok = avgdl·n_docs (an exact
    // long) so the whole score is one fixed-shape double tree over
    // exact-int inputs — both engines produce bit-identical doubles; the
    // per-doc sum adds the ≤4 term scores in FIXED literal order via a
    // pivot, never a nondeterministic double SUM.
    // fastText-style hashed LINEAR quality classifier — the model shape
    // behind DCLM/RefinedWeb-class corpus filtering: a document scores as
    // the token-frequency-weighted sum of per-bucket weights, where a
    // token's bucket is a hash of its surface form (the "hashing trick" —
    // no vocabulary table to ship, weights are an array indexed by
    // hash % B). The WEIGHTS here are a deterministic arithmetic stub
    // (this container trains nothing); the graded machinery — token
    // hashing, bucket lookup, tf-weighted accumulation, threshold gate —
    // is the real production pipeline, and swapping the stub for learned
    // weights changes one expression. Exactness: bucket = charFold % B
    // (cross-engine-proven polynomial hash), weight = integer-affine in
    // the bucket id (micros fixed point: *, %, - only — Spark's `/` on
    // longs returns DOUBLE, so no division anywhere in the fixed-point
    // path), score_fix = BIGINT sum (order-independent, partial-agg
    // friendly), one double division at the end. Scale shape: one
    // (doc)-keyed exchange of (long, long) partials off the shared tf
    // table; weights never materialize as data at all.
    "text_linear_classifier" -> ((s, dir) => {
      classifierScores(s, dir)
        .select(col("doc_id"), col("n_tokens"), col("score_fix"),
          (col("score_fix").cast("double")
            / (col("n_tokens").cast("double") * 1e6)).as("score"),
          (col("score_fix") > 0L).as("keep"))
        .orderBy("doc_id")
    }),

    // CALIBRATION of the quality classifier — choosing the operating
    // point is the step a deployment actually runs after training a
    // gate ("what threshold keeps 80% of good docs?"): sweep eleven
    // thresholds t = k/10, k ∈ −5..5, and report the confusion counts
    // against a deterministic gold label (stopword mass ≥ 10% of
    // tokens — the English-prose proxy, exact integers from the SAME
    // shared tf table). The threshold predicate is evaluated in exact
    // ints (10·score_fix ≥ k·n_tokens·10^6 ⇔ score ≥ k/10), so no
    // double comparison can wobble cross-engine; precision/recall are
    // one IEEE divide of exact counts each, with the zero-denominator
    // → 1.0 convention of the other quality reports. Work: the shared
    // classifier aggregate once, then an 11× explode of the per-doc
    // frame and one k-keyed aggregate — |docs|·11 rows, map-side
    // partials, corpus-scale safe.
    "text_classifier_calibration" -> ((s, dir) => {
      val withK = classifierScores(s, dir)
        .select(col("doc_id"), col("n_tokens"), col("score_fix"),
          col("n_stop"),
          explode(typedlit((-5L to 5L).toSeq)).as("k"))
        .withColumn("pred",
          col("score_fix") * 10L >= col("k") * col("n_tokens") * 1000000L)
        .withColumn("gold", col("n_stop") * 10L >= col("n_tokens"))
      withK.groupBy("k")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("pred"), 1L).otherwise(0L)).as("n_kept"),
          sum(when(col("pred") && col("gold"), 1L).otherwise(0L)).as("tp"),
          sum(when(col("pred") && !col("gold"), 1L).otherwise(0L)).as("fp"),
          sum(when(!col("pred") && col("gold"), 1L).otherwise(0L)).as("fn"))
        .select(col("k"), (col("k").cast("double") / 10.0).as("threshold"),
          col("n_docs"), col("n_kept"), col("tp"), col("fp"), col("fn"),
          when(col("n_kept") > 0,
            col("tp").cast("double") / col("n_kept").cast("double"))
            .otherwise(lit(1.0)).as("precision"),
          when(col("tp") + col("fn") > 0,
            col("tp").cast("double")
              / (col("tp") + col("fn")).cast("double"))
            .otherwise(lit(1.0)).as("recall"))
        .orderBy("k")
    }),

    // CORPUS N-GRAM COUNTS — the classic LM-counts artifact (the
    // Google-ngrams / KenLM input shape): corpus-wide bigram and trigram
    // frequencies with document frequency, top-20 each by (count desc,
    // gram) — fully deterministic tie-break, so the truncation is
    // hash-stable. Scale shape: gram expansion is the codegen'd
    // [[graft.functions.VectorFunctions.wordShingles]] kernel (map-side,
    // one native pass per doc); the (gram, doc) partial aggregate
    // combines map-side so the wide shuffle carries distinct grams per
    // doc, the second aggregate carries the vocab²-bounded distinct-gram
    // axis, and the top-k is TakeOrdered (never a global sort of the
    // gram table). At 100 TB this is THE canonical massive-aggregation
    // workload; nothing here is corpus-order-dependent.
    "text_ngram_counts" -> ((s, dir) => {
      // r16 optimization A/B: a one-pass rewrite (both gram sizes tagged
      // into one explode + one two-level aggregate + checkpointed gram
      // table) measured 1.25 s vs 1.19 s for this two-pass form on the
      // same quiet 5-rep subset — the per-row shingle kernel dominates
      // and is paid per gram size either way, so the extra scan is noise
      // and the rewrite only added a checkpoint. Kept as-is.
      def top(n: Int): DataFrame =
        Tables.scanPar(s, dir, "documents")
          .select(col("doc_id"),
            explode(graft.functions.VectorFunctions.wordShingles(
              lower(trim(col("text"))), n)).as("ngram"))
          .groupBy("ngram", "doc_id").agg(count(lit(1)).as("c"))
          .groupBy("ngram").agg(sum(col("c")).as("cnt"),
            count(lit(1)).as("df"))
          .orderBy(col("cnt").desc, col("ngram")).limit(20)
          .select(lit(n.toLong).as("n"), col("ngram"), col("cnt"),
            col("df"))
      top(2).unionByName(top(3)).orderBy("n", "ngram")
    }),

    "text_bm25" -> ((s, dir) =>
      bm25PerDoc(s, dir)
        .orderBy(col("score").desc, col("doc_id"))
        .limit(10)),

    // retrieval-quality EVAL over the BM25 ranking — the harness a
    // deployment tunes k1/b (and the index itself) by: NDCG@10 and MRR
    // of the ranked list against a deterministic graded-relevance proxy
    // (rel(doc) = distinct query terms present, 0..4 — exact integers
    // cross-engine). DCG/IDCG are BIGINT folds of gain·w_rank with the
    // position weights PRECOMPUTED in Scala ([[dcgW]]: round(1e6/log2(r+1)))
    // and inlined as literals into both engines — log2 is not
    // correctly-rounded-guaranteed across math libraries, so no log is
    // ever evaluated at query time; gain 2^rel−1 is a bit shift. The
    // ideal ranking is a TakeOrdered top-10 (distributed top-k), never a
    // corpus-wide window; the ranked list joins rel by doc_id (10 rows
    // broadcast). One summary row, all scalars.
    "text_retrieval_ndcg" -> ((s, dir) => {
      val rel = tfTable(s, dir)
        .filter(col("term").isin(bm25Terms: _*))
        .groupBy("doc_id").agg(countDistinct(col("term")).as("rel"))
      val dcgWLit = typedlit(dcgW)
      val mrrWLit = typedlit(mrrW)
      // gain 2^rel − 1 via an inlined lookup (rel is bounded by the 4
      // query terms) — shiftleft takes a literal bit count, not a column
      val gainLit = typedlit((0 to bm25Terms.length).map(r => (1L << r) - 1L))
      def gain(relC: Column): Column =
        element_at(gainLit, relC.cast("int") + 1)
      // the graded ranking: same per-doc scores as text_bm25, ranked by
      // (score desc, doc_id) — rank assigned on the 10-row top-k output,
      // so the only global window runs over ≤10 rows
      val top = bm25PerDoc(s, dir)
        .orderBy(col("score").desc, col("doc_id")).limit(10)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("score").desc, col("doc_id"))))
        .join(rel, Seq("doc_id"), "left")
        .withColumn("rel", coalesce(col("rel"), lit(0L)))
      val dcg = top.agg(sum(element_at(dcgWLit, col("rank"))
        * gain(col("rel"))).as("dcg_fix"))
      val ideal = rel
        .orderBy(col("rel").desc, col("doc_id")).limit(10)
        .withColumn("irank", row_number().over(
          Window.orderBy(col("rel").desc, col("doc_id"))))
        .agg(sum(element_at(dcgWLit, col("irank"))
          * gain(col("rel"))).as("idcg_fix"))
      val mrr = top.filter(col("rel") >= 2L)
        .agg(min(col("rank")).as("best_rank"))
      dcg.crossJoin(ideal).crossJoin(mrr)
        .select(col("dcg_fix"), col("idcg_fix"),
          (col("dcg_fix").cast("double") / col("idcg_fix").cast("double"))
            .as("ndcg"),
          coalesce(col("best_rank"), lit(0)).as("best_rank"),
          // the when() guards element_at's 1-based bound under ANSI:
          // CASE short-circuits, so a null best_rank never indexes
          coalesce(when(col("best_rank").isNotNull,
            element_at(mrrWLit, col("best_rank"))), lit(0L)).as("mrr_fix"))
    }),

    // boilerplate detection (CCNet-style, per-source): a term that appears
    // in ≥ half of a source's documents is that source's boilerplate
    // vocabulary (nav text, legal footers, templates); per document,
    // report how much of it is boilerplate. Distributed shape: reuses the
    // shared [[tfTable]] (its (doc, term) shuffle is already paid), one
    // shuffle keyed (source, term) for per-source df, and a (source,
    // term)-keyed join back — the per-source doc-count side is NOT
    // broadcast-hinted: sources are web domains at corpus scale (hundreds
    // of millions), so AQE may pick broadcast while it fits and must be
    // free to shuffle when it doesn't.
    "text_boilerplate" -> ((s, dir) => {
      val docs = Tables.scan(s, dir, "documents")
        .select(col("doc_id"), col("source"))
      val pres = tfTable(s, dir).join(docs, "doc_id")
      val nDocs = docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
      val boiler = pres.groupBy("source", "term")
        .agg(count(lit(1)).as("df"))
        .join(nDocs, "source")
        .filter(col("df") * 2 >= col("n_docs"))
        .select(col("source"), col("term"))
      val tot = pres.groupBy("doc_id")
        .agg(sum("tf").as("n_tokens"))
      val boilTok = pres.join(boiler, Seq("source", "term"))
        .groupBy("doc_id").agg(sum("tf").as("n_boiler"))
      tot.join(boilTok, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tokens"),
          coalesce(col("n_boiler"), lit(0L)).as("n_boiler"),
          (coalesce(col("n_boiler"), lit(0L)).cast("double")
            / col("n_tokens").cast("double")).as("boiler_frac"))
        .orderBy("doc_id")
    }),

    // BPE tokenizer training, step one: adjacent-symbol pair counts over
    // the word-frequency dictionary — the statistic every merge round of
    // byte-pair encoding (Sennrich et al. 2016) maximizes. The classic
    // scale trick IS the plan shape: pairs are counted over DISTINCT
    // words weighted by corpus frequency, never over corpus positions —
    // the pair-enumeration stage is O(|vocab| × word-length) regardless
    // of corpus size, and the corpus-sized work (word counting) is the
    // one shuffle the shared [[tfTable]] already paid. Map-side HOF pair
    // enumeration (no per-position explode of the corpus), one
    // vocabulary-sized shuffle on `pair`, TakeOrdered top-20. Counts are
    // exact integers; ties break lexicographically.
    "text_bpe_pairs" -> ((s, dir) => {
      val wf = tfTable(s, dir)
        .groupBy("term").agg(sum("tf").as("freq"))
      wf.filter(length(col("term")) >= 2)
        .select(col("freq"), explode(transform(
          sequence(lit(1), length(col("term")) - 1),
          i => col("term").substr(i, lit(2)))).as("pair"))
        .groupBy("pair")
        .agg(sum("freq").as("cnt"), count(lit(1)).as("n_types"))
        .orderBy(col("cnt").desc, col("pair"))
        .limit(20)
    }),

    // CCNet-style unigram language-model cross-entropy — the perplexity
    // quality filter (Wenzek et al. 2020): score each document by how
    // surprising its tokens are under the corpus's own unigram LM; high
    // cross-entropy = tail/noise, low = head/common text. Determinism is
    // the whole design: ln() is NOT cross-engine bit-stable (measured
    // here: 6/300k integer inputs differ in the last ulp between JVM
    // Math.log and DuckDB libm), so each term's log-probability is
    // QUANTIZED ONCE to 2^-20 fixed point — lnq(x) = floor(ln(x)·2^20)
    // on exact-integer inputs, where a quantization flip needs the 1-ulp
    // disagreement interval to straddle a 2^-20 grid line (P ≈ 2^-29 per
    // distinct input — ignorable) — and EVERYTHING downstream is exact
    // BIGINT arithmetic: per-token surprisal = lnqN − lnq(freq), per-doc
    // sum is an order-independent integer SUM (no sorted-fold needed, so
    // partial aggregation parallelizes freely), and the reported double
    // is one exact division at the end. Distributed shape: vocabulary-
    // sized freq aggregate off the shared [[tfTable]], term-keyed join
    // back (vocab too big to broadcast at corpus scale), one doc-keyed
    // sum; head/tail bucket thresholds are fixed literals on the
    // per-token integer score (integer compares, no percentile pass).
    "text_perplexity" -> ((s, dir) => {
      val tf = tfTable(s, dir)
      val lnq = (c: Column) =>
        floor(log(c.cast("double")) * lit(1048576.0)).cast("long")
      // quantize once per VOCABULARY term (not per (doc, term) row — the
      // joined frame is corpus-sized, the vocab is not)
      val freq = tf.groupBy("term").agg(sum("tf").as("freq"))
        .select(col("term"), col("freq"), lnq(col("freq")).as("lnq_f"))
      val stats = freq.agg(sum("freq").as("tot_tok"))
        .select(lnq(col("tot_tok")).as("lnq_n"))
      tf.join(freq, "term")
        .crossJoin(broadcast(stats))
        .groupBy("doc_id")
        .agg(sum("tf").as("n_tok"),
          sum(col("tf") * (col("lnq_n") - col("lnq_f"))).as("xent_fix"))
        .select(col("doc_id"), col("n_tok"), col("xent_fix"),
          (col("xent_fix").cast("double")
            / (col("n_tok").cast("double") * lit(1048576.0))).as("xent"),
          // fixed literal thresholds in 2^-20 nats/token (3.40 / 3.41 —
          // tuned to the synthetic corpus's spread the way a deployment
          // tunes them to a reference-corpus quantile pass; integer
          // compares, no global percentile stage)
          when(col("xent_fix") < col("n_tok") * lit(3565158L), "head")
            .when(col("xent_fix") < col("n_tok") * lit(3575644L), "middle")
            .otherwise("tail").as("bucket"))
        .orderBy("doc_id")
    }),

    // BPE tokenizer TRAINING — the iterated merge loop `text_bpe_pairs`
    // is one round of (Sennrich et al. 2016, learn_bpe). Five rounds:
    // each counts adjacent-symbol pairs over the DISTINCT-word frequency
    // dictionary (vocab-sized work, never corpus-sized — the BPE scale
    // property; the corpus-sized shuffle was paid once by the shared
    // [[tfTable]]), picks the max-count pair (ties lexicographic — a
    // total order, so the 1-row TakeOrdered is deterministic), and
    // applies the merge before recounting. The per-round merge decision
    // is a bounded 1-row collect (the same driver-loop shape as Lloyd
    // rounds in the IVF builder); the merge APPLICATION stays a
    // distributed column expression — literal `replace` on the
    // DOUBLE-space-delimited symbol string "  a  b  c  " with the
    // single-outer-space pattern " a  b " → " ab ". Each boundary owns
    // TWO spaces and a match consumes exactly one from each side, so
    // adjacent merge sites never fight over a shared delimiter and the
    // left-to-right replace scan IS leftmost non-overlapping BPE in both
    // engines ("  a  a  a  a  " → "  aa  aa  ", where the old
    // single-space encoding skipped the second site — ADVICE r12). The
    // corpus is ASCII (checked) so Java-regex vs RE2 per-char agree.
    "text_bpe_train" -> ((s, dir) => {
      bpeMerges(s, dir)
        .select(col("round"), col("a"), col("b"),
          concat(col("a"), col("b")).as("merged"), col("cnt"))
        .orderBy("round")
    }),

    // BPE tokenizer APPLICATION — encode the corpus with the learned
    // merge table. The apply-side twin of the training scale trick:
    // merges are applied to the VOCABULARY's symbol strings (vocab-sized
    // replace work), and per-document token counts come from joining the
    // per-word symbol count back to the shared (doc, term) tf table —
    // corpus positions are never materialized. Reports the compression
    // the tokenizer achieves (chars per BPE token), the statistic
    // tokenizer training monitors.
    "text_bpe_encode" -> ((s, dir) => {
      val vocab = bpeVocab(s, dir)
        .select(col("term"), size(symSplit(col("repr"))).as("n_syms"))
      tfTable(s, dir).join(vocab, "term")
        .groupBy("doc_id")
        .agg(sum("tf").as("n_words"),
          sum(col("tf") * length(col("term"))).as("n_chars_tok"),
          sum(col("tf") * col("n_syms")).as("n_bpe_tokens"))
        .select(col("doc_id"), col("n_words"), col("n_chars_tok"),
          col("n_bpe_tokens"),
          (col("n_chars_tok").cast("double")
            / col("n_bpe_tokens").cast("double")).as("compression"))
        .orderBy("doc_id")
    }))

  /** Learned merge table as a DataFrame, materialized once per (session,
    * corpus) — `text_bpe_train` (merges) and `text_bpe_encode` (vocab)
    * previously EACH ran the full 5-round collect loop per rep; one tag
    * build now runs it once and seeds the sibling vocab tag from the
    * same run (guide §1.2: don't compute it twice). Graded tags, so each
    * bench rep still re-pays the loop exactly once. */
  private def bpeMerges(s: SparkSession, dir: String): DataFrame =
    graft.BoundedDfCache.getOrPersist(s, s"text:bpemerges:$dir") {
      import s.implicits._
      val (m, vocab) = bpeLearn(s, dir)
      graft.BoundedDfCache.getOrPersist(s, s"text:bpevocab:$dir")(vocab)
      m.toDF("round", "a", "b", "cnt")
    }

  /** Post-merge vocabulary `(term, freq, repr)` — seeded by [[bpeMerges]];
    * the fallback build (evicted tag) re-runs the loop. */
  private def bpeVocab(s: SparkSession, dir: String): DataFrame = {
    bpeMerges(s, dir)
    graft.BoundedDfCache.getOrPersist(s, s"text:bpevocab:$dir") {
      bpeLearn(s, dir)._2
    }
  }

  /** Learn 5 BPE merges over the corpus vocabulary (the `text_bpe_train`
    * loop, shared with `text_bpe_encode`): each round counts adjacent
    * symbol pairs freq-weighted over DISTINCT words, collects the 1-row
    * best pair (bounded control-plane — the Lloyd-round driver-loop
    * shape), and applies it as a distributed leftmost-non-overlapping
    * `replace` on the spaced symbol strings. Returns (merge table,
    * post-merge vocabulary with term/freq/repr). */
  private def bpeLearn(s: SparkSession, dir: String)
      : (Seq[(Int, String, String, Long)], DataFrame) = {
    // the word-frequency dictionary is the loop's scan target (5 rounds ×
    // 2 consumers = 10 reads): materialize it once per (session, corpus)
    // — graded tag, so every bench rep still pays the build exactly once
    var cur = graft.BoundedDfCache.getOrPersist(s, s"text:bpewf:$dir") {
      tfTable(s, dir).groupBy("term").agg(sum("tf").as("freq"))
        .select(col("term"), col("freq"), symInit(col("term")).as("repr"))
    }
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    for (r <- 1 to 5) {
      val syms = symSplit(col("repr"))
      val best = cur
        .filter(size(syms) >= 2)
        .select(col("freq"),
          explode(zip_with(
            slice(syms, lit(1), size(syms) - 1),
            slice(syms, lit(2), size(syms) - 1),
            (a, b) => struct(a.as("a"), b.as("b")))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum("freq").as("cnt"))
        .orderBy(col("cnt").desc, col("a"), col("b"))
        .limit(1).collect()(0)
      val a = best.getString(0)
      val b = best.getString(1)
      merges += ((r, a, b, best.getLong(2)))
      cur = cur.select(col("term"), col("freq"),
        mergeRepr(col("repr"), a, b).as("repr"))
    }
    (merges.result(), cur)
  }

  /** Initial BPE symbol string for a term, DOUBLE-space-delimited:
    * "abc" → "  a  b  c  ". Two spaces per boundary (ends included) is
    * the invariant that makes a literal single-pass `replace` equal
    * leftmost non-overlapping BPE — see [[mergeRepr]]. */
  private[graft] def symInit(term: Column): Column =
    concat(lit("  "), regexp_replace(term, "(.)", "$1  "))

  /** Split a double-space repr back into its symbol array. */
  private[graft] def symSplit(repr: Column): Column =
    split(trim(repr), "  ")

  /** Apply one BPE merge (a,b)→ab as a distributed literal replace.
    * Pattern " a  b " (single OUTER spaces, double inner) consumes one
    * of the two spaces from each adjacent boundary; replacement " ab "
    * restores the single space each side, so boundaries stay double and
    * directly adjacent merge sites both match — the left-to-right
    * literal-replace scan is exactly leftmost non-overlapping BPE
    * ("  a  a  a  a  " → "  aa  aa  ") in Spark and DuckDB alike. */
  private[graft] def mergeRepr(repr: Column, a: String, b: String)
      : Column =
    replace(repr, lit(s" $a  $b "), lit(s" $a$b "))

  val oracles: Map[String, String] = Map(
    "text_compress" ->
      """SELECT doc_id, CAST(length(text) AS INT) AS n_chars,
        |  true AS bounds_ok, true AS self_concat_ok
        |FROM documents ORDER BY doc_id""".stripMargin,

    // same map-side bigram build (1-based list slices), same permille
    // integer lift and the (lift desc, w1, w2) total-order top-100
    "text_collocations" ->
      """WITH d AS (SELECT regexp_split_to_array(lower(trim(text)),
        |    '\s+') AS w FROM documents),
        |uc AS (SELECT tok, COUNT(*) AS c FROM
        |  (SELECT unnest(w) AS tok FROM d) GROUP BY 1),
        |n AS (SELECT CAST(SUM(c) AS BIGINT) AS n_tokens FROM uc),
        |bc AS (SELECT bg, COUNT(*) AS c12,
        |    split_part(bg, ' ', 1) AS w1, split_part(bg, ' ', 2) AS w2
        |  FROM (SELECT unnest(list_transform(range(1, len(w)),
        |      i -> w[i] || ' ' || w[i + 1])) AS bg
        |    FROM d WHERE len(w) >= 2)
        |  GROUP BY 1),
        |j AS (SELECT w1, w2, c12, u1.c AS c1, u2.c AS c2,
        |    (c12 * n_tokens * 1000) // (c1 * c2) AS lift_x1000
        |  FROM bc JOIN uc u1 ON bc.w1 = u1.tok
        |  JOIN uc u2 ON bc.w2 = u2.tok
        |  CROSS JOIN n
        |  WHERE c12 >= 5),
        |r AS (SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY lift_x1000
        |    DESC, w1, w2) AS INT) AS rk FROM j)
        |SELECT w1, w2, c12, c1, c2, lift_x1000, rk
        |FROM r WHERE rk <= 100 ORDER BY rk""".stripMargin,

    // the dedup family's shingle prefix, first-occurrence credit by
    // MIN(doc_id), source rollup with the exact ppm division
    "text_novelty" ->
      """WITH toks AS (SELECT doc_id,
        |    regexp_split_to_array(lower(trim(text)), '\s+') AS w
        |  FROM documents),
        |sh AS MATERIALIZED (SELECT DISTINCT doc_id,
        |    unnest(CASE WHEN len(w) >= 4 THEN
        |      list_transform(range(1, len(w) - 2),
        |        i -> array_to_string(w[i:i+3], ' '))
        |      ELSE [] END) AS s
        |  FROM toks),
        |f AS (SELECT s, MIN(doc_id) AS first_doc FROM sh GROUP BY 1),
        |pd AS (SELECT sh.doc_id, COUNT(*) AS n_sh,
        |    CAST(SUM(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0
        |      END) AS BIGINT) AS n_novel
        |  FROM sh JOIN f ON sh.s = f.s GROUP BY 1)
        |SELECT d.source, COUNT(*) AS n_docs,
        |  CAST(SUM(n_sh) AS BIGINT) AS n_shingles,
        |  CAST(SUM(n_novel) AS BIGINT) AS n_novel,
        |  (CAST(SUM(n_novel) AS BIGINT) * 1000000)
        |    // CAST(SUM(n_sh) AS BIGINT) AS novelty_ppm
        |FROM documents d JOIN pd ON d.doc_id = pd.doc_id
        |GROUP BY 1 ORDER BY source""".stripMargin,

    // same two counting expressions, language grain, integer permille
    "text_fertility" ->
      """SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(len(regexp_split_to_array(lower(trim(text)),
        |    '\s+'))) AS BIGINT) AS ws_tokens,
        |  CAST(SUM(len(regexp_extract_all(text,
        |    '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))) AS BIGINT)
        |    AS bpe_tokens,
        |  (CAST(SUM(len(regexp_extract_all(text,
        |    '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))) AS BIGINT) * 1000)
        |    // CAST(SUM(len(regexp_split_to_array(lower(trim(text)),
        |    '\s+'))) AS BIGINT) AS fertility_x1000
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "text_tokens" ->
      """SELECT doc_id,
        |  CAST(len(regexp_split_to_array(lower(trim(text)), '\s+')) AS INT)
        |    AS n_ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))
        |    AS INT) AS n_bpe_tokens,
        |  CAST(length(text) AS INT) AS n_chars_meas
        |FROM documents ORDER BY doc_id""".stripMargin,

    "text_quality" ->
      """WITH m AS (SELECT doc_id,
        |  CAST(len(regexp_split_to_array(lower(trim(text)), '\s+')) AS DOUBLE)
        |    AS n_tokens,
        |  CAST(length(text) AS DOUBLE) AS n_chars,
        |  CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS DOUBLE)
        |    AS n_punct,
        |  CAST(len(regexp_extract_all(lower(text),
        |    '\b(the|a|of|and|to|in|is|it)\b')) AS DOUBLE) AS n_stop
        |  FROM documents)
        |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  n_punct / n_chars AS punct_ratio,
        |  n_stop / n_tokens AS stop_ratio,
        |  least(1.0, n_tokens / 50.0) * (1.0 - n_punct / n_chars)
        |    * (1.0 - 0.5 * n_stop / n_tokens) AS quality_score
        |FROM m ORDER BY doc_id""".stripMargin,

    "text_langid" ->
      """WITH m AS (SELECT doc_id, lang,
        |  CAST(len(regexp_extract_all(lower(text),
        |    '\b(the|a|of|and|to|in|is|it)\b')) AS INT) AS s_en,
        |  CAST(len(regexp_extract_all(lower(text),
        |    '\b(der|die|das|und|ist|nicht)\b')) AS INT) AS s_de,
        |  CAST(len(regexp_extract_all(lower(text),
        |    '\b(el|la|los|de|que|es)\b')) AS INT) AS s_es,
        |  CAST(len(regexp_extract_all(lower(text),
        |    '\b(le|la|les|des|et|est)\b')) AS INT) AS s_fr,
        |  CAST(len(regexp_extract_all(lower(text),
        |    '[\x{4e00}-\x{9fff}]')) AS INT) AS s_zh
        |  FROM documents),
        |b AS (SELECT *, greatest(s_en, s_de, s_es, s_fr, s_zh) AS best FROM m)
        |SELECT doc_id, lang,
        |  CASE WHEN s_en = best THEN 'en' WHEN s_de = best THEN 'de'
        |       WHEN s_es = best THEN 'es' WHEN s_fr = best THEN 'fr'
        |       WHEN s_zh = best THEN 'zh' ELSE 'und' END AS pred_lang,
        |  CAST(best AS BIGINT) AS best_score,
        |  (CASE WHEN s_en = best THEN 'en' WHEN s_de = best THEN 'de'
        |        WHEN s_es = best THEN 'es' WHEN s_fr = best THEN 'fr'
        |        WHEN s_zh = best THEN 'zh' ELSE 'und' END) = lang AS is_match
        |FROM b ORDER BY doc_id""".stripMargin,

    // same tf dictionary, same charFold, same integer-affine weight —
    // the sums are exact BIGINTs so the hash-compare needs no tolerance
    "text_linear_classifier" ->
      """WITH tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id,
        |          unnest(regexp_split_to_array(lower(trim(text)), '\s+'))
        |            AS term
        |        FROM documents)
        |  GROUP BY doc_id, term),
        |h AS (SELECT doc_id, tf,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(term, ''),
        |        c -> CAST(ord(c) AS BIGINT))),
        |      (a, b) -> (a * 1000003 + b) % 1000000007) % 1024 AS b
        |  FROM tf),
        |s AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tokens,
        |    CAST(SUM(tf * ((b * 2654435761) % 2048 * 1000 - 1023500))
        |      AS BIGINT) AS score_fix
        |  FROM h GROUP BY doc_id)
        |SELECT doc_id, n_tokens, score_fix,
        |  CAST(score_fix AS DOUBLE) / (CAST(n_tokens AS DOUBLE) * 1000000.0)
        |    AS score,
        |  score_fix > 0 AS keep
        |FROM s ORDER BY doc_id""".stripMargin,

    // the kernel's documented equivalence: wordShingles(text, n) ==
    // n-windows of regexp-split tokens joined with single spaces
    "text_ngram_counts" ->
      """WITH w AS (SELECT doc_id,
        |    regexp_split_to_array(lower(trim(text)), '\s+') AS a
        |  FROM documents),
        |g2 AS (SELECT doc_id, a[i] || ' ' || a[i+1] AS ngram
        |  FROM w CROSS JOIN LATERAL
        |    (SELECT unnest(range(1, len(a))) AS i) t),
        |g3 AS (SELECT doc_id,
        |    a[i] || ' ' || a[i+1] || ' ' || a[i+2] AS ngram
        |  FROM w CROSS JOIN LATERAL
        |    (SELECT unnest(range(1, len(a) - 1)) AS i) t),
        |u AS (
        |  SELECT 2 AS n, ngram, COUNT(*) AS cnt,
        |      COUNT(DISTINCT doc_id) AS df
        |    FROM g2 GROUP BY ngram
        |  UNION ALL
        |  SELECT 3 AS n, ngram, COUNT(*) AS cnt,
        |      COUNT(DISTINCT doc_id) AS df
        |    FROM g3 GROUP BY ngram),
        |r AS (SELECT *, row_number() OVER
        |    (PARTITION BY n ORDER BY cnt DESC, ngram) AS rn
        |  FROM u)
        |SELECT CAST(n AS BIGINT) AS n, ngram, CAST(cnt AS BIGINT) AS cnt,
        |  CAST(df AS BIGINT) AS df
        |FROM r WHERE rn <= 20 ORDER BY n, ngram""".stripMargin,

    // the same classifier CTEs (term retained through the hash stage for
    // the stopword gold), then an 11-threshold sweep in exact ints
    "text_classifier_calibration" ->
      """WITH tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id,
        |          unnest(regexp_split_to_array(lower(trim(text)), '\s+'))
        |            AS term
        |        FROM documents)
        |  GROUP BY doc_id, term),
        |h AS (SELECT doc_id, term, tf,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(term, ''),
        |        c -> CAST(ord(c) AS BIGINT))),
        |      (a, b) -> (a * 1000003 + b) % 1000000007) % 1024 AS b
        |  FROM tf),
        |s AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tokens,
        |    CAST(SUM(tf * ((b * 2654435761) % 2048 * 1000 - 1023500))
        |      AS BIGINT) AS score_fix,
        |    CAST(SUM(CASE WHEN term IN
        |      ('the','a','of','and','to','in','is','it')
        |      THEN tf ELSE 0 END) AS BIGINT) AS n_stop
        |  FROM h GROUP BY doc_id),
        |ks AS (SELECT CAST(unnest(range(-5, 6)) AS BIGINT) AS k),
        |x AS (SELECT k,
        |    (10 * score_fix >= k * n_tokens * 1000000) AS pred,
        |    (10 * n_stop >= n_tokens) AS gold
        |  FROM s CROSS JOIN ks),
        |c AS (SELECT k, COUNT(*) AS n_docs,
        |    SUM(CASE WHEN pred THEN 1 ELSE 0 END) AS n_kept,
        |    SUM(CASE WHEN pred AND gold THEN 1 ELSE 0 END) AS tp,
        |    SUM(CASE WHEN pred AND NOT gold THEN 1 ELSE 0 END) AS fp,
        |    SUM(CASE WHEN NOT pred AND gold THEN 1 ELSE 0 END) AS fn
        |  FROM x GROUP BY k)
        |SELECT k, CAST(k AS DOUBLE) / 10.0 AS threshold,
        |  CAST(n_docs AS BIGINT) AS n_docs, CAST(n_kept AS BIGINT) AS n_kept,
        |  CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
        |  CAST(fn AS BIGINT) AS fn,
        |  CASE WHEN n_kept > 0 THEN CAST(tp AS DOUBLE) / CAST(n_kept AS DOUBLE)
        |       ELSE 1.0 END AS precision,
        |  CASE WHEN tp + fn > 0 THEN CAST(tp AS DOUBLE)
        |         / CAST(tp + fn AS DOUBLE)
        |       ELSE 1.0 END AS recall
        |FROM c ORDER BY k""".stripMargin,

    "text_fingerprint" ->
      """WITH n AS (SELECT doc_id,
        |  regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t
        |  FROM documents)
        |SELECT doc_id,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(string_split(t, ''), c -> CAST(ord(c) AS BIGINT))),
        |    (a, b) -> (a * 1000003 + b) % 1000000007) AS fp,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(string_split(substr(t, 1, 64), ''),
        |      c -> CAST(ord(c) AS BIGINT))),
        |    (a, b) -> (a * 1000003 + b) % 1000000007) AS fp_prefix64
        |FROM n ORDER BY doc_id""".stripMargin,

    "text_editdist" ->
      """WITH d AS (SELECT doc_id, substr(text, 1, 40) AS p
        |  FROM documents WHERE doc_id < 30)
        |SELECT a.doc_id AS da, b.doc_id AS db,
        |  CAST(levenshtein(a.p, b.p) AS INT) AS dist
        |FROM d a JOIN d b ON a.doc_id < b.doc_id
        |WHERE levenshtein(a.p, b.p) <= 25
        |ORDER BY da, db""".stripMargin,

    "text_termstats" ->
      """SELECT term, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df
        |FROM (SELECT doc_id,
        |        unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
        |      FROM documents)
        |GROUP BY term ORDER BY tf DESC, term LIMIT 100""".stripMargin,

    "text_tfidf" ->
      """WITH terms AS (SELECT doc_id,
        |    unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf
        |  FROM terms GROUP BY doc_id, term),
        |dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents),
        |scored AS (SELECT doc_id, tf.term AS term, tf, df,
        |    CAST(tf AS DOUBLE) * (n_docs - df + CAST(0.5 AS DOUBLE))
        |      / (df + CAST(0.5 AS DOUBLE)) AS score
        |  FROM tf JOIN dfreq ON tf.term = dfreq.term CROSS JOIN n),
        |ranked AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
        |    ORDER BY score DESC, term) AS INT) AS rank
        |  FROM scored)
        |SELECT doc_id, term, tf, df, score, rank FROM ranked
        |WHERE rank <= 5 ORDER BY doc_id, rank""".stripMargin,

    "text_repetition" ->
      """WITH toks AS (SELECT doc_id,
        |    regexp_split_to_array(lower(trim(text)), '\s+') AS w
        |  FROM documents),
        |grams AS (SELECT doc_id,
        |    unnest(CASE WHEN len(w) >= 2 THEN
        |      list_transform(range(1, len(w)),
        |        i -> array_to_string(w[i:i+1], ' '))
        |      ELSE [] END) AS g
        |  FROM toks),
        |gc AS (SELECT doc_id, g, COUNT(*) AS c FROM grams GROUP BY doc_id, g),
        |gs AS (SELECT doc_id, SUM(c) AS n_grams, MAX(c) AS top_c
        |  FROM gc GROUP BY doc_id),
        |wc AS (SELECT doc_id, wd, COUNT(*) AS c
        |  FROM (SELECT doc_id, unnest(w) AS wd FROM toks)
        |  GROUP BY doc_id, wd),
        |ws AS (SELECT doc_id, SUM(c) AS n_words, COUNT(*) AS n_distinct
        |  FROM wc GROUP BY doc_id)
        |SELECT gs.doc_id AS doc_id, CAST(n_grams AS BIGINT) AS n_grams,
        |  CAST(top_c AS DOUBLE) / n_grams AS top_gram_frac,
        |  CAST(n_words - n_distinct AS DOUBLE) / n_words AS dup_word_frac
        |FROM gs JOIN ws ON gs.doc_id = ws.doc_id
        |ORDER BY doc_id""".stripMargin,

    "text_pii" ->
      """WITH m AS (SELECT event_id,
        |    concat('contact user', CAST(user_id AS VARCHAR),
        |      ' at user', CAST(user_id AS VARCHAR),
        |      '@example.com or +1-555-',
        |      lpad(CAST(event_id % 10000 AS VARCHAR), 4, '0'),
        |      ' ref ', props) AS msg
        |  FROM events)
        |SELECT event_id,
        |  CAST(len(regexp_extract_all(msg,
        |    '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS INT) AS n_emails,
        |  CAST(len(regexp_extract_all(msg,
        |    '\+1-555-[0-9]{4}')) AS INT) AS n_phones,
        |  regexp_replace(regexp_replace(msg,
        |    '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
        |    '\+1-555-[0-9]{4}', '<PHONE>', 'g') AS redacted
        |FROM m ORDER BY event_id""".stripMargin,

    "text_bm25" ->
      """WITH terms AS (SELECT doc_id,
        |    unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf
        |  FROM terms GROUP BY doc_id, term),
        |post AS (SELECT * FROM tf
        |  WHERE term IN ('dup', 'vector', 'spark', 'merge')),
        |dl AS (SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY doc_id),
        |stats AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS tot_tok FROM dl),
        |dfreq AS (SELECT term, COUNT(*) AS df FROM post GROUP BY term),
        |sc AS (SELECT post.doc_id AS doc_id, post.term AS term,
        |    ((n_docs - df + CAST(0.5 AS DOUBLE)) / (df + CAST(0.5 AS DOUBLE)))
        |    * ((CAST(tf AS DOUBLE) * CAST(2.2 AS DOUBLE)
        |          * CAST(tot_tok AS DOUBLE))
        |       / (CAST(tf AS DOUBLE) * CAST(tot_tok AS DOUBLE)
        |          + CAST(1.2 AS DOUBLE)
        |            * (CAST(0.25 AS DOUBLE) * CAST(tot_tok AS DOUBLE)
        |               + CAST(0.75 AS DOUBLE)
        |                 * (CAST(dl AS DOUBLE) * CAST(n_docs AS DOUBLE)))))
        |      AS s
        |  FROM post JOIN dfreq ON post.term = dfreq.term
        |  JOIN dl ON post.doc_id = dl.doc_id CROSS JOIN stats)
        |SELECT doc_id, CAST(COUNT(*) AS INT) AS n_hit,
        |  COALESCE(MAX(CASE WHEN term = 'dup' THEN s END), CAST(0 AS DOUBLE))
        |  + COALESCE(MAX(CASE WHEN term = 'vector' THEN s END),
        |      CAST(0 AS DOUBLE))
        |  + COALESCE(MAX(CASE WHEN term = 'spark' THEN s END),
        |      CAST(0 AS DOUBLE))
        |  + COALESCE(MAX(CASE WHEN term = 'merge' THEN s END),
        |      CAST(0 AS DOUBLE)) AS score
        |FROM sc GROUP BY doc_id
        |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,

    // the bm25 CTEs verbatim, then NDCG/MRR with the DCG position weights
    // inlined as a VALUES table from the same Scala constants the Spark
    // plan ships as an array literal — no query-time log in either engine
    "text_retrieval_ndcg" -> {
      val wRows = (1 to 10).map(r => s"($r, ${dcgW(r - 1)})").mkString(", ")
      val mRows = (1 to 10).map(r => s"($r, ${mrrW(r - 1)})").mkString(", ")
      s"""WITH terms AS (SELECT doc_id,
    unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS term
  FROM documents),
tf AS MATERIALIZED (SELECT doc_id, term, COUNT(*) AS tf
  FROM terms GROUP BY doc_id, term),
post AS MATERIALIZED (SELECT * FROM tf
  WHERE term IN ('dup', 'vector', 'spark', 'merge')),
dl AS (SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY doc_id),
stats AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS tot_tok FROM dl),
dfreq AS (SELECT term, COUNT(*) AS df FROM post GROUP BY term),
sc AS (SELECT post.doc_id AS doc_id, post.term AS term,
    ((n_docs - df + CAST(0.5 AS DOUBLE)) / (df + CAST(0.5 AS DOUBLE)))
    * ((CAST(tf AS DOUBLE) * CAST(2.2 AS DOUBLE)
          * CAST(tot_tok AS DOUBLE))
       / (CAST(tf AS DOUBLE) * CAST(tot_tok AS DOUBLE)
          + CAST(1.2 AS DOUBLE)
            * (CAST(0.25 AS DOUBLE) * CAST(tot_tok AS DOUBLE)
               + CAST(0.75 AS DOUBLE)
                 * (CAST(dl AS DOUBLE) * CAST(n_docs AS DOUBLE)))))
      AS s
  FROM post JOIN dfreq ON post.term = dfreq.term
  JOIN dl ON post.doc_id = dl.doc_id CROSS JOIN stats),
perdoc AS (SELECT doc_id,
  COALESCE(MAX(CASE WHEN term = 'dup' THEN s END), CAST(0 AS DOUBLE))
  + COALESCE(MAX(CASE WHEN term = 'vector' THEN s END),
      CAST(0 AS DOUBLE))
  + COALESCE(MAX(CASE WHEN term = 'spark' THEN s END),
      CAST(0 AS DOUBLE))
  + COALESCE(MAX(CASE WHEN term = 'merge' THEN s END),
      CAST(0 AS DOUBLE)) AS score
  FROM sc GROUP BY doc_id),
rnk AS (SELECT doc_id,
    ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rank
  FROM perdoc),
top10 AS (SELECT doc_id, CAST(rank AS INT) AS rank FROM rnk
  WHERE rank <= 10),
rel AS MATERIALIZED (SELECT doc_id, COUNT(DISTINCT term) AS rel
  FROM post GROUP BY doc_id),
dw(r, wd) AS (VALUES $wRows),
mw(r, wm) AS (VALUES $mRows),
g AS MATERIALIZED (SELECT t.rank, COALESCE(rel.rel, 0) AS rel
  FROM top10 t LEFT JOIN rel USING (doc_id)),
dcg AS (SELECT CAST(SUM(wd * ((1 << CAST(g.rel AS INT)) - 1)) AS BIGINT)
    AS dcg_fix
  FROM g JOIN dw ON dw.r = g.rank),
irk AS (SELECT rel,
    ROW_NUMBER() OVER (ORDER BY rel DESC, doc_id) AS irank
  FROM rel),
ideal AS (SELECT
    CAST(SUM(wd * ((1 << CAST(rel AS INT)) - 1)) AS BIGINT) AS idcg_fix
  FROM irk JOIN dw ON dw.r = irk.irank WHERE irank <= 10),
best AS (SELECT MIN(rank) AS best_rank FROM g WHERE rel >= 2)
SELECT dcg.dcg_fix, ideal.idcg_fix,
  CAST(dcg.dcg_fix AS DOUBLE) / CAST(ideal.idcg_fix AS DOUBLE) AS ndcg,
  CAST(COALESCE(best.best_rank, 0) AS INT) AS best_rank,
  CAST(COALESCE((SELECT wm FROM mw WHERE mw.r = best.best_rank), 0)
    AS BIGINT) AS mrr_fix
FROM dcg CROSS JOIN ideal CROSS JOIN best"""
    },

    "text_boilerplate" ->
      """WITH terms AS (SELECT doc_id,
        |    unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf
        |  FROM terms GROUP BY doc_id, term),
        |pres AS (SELECT tf.doc_id, tf.term, tf.tf, d.source
        |  FROM tf JOIN documents d USING (doc_id)),
        |nd AS (SELECT source, COUNT(*) AS n_docs FROM documents
        |  GROUP BY source),
        |boiler AS (SELECT f.source, f.term
        |  FROM (SELECT source, term, COUNT(*) AS df FROM pres
        |        GROUP BY source, term) f
        |  JOIN nd USING (source) WHERE f.df * 2 >= nd.n_docs),
        |tot AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tokens
        |  FROM pres GROUP BY doc_id),
        |bt AS (SELECT p.doc_id, CAST(SUM(p.tf) AS BIGINT) AS n_boiler
        |  FROM pres p JOIN boiler b
        |    ON p.source = b.source AND p.term = b.term
        |  GROUP BY p.doc_id)
        |SELECT t.doc_id, t.n_tokens,
        |  COALESCE(bt.n_boiler, 0) AS n_boiler,
        |  CAST(COALESCE(bt.n_boiler, 0) AS DOUBLE)
        |    / CAST(t.n_tokens AS DOUBLE) AS boiler_frac
        |FROM tot t LEFT JOIN bt USING (doc_id)
        |ORDER BY t.doc_id""".stripMargin,

    "text_bpe_pairs" ->
      """WITH tf AS (SELECT doc_id, term, COUNT(*) AS tf
        |  FROM (SELECT doc_id,
        |          unnest(regexp_split_to_array(lower(trim(text)), '\s+'))
        |            AS term
        |        FROM documents)
        |  GROUP BY doc_id, term),
        |wf AS (SELECT term, CAST(SUM(tf) AS BIGINT) AS freq
        |  FROM tf GROUP BY term),
        |p AS (SELECT freq,
        |    unnest(list_transform(range(1, length(term)),
        |      i -> substr(term, CAST(i AS INT), 2))) AS pair
        |  FROM wf WHERE length(term) >= 2)
        |SELECT pair, CAST(SUM(freq) AS BIGINT) AS cnt,
        |  CAST(COUNT(*) AS BIGINT) AS n_types
        |FROM p GROUP BY pair ORDER BY cnt DESC, pair LIMIT 20""".stripMargin,

    "text_perplexity" ->
      """WITH tf AS (SELECT doc_id, term, COUNT(*) AS tf
        |  FROM (SELECT doc_id,
        |          unnest(regexp_split_to_array(lower(trim(text)), '\s+'))
        |            AS term
        |        FROM documents)
        |  GROUP BY doc_id, term),
        |freq AS (SELECT term, CAST(SUM(tf) AS BIGINT) AS freq
        |  FROM tf GROUP BY term),
        |st AS (SELECT CAST(floor(ln(CAST(SUM(freq) AS DOUBLE)) * 1048576.0)
        |    AS BIGINT) AS lnq_n FROM freq),
        |sc AS (SELECT tf.doc_id, CAST(SUM(tf.tf) AS BIGINT) AS n_tok,
        |    CAST(SUM(tf.tf * (st.lnq_n
        |      - CAST(floor(ln(CAST(f.freq AS DOUBLE)) * 1048576.0)
        |          AS BIGINT))) AS BIGINT) AS xent_fix
        |  FROM tf JOIN freq f USING (term) CROSS JOIN st
        |  GROUP BY tf.doc_id)
        |SELECT doc_id, n_tok, xent_fix,
        |  CAST(xent_fix AS DOUBLE)
        |    / (CAST(n_tok AS DOUBLE) * CAST(1048576 AS DOUBLE)) AS xent,
        |  CASE WHEN xent_fix < n_tok * 3565158 THEN 'head'
        |       WHEN xent_fix < n_tok * 3575644 THEN 'middle'
        |       ELSE 'tail' END AS bucket
        |FROM sc ORDER BY doc_id""".stripMargin,

    // five plainly-unrolled merge rounds (the dedup_pagerank oracle
    // pattern): each round = pair count over the current spaced-symbol
    // dictionary, 1-row best-pair CTE, literal `replace` apply
    "text_bpe_train" -> {
      val rows = (1 to 5).map { i =>
        s"SELECT CAST($i AS INT) AS round, a, b, a||b AS merged, cnt FROM b$i"
      }.mkString(" UNION ALL ")
      s"$bpeOracleCtes\nSELECT * FROM ($rows) ORDER BY round"
    },

    // the apply side over the same unrolled chain: per-word symbol count
    // from the final dictionary, joined back to the tf table
    "text_bpe_encode" ->
      s"""$bpeOracleCtes,
         |sc AS (SELECT term,
         |  CAST(len(string_split(trim(repr), '  ')) AS BIGINT) AS n_syms
         |  FROM w5)
         |SELECT tf.doc_id, CAST(SUM(tf.tf) AS BIGINT) AS n_words,
         |  CAST(SUM(tf.tf * length(tf.term)) AS BIGINT) AS n_chars_tok,
         |  CAST(SUM(tf.tf * sc.n_syms) AS BIGINT) AS n_bpe_tokens,
         |  CAST(SUM(tf.tf * length(tf.term)) AS DOUBLE)
         |    / CAST(SUM(tf.tf * sc.n_syms) AS DOUBLE) AS compression
         |FROM tf JOIN sc ON tf.term = sc.term
         |GROUP BY tf.doc_id ORDER BY tf.doc_id""".stripMargin)

  /** The 5-round unrolled BPE merge chain as DuckDB CTEs (shared by the
    * `text_bpe_train` and `text_bpe_encode` oracles): `tf`/`wf` = the
    * corpus term-frequency dictionary, `w0..w5` carry (term, freq, repr)
    * through the merges, `b1..b5` are the per-round best pairs.
    *
    * Every multiply-referenced CTE is `AS MATERIALIZED`: each `w_i`
    * feeds BOTH `p_{i+1}` and `w_{i+1}` (and each `b_i` is read three
    * times by `w_i`'s replace), so DuckDB's default CTE inlining
    * re-evaluates the chain exponentially — measured >10 min and a
    * disk-full temp spill for the encode oracle on the sf1 corpus vs
    * 1.5 s materialized. Semantics identical; it only pins the
    * evaluate-once plan the unrolled chain assumes. */
  private def bpeOracleCtes: String = {
    val base =
      """WITH tf AS MATERIALIZED (SELECT doc_id, term, COUNT(*) AS tf
        |  FROM (SELECT doc_id,
        |          unnest(regexp_split_to_array(lower(trim(text)), '\s+'))
        |            AS term
        |        FROM documents)
        |  GROUP BY doc_id, term),
        |wf AS (SELECT term, CAST(SUM(tf) AS BIGINT) AS freq
        |  FROM tf GROUP BY term),
        |w0 AS MATERIALIZED (SELECT term, freq,
        |  '  ' || regexp_replace(term, '(.)', '\1  ', 'g') AS repr
        |  FROM wf)""".stripMargin
    val rounds = (1 to 5).map { i =>
      s"""p$i AS (SELECT a, b, CAST(SUM(freq) AS BIGINT) AS cnt FROM (
         |    SELECT freq, syms[i] AS a, syms[i+1] AS b FROM (
         |      SELECT freq, syms, unnest(range(1, len(syms))) AS i
         |      FROM (SELECT freq, string_split(trim(repr), '  ') AS syms
         |            FROM w${i - 1})))
         |  GROUP BY a, b),
         |b$i AS MATERIALIZED (SELECT a, b, cnt FROM p$i
         |  ORDER BY cnt DESC, a, b LIMIT 1),
         |w$i AS MATERIALIZED (SELECT term, freq, replace(repr,
         |    ' ' || (SELECT a FROM b$i) || '  ' ||
         |      (SELECT b FROM b$i) || ' ',
         |    ' ' || (SELECT a || b FROM b$i) || ' ') AS repr
         |  FROM w${i - 1})""".stripMargin
    }.mkString(",\n")
    s"$base,\n$rounds"
  }

  /** Warm-start targets (see [[graft.Prewarm]]). */
  override def prewarm: Seq[graft.Prewarm.Task] = Seq(
    graft.Prewarm.Task("text:tables", 1.7, (s, d) => {
      bm25PerDoc(s, d); classifierScores(s, d); bpeVocab(s, d)
      ()
    }))

}
