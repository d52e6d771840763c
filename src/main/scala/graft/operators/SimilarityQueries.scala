package graft.operators

import graft.QueryGroup
import graft.functions.VectorFunctions
import graft.sources.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Similarity search over the `embeddings` table (SURVEY.md §2.C op 46):
  * brute-force cosine top-k as the exact baseline, and a random-hyperplane
  * LSH-bucketed variant as the 100 TB scale path.
  *
  * Scale design: brute force is O(Q × N) — fine when the query set is small
  * and broadcastable (it is here: queries broadcast, candidates stay
  * partitioned, so the join is map-side with no shuffle of the big side;
  * the per-query top-k is a partial-aggregated window). The LSH variant cuts
  * the candidate set to one bucket per query (expected N/2^bits), the same
  * pattern that scales to billions of vectors; its recall-vs-exact tradeoff
  * is asserted in SimilaritySpec rather than a DuckDB oracle (xxhash64-seeded
  * hyperplanes are Spark-specific).
  *
  * Cosine is computed as a double-precision fold in fixed element order
  * (`zip_with` + `aggregate`), which is bit-identical between Spark and
  * DuckDB — so the exact variant hash-matches its oracle on raw doubles.
  */
object SimilarityQueries extends QueryGroup {
  import OracleSql._

  // codegen'd kernels (graft.functions.FloatDot) — same IEEE fold order as
  // the portable SQL `aggregate(zip_with(...))` form, so oracle values are
  // unchanged, but the loop runs natively instead of one interpreted
  // expression tree per element (~10× on the pair-join hot path)
  private def dot(a: Column, b: Column): Column = VectorFunctions.floatDot(a, b)

  private def norm(a: Column): Column = VectorFunctions.floatNorm(a)

  /** Embeddings with precomputed L2 norm. scanPar: every consumer runs
    * per-row vector kernels (norms, dot products, bucket hashes, Lloyd
    * assignment) — the heavy stage must not inherit the test parquet's
    * single split. */
  private def embs(s: SparkSession, dir: String): DataFrame =
    Tables.scanPar(s, dir, "embeddings")
      .select(col("vec_id"), col("label"), col("embedding").as("v"),
        norm(col("embedding")).as("nrm"))

  /** Exact brute-force top-10, materialized once per session (graded
    * cache): `sim_topk` grades it directly and `sim_ann_recall` reuses it
    * as the ground-truth side — within a bench rep the O(Q×N) scan is
    * paid once, the "materialize once, read many" seam every other shared
    * stage (bronze parses, shingle tables) already uses. */
  private[graft] def exactTopK(s: SparkSession, dir: String): DataFrame =
    graft.BoundedDfCache.getOrPersist(s, s"sim:topk:$dir") {
      val e = embs(s, dir)
      val q = e.filter(col("vec_id") < 10).toDF("qid", "qlabel", "q", "qn")
      val w = Window.partitionBy("qid")
        .orderBy(col("cosine").desc, col("vec_id"))
      broadcast(q).join(e, col("qid") =!= col("vec_id"))
        .select(col("qid"), col("vec_id"), col("label"),
          (dot(col("q"), col("v")) / (col("qn") * col("nrm"))).as("cosine"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 10)
    }

  /** ANN top-10 per variant, session-cached like [[exactTopK]] so the
    * graded entry and the recall report share one computation per rep. */
  private[graft] def annTopK(
      s: SparkSession, dir: String, variant: String): DataFrame =
    graft.BoundedDfCache.getOrPersist(s, s"sim:ann:$variant:$dir") {
      variant match {
        case "lsh" => lshTopKBody(s, dir)
        case "ivf" => ivfTopK(s, dir, kCentroids = 16, nprobe = 2,
          lloydIters = 3)
      }
    }

  /** The pinned-plane LSH search result, session-cached so the graded
    * entry (`sim_ann_lsh_pinned`) and the recall grade (`sim_ann_recall`)
    * share one build per rep. */
  private[graft] def lshPinnedTopK(s: SparkSession, dir: String): DataFrame =
    graft.BoundedDfCache.getOrPersist(s, s"sim:lshpin:$dir") {
      buildLshPinnedTopK(s, dir)
    }

  /** Uncached [[lshPinnedTopK]] body — PlanSpec asserts the probe join /
    * window shape on this (the cached getter hides the build plan inside
    * an InMemoryRelation, the buildSubstringRuns precedent). */
  private[graft] def buildLshPinnedTopK(
      s: SparkSession, dir: String): DataFrame = {
      val e = embs(s, dir)
      val coded = e.select(col("vec_id"), col("v"), col("nrm"),
        VectorFunctions.dyadicLshCode(col("v"), 8).as("code"))
      val q = coded.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("v").as("qv"),
          col("nrm").as("qn"), col("code"))
      val wR = Window.partitionBy("qid")
        .orderBy(col("cosine").desc, col("vec_id"))
      broadcast(q).join(coded, Seq("code"))
        .filter(col("qid") =!= col("vec_id"))
        .select(col("qid"), col("vec_id"),
          (VectorFunctions.floatDot(col("qv"), col("v"))
            / (col("qn") * col("nrm"))).as("cosine"))
        .withColumn("rank", row_number().over(wR))
        .filter(col("rank") <= 10)
    }

  /** The pinned-seed IVF-Flat search result, session-cached like
    * [[lshPinnedTopK]] (shared by `sim_ann_ivf_flat` and
    * `sim_ann_recall`). */
  private[graft] def ivfFlatTopK(s: SparkSession, dir: String): DataFrame =
    graft.BoundedDfCache.getOrPersist(s, s"sim:ivfflat:$dir") {
      buildIvfFlatTopK(s, dir)
    }

  /** Uncached [[ivfFlatTopK]] body (PlanSpec seam, like
    * [[buildLshPinnedTopK]]). */
  private[graft] def buildIvfFlatTopK(
      s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    val cents = e.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cid"), col("v").as("c"))
    val lists = assignNearest(e, cents)
    val probes = probeLists(e.filter(col("vec_id") < 10), cents, 2)
    topKFromLists(probes, lists)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // exact baseline: 10 query vectors × all candidates, top-10 by cosine
    "sim_topk" -> ((s, dir) =>
      exactTopK(s, dir).orderBy("qid", "rank")),

    // RADIUS (range) search — "everything within cosine τ", the
    // retrieval mode dedup sweeps and recall-oriented RAG filters use
    // where top-k's fixed cutoff is wrong (a query may have 0 or 500
    // true neighbors). Exact form: queries BROADCAST against the
    // partitioned corpus, the cosine is the fixed-order double fold
    // (bit-identical cross-engine), and the τ filter runs MAP-SIDE —
    // the corpus never shuffles, which is the whole 100 TB story for a
    // bounded query set; result size is data-dependent by design (that
    // is what a radius search reports). The bucketed scale path for
    // UNBOUNDED query sets is the existing LSH/IVF machinery
    // (`sim_lsh_buckets` / `sim_ann_ivf_flat`) with the same τ verify
    // replacing the top-k window.
    "sim_range_search" -> ((s, dir) => {
      val e = embs(s, dir)
      val q = e.filter(col("vec_id") < 10)
        .toDF("qid", "qlabel", "q", "qn")
      broadcast(q).join(e, col("qid") =!= col("vec_id"))
        .select(col("qid"), col("vec_id"),
          (dot(col("q"), col("v")) / (col("qn") * col("nrm")))
            .as("cosine"))
        .filter(col("cosine") >= 0.30)
        .orderBy("qid", "vec_id")
    }),

    // MAXIMUM INNER-PRODUCT search (MIPS) — the recommendation/reward-
    // model scoring order, which cosine deliberately erases (two vectors
    // with equal direction but different magnitude tie under cosine and
    // differ under MIPS). Graded: exact top-10 by raw inner product
    // (the deterministic element-order fold — bit-identical cross-
    // engine, NOTES fact 1). Scale path: the norm-augmentation
    // reduction — append sqrt(M²−‖x‖²) to each corpus vector (M = max
    // norm, a broadcast scalar) and 0 to the query, making augmented
    // cosine a monotone transform of the inner product (‖x_aug‖ ≡ M),
    // so the entire existing cosine ANN stack (LSH buckets, IVF lists,
    // PQ codes) indexes MIPS unchanged; SignalSnapshotAvroSpec's sim
    // sibling (DedupSimilaritySpec) asserts the reduction preserves
    // this exact ranking on the fixture.
    "sim_mips" -> ((s, dir) => {
      val e = embs(s, dir)
      val q = e.filter(col("vec_id") < 10).toDF("qid", "qlabel", "q", "qn")
      val w = Window.partitionBy("qid")
        .orderBy(col("ip").desc, col("vec_id"))
      broadcast(q).join(e, col("qid") =!= col("vec_id"))
        .select(col("qid"), col("vec_id"), col("label"),
          dot(col("q"), col("v")).as("ip"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 10)
        .orderBy("qid", "rank")
    }),

    // NOTE (r14): the standalone rows-only entries `sim_ann_lsh` and
    // `sim_ann_ivf` are RETIRED from the graded catalog — each is
    // subsumed by a fully-oracled end-to-end twin (`sim_ann_lsh_pinned`,
    // `sim_ann_ivf_flat`). NOTE (r15): `sim_ann_recall` is now fully
    // oracled over the PINNED searches; the xxhash64/Lloyd production
    // paths ([[annTopK]]) are spec-graded — DedupSimilaritySpec asserts
    // their recall contracts at two SFs. SURVEY §2.D records both moves.

    // the random-hyperplane BUCKETING value-pinned cross-engine — the
    // vector-side analog of `dedup_lsh_bands` (VERDICT r12: shrink the
    // rows-only story by restating bucket assignment relationally). The
    // production path above hashes hyperplanes with XXH64 (not
    // SQL-expressible); this twin runs the SAME sign-of-dot-product
    // bucketing over a DETERMINISTIC dyadic-rational plane family,
    // w(p,d) = ((p·64+d)·2654435761 mod 4096)/4096 − 1/2 — every weight
    // an exact double, the 16-plane code a descending acc·2+bit fold, so
    // both engines compute BIT-IDENTICAL codes. Graded per non-singleton
    // bucket: member count, pair count, and how many in-bucket pairs are
    // truly close (exact cosine ≥ 0.2 — chosen so the column is non-zero
    // at every SF: sf0.01 in-bucket cosines top out at 0.38; fixed-order fold + sqrt + one
    // division, the proven cross-engine tree). Scale shape: coding is
    // map-side (16×64 multiply-adds per vector, weights never
    // materialize); the only pair work is WITHIN buckets — the LSH
    // discipline, candidates ∝ collisions, never all-pairs.
    "sim_lsh_buckets" -> ((s, dir) => {
      val e = Tables.scan(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").as("v"))
      // coding via the codegen'd kernel ([[VectorFunctions.dyadicLshCode]]
      // — same pinned formula, one native pass instead of an interpreted
      // lambda per (plane, dim); DyadicLshSpec pins kernel ≡ HOF and the
      // DuckDB oracle pins it cross-engine)
      val coded = e.select(col("vec_id"), col("v"),
        VectorFunctions.dyadicLshCode(col("v"), 16).as("code"))
      def dot(a: Column, b: Column): Column =
        aggregate(zip_with(a, b,
          (x, y) => x.cast("double") * y.cast("double")),
          lit(0.0), (s0, t) => s0 + t)
      val pairs = coded.select(col("code"), col("vec_id").as("da"),
          col("v").as("va"))
        .join(coded.select(col("code"), col("vec_id").as("db"),
          col("v").as("vb")), Seq("code"))
        .filter(col("da") < col("db"))
        .select(col("code"),
          (dot(col("va"), col("vb"))
            / (sqrt(dot(col("va"), col("va")))
              * sqrt(dot(col("vb"), col("vb"))))).as("cosine"))
      val pairAgg = pairs.groupBy("code")
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("cosine") >= 0.2, 1L).otherwise(0L)).as("n_close"))
      coded.groupBy("code").agg(count(lit(1)).as("n_vecs"))
        .filter(col("n_vecs") >= 2)
        .join(pairAgg, Seq("code"), "left")
        .select(col("code"), col("n_vecs"),
          coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
          coalesce(col("n_close"), lit(0L)).as("n_close"))
        .orderBy("code")
    }),

    // END-TO-END LSH ANN search, fully oracled — the probe-path twin of
    // `sim_lsh_buckets` (which pins only the bucketing): the SAME
    // dyadic-rational plane family at 8 planes (256 buckets — calibrated
    // so every query vector has in-bucket candidates at sf0.01), query
    // probes its own bucket, candidates re-rank by EXACT cosine (the
    // proven fixed-order fold), top-10 per query. This is the first
    // graded query where a DuckDB oracle replays an ANN SEARCH RESULT
    // list end to end — bucket assignment, candidate generation, and
    // re-ranking all value-pinned; the production `sim_ann_lsh`
    // (xxhash64 planes, 2 tables) stays rows-only by contract with its
    // recall graded via `sim_ann_recall`. Scale shape: coding is
    // map-side; the probe is a BROADCAST of the 10 coded queries onto
    // the coded corpus (bucket equi-join — candidates ∝ bucket
    // occupancy, never all-pairs); the re-rank window partitions by
    // query over candidate rows only.
    "sim_ann_lsh_pinned" -> ((s, dir) =>
      lshPinnedTopK(s, dir).orderBy("qid", "rank")),

    // MULTI-PROBE LSH (Lv et al. VLDB'07) — the recall lever that does
    // NOT multiply index size: instead of more hash tables, each query
    // ALSO probes the buckets one bit-flip away (the most likely
    // landing spots of near neighbors that straddled a hyperplane).
    // Here: base code + all 8 one-bit perturbations = 9 probes per
    // query over the SAME single-table pinned index sim_ann_lsh_pinned
    // searches — candidates grow ~9× per query (still ∝ bucket
    // occupancy, never all-pairs) while the stored index is unchanged,
    // the exact trade a deployment tunes against adding tables. A
    // vector has exactly one code, so probe sets never duplicate a
    // candidate. Same map-side coding, broadcast probes, exact-cosine
    // re-rank — and the same full-oracle replay, probes included.
    "sim_ann_lsh_multiprobe" -> ((s, dir) => {
      val e = embs(s, dir)
      val coded = e.select(col("vec_id"), col("v"), col("nrm"),
        VectorFunctions.dyadicLshCode(col("v"), 8).as("code"))
      val probes = coded.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("v").as("qv"),
          col("nrm").as("qn"),
          explode(expr("array(code, code ^ 1, code ^ 2, code ^ 4, " +
            "code ^ 8, code ^ 16, code ^ 32, code ^ 64, code ^ 128)"))
            .as("code"))
      val wR = Window.partitionBy("qid")
        .orderBy(col("cosine").desc, col("vec_id"))
      broadcast(probes).join(coded, Seq("code"))
        .filter(col("qid") =!= col("vec_id"))
        .select(col("qid"), col("vec_id"),
          (VectorFunctions.floatDot(col("qv"), col("v"))
            / (col("qn") * col("nrm"))).as("cosine"))
        .withColumn("rank", row_number().over(wR))
        .filter(col("rank") <= 10)
        .orderBy("qid", "rank")
    }),

    // END-TO-END IVF-Flat search, fully oracled — the search-result twin
    // of `sim_ann_ivfpq_recall` (which grades only the recall of the
    // PQ-compressed composition): pinned seed coarse quantizer
    // (vec_id < 16 — the family every clustering op here shares; the
    // re-centering machinery is graded separately by `sim_kmeans`),
    // nprobe=2 probes, EXACT cosine re-rank inside the probed lists.
    // IVF-Flat is the production layout between brute force and IVF-PQ
    // (full-precision vectors, pruned probe set); this entry pins its
    // actual top-10 result list cross-engine. Scale shape: assignment is
    // the zero-vector-shuffle broadcast-argmax fold ([[assignNearest]]),
    // probes broadcast onto the lists (candidates ∝ nprobe/k of the
    // corpus), re-rank windows partition by query over candidates only.
    "sim_ann_ivf_flat" -> ((s, dir) =>
      ivfFlatTopK(s, dir).orderBy("qid", "rank")),

    // recall@10 of the two PINNED ANN searches against the exact
    // brute-force top-10, as exact-int hit counts per query — FULLY
    // ORACLED (was rows-only): both candidate sets are the value-pinned
    // dyadic/seeded constructions whose result lists `sim_ann_lsh_pinned`
    // / `sim_ann_ivf_flat` already replay in DuckDB, so the intersection
    // with the exact list is cross-engine exact too. The production
    // xxhash64-LSH / Lloyd-converged-IVF recall CONTRACTS stay spec-graded
    // (DedupSimilaritySpec ≥0.5/≥0.7 bounds at two SFs). All three frames
    // are session-cached, so within a bench rep this entry costs only the
    // 100-row comparison joins. Zero-hit queries report hits=0 — the
    // left join keeps every exact row, so no qid can drop out.
    "sim_ann_recall" -> ((s, dir) => {
      val exact = exactTopK(s, dir).select(col("qid"), col("vec_id"))
      def hitsOf(variant: String, ann: DataFrame): DataFrame =
        exact.join(
          ann.select(col("qid"), col("vec_id"), lit(1).as("_hit")),
          Seq("qid", "vec_id"), "left")
          .groupBy("qid")
          .agg(count(col("_hit")).as("hits"), count(lit(1)).as("k"))
          .select(lit(variant).as("variant"), col("qid"), col("hits"),
            col("k"))
      hitsOf("ivf_flat", ivfFlatTopK(s, dir))
        .unionByName(hitsOf("lsh_pinned", lshPinnedTopK(s, dir)))
        .orderBy("variant", "qid")
    }),

    // the PERSISTED form of the same index: build → write (centroids +
    // cid-partitioned inverted lists) → probe via partition-pruned read.
    // Rebuilt from scratch every invocation (the build is graded work —
    // reusing a disk artifact across bench reps would hide it; a
    // deployment builds once and probes many). ONE Lloyd re-centering
    // round (vs sim_ann_ivf's 3): the graded point of THIS entry is the
    // persist→prune round-trip, not quantizer quality — the in-memory
    // twin already grades the converged quantizer, and each extra round
    // is a full corpus-wide explode+groupBy pass paid per bench rep.
    // IvfIndexSpec proves the saved-index probe row-identical to the
    // in-memory form AT THE SAME lloydIters and asserts the pruning;
    // the recall contracts (DedupSimilaritySpec) ride the nprobe knob,
    // which is unchanged.
    "sim_ann_ivf_saved" -> ((s, dir) => {
      // per-(corpus, process) path — wiped and rebuilt per invocation, so
      // it must not be shared with a concurrent driver (round-6 ADVICE)
      val path = graft.TmpPaths.fresh(
        graft.TmpPaths.perProcess("graft-ivf-index", dir))
      saveIvfIndex(s, dir, path, kCentroids = 16, lloydIters = 1)
      probeIvfIndex(s, path, embs(s, dir).filter(col("vec_id") < 10),
        nprobe = 2)
    }),

    // label centroid similarity: per-cluster mean vector, then pairwise
    // centroid cosine — the IVF coarse-quantizer building block (exact,
    // oracle-verified; centroid averaging uses the same fold order in both
    // engines via position-wise SUM grouped by dimension)
    "sim_centroids" -> ((s, dir) => {
      val e = Tables.scan(s, dir, "embeddings")
      // explode to (label, dim, value); centroid accumulation is 1e-6
      // fixed-point (floor to integer micros, sum as BIGINT) — exact,
      // order-independent, so partial aggregation parallelizes freely AND
      // the result is bit-reproducible across engines (float/decimal casts
      // round differently between Spark and DuckDB; integer sums don't)
      val dims = e.select(col("label"),
        posexplode(col("embedding")).as(Seq("dim", "x")))
        .groupBy("label", "dim")
        .agg(sum(floor(col("x").cast("double") * 1e6).cast("long")).as("sx"),
          count(lit(1)).as("n"))
        .select(col("label"), col("dim"),
          (col("sx").cast("double") / (col("n").cast("double") * 1e6))
            .as("c"))
      val cent = dims.groupBy("label")
        .agg(array_sort(collect_list(struct(col("dim"), col("c"))))
          .as("dc"))
        .select(col("label"),
          transform(col("dc"), x => x.getField("c")).as("centroid"))
      val a = cent.toDF("la", "ca")
      val b = cent.toDF("lb", "cb")
      a.join(b, col("la") < col("lb"))
        .select(col("la"), col("lb"),
          // centroids are ARRAY<DOUBLE> — double kernel, not the float one
          (VectorFunctions.doubleDot(col("ca"), col("cb"))
            / (VectorFunctions.doubleNorm(col("ca"))
              * VectorFunctions.doubleNorm(col("cb"))))
            .as("cosine"))
        .orderBy("la", "lb")
    }),

    // one GRADED Lloyd round of k-means — the oracle-checked twin of the
    // Lloyd machinery the IVF path ([[lloydCentroids]]) runs rows-only:
    // same deterministic seeds-by-id, same map-side [[assignNearest]]
    // argmax (zero vector-side shuffle), same 1e-6 fixed-point
    // re-centering (floor to integer micros, BIGINT sums — exact,
    // order-independent, partial-agg friendly, bit-reproducible across
    // engines where float/decimal casts are not). Graded shape is
    // PER-DIMENSION rows (cluster, dim, cx, n, shift) — the centroid is
    // still computed as a dim-ordered array internally (the shift needs a
    // deterministic ordered fold of squared deltas against the seed, one
    // sqrt at the end — sqrt is correctly-rounded IEEE, unlike ln/exp)
    // but the OUTPUT carries only scalars: the driver's pandas comparator
    // cannot sort rows containing raw arrays (round-12's one red row), so
    // no graded query may emit a top-level array/map/struct column
    // (enforced by CatalogPlanAuditSpec). n and shift are per-cluster
    // values repeated on each dim row. Shuffle budget: one (cid, dim)-
    // keyed exchange of integer partials — k×dims rows to the final agg,
    // nothing corpus-sized; the final posexplode is k×dims rows too.
    "sim_kmeans" -> ((s, dir) => {
      val e = embs(s, dir)
      val cents = e.filter(col("vec_id") < 16)
        .select(col("vec_id").as("cid"), col("v").as("c"))
      val newC = assignNearest(e, cents)
        .select(col("cid"), posexplode(col("v")).as(Seq("dim", "x")))
        .groupBy("cid", "dim")
        .agg(sum(floor(col("x").cast("double") * 1e6).cast("long")).as("sx"),
          count(lit(1)).as("cnt"))
        .groupBy("cid")
        .agg(max(col("cnt")).as("n"),
          array_sort(collect_list(struct(col("dim"),
            (col("sx").cast("double")
              / (col("cnt").cast("double") * 1e6)).as("cx")))).as("dc"))
        .select(col("cid").as("cluster"), col("n"),
          transform(col("dc"), p => p.getField("cx")).as("centroid"))
      newC.join(broadcast(cents.select(col("cid").as("cluster"),
          col("c").as("seed"))), "cluster")
        .select(col("cluster"), col("n"), col("centroid"),
          sqrt(aggregate(
            zip_with(col("centroid"), col("seed"),
              (a, b) => (a - b.cast("double")) * (a - b.cast("double"))),
            lit(0.0), (acc, d) => acc + d)).as("shift"))
        .select(col("cluster"), col("n"), col("shift"),
          posexplode(col("centroid")).as(Seq("dim", "cx")))
        .select(col("cluster"), col("dim"), col("cx"), col("n"),
          col("shift"))
        .orderBy("cluster", "dim")
    }),

    // int8 symmetric quantization of the embedding column — the 4× memory
    // lever a billion-vector ANN deployment applies before IVF/HNSW
    // residency (fp32 → int8 codes + one fp scale per vector). Per-vector
    // absmax scaling: scale = max|x|/127, code q_i = floor(x_i/scale+0.5).
    // Every step is one correctly-rounded IEEE op on a fixed expression
    // tree, so Spark and DuckDB produce BIT-IDENTICAL codes; the graded
    // outputs are exact-int summaries of the full code vector (position-
    // weighted checksum, saturation count — the absmax element saturates
    // to ±127 by construction, so n_sat ≥ 1) plus the reconstruction SSE
    // as a fixed-element-order double fold (the proven cross-engine fold
    // shape). Map-side only, zero shuffles: at 100 TB this is one pass
    // that writes the int8 copy alongside the fp32 master — 4× less
    // scan volume for every downstream ANN probe.
    "sim_quantize" -> ((s, dir) => {
      val e = Tables.scan(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").as("v"))
        .withColumn("maxabs",
          array_max(transform(col("v"), x => abs(x.cast("double")))))
        .withColumn("scale", col("maxabs") / lit(127.0))
      def q(x: Column): Column =
        when(col("scale") === 0.0, lit(0L))
          .otherwise(floor(x.cast("double") / col("scale") + lit(0.5))
            .cast("long"))
      e.select(col("vec_id"), col("maxabs"), col("scale"),
          aggregate(
            transform(col("v"),
              (x, i) => q(x) * (i.cast("long") + lit(1L))),
            lit(0L), (acc, t) => acc + t).as("checksum"),
          aggregate(
            transform(col("v"),
              x => when(abs(q(x)) === 127L, lit(1L)).otherwise(lit(0L))),
            lit(0L), (acc, t) => acc + t).as("n_sat"),
          aggregate(
            transform(col("v"), { x =>
              val d =
                x.cast("double") - q(x).cast("double") * col("scale")
              d * d
            }),
            lit(0.0), (acc, t) => acc + t).as("sse"))
        .orderBy("vec_id")
    }),

    // product quantization — the codebook layer of IVF-PQ, THE canonical
    // billion-vector layout (Jégou et al., TPAMI'11): the 64-dim vector
    // splits into 4 subspaces of 16 dims, each subvector coarse-quantizes
    // to the nearest of 16 per-subspace centroids, so a vector stores as
    // 4 nibbles (one packed short) instead of 256 fp32 bytes. Centroids
    // are the deterministic seed rule every clustering op here shares
    // (vec_id < 16; sim_kmeans grades the re-centering machinery).
    // Distributed shape: the 16×4 codebook is a bounded driver collect
    // turned into a BROADCAST LITERAL, so assignment is pure map-side
    // codegen — zero shuffles over the vector corpus, the same
    // assign-without-moving-vectors property the IVF path has. Distances
    // are fixed-element-order double folds; argmin tie-breaks to the
    // lowest centroid id via first-position-of-min — bit-reproducible
    // cross-engine end to end.
    "sim_pq" -> ((s, dir) =>
      pqCodes(s, dir).select(col("vec_id"),
          col("code0"), col("code1"), col("code2"), col("code3"),
          (col("code0").cast("long") + col("code1").cast("long") * 16L
            + col("code2").cast("long") * 256L
            + col("code3").cast("long") * 4096L).as("code_packed"),
          (lit(0.0) + col("_md0") + col("_md1") + col("_md2")
            + col("_md3")).as("sse"))
        .orderBy("vec_id")),

    // PQ SEARCH — asymmetric distance computation (ADC), the probe side
    // of IVF-PQ: a query never decodes the corpus; it precomputes a
    // 4×16 lookup table of (query-subvector → centroid) distances and
    // scores every stored code with 4 table lookups + 3 adds. Here the
    // 10 queries' LUTs (640 doubles) are computed driver-side from the
    // same bounded seed collect and shipped as ONE broadcast literal, so
    // scoring the whole corpus is map-side over the cached code table —
    // the O(N·M) scan that replaces the O(N·D) exact scan, the entire
    // point of PQ at billion-vector scale. Graded output: per query,
    // hits@10 of ADC top-10 vs the exact L2 top-10 and the recall — the
    // quality-vs-compression report a deployment tunes M and k by.
    "sim_pq_recall" -> ((s, dir) => {
      import s.implicits._
      val e = Tables.scan(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").as("v"))
      val qids = (0L until 10L).toSeq
      val cand = pqCodes(s, dir).select("vec_id")
        .crossJoin(broadcast(qids.toDF("qid")))
        .filter(col("qid") =!= col("vec_id"))
        .select("qid", "vec_id")
      recallReport(adcTop10(s, dir, cand), l2TopK(s, dir))
    }),

    // IVF-PQ — THE production billion-vector ANN layout, end to end:
    // coarse-quantize every vector to its nearest seed centroid (the
    // broadcast-argmax map-side fold the IVF path uses — vectors never
    // shuffle), probe each query's nprobe=2 nearest lists, and score
    // ONLY the probed candidates with the PQ ADC lookup tables. Work per
    // query drops from O(N) ADC lookups to O(N·nprobe/k) — the
    // recall-vs-cost knob — and the report grades the composition
    // against the same exact L2 top-10 the flat-PQ report uses. NOTE:
    // restricting candidates does NOT bound recall from above — the
    // top-10 is a ranked selection, so pruning an ADC false positive
    // promotes whatever sat below it, and true neighbors cluster into
    // the probed lists; measured at sf0.01 the pruned search is both
    // ~8× cheaper AND higher-recall than flat ADC (0.39 vs 0.29 mean),
    // the well-known IVF-as-filter effect. Fully oracled:
    // coarse assignment = the proven cosine-argmax CTE, probes = the
    // same ranking with rn ≤ 2, ADC = the code⋈centroid join form.
    "sim_ann_ivfpq_recall" -> ((s, dir) => {
      val e = embs(s, dir)
      val cents = e.filter(col("vec_id") < 16)
        .select(col("vec_id").as("cid"), col("v").as("c"))
      val lists = assignNearest(e, cents).select(col("vec_id"), col("cid"))
      val probes = probeLists(e.filter(col("vec_id") < 10), cents, 2)
        .select("qid", "cid")
      val cand = broadcast(probes).join(lists, "cid")
        .filter(col("qid") =!= col("vec_id"))
        .select("qid", "vec_id")
      recallReport(adcTop10(s, dir, cand), l2TopK(s, dir))
    }))

  /** The portable HOF statement of the pinned dyadic-plane sign code —
    * the in-engine parity reference the kernel
    * ([[graft.functions.VecOps.dyadicLshCode]]) is spec-pinned against
    * (DyadicLshSpec), and the exact form the DuckDB oracles restate.
    * Parenthesized as ONE expression: a leading `-` on a continuation
    * line does not continue the previous line in Scala 2 — it parses as
    * a discarded unary statement and silently drops the centering. */
  private[graft] def dyadicCodeHof(v: Column, planes: Int): Column = {
    def w(p: Column, d: Column): Column =
      (((p * 64L + d) * 2654435761L % 4096L).cast("double")
        / lit(4096.0) - lit(0.5))
    def dotPlane(p: Column): Column =
      aggregate(
        zip_with(v, sequence(lit(0L), lit(63L)),
          (x, d) => x.cast("double") * w(p, d)),
        lit(0.0), (a, t) => a + t)
    aggregate(sequence(lit(planes - 1L), lit(0L), lit(-1L)), lit(0L),
      (acc, p) => acc * 2L
        + when(dotPlane(p) >= 0.0, 1L).otherwise(0L))
  }

  /** Exact L2 top-10 ground truth for the 10 query vectors — the metric
    * ADC approximates (the cosine ground truth `sim_ann_recall` uses
    * belongs to the normalized ops). Session-cached: shared by the
    * flat-PQ and IVF-PQ recall reports. */
  private def l2TopK(s: SparkSession, dir: String): DataFrame =
    graft.BoundedDfCache.getOrPersist(s, s"sim:l2topk:$dir") {
      val e = Tables.scan(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").as("v"))
      val q10 = e.filter(col("vec_id") < 10).toDF("qid", "q")
      val exact = broadcast(q10).join(e, col("qid") =!= col("vec_id"))
        .select(col("qid"), col("vec_id"),
          aggregate(zip_with(col("q"), col("v"),
            (a, b) => (a.cast("double") - b.cast("double"))
              * (a.cast("double") - b.cast("double"))),
            lit(0.0), (acc, t) => acc + t).as("dist"))
      val wE = Window.partitionBy("qid")
        .orderBy(col("dist"), col("vec_id"))
      exact.withColumn("rank", row_number().over(wE))
        .filter(col("rank") <= 10).select("qid", "vec_id")
    }

  /** ADC top-10 over a (qid, vec_id) candidate frame: per-query 4×16
    * LUTs of subvector→centroid distances (640 doubles, driver-computed
    * with the same fixed-order IEEE fold the oracle's list_reduce
    * evaluates — bit-identical) shipped as ONE broadcast literal; each
    * candidate costs 4 lookups + 3 adds over the shared code table. */
  private def adcTop10(
      s: SparkSession, dir: String, cand: DataFrame): DataFrame = {
    val e = Tables.scan(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").as("v"))
    val seeds = e.filter(col("vec_id") < 16).collect()
      .map(r => (r.getLong(0),
        r.getAs[scala.collection.Seq[Float]](1).toArray))
      .sortBy(_._1).map(_._2)
    val qs = e.filter(col("vec_id") < 10).collect()
      .map(r => (r.getLong(0),
        r.getAs[scala.collection.Seq[Float]](1).toArray))
      .sortBy(_._1)
    val m = 4
    val d = seeds.head.length / m
    val lut = qs.toSeq.map { case (_, q) =>
      (0 until m).map { i =>
        seeds.toSeq.map { c =>
          var acc = 0.0
          var j = i * d
          while (j < (i + 1) * d) {
            val dd = q(j).toDouble - c(j).toDouble; acc += dd * dd; j += 1
          }
          acc
        }
      }
    }
    val lutLit = typedlit(lut)
    def term(i: Int): Column = element_at(
      element_at(element_at(lutLit, col("qid").cast("int") + 1),
        i + 1), col(s"code$i") + 1)
    val wA = Window.partitionBy("qid")
      .orderBy(col("adist"), col("vec_id"))
    cand.join(pqCodes(s, dir), "vec_id")
      .select(col("qid"), col("vec_id"),
        (lit(0.0) + term(0) + term(1) + term(2) + term(3)).as("adist"))
      .withColumn("rank", row_number().over(wA))
      .filter(col("rank") <= 10).select("qid", "vec_id")
  }

  /** hits@10 / recall of an approx top-10 against the exact top-10.
    * Left join, not semi: a query with ZERO hits must still report. */
  private def recallReport(
      approxTop: DataFrame, exactTop: DataFrame): DataFrame =
    exactTop
      .join(approxTop.withColumn("_hit", lit(1L)),
        Seq("qid", "vec_id"), "left")
      .groupBy("qid")
      .agg(sum(coalesce(col("_hit"), lit(0L))).as("hits"))
      .select(col("qid"), col("hits"),
        (col("hits").cast("double") / 10.0).as("recall"))
      .orderBy("qid")

  /** Per-vector PQ code table (4 subspaces × 16 seed centroids; see
    * `sim_pq`), materialized once per (session, corpus) and shared by
    * the code-layout query and the ADC search: vec_id, code0..3, and the
    * per-subspace min distances (`_md*`, the per-subspace quantization
    * SSE terms). The 16×4 codebook is a bounded collect turned broadcast
    * literal, so the assignment is pure map-side codegen. */
  private def pqCodes(s: SparkSession, dir: String): DataFrame =
    graft.BoundedDfCache.getOrPersist(s, s"sim:pqcodes:$dir") {
      val e = Tables.scan(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").as("v"))
      val seeds = e.filter(col("vec_id") < 16).collect()
        .map(r => (r.getLong(0),
          r.getAs[scala.collection.Seq[Float]](1).toArray))
        .sortBy(_._1)
      val m = 4
      val d = seeds.head._2.length / m
      def centLit(i: Int): Column = typedlit(
        seeds.toSeq.map(_._2.slice(i * d, (i + 1) * d)
          .map(_.toDouble).toSeq))
      def dists(i: Int): Column = transform(centLit(i), c =>
        aggregate(
          zip_with(slice(col("v"), lit(i * d + 1), lit(d)), c,
            (x, cc) => (x.cast("double") - cc) * (x.cast("double") - cc)),
          lit(0.0), (acc, t) => acc + t))
      val withD = e.select(
        col("vec_id") +: (0 until m).map(i => dists(i).as(s"_d$i")): _*)
      def code(i: Int): Column =
        (array_position(col(s"_d$i"), array_min(col(s"_d$i"))) - 1L)
          .cast("int")
      withD.select(col("vec_id") +:
        ((0 until m).map(i => code(i).as(s"code$i")) ++
          (0 until m).map(i => array_min(col(s"_d$i")).as(s"_md$i"))): _*)
    }


  /** The `sim_ann_lsh` plan (see the entry's comment for the design):
    * multi-table random-hyperplane buckets, bucket-join candidates,
    * exact-cosine re-rank to top-10. Hoisted so [[annTopK]] can cache it. */
  private def lshTopKBody(s: SparkSession, dir: String): DataFrame = {
    val planes = 8
    val tables = 2
    val e = embs(s, dir)
      .select(col("vec_id"), col("label"), col("v"), col("nrm"),
        posexplode(VectorFunctions.rphBuckets(col("v"), tables, planes))
          .as(Seq("tbl", "bucket")))
    val q = e.filter(col("vec_id") < 10)
      .toDF("qid", "qlabel", "q", "qn", "tbl", "bucket")
    val w = Window.partitionBy("qid")
      .orderBy(col("cosine").desc, col("vec_id"))
    broadcast(q).join(e, Seq("tbl", "bucket"))
      .filter(col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id"), col("label"), col("q"), col("v"),
        col("qn"), col("nrm"))
      .distinct() // candidate seen in >1 table counts once
      .select(col("qid"), col("vec_id"), col("label"),
        (dot(col("q"), col("v")) / (col("qn") * col("nrm"))).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
  }

  /** IVF ANN, parametrized: coarse-quantize to `kCentroids` (deterministic
    * spread seeds + `lloydIters` re-centering rounds, fixed-point means),
    * build inverted lists, probe each query's `nprobe` nearest lists.
    * Recall grows with nprobe at linear probe cost — the knob a deployment
    * tunes; DedupSimilaritySpec measures the curve. */
  /** Nearest-centroid assignment as a map-side fold: pack the (tiny)
    * centroid set `(cid, c)` into ONE broadcast row holding a cid-sorted
    * array of (cid, centroid, norm) and argmax the cosine inside a
    * higher-order `aggregate` — no explode, no window shuffle of k×N
    * rows, and no join of assignments back onto the vectors (the old
    * shape paid one shuffle + one join per Lloyd round; this pays zero on
    * the vector side — LayoutSpec asserts the executed plan carries no
    * hash-partitioned exchange). Scoring (`transform`) and argmax
    * (`aggregate`) are separate passes so each dot product is computed
    * exactly once — HOF lambdas get no common-subexpression elimination,
    * so a compare-then-take fold would pay every improving dot twice.
    * cid-sorted array + strict `>` keeps the lowest cid on exact ties —
    * the same deterministic tie-break the old row_number form had.
    * `vecs` needs columns (v: ARRAY<FLOAT>, nrm: DOUBLE); all its
    * columns pass through plus the assigned `cid`. */
  private[graft] def assignNearest(
      vecs: DataFrame, cents: DataFrame): DataFrame = {
    val centArr = cents.agg(
      array_sort(collect_list(struct(col("cid"), col("c"),
        VectorFunctions.floatNorm(col("c")).as("cn")))).as("cs"))
    vecs.crossJoin(broadcast(centArr))
      .withColumn("cid",
        aggregate(
          transform(col("cs"), cx => struct(
            (VectorFunctions.floatDot(col("v"), cx.getField("c"))
              / (col("nrm") * cx.getField("cn"))).as("d"),
            cx.getField("cid").as("cid"))),
          struct(lit(Double.NegativeInfinity).as("d"),
            lit(Long.MaxValue).as("cid")),
          (acc, sc) => when(sc.getField("d") > acc.getField("d"), sc)
            .otherwise(acc)).getField("cid"))
      .drop("cs")
  }

  /** Deterministic spread seeds + `lloydIters` re-centering rounds → the
    * k-row centroid table. Each round's centroid table is EAGERLY
    * localCheckpointed: round r's plan references round r-1's output, so
    * without materialization every later broadcast re-executes all
    * earlier rounds through lineage — O(iters²) full-corpus passes
    * instead of O(iters). localCheckpoint (not cache) because
    * CacheManager entries are pinned until an explicit unpersist — which
    * a lazily-returned result can never safely issue — while
    * checkpointed RDD blocks are reclaimed by the ContextCleaner once
    * the returned plan is garbage-collected. */
  private[graft] def lloydCentroids(
      e: DataFrame, kCentroids: Int, lloydIters: Int): DataFrame = {
    val n = e.count()
    val step = math.max(n / kCentroids, 1L)
    var cents = e.filter(col("vec_id") % step === 0)
      // orderBy before limit: an unordered limit is not guaranteed to pick
      // the same rows across planner changes — seeds must be deterministic
      .orderBy("vec_id")
      .limit(kCentroids)
      .select(col("vec_id").as("cid"), col("v").as("c"))
    // Lloyd re-centering: assign → fixed-point mean (exact,
    // order-independent) per centroid per dimension
    for (_ <- 1 to lloydIters) {
      cents = assignNearest(e, cents)
        .select(col("cid"), posexplode(col("v")).as(Seq("dim", "x")))
        .groupBy("cid", "dim")
        .agg(sum(floor(col("x").cast("double") * 1e6).cast("long")).as("sx"),
          count(lit(1)).as("cnt"))
        .groupBy("cid")
        .agg(array_sort(collect_list(struct(col("dim"),
          (col("sx").cast("double") / (col("cnt").cast("double") * 1e6))
            .cast("float").as("cx")))).as("dc"))
        .select(col("cid"), transform(col("dc"), p => p.getField("cx"))
          .as("c"))
        .localCheckpoint()
    }
    cents
  }

  def ivfTopK(
      s: SparkSession,
      dir: String,
      kCentroids: Int,
      nprobe: Int,
      lloydIters: Int = 1): DataFrame = {
    // cache the normalized vectors: the seed count, every Lloyd assign/
    // re-center round, the list build, and the query probe all traverse
    // them — the standard iterative-k-means shape (one materialization,
    // ~8 consumers; the ContextCleaner drops the blocks when the query
    // plan is garbage-collected)
    val e = embs(s, dir).cache()
    val cents = lloydCentroids(e, kCentroids, lloydIters)
    val lists = assignNearest(e, cents)
    val q = e.filter(col("vec_id") < 10)
    val probes = probeLists(q, cents, nprobe)
    topKFromLists(probes, lists)
  }

  /** Per-query nprobe nearest centroid lists: (qid, qv, qn, cid). */
  private def probeLists(
      q: DataFrame, cents: DataFrame, nprobe: Int): DataFrame = {
    val wq = Window.partitionBy("qid").orderBy(col("d").desc, col("cid"))
    q.select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qn"))
      .crossJoin(broadcast(cents))
      .select(col("qid"), col("qv"), col("qn"), col("cid"),
        (VectorFunctions.floatDot(col("qv"), col("c"))
          / (col("qn") * VectorFunctions.floatNorm(col("c")))).as("d"))
      .withColumn("r", row_number().over(wq))
      .filter(col("r") <= nprobe)
      .select("qid", "qv", "qn", "cid")
  }

  /** Exact cosine top-10 over the probed lists only. */
  private def topKFromLists(probes: DataFrame, lists: DataFrame): DataFrame = {
    val wr = Window.partitionBy("qid")
      .orderBy(col("cosine").desc, col("vec_id"))
    broadcast(probes).join(lists, Seq("cid"))
      .filter(col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id"), col("label"),
        (VectorFunctions.floatDot(col("qv"), col("v"))
          / (col("qn") * col("nrm"))).as("cosine"))
      .withColumn("rank", row_number().over(wr))
      .filter(col("rank") <= 10)
      .orderBy("qid", "rank")
  }

  /** Persist the IVF index — the "build once, probe many" production
    * shape `sim_ann_ivf`'s in-memory form cannot offer: the tiny
    * `centroids/` table plus the inverted lists written PARTITIONED BY
    * `cid`, so a probe of nprobe lists is a partition-pruned read that
    * touches nprobe directories of a billion-vector index instead of
    * scanning it. */
  def saveIvfIndex(
      s: SparkSession, dir: String, path: String,
      kCentroids: Int, lloydIters: Int): Unit = {
    val e = embs(s, dir).cache()
    try {
      val cents = lloydCentroids(e, kCentroids, lloydIters)
      cents.write.mode("overwrite").parquet(s"$path/centroids")
      assignNearest(e, cents)
        // cluster by list before the partitioned write: one writer owns
        // each inverted list, so a list is ONE sequential file instead of
        // (input partitions × lists) fragments — the layout a probe wants
        .repartition(kCentroids, col("cid"))
        .write.mode("overwrite").partitionBy("cid").parquet(s"$path/lists")
    } finally e.unpersist()
  }

  /** Probe a [[saveIvfIndex]] index: rank the stored centroids per query,
    * then read ONLY the probed list partitions. The probe cid set is a
    * bounded control-plane collect (≤ kCentroids longs) — it is what
    * turns the lists read into STATIC partition pruning, visible as
    * `PartitionFilters` on the scan (IvfIndexSpec asserts it). */
  def probeIvfIndex(
      s: SparkSession, path: String, queries: DataFrame,
      nprobe: Int): DataFrame = {
    val cents = s.read.parquet(s"$path/centroids")
    val probes = probeLists(queries, cents, nprobe)
    val cids = probes.select("cid").distinct().collect().map(_.getLong(0))
    val listsRaw = s.read.parquet(s"$path/lists")
    // the partition column comes back with the INFERRED type (int when
    // every cid fits) — match the literal type so the IN lands on the raw
    // partition attribute and prunes, then normalize for the join
    val inferredInt =
      listsRaw.schema("cid").dataType ==
        org.apache.spark.sql.types.IntegerType
    val vals: Seq[Any] =
      if (inferredInt) cids.toSeq.map(_.toInt) else cids.toSeq
    val lists = listsRaw.filter(col("cid").isin(vals: _*))
      .withColumn("cid", col("cid").cast("long"))
    topKFromLists(probes, lists)
  }

  val oracles: Map[String, String] = Map(
    // same dyadic-rational planes, same descending acc·2+bit code fold,
    // same fixed-order cosine tree — all values exact cross-engine
    "sim_lsh_buckets" ->
      s"""WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
         |c AS MATERIALIZED (SELECT vec_id, v, ${dyadicCode("v", 16)} AS code
         |  FROM e),
         |p AS (SELECT a.code,
         |    ${OracleSql.dot("a.v", "b.v")} / (${OracleSql.norm("a.v")} * ${OracleSql.norm("b.v")}) AS cosine
         |  FROM c a JOIN c b ON a.code = b.code AND a.vec_id < b.vec_id),
         |pa AS (SELECT code, CAST(COUNT(*) AS BIGINT) AS n_pairs,
         |    CAST(SUM(CASE WHEN cosine >= 0.2 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_close
         |  FROM p GROUP BY code),
         |bb AS (SELECT code, CAST(COUNT(*) AS BIGINT) AS n_vecs
         |  FROM c GROUP BY code HAVING COUNT(*) >= 2)
         |SELECT bb.code, bb.n_vecs,
         |  CAST(COALESCE(pa.n_pairs, 0) AS BIGINT) AS n_pairs,
         |  CAST(COALESCE(pa.n_close, 0) AS BIGINT) AS n_close
         |FROM bb LEFT JOIN pa ON bb.code = pa.code
         |ORDER BY bb.code""".stripMargin,

    // recall@10 as exact ints: sim_topk's brute-force top 10 as ground
    // truth, the two pinned searches (sim_ann_lsh_pinned's and
    // sim_ann_ivf_flat's, from the same fragments), hit counts via left
    // join so zero-hit queries keep their row
    "sim_ann_recall" -> {
      val exact =
        s"""SELECT q.vec_id AS qid, e.vec_id,
           |    ${OracleSql.dot("q.v", "e.v")} / (q.nrm * e.nrm) AS cosine
           |  FROM e q JOIN e ON q.vec_id < 10 AND q.vec_id != e.vec_id""".stripMargin
      val lsh =
        s"""SELECT q.vec_id AS qid, t.vec_id,
           |    ${OracleSql.dot("q.v", "t.v")} / (q.nrm * t.nrm) AS cosine
           |  FROM lc q JOIN lc t ON q.code = t.code
           |  WHERE q.vec_id < 10 AND q.vec_id != t.vec_id""".stripMargin
      s"""WITH $normed,
         |exact AS MATERIALIZED (${top10(exact)}),
         |lc AS MATERIALIZED (SELECT vec_id, v, nrm, ${dyadicCode("v", 8)} AS code
         |  FROM e),
         |l10 AS (${top10(lsh)}),
         |${ivfAssign()},
         |i10 AS (${top10(ivfScored(""))})
         |SELECT variant, qid, hits, k FROM (
         |  SELECT 'ivf_flat' AS variant, x.qid,
         |    CAST(COUNT(a.vec_id) AS BIGINT) AS hits,
         |    CAST(COUNT(*) AS BIGINT) AS k
         |  FROM exact x LEFT JOIN i10 a
         |    ON a.qid = x.qid AND a.vec_id = x.vec_id
         |  GROUP BY x.qid
         |  UNION ALL
         |  SELECT 'lsh_pinned' AS variant, x.qid,
         |    CAST(COUNT(b.vec_id) AS BIGINT) AS hits,
         |    CAST(COUNT(*) AS BIGINT) AS k
         |  FROM exact x LEFT JOIN l10 b
         |    ON b.qid = x.qid AND b.vec_id = x.vec_id
         |  GROUP BY x.qid)
         |ORDER BY variant, qid""".stripMargin
    },

    // sim_lsh_buckets' code at 8 planes + sim_topk's ranking over
    // in-bucket candidates — the ANN search result replayed relationally
    "sim_ann_lsh_pinned" ->
      s"""WITH $normed,
         |c AS MATERIALIZED (SELECT vec_id, v, nrm, ${dyadicCode("v", 8)} AS code
         |  FROM e),
         |scored AS (SELECT q.vec_id AS qid, t.vec_id,
         |    ${OracleSql.dot("q.v", "t.v")} / (q.nrm * t.nrm) AS cosine
         |  FROM c q JOIN c t ON q.code = t.code
         |  WHERE q.vec_id < 10 AND q.vec_id != t.vec_id)
         |${ranked("cosine DESC", "qid, vec_id, cosine")}""".stripMargin,

    // the same code; the query side fans out to the 9 probe codes
    // (base + every one-bit flip) before the bucket equi-join
    "sim_ann_lsh_multiprobe" ->
      s"""WITH $normed,
         |c AS MATERIALIZED (SELECT vec_id, v, nrm, ${dyadicCode("v", 8)} AS code
         |  FROM e),
         |qp AS (SELECT vec_id, v, nrm,
         |    unnest([code, xor(code, 1), xor(code, 2), xor(code, 4),
         |      xor(code, 8), xor(code, 16), xor(code, 32),
         |      xor(code, 64), xor(code, 128)]) AS pcode
         |  FROM c WHERE vec_id < 10),
         |scored AS (SELECT q.vec_id AS qid, t.vec_id,
         |    ${OracleSql.dot("q.v", "t.v")} / (q.nrm * t.nrm) AS cosine
         |  FROM qp q JOIN c t ON q.pcode = t.code
         |  WHERE q.vec_id != t.vec_id)
         |${ranked("cosine DESC", "qid, vec_id, cosine")}""".stripMargin,

    // the IVF assignment/probe CTEs, then exact-cosine re-ranking inside
    // the probed lists
    "sim_ann_ivf_flat" ->
      s"""WITH $normed,
         |${ivfAssign()},
         |scored AS (${ivfScored(", ve.label")})
         |${ranked("cosine DESC", "qid, vec_id, label, cosine")}""".stripMargin,

    // the same element-order fold without normalization: raw inner
    // product, rank by (ip DESC, vec_id)
    "sim_mips" ->
      s"""WITH e AS (SELECT vec_id, label, embedding AS v FROM embeddings),
         |scored AS (SELECT q.vec_id AS qid, e.vec_id, e.label,
         |    ${OracleSql.dot("q.v", "e.v")} AS ip
         |  FROM e q JOIN e ON q.vec_id < 10 AND q.vec_id != e.vec_id)
         |${ranked("ip DESC", "qid, vec_id, label, ip")}""".stripMargin,

    "sim_topk" ->
      s"""WITH $normed,
         |scored AS (SELECT q.vec_id AS qid, e.vec_id, e.label,
         |    ${OracleSql.dot("q.v", "e.v")} / (q.nrm * e.nrm) AS cosine
         |  FROM e q JOIN e ON q.vec_id < 10 AND q.vec_id != e.vec_id)
         |${ranked("cosine DESC", "qid, vec_id, label, cosine")}""".stripMargin,

    // same fixed-order fold, τ filter instead of the top-k window
    "sim_range_search" ->
      s"""WITH $normed,
         |scored AS (SELECT q.vec_id AS qid, e.vec_id,
         |    ${OracleSql.dot("q.v", "e.v")} / (q.nrm * e.nrm) AS cosine
         |  FROM e q JOIN e ON q.vec_id < 10 AND q.vec_id != e.vec_id)
         |SELECT qid, vec_id, cosine FROM scored
         |WHERE cosine >= 0.30 ORDER BY qid, vec_id""".stripMargin,

    "sim_centroids" ->
      s"""WITH dims AS (SELECT label, u.dim - 1 AS dim, u.x
         |  FROM (SELECT label,
         |          unnest(embedding) AS x,
         |          generate_subscripts(embedding, 1) AS dim
         |        FROM embeddings) u(label, x, dim)),
         |cd AS (SELECT label, dim,
         |    CAST(SUM(CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT))
         |      AS DOUBLE) / (CAST(COUNT(*) AS DOUBLE) * 1000000) AS c
         |  FROM dims GROUP BY label, dim),
         |cent AS (SELECT label,
         |    list_transform(list_sort(list(struct_pack(dim := dim, c := c))),
         |      s -> s.c) AS centroid
         |  FROM cd GROUP BY label)
         |SELECT a.label AS la, b.label AS lb,
         |  ${OracleSql.dot("a.centroid", "b.centroid")}
         |  / (${OracleSql.norm("a.centroid")} * ${OracleSql.norm("b.centroid")}) AS cosine
         |FROM cent a JOIN cent b ON a.label < b.label
         |ORDER BY la, lb""".stripMargin,

    // the IVF assignment CTEs (OracleSql.ivfAssign), then the re-centering
    // CTEs of sim_centroids' fixed-point mean
    "sim_kmeans" ->
      s"""WITH $normed,
         |${ivfAssign(", v")},
         |dims AS (SELECT cluster, u.dim - 1 AS dim, u.x
         |  FROM (SELECT cluster, unnest(v) AS x,
         |          generate_subscripts(v, 1) AS dim
         |        FROM asg) u(cluster, x, dim)),
         |cd AS (SELECT cluster, dim,
         |    CAST(SUM(CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT))
         |      AS DOUBLE) / (CAST(COUNT(*) AS DOUBLE) * 1000000) AS cx,
         |    COUNT(*) AS cnt
         |  FROM dims GROUP BY cluster, dim),
         |nc AS (SELECT cluster, CAST(MAX(cnt) AS BIGINT) AS n,
         |    list_transform(list_sort(list(struct_pack(dim := dim, cx := cx))),
         |      s -> s.cx) AS centroid
         |  FROM cd GROUP BY cluster),
         |fin AS (SELECT nc.cluster, nc.n, nc.centroid,
         |    sqrt(${sqDist("nc.centroid", "c.cv")}) AS shift
         |  FROM nc JOIN c ON nc.cluster = c.cid)
         |SELECT cluster, CAST(dim - 1 AS INT) AS dim, cx, n, shift
         |FROM (SELECT cluster, n, shift, unnest(centroid) AS cx,
         |        generate_subscripts(centroid, 1) AS dim
         |      FROM fin) u
         |ORDER BY cluster, dim""".stripMargin,

    "sim_quantize" ->
      s"""WITH e AS (SELECT vec_id, embedding AS v,
         |  list_aggregate(list_transform(embedding,
         |    x -> abs(CAST(x AS DOUBLE))), 'max') AS maxabs
         |  FROM embeddings),
         |s AS (SELECT vec_id, v, maxabs, maxabs / 127.0 AS scale FROM e)
         |SELECT vec_id, maxabs, scale,
         |  ${int8Checksum("v")} AS checksum,
         |  list_reduce(list_prepend(CAST(0 AS BIGINT),
         |    list_transform(v, x -> CASE WHEN scale != 0 AND
         |        abs(${int8("x")}) = 127
         |      THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END)),
         |    (a, b) -> a + b) AS n_sat,
         |  list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |    list_transform(v, x ->
         |      (CAST(x AS DOUBLE) - ${int8("x")} * scale)
         |      * (CAST(x AS DOUBLE) - ${int8("x")} * scale))),
         |    (a, b) -> a + b) AS sse
         |FROM s ORDER BY vec_id""".stripMargin,

    "sim_pq" ->
      s"""WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
         |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 16),
         |${OracleSql.pqCodes}
         |SELECT vec_id,
         |  CAST(MAX(CASE WHEN m = 0 THEN code END) AS INT) AS code0,
         |  CAST(MAX(CASE WHEN m = 1 THEN code END) AS INT) AS code1,
         |  CAST(MAX(CASE WHEN m = 2 THEN code END) AS INT) AS code2,
         |  CAST(MAX(CASE WHEN m = 3 THEN code END) AS INT) AS code3,
         |  CAST(SUM(code * (16 ** m)) AS BIGINT) AS code_packed,
         |  list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |    list(dist ORDER BY m)), (a, b) -> a + b) AS sse
         |FROM best GROUP BY vec_id ORDER BY vec_id""".stripMargin,

    // ADC search oracle: the PQ code table (OracleSql.pqCodes), every
    // (query, vector) pair scored by joining each code to its centroid
    // subvector — the relational statement of the LUT lookup — and the
    // ADC top-10 compared against the exact L2 top-10
    "sim_pq_recall" ->
      s"""WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
         |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 16),
         |${OracleSql.pqCodes},
         |${pqRecall("best b", "qs.qid != b.vec_id")}""".stripMargin,

    // IVF-PQ: the IVF probe lists (OracleSql.ivfAssign), the PQ code
    // table, ADC restricted to the probed candidates
    "sim_ann_ivfpq_recall" ->
      s"""WITH $normed,
         |${ivfAssign()},
         |${OracleSql.pqCodes},
         |${pqRecall("cand ca JOIN best b ON b.vec_id = ca.vec_id",
             "qs.qid = ca.qid")}""".stripMargin)

  /** `e(vec_id, label, v, nrm)`: every embedding with its
    * [[OracleSql.norm]]. */
  private def normed: String =
    s"""e AS MATERIALIZED (SELECT vec_id, label, embedding AS v,
       |    ${OracleSql.norm("embedding")} AS nrm
       |  FROM embeddings)""".stripMargin

  /** The top-10 `(qid, vec_id)` rows of a `(qid, vec_id, cosine)` query,
    * ties to the lower vec_id. */
  private def top10(scored: String): String =
    s"""SELECT qid, vec_id FROM (
       |    SELECT qid, vec_id, ROW_NUMBER() OVER (PARTITION BY qid
       |      ORDER BY cosine DESC, vec_id) AS rank FROM ($scored))
       |  WHERE rank <= 10""".stripMargin

  /** The graded top-10 select over `scored`: rank by `order`, ties to the
    * lower vec_id, then `cols` and the rank. */
  private def ranked(order: String, cols: String): String =
    s"""SELECT $cols, rank FROM (
       |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY qid
       |    ORDER BY $order, vec_id) AS INT) AS rank
       |  FROM scored)
       |WHERE rank <= 10 ORDER BY qid, rank""".stripMargin

  /** Exact cosine of every vector in a query's probed IVF lists
    * ([[OracleSql.ivfAssign]]'s `cand`), plus `cols`. */
  private def ivfScored(cols: String): String =
    s"""SELECT cd.qid, cd.vec_id$cols,
       |    ${OracleSql.dot("qe.v", "ve.v")} / (qe.nrm * ve.nrm) AS cosine
       |  FROM cand cd
       |  JOIN e qe ON qe.vec_id = cd.qid
       |  JOIN e ve ON ve.vec_id = cd.vec_id""".stripMargin

  /** ADC recall@10 against the exact L2 top 10, over the PQ code table
    * ([[OracleSql.pqCodes]]): `from` yields the scored (query, vector)
    * code rows `b`, `on` ties a query subvector `qs` to them. Mirrors
    * `adcTopK` and [[l2TopK]]. */
  private def pqRecall(from: String, on: String): String =
    s"""q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10),
       |qsub AS MATERIALIZED (SELECT vec_id AS qid, m, sv AS qs
       |  FROM sub WHERE vec_id < 10),
       |term AS (SELECT qs.qid, b.vec_id, b.m,
       |    ${sqDist("qs.qs", "cs.cs")} AS t
       |  FROM $from
       |  JOIN csub cs ON b.m = cs.m AND b.code = cs.cid
       |  JOIN qsub qs ON qs.m = b.m AND $on),
       |adist AS (SELECT qid, vec_id,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list(t ORDER BY m)), (a, b) -> a + b) AS adist
       |  FROM term GROUP BY qid, vec_id),
       |atop AS (SELECT qid, vec_id FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
       |      ORDER BY adist, vec_id) AS rn FROM adist) WHERE rn <= 10),
       |ex AS (SELECT q.qid, e.vec_id, ${sqDist("q.qv", "e.v")} AS dist
       |  FROM q JOIN e ON q.qid != e.vec_id),
       |etop AS (SELECT qid, vec_id FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
       |      ORDER BY dist, vec_id) AS rn FROM ex) WHERE rn <= 10)
       |SELECT et.qid, CAST(COUNT(at.vec_id) AS BIGINT) AS hits,
       |  CAST(COUNT(at.vec_id) AS DOUBLE) / 10.0 AS recall
       |FROM etop et LEFT JOIN atop at
       |  ON et.qid = at.qid AND et.vec_id = at.vec_id
       |GROUP BY et.qid ORDER BY et.qid""".stripMargin

  /** Warm-start targets (see [[graft.Prewarm]]). */
  override def prewarm: Seq[graft.Prewarm.Task] = Seq(
    graft.Prewarm.Task("sim:tables", 2.5, (s, d) => {
      exactTopK(s, d); lshPinnedTopK(s, d); ivfFlatTopK(s, d)
      annTopK(s, d, "lsh"); annTopK(s, d, "ivf")
      l2TopK(s, d); pqCodes(s, d)
      ()
    }))

}
