package graft.operators

/** The DuckDB text that several `oracles` entries share, stated once.
  *
  * Each fragment is the oracle-side twin of one engine kernel or one
  * fixture rule, named in its Scaladoc, so the two sides can be compared
  * in one place. Expression fragments are plain SQL expressions; CTE
  * fragments are comma-joinable `name AS (...)` lists without `WITH`.
  * Lambda parameters inside a fragment never capture its arguments: the
  * arguments sit outside every lambda body. */
object OracleSql {

  // ---- vector kernels (graft.functions.VecOps) ----

  /** Fixed-order double dot product of two float or double lists:
    * multiply-adds in element order from 0.0, the IEEE sequence of
    * `VecOps.dot` / `VecOps.dotd`, so the value is bit-identical. */
  def dot(a: String, b: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(list_zip($a, $b),
       |        p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))),
       |      (x, y) -> x + y)""".stripMargin

  /** The matching norm, `sqrt(dot(v, v))`, as `VectorFunctions.floatNorm`
    * / `doubleNorm` state it. */
  def norm(v: String): String = s"sqrt(${dot(v, v)})"

  /** Squared L2 distance in element order: the `aggregate(zip_with(a, b,
    * (x, y) -> (x - y)²), 0.0, +)` fold of `SimilarityQueries.l2TopK` and
    * the PQ code tables. */
  def sqDist(a: String, b: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(list_zip($a, $b),
       |        p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
       |           * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))),
       |      (x, y) -> x + y)""".stripMargin

  /** `VecOps.dyadicLshCode(v, planes)`: the sign code of the pinned
    * dyadic-rational planes w(p, d) = ((p·64 + d)·2654435761 mod 4096)/4096
    * − 1/2, folded over planes−1..0 as acc·2 + [dot ≥ 0]. */
  def dyadicCode(v: String, planes: Int): String =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(range(${planes - 1}, -1, -1), pp ->
       |        CASE WHEN list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |            list_transform(list_zip($v, range(0, 64)),
       |              q -> CAST(q[1] AS DOUBLE) *
       |                (CAST((pp * 64 + q[2]) * 2654435761 % 4096
       |                   AS DOUBLE) / 4096 - 0.5))),
       |            (a, b) -> a + b) >= 0
       |          THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END)),
       |      (a, b) -> a * 2 + b)""".stripMargin

  /** `sim_quantize`'s int8 code of one element: x/scale (the `scale`
    * column) rounded half up, 0 when the scale is 0 (the engine's
    * `sim_quantize` expression). */
  def int8(x: String): String =
    s"""(CASE WHEN scale = 0 THEN 0
       |         ELSE CAST(floor(CAST($x AS DOUBLE)/scale + 0.5) AS BIGINT)
       |         END)""".stripMargin

  /** Σ int8(v[i]) · i over 1-based positions: `sim_quantize`'s checksum. */
  def int8Checksum(v: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
       |    list_transform(list_zip($v, range(1, len($v)+1)),
       |      p -> ${int8("p[1]")} * p[2])),
       |    (a, b) -> a + b)""".stripMargin

  /** The IVF assignment CTEs over `e(vec_id, v, nrm)`: the first 16
    * vectors are the centroids `c(cid, cv, cn)`, `sc` scores every vector
    * against each by cosine, `asg` keeps the argmax (ties to the lower
    * cid), `probe` the two best lists of each of the 10 query vectors and
    * `cand(qid, vec_id)` their members other than the query. Mirrors
    * `SimilarityQueries`' coarse quantizer. `asgCols` are the extra `sc`
    * columns `asg` carries. */
  def ivfAssign(asgCols: String = ""): String =
    s"""c AS MATERIALIZED (SELECT vec_id AS cid, v AS cv, nrm AS cn
       |  FROM e WHERE vec_id < 16),
       |sc AS (SELECT e.vec_id, e.v, e.nrm, c.cid,
       |    ${dot("e.v", "c.cv")} / (e.nrm * c.cn) AS cos
       |  FROM e CROSS JOIN c),
       |asg AS MATERIALIZED (SELECT vec_id$asgCols, cid AS cluster FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
       |      ORDER BY cos DESC, cid) AS rn FROM sc) WHERE rn = 1),
       |probe AS MATERIALIZED (SELECT vec_id AS qid, cid FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
       |      ORDER BY cos DESC, cid) AS rn FROM sc WHERE vec_id < 10)
       |  WHERE rn <= 2),
       |cand AS MATERIALIZED (SELECT p.qid, a.vec_id
       |  FROM probe p JOIN asg a ON a.cluster = p.cid
       |  WHERE a.vec_id != p.qid)""".stripMargin

  /** The PQ code table over `e(vec_id, v)` and the centroids `c(cid, cv)`:
    * 4 subvectors of 16 dims (`sub`, `csub`), each coded by its nearest
    * centroid subvector in squared L2, ties to the lower cid (`best`).
    * Mirrors `SimilarityQueries.pqCodes`. */
  val pqCodes: String =
    s"""sub AS MATERIALIZED (SELECT vec_id, m, v[m*16+1 : (m+1)*16] AS sv
       |  FROM (SELECT vec_id, v, unnest(range(0, 4)) AS m FROM e)),
       |csub AS MATERIALIZED (SELECT cid, m, cv[m*16+1 : (m+1)*16] AS cs
       |  FROM (SELECT cid, cv, unnest(range(0, 4)) AS m FROM c)),
       |d AS (SELECT s.vec_id, s.m, cs.cid,
       |    ${sqDist("s.sv", "cs.cs")} AS dist
       |  FROM sub s JOIN csub cs ON s.m = cs.m),
       |best AS MATERIALIZED (SELECT vec_id, m, cid AS code, dist FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, m
       |      ORDER BY dist, cid) AS rn FROM d) WHERE rn = 1)""".stripMargin

  // ---- text kernels ----

  /** Whitespace tokens of `lower(trim(text))`: `TextQueries.toks`, the
    * `w` that `VecOps.wordShingles` windows. */
  def words(text: String = "text"): String =
    s"regexp_split_to_array(lower(trim($text)), '\\s+')"

  /** The n-word shingles of the token list `w`, `[]` when it has fewer
    * than n tokens: `VecOps.wordShingles(text, n)`. */
  def shingles(n: Int): String =
    s"""CASE WHEN len(w) >= $n THEN
       |      list_transform(range(1, len(w) - ${n - 2}),
       |        i -> array_to_string(w[i:i+${n - 1}], ' '))
       |      ELSE [] END""".stripMargin

  /** `VecOps.charFold(s)`: the polynomial code-point hash
    * h = (h·1000003 + cp) mod 1000000007. */
  def charFold(s: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(string_split($s, ''),
       |        c -> CAST(ord(c) AS BIGINT))),
       |      (a, b) -> (a * 1000003 + b) % 1000000007)""".stripMargin

  /** The `tf(doc_id, term, tf)` CTE: per-document counts of [[words]],
    * the term table `TextQueries`' tf-idf, bm25 and classifier builds
    * count over. */
  val termFreq: String =
    s"""tf AS MATERIALIZED (SELECT doc_id, term, COUNT(*) AS tf
       |  FROM (SELECT doc_id, unnest(${words()}) AS term FROM documents)
       |  GROUP BY doc_id, term)""".stripMargin

  /** Count of punctuation characters in `text`
    * (`PipelineQueries.docQualityMetrics`' `n_punct`). */
  val punctCount: String = "len(regexp_extract_all(text, '[^A-Za-z0-9\\s]'))"

  /** Count of English stopwords in `text`
    * (`PipelineQueries.docQualityMetrics`' `n_stop`). */
  val stopCount: String =
    "len(regexp_extract_all(lower(text), '\\b(the|a|of|and|to|in|is|it)\\b'))"

  /** `PipelineQueries.docQualityMetrics`' double columns `n_tokens`,
    * `n_chars`, `n_punct`, `n_stop` of one `documents` row. */
  val qualityCols: String =
    s"""CAST(len(${words()}) AS DOUBLE) AS n_tokens,
       |    CAST(length(text) AS DOUBLE) AS n_chars,
       |    CAST($punctCount AS DOUBLE) AS n_punct,
       |    CAST($stopCount AS DOUBLE) AS n_stop""".stripMargin

  /** The document quality score over [[qualityCols]]: the formula of
    * `TextQueries`' `text_quality` and `PipelineQueries.sourceQualityAgg`. */
  val qualityScore: String =
    """least(1.0, n_tokens / 50.0) * (1.0 - n_punct / n_chars)
      |      * (1.0 - 0.5 * n_stop / n_tokens)""".stripMargin

  /** The verified near-duplicate pair chain over `src(doc_id, text)`:
    * `toks` → `sh` (distinct 4-word shingles) → `sizes` → `rare` (df ≤ 50)
    * → `cand` → `pairs(da, db, common)` → `jp(da, db, jaccard)`, the pairs
    * of exact shingle Jaccard ≥ 0.5. Mirrors `DedupQueries`' shared pair
    * table (`sharedPairs`). It ends at `jp`, so an oracle may continue
    * with `,\ne AS (SELECT`: the seam `tools/check.py --sf1` slices at. */
  def jaccardPairs(src: String = "documents"): String =
    s"""toks AS (SELECT doc_id, ${words()} AS w FROM $src),
       |sh AS MATERIALIZED (SELECT DISTINCT doc_id,
       |    unnest(${shingles(4)}) AS s
       |  FROM toks),
       |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
       |rare AS (SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= 50),
       |cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
       |  FROM sh a JOIN rare r ON a.s = r.s
       |  JOIN sh b ON b.s = a.s AND a.doc_id < b.doc_id),
       |pairs AS MATERIALIZED (SELECT c.da, c.db, COUNT(*) AS common
       |  FROM cand c
       |  JOIN sh a ON a.doc_id = c.da
       |  JOIN sh b ON b.doc_id = c.db AND b.s = a.s
       |  GROUP BY 1, 2),
       |jp AS MATERIALIZED (SELECT da, db,
       |    common / (sa.n + sb.n - common) AS jaccard
       |  FROM pairs
       |  JOIN sizes sa ON da = sa.doc_id
       |  JOIN sizes sb ON db = sb.doc_id
       |  WHERE common / (sa.n + sb.n - common) >= 0.5)""".stripMargin

  // ---- the fixture changelog (CdcOps.synthOrdersChangelog) ----

  /** `base`: each `orders` row under the connector's type modes
    * (decimal as string, dates as epoch micros). Ends with a newline. */
  val ordersBase: String =
    """WITH base AS (
      |  SELECT o_orderkey, o_custkey, o_orderstatus,
      |         CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS VARCHAR) AS o_totalprice,
      |         epoch_us(o_orderdate) AS o_orderdate_us,
      |         o_orderpriority
      |  FROM orders)
      |""".stripMargin

  /** The status a key ends with: the fixture updates every k%10 key to
    * 'X' (CdcOps.synthOrdersChangelog). */
  val finalStatus: String =
    "CASE WHEN o_orderkey % 10 = 0 THEN 'X' ELSE o_orderstatus END"

  /** The compacted `orders` state after the fixture changelog: every key
    * but the k%7 deletes, with [[finalStatus]], ordered by key. `where`
    * narrows the keys (`" AND o_orderkey % 4 = 0"`), `cols` appends
    * columns (`",\n o_note"`). */
  def compactedOrders(where: String = "", cols: String = ""): String =
    ordersBase +
      s"""SELECT o_orderkey, o_custkey,
         |       $finalStatus AS o_orderstatus,
         |       o_totalprice, o_orderdate_us, o_orderpriority$cols
         |FROM base WHERE o_orderkey % 7 <> 0$where
         |ORDER BY o_orderkey""".stripMargin

  /** `ev(tbl, txid, lsn)`: every event of the transaction-tagged fixture
    * feed (`CdcOps.txnMetaShared`): orders insert/update/delete at lsn
    * 10k / 10k+5 (k%10) / 10k+8 (k%7), users insert/update at 10c /
    * 10c+5 (c%5), txid = lsn/2. The k%20 replay is not generated: the
    * engine drops it by (collection, lsn) before counting. */
  val txnEvents: String =
    """ev AS (
      |  SELECT 'orders' AS tbl, o_orderkey*5 AS txid, o_orderkey*10 AS lsn
      |  FROM orders
      |  UNION ALL
      |  SELECT 'orders', o_orderkey*5+2, o_orderkey*10+5
      |  FROM orders WHERE o_orderkey % 10 = 0
      |  UNION ALL
      |  SELECT 'orders', o_orderkey*5+4, o_orderkey*10+8
      |  FROM orders WHERE o_orderkey % 7 = 0
      |  UNION ALL
      |  SELECT 'users', c_custkey*5, c_custkey*10 FROM customer
      |  UNION ALL
      |  SELECT 'users', c_custkey*5+2, c_custkey*10+5
      |  FROM customer WHERE c_custkey % 5 = 0)""".stripMargin
}
