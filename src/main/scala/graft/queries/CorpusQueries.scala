package graft.queries

import org.apache.spark.sql.functions._

import graft.operators.{Clustering, Dedup, Graph, Guard, Normalize, Profile, Quantize, Retrieval, Sampling, TextAnalysis, Train}

/** Round-4 corpus-curation and embedding-clustering queries: character
  * entropy screens, cross-document boilerplate detection, unigram-LM
  * perplexity-proxy scoring, Lloyd (k-means) assignment/update steps,
  * and the ORC source/sink round-trip.
  *
  * Float discipline (the gate hash-compares doubles bit-for-bit): every
  * double sum here is a left-fold in a deterministic order (sorted
  * chars / sorted terms / lane order / vec-id order) mirrored by DuckDB
  * `list_reduce` over an `ORDER BY`-built list, so both engines reduce
  * in the identical sequence. Single divisions and `ln` on this domain
  * agree bit-for-bit (pinned since round 2 by q_tfidf).
  */
object CorpusQueries {

  private val SqlToks = "regexp_split_to_array(text, '\\s+')"

  /** The shared ln table as a DuckDB list literal — the SAME doubles the
    * Spark side reads ([[TextAnalysis.LnTable]]); the e0 suffix forces
    * DOUBLE literals (bare decimals parse as DECIMAL in DuckDB) and the
    * shortest-repr round-trip restores each bit pattern exactly.
    */
  private lazy val LnTabSql: String =
    TextAnalysis.LnTable.map(d => s"${d}e0").mkString("[", ", ", "]")

  /** k for the Lloyd-step queries: first k vec_ids seed the centroids. */
  val KClusters = 8

  /** Table ln of an integer SQL expression, mirroring
    * [[TextAnalysis.lnInt]]: list index out of range yields NULL, so
    * COALESCE falls back to runtime ln exactly where the Spark side
    * falls back to runtime log (beyond-table = best-effort domain, but
    * never a silent NULL row drop).
    */
  private def lnSql(k: String): String =
    s"COALESCE(l[$k], ln(CAST($k AS DOUBLE)))"

  /** The unigram-surprisal chain over an arbitrary source CTE/table,
    * suffix-namespaced so one query can rate TWO corpora (the DoReMi
    * round-2 re-rating) — ends in `sur<sfx>(id, n_tokens, nll_tab)`.
    * Requires `lnt` in scope (defined once by [[UnigramSurCtes]]).
    */
  private def unigramSurOver(src: String, sfx: String): String =
    s"""tf$sfx AS (
       |  SELECT id, term, COUNT(*) AS tf
       |  FROM (SELECT doc_id AS id, unnest(regexp_split_to_array(text, '\\s+')) AS term FROM $src)
       |  GROUP BY id, term
       |), tc$sfx AS (SELECT term, CAST(SUM(tf) AS BIGINT) AS n FROM tf$sfx GROUP BY term),
       |contrib$sfx AS (
       |  SELECT id, term, tf,
       |    CAST(tf AS DOUBLE) * ${lnSql("n")} AS c
       |  FROM tf$sfx JOIN tc$sfx USING (term) CROSS JOIN lnt
       |), sur$sfx AS (
       |  SELECT id, CAST(SUM(tf) AS BIGINT) AS n_tokens,
       |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(c ORDER BY term)),
       |                (a, b) -> a + b) AS nll_tab
       |  FROM contrib$sfx GROUP BY id
       |)""".stripMargin

  /** Unigram-surprisal CTE chain ending in `sur(id, n_tokens, nll_tab)`
    * — shared verbatim by q_unigram_nll and q_hard_examples so the
    * pinned surprisal components cannot drift between gates.
    */
  private lazy val UnigramSurCtes: String =
    s"""lnt AS (SELECT $LnTabSql AS l),
       |${unigramSurOver("documents", "")}""".stripMargin

  /** The DoReMi excess-loss weight chain over a rated corpus: the
    * SHIFTED loss rate −tab_rate (true per-token loss is
    * ln ΣN − tab_rate; the corpus constant cancels in the excess, the
    * q_hard_examples monotone trick, so the chain stays pure table
    * reads) grid-snaps per group → excess over the easiest (lowest-
    * loss) group → ordered-fold normalizer → weight. The HARDEST
    * language takes the largest weight; baseline languages take 0.
    * Ends in `w<sfx>(lang, n, weight)`. Shared by q_doremi_weights,
    * q_doremi_sample and BOTH rounds of q_doremi_iter2 so the decision
    * arithmetic cannot drift between the observation and the loop.
    */
  private def doremiWeightCtes(surCte: String, docSrc: String, sfx: String): String =
    s"""g$sfx AS (
       |  SELECT d.lang,
       |    CAST(SUM(CAST(FLOOR(-(s.nll_tab / CAST(s.n_tokens AS DOUBLE)) * 1048576.0) AS BIGINT)) AS BIGINT) AS sq,
       |    COUNT(*) AS n
       |  FROM $surCte s JOIN $docSrc d ON s.id = d.doc_id
       |  GROUP BY d.lang
       |), m$sfx AS (
       |  SELECT lang, n, CAST(sq AS DOUBLE) / CAST(n AS DOUBLE) AS mean_q FROM g$sfx
       |), b$sfx AS (
       |  SELECT MIN(mean_q) AS mn, COUNT(*) AS n_groups FROM m$sfx
       |), e$sfx AS (
       |  SELECT lang, n, mean_q - mn AS excess, n_groups FROM m$sfx, b$sfx
       |), z$sfx AS (
       |  SELECT list_reduce(
       |    list_prepend(CAST(0.0 AS DOUBLE), (SELECT list(excess ORDER BY lang) FROM e$sfx)),
       |    (a, b) -> a + b) AS z
       |), w$sfx AS (
       |  SELECT lang, n,
       |    CASE WHEN z = 0 THEN 1.0 / CAST(n_groups AS DOUBLE)
       |         ELSE excess / z END AS weight
       |  FROM e$sfx, z$sfx
       |)""".stripMargin

  /** The DSIR hashed-unigram chain (token → 64-bucket polyhash →
    * add-one-smoothed target/raw bucket model → per-doc log-ratio fold)
    * — shared verbatim by q_dsir_weights and q_dsir_sample so the
    * decision arithmetic cannot drift between the observation and the
    * selection. Ends in `pd(doc_id, n_tokens, lr_tab)`; mirrors
    * [[graft.operators.Sampling.dsirLogRatios]] with target
    * `lang = 'en'`, 64 buckets, countScale 4.
    */
  private lazy val DsirCtes: String =
    s"""lnt AS (SELECT $LnTabSql AS l),
       |dtb AS (
       |  SELECT doc_id, t,
       |    CASE WHEN tok = '' THEN 0 ELSE list_reduce(
       |      list_prepend(CAST(0 AS BIGINT),
       |        list_transform(str_split(tok, ''), c -> CAST(ascii(c) AS BIGINT))),
       |      (h, c) -> (h * 31 + c) % 1000000007) % 64 END AS b
       |  FROM (SELECT doc_id, lang = 'en' AS t,
       |          unnest(regexp_split_to_array(text, '\\s+')) AS tok
       |        FROM documents)
       |), dtf AS (
       |  SELECT doc_id, t, b, COUNT(*) AS tf FROM dtb GROUP BY 1, 2, 3
       |), dbt AS (
       |  SELECT b,
       |    CAST(COALESCE(SUM(CASE WHEN t THEN tf END), 0) AS BIGINT) AS ct,
       |    CAST(SUM(tf) AS BIGINT) AS cr
       |  FROM dtf GROUP BY b
       |), ddl AS (
       |  SELECT b, ${lnSql("ct // 4 + 1")} - ${lnSql("cr // 4 + 1")} AS delta
       |  FROM dbt CROSS JOIN lnt
       |), pd AS (
       |  SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tokens,
       |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |      list(CAST(tf AS DOUBLE) * delta ORDER BY b)), (a, c) -> a + c) AS lr_tab
       |  FROM dtf JOIN ddl USING (b) GROUP BY doc_id
       |)""".stripMargin

  /** The DSIR SCREEN chain (model fitted on even doc_ids, target
    * lang='en', centered by the totals-div-64 constant, every doc
    * rated by the token-order fold) — shared verbatim by q_dsir_screen
    * and q_curation_v3 so the screen the flagship composes cannot
    * drift from the gated one. Requires `lnt` in scope; ends in
    * `sc(doc_id, n_tokens, score)` with score already centered.
    */
  private lazy val DsirScreenCtes: String = dsirScreenCtesFrom("doc_id % 2 = 0", "")

  /** The link-graph gates' archives per key: 8 WAT metadata records
    * (q_wat_links, q_wat_graph, q_frontier_authority) and 8 HTML
    * response records (q_html_links, q_html_graph, q_html_frontier).
    */
  private val watArchive: Long => Array[Byte] = graft.operators.Warc.syntheticWat(_, 8)
  private val htmlArchive: Long => Array[Byte] = graft.operators.Warc.syntheticWarcHtml(_, 8)

  /** The closed-form domain link graph + two unrolled integer-PageRank
    * iterations, shared by q_pagerank_domains (the observation) and
    * q_authority_sample (the selection) so the rank arithmetic cannot
    * drift between them — the DsirCtes discipline. Ends in
    * `r2(node, rank)`; the paired Spark-side builders are
    * [[graphDomainOf]]/[[graphEdges]].
    */
  private val GraphDoms = Seq("alpha", "beta", "gamma", "delta", "epsilon")
  private val GraphTlds = Seq("com", "co.uk", "org")

  private def graphDomainOf(id: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat(
      element_at(lit(GraphDoms.toArray), (id % 5).cast("int") + 1), lit("."),
      element_at(lit(GraphTlds.toArray), (id % 3).cast("int") + 1))

  private def graphEdgesFrom(docs: org.apache.spark.sql.DataFrame,
      domShift: Int, tldShift: Int): org.apache.spark.sql.DataFrame =
    docs.select(
      graphDomainOf(col("doc_id")).as("src"),
      concat(
        element_at(lit(GraphDoms.toArray), ((col("doc_id") + domShift) % 5).cast("int") + 1),
        lit("."),
        element_at(lit(GraphTlds.toArray), ((col("doc_id") + tldShift) % 3).cast("int") + 1))
        .as("dst"))

  private def graphEdges(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    graphEdgesFrom(docs, 2, 1)

  /** The drift batch links DIFFERENTLY (shifted dst formula) — the
    * planted structural change q_pagerank_drift must detect. */
  private def graphEdgesShifted(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    graphEdgesFrom(docs, 3, 2)

  /** dom picked by `domIdExpr % 5`, tld by `tldIdExpr % 3` — the dst
    * side of the link graph shifts the two independently. */
  // NOTE: no line in this fragment may BEGIN with whitespace + '|' —
  // the embedding oracle's own stripMargin would eat one pipe of a
  // line-leading '||' and corrupt the concat operator
  private def domainSql(domIdExpr: String, tldIdExpr: String): String =
    s"""CASE CAST(($domIdExpr) % 5 AS INT) WHEN 0 THEN 'alpha' WHEN 1 THEN 'beta'
       |         WHEN 2 THEN 'gamma' WHEN 3 THEN 'delta' ELSE 'epsilon' END ||
       |    '.' ||
       |    CASE CAST(($tldIdExpr) % 3 AS INT) WHEN 0 THEN 'com' WHEN 1 THEN 'co.uk'
       |         ELSE 'org' END""".stripMargin

  private def domainSql(idExpr: String): String = domainSql(idExpr, idExpr)

  /** Count-Min oracle fragments, parameterized on [[Sketch]]'s actual
    * constants (mults, modulus) and the gate's width — shared by
    * q_countmin and q_cms_screen so the SQL can never drift from the
    * Spark-side hash. `cmsBucketSql` mirrors `Sketch.bucketOf`;
    * `cmsSketchRowsSql` mirrors `Sketch.countMin` (one SELECT per hash
    * row over a `tk(t)` token CTE).
    */
  private[queries] def polyHashSql(e: String, m: Long): String =
    s"""(CASE WHEN $e = '' THEN 0 ELSE list_reduce(
       |      list_prepend(CAST(0 AS BIGINT),
       |        list_transform(str_split($e, ''), c -> CAST(ascii(c) AS BIGINT))),
       |      (h, c) -> (h * $m + c) % ${graft.operators.Sketch.CmsMod}) END)""".stripMargin

  private def cmsBucketSql(e: String, m: Long, w: Int): String =
    s"${polyHashSql(e, m)} % $w"

  /** HLL register CTE chain over a token CTE `src(t)`, mirroring
    * [[graft.operators.Sketch.hllRegisters]]: the unsigned XXH64 chain
    * ([[OracleSql.xxh64Ctes]], the SimHash gates' validated port) ends
    * in `xh(..., th)`; bucket = low 6 bits, rank field = the next 32,
    * rank = 33 − length(bin(v)) using that both engines' `bin` drops
    * leading zeros. Ends in `hregs(bucket, register)` — the chain must
    * be spliced directly after a `WITH`-list comma.
    */
  private def hllRegistersSql(src: String): String = hllRegistersSqlP(src, 6)

  /** [[hllRegistersSql]] at precision p = `bits` — the same chain with
    * m = 2^bits, mirroring [[graft.operators.Sketch.hllRegistersP]].
    */
  private def hllRegistersSqlP(src: String, bits: Int): String = {
    val m = 1L << bits
    val k = graft.operators.Sketch.HllFieldBits + 1
    s"""hto AS (SELECT t AS id, t AS tok FROM $src),${OracleSql.xxh64Ctes("hto")},
       |hregs AS (
       |  SELECT CAST(th % $m AS BIGINT) AS bucket,
       |    CAST(MAX(CASE WHEN (th // $m) % 4294967296 = 0 THEN $k
       |             ELSE $k - LENGTH(bin(CAST((th // $m) % 4294967296 AS BIGINT))) END)
       |      AS BIGINT) AS register
       |  FROM xh GROUP BY 1
       |)""".stripMargin
  }

  /** The HLL estimate over a `regs(bucket, register)` CTE, mirroring
    * [[graft.operators.Sketch.hllEstimate]]: integer harmonic sum and
    * floor-divided raw estimate; the linear-counting branch reads both
    * lns from `lnt(l)` (must be in scope). Ends in
    * `hest(n_present, n_zero, s_sum, est_raw, method, est)`.
    */
  private def hllEstimateSql(regs: String): String = hllEstimateSqlP(regs, 6)

  /** [[hllEstimateSql]] at precision p = `bits`, mirroring
    * [[graft.operators.Sketch.hllEstimateP]] — the width-dependent
    * constants come from the SAME functions the Spark side splices
    * ([[graft.operators.Sketch.hllAlphaNumFor]]/`hllLcBoundFor`), so
    * the two engines can never disagree on a literal.
    */
  private def hllEstimateSqlP(regs: String, bits: Int): String = {
    val m = 1L << bits
    val k = graft.operators.Sketch.HllFieldBits + 1
    val alphaNum = graft.operators.Sketch.hllAlphaNumFor(bits)
    val lcBound = graft.operators.Sketch.hllLcBoundFor(bits)
    s"""hsum AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_present,
       |    CAST($m - COUNT(*) AS BIGINT) AS n_zero,
       |    CAST(COALESCE(SUM(CAST(1 AS BIGINT) << CAST($k - register AS INT)), 0)
       |       + ($m - COUNT(*)) * (CAST(1 AS BIGINT) << $k) AS BIGINT) AS s_sum
       |  FROM $regs
       |), hraw AS (
       |  SELECT *, CAST($alphaNum // s_sum AS BIGINT) AS est_raw,
       |    CASE WHEN $alphaNum // s_sum <= $lcBound
       |              AND n_zero > 0 THEN 'linear' ELSE 'raw' END AS method
       |  FROM hsum
       |), hest AS (
       |  SELECT n_present, n_zero, s_sum, est_raw, method,
       |    CAST(CASE WHEN method = 'linear'
       |      THEN CAST(FLOOR(${m.toDouble}e0 * (l[$m] - l[CAST(n_zero AS INT)])) AS BIGINT)
       |      ELSE est_raw END AS BIGINT) AS est
       |  FROM hraw, lnt
       |)""".stripMargin
  }

  /** KMV register CTE chain over a DISTINCT-key CTE `src(t)`,
    * mirroring [[graft.operators.Sketch.kmvSketch]]: the unsigned
    * XXH64 chain ([[OracleSql.xxh64Ctes]]) ends in `xh(id, tok, th)`;
    * the registers are the K smallest distinct hashes. Ends in
    * `kregs(th)` — th stays unsigned HUGEINT (plain ORDER BY is
    * already unsigned order there); read sites re-sign to the Spark
    * LongType value with [[kmvSignSql]].
    */
  private def kmvRegistersSql(src: String): String =
    s"""kto AS (SELECT t AS id, t AS tok FROM $src),${OracleSql.xxh64Ctes("kto")},
       |kregs AS (
       |  SELECT DISTINCT th FROM xh ORDER BY th LIMIT ${graft.operators.Sketch.KmvK}
       |)""".stripMargin

  /** Unsigned HUGEINT hash → Spark's two's-complement BIGINT. */
  private def kmvSignSql(e: String): String =
    s"CAST(CASE WHEN ($e) >= 9223372036854775808 THEN ($e) - 18446744073709551616 ELSE ($e) END AS BIGINT)"

  /** KMV estimate columns over a `regs(th)` CTE, mirroring
    * [[graft.operators.Sketch.kmvEstimate]]: under K registers the
    * sketch is exhaustive (exact count), else (K−1)·2^64 // U_K — the
    * division all-HUGEINT, floored identically in both engines. Ends
    * in `kest(n_present, method, est)`.
    */
  private def kmvEstimateSql(regs: String): String = {
    val k = graft.operators.Sketch.KmvK
    val num = graft.operators.Sketch.KmvNum.toPlainString
    s"""kest AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_present,
       |    CASE WHEN COUNT(*) < $k THEN 'exact' ELSE 'sampled' END AS method,
       |    CAST(CASE WHEN COUNT(*) < $k THEN COUNT(*)
       |         ELSE CAST($num AS HUGEINT) // MAX(th) END AS BIGINT) AS est
       |  FROM $regs
       |)""".stripMargin
  }

  private def cmsSketchRowsSql(w: Int): String =
    graft.operators.Sketch.CmsMults.zipWithIndex.map { case (m, i) =>
      s"""SELECT $i AS i, b, COUNT(*) AS cnt
         |  FROM (SELECT ${cmsBucketSql("t", m, w)} AS b FROM tk) GROUP BY b""".stripMargin
    }.mkString("\n  UNION ALL\n  ")

  /** The default closed-form edge source over the full documents
    * table — the dst side shifts dom/tld independently (+2/+1). */
  /** Shared by q_warc_http and q_warc_gz — the gz fixture carries the
    * IDENTICAL logical records one-gzip-member-per-record, so one
    * oracle pins that compression is invisible to the HTTP layer.
    */
  private lazy val WarcHttpOracleSql: String =
    """SELECT CAST(n_nationkey AS BIGINT) AS media_id, CAST(i AS INT) AS rec_idx,
      |  'http://site' || CAST((n_nationkey + i) % 5 AS VARCHAR) ||
      |    '.example/p' || CAST(i AS VARCHAR) AS target_uri,
      |  CAST(CASE WHEN (n_nationkey + i) % 7 = 2 THEN 404 ELSE 200 END AS INT) AS status,
      |  CASE WHEN (n_nationkey + i) % 5 = 3 THEN 'image/png'
      |       ELSE 'text/html' END AS content_type,
      |  CASE WHEN (n_nationkey + i) % 5 = 3 THEN NULL
      |       ELSE 'utf-8' END AS charset,
      |  'page ' || CAST(n_nationkey * 7 + i AS VARCHAR) || ' body' AS payload,
      |  (n_nationkey + i) % 7 <> 2 AND (n_nationkey + i) % 5 <> 3 AS keep
      |FROM nation, UNNEST(generate_series(0, 5)) AS u(i)
      |WHERE i % 2 = 0""".stripMargin

  private val GraphEdgesSql: String =
    s"""SELECT
       |    ${domainSql("doc_id")} AS src,
       |    ${domainSql("doc_id + 2", "doc_id + 1")} AS dst
       |  FROM documents""".stripMargin

  /** Graph-structure CTEs (edges → weighted adjacency → node set →
    * out-degrees) from an arbitrary edge SELECT, every alias prefixed
    * with `px` so multiple graphs coexist in one oracle (the
    * dsirScreenCtesFrom discipline). The node set uses DISTINCT over a
    * nested UNION ALL — NOT a top-level UNION, which DuckDB reparses
    * as recursive-CTE syntax inside a WITH RECURSIVE (silently
    * duplicating the node set; cost a debugging session).
    */
  private[queries] def domainGraphCtes(edgesSql: String, px: String): String =
    s"""${px}e0 AS (
       |  $edgesSql
       |), ${px}adj AS (
       |  SELECT src, dst, COUNT(*) AS w FROM ${px}e0 GROUP BY src, dst
       |), ${px}nodes AS (
       |  SELECT DISTINCT node FROM (
       |    SELECT src AS node FROM ${px}adj
       |    UNION ALL
       |    SELECT dst FROM ${px}adj)
       |), ${px}deg AS (
       |  SELECT src, SUM(w) AS outw FROM ${px}adj GROUP BY src
       |)""".stripMargin

  /** Two unrolled integer-PageRank iterations over a [[domainGraphCtes]]
    * graph; ends in `${px}r2(node, rank)`. */
  private[queries] def domainRankStepsSql(px: String): String =
    s"""${px}c1 AS (
       |  SELECT a.dst AS node,
       |    SUM(a.w * ((CAST(1000000 AS BIGINT) * 850000) // (d.outw * 1000000))) AS m
       |  FROM ${px}adj a JOIN ${px}deg d ON a.src = d.src GROUP BY a.dst
       |), ${px}r1 AS (
       |  SELECT n.node, 150000 + COALESCE(${px}c1.m, 0) AS rank
       |  FROM ${px}nodes n LEFT JOIN ${px}c1 ON ${px}c1.node = n.node
       |), ${px}c2 AS (
       |  SELECT a.dst AS node,
       |    SUM(a.w * ((CAST(${px}r1.rank AS BIGINT) * 850000) // (d.outw * 1000000))) AS m
       |  FROM ${px}adj a JOIN ${px}deg d ON a.src = d.src
       |  JOIN ${px}r1 ON ${px}r1.node = a.src
       |  GROUP BY a.dst
       |), ${px}r2 AS (
       |  SELECT n.node, 150000 + COALESCE(${px}c2.m, 0) AS rank
       |  FROM ${px}nodes n LEFT JOIN ${px}c2 ON ${px}c2.node = n.node
       |)""".stripMargin

  private lazy val DomainRankCtes: String =
    s"""${domainGraphCtes(GraphEdgesSql, "")},
       |${domainRankStepsSql("")}""".stripMargin

  /** One unrolled integer-HITS round over `adj`/`nodes` (must be in
    * scope), mirroring [[graft.operators.Graph.hitsInt]]: authority
    * from the previous round's hubs (`$hubPrev(node, h)`), max-
    * renormalized to [0, 10^6] in exact integer arithmetic, then hubs
    * from the NEW authorities. Emits CTEs `a$i(node, a)` and
    * `h$i(node, h)`.
    */
  private def hitsStepSql(i: Int, hubPrev: String): String =
    s"""a${i}r AS (
       |  SELECT a.dst AS node, SUM(a.w * p.h) AS v
       |  FROM adj a JOIN $hubPrev p ON p.node = a.src GROUP BY a.dst
       |), a${i}m AS (SELECT MAX(v) AS mx FROM a${i}r
       |), a$i AS (
       |  SELECT n.node, CAST(CASE WHEN m.mx > 0
       |    THEN COALESCE(r.v * 1000000 // m.mx, 0) ELSE 0 END AS BIGINT) AS a
       |  FROM nodes n LEFT JOIN a${i}r r ON r.node = n.node CROSS JOIN a${i}m m
       |), h${i}r AS (
       |  SELECT a.src AS node, SUM(a.w * x.a) AS v
       |  FROM adj a JOIN a$i x ON x.node = a.dst GROUP BY a.src
       |), h${i}m AS (SELECT MAX(v) AS mx FROM h${i}r
       |), h$i AS (
       |  SELECT n.node, CAST(CASE WHEN m.mx > 0
       |    THEN COALESCE(r.v * 1000000 // m.mx, 0) ELSE 0 END AS BIGINT) AS h
       |  FROM nodes n LEFT JOIN h${i}r r ON r.node = n.node CROSS JOIN h${i}m m
       |)""".stripMargin

  /** Parameterized twin of [[DsirScreenCtes]]: fit the bucket model on
    * `WHERE $fitPred`, prefix every CTE alias with `$px` so two chains
    * (e.g. the STALE model and a REFIT model, q_dsir_drift) coexist in
    * one oracle. `dsirScreenCtesFrom("doc_id % 2 = 0", "")` reproduces
    * the shared screen string byte-for-byte.
    */
  private def dsirScreenCtesFrom(fitPred: String, px: String): String =
    s"""${px}stb AS (
       |  SELECT t,
       |    CASE WHEN tok = '' THEN 0 ELSE list_reduce(
       |      list_prepend(CAST(0 AS BIGINT),
       |        list_transform(str_split(tok, ''), c -> CAST(ascii(c) AS BIGINT))),
       |      (h, c) -> (h * 31 + c) % 1000000007) % 64 END AS b
       |  FROM (SELECT lang = 'en' AS t,
       |          unnest(regexp_split_to_array(text, '\\s+')) AS tok
       |        FROM documents WHERE $fitPred)
       |), ${px}sbt AS (
       |  SELECT b,
       |    CAST(COALESCE(SUM(CASE WHEN t THEN 1 END), 0) AS BIGINT) AS ct,
       |    CAST(COUNT(*) AS BIGINT) AS cr
       |  FROM ${px}stb GROUP BY b
       |), ${px}sdl AS (
       |  SELECT b, ${lnSql("ct // 4 + 1")} - ${lnSql("cr // 4 + 1")} AS delta
       |  FROM ${px}sbt CROSS JOIN lnt
       |), ${px}tot AS (
       |  SELECT CAST(SUM(ct) AS BIGINT) AS tt, CAST(SUM(cr) AS BIGINT) AS tr FROM ${px}sbt
       |), ${px}kon AS (
       |  SELECT ${lnSql("tr // 64 + 1")} - ${lnSql("tt // 64 + 1")} AS konst
       |  FROM ${px}tot CROSS JOIN lnt
       |), ${px}wt AS (
       |  SELECT doc_id, ts[i] AS tok, i AS p
       |  FROM (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS ts
       |        FROM documents) d0,
       |       UNNEST(generate_series(1, len(ts))) AS u(i)
       |), ${px}wb AS (
       |  SELECT doc_id, p,
       |    CASE WHEN tok = '' THEN 0 ELSE list_reduce(
       |      list_prepend(CAST(0 AS BIGINT),
       |        list_transform(str_split(tok, ''), c -> CAST(ascii(c) AS BIGINT))),
       |      (h, c) -> (h * 31 + c) % 1000000007) % 64 END AS b
       |  FROM ${px}wt
       |), ${px}sc AS (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |      list(COALESCE(delta, 0.0) + konst ORDER BY p)), (a, c) -> a + c) AS score
       |  FROM ${px}wb LEFT JOIN ${px}sdl USING (b) CROSS JOIN ${px}kon GROUP BY doc_id
       |)""".stripMargin

  /** The batch-perceptron training chain (3 unrolled epochs over the
    * integer feature frame `f`: token count, n_chars div 64, punct
    * count; label +1 for n_chars ≥ 256 — a rule the features CAN
    * express, so training demonstrably converges; the fixture's lang
    * labels are unlearnable from text features by construction) —
    * shared verbatim by
    * q_perceptron_train and q_perceptron_screen so the screen applies
    * exactly the weights the trace pins. Ends in `g1,g2,g3`, each
    * (n_mis, wb, w1, w2, w3) = the epoch's misclassified count and
    * post-update weights. Epoch 1 starts from zero weights (margin 0
    * counts as misclassified, the classic rule), so g1's update is
    * the class-weighted feature sum.
    */
  private lazy val PerceptronCtes: String =
    s"""pf AS (
       |  SELECT doc_id,
       |    CASE WHEN n_chars >= 256 THEN 1 ELSE -1 END AS y,
       |    CAST(len(regexp_split_to_array(text, '\\s+')) AS BIGINT) AS f1,
       |    CAST(n_chars // 64 AS BIGINT) AS f2,
       |    CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS BIGINT) AS f3
       |  FROM documents
       |), g1 AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_mis,
       |    CAST(SUM(y) AS BIGINT) AS wb,
       |    CAST(SUM(y * f1) AS BIGINT) AS w1,
       |    CAST(SUM(y * f2) AS BIGINT) AS w2,
       |    CAST(SUM(y * f3) AS BIGINT) AS w3
       |  FROM pf
       |), m2 AS (
       |  SELECT y, f1, f2, f3, wb, w1, w2, w3,
       |    (y * (wb + w1 * f1 + w2 * f2 + w3 * f3) <= 0) AS mis
       |  FROM pf CROSS JOIN g1
       |), g2 AS (
       |  SELECT
       |    CAST(SUM(CASE WHEN mis THEN 1 ELSE 0 END) AS BIGINT) AS n_mis,
       |    CAST(MAX(wb) + SUM(CASE WHEN mis THEN y ELSE 0 END) AS BIGINT) AS wb,
       |    CAST(MAX(w1) + SUM(CASE WHEN mis THEN y * f1 ELSE 0 END) AS BIGINT) AS w1,
       |    CAST(MAX(w2) + SUM(CASE WHEN mis THEN y * f2 ELSE 0 END) AS BIGINT) AS w2,
       |    CAST(MAX(w3) + SUM(CASE WHEN mis THEN y * f3 ELSE 0 END) AS BIGINT) AS w3
       |  FROM m2
       |), m3 AS (
       |  SELECT y, f1, f2, f3, wb, w1, w2, w3,
       |    (y * (wb + w1 * f1 + w2 * f2 + w3 * f3) <= 0) AS mis
       |  FROM pf CROSS JOIN g2
       |), g3 AS (
       |  SELECT
       |    CAST(SUM(CASE WHEN mis THEN 1 ELSE 0 END) AS BIGINT) AS n_mis,
       |    CAST(MAX(wb) + SUM(CASE WHEN mis THEN y ELSE 0 END) AS BIGINT) AS wb,
       |    CAST(MAX(w1) + SUM(CASE WHEN mis THEN y * f1 ELSE 0 END) AS BIGINT) AS w1,
       |    CAST(MAX(w2) + SUM(CASE WHEN mis THEN y * f2 ELSE 0 END) AS BIGINT) AS w2,
       |    CAST(MAX(w3) + SUM(CASE WHEN mis THEN y * f3 ELSE 0 END) AS BIGINT) AS w3
       |  FROM m3
       |)""".stripMargin

  /** The entropy CASE over `cs` (the str_split character list) — shared
    * verbatim by q_char_entropy and q_quality_gate so their oracles
    * cannot drift.
    */
  private lazy val EntropySql: String =
    s"""CASE WHEN length(text) = 0 THEN 0.0 ELSE
       |    ${lnSql("len(cs)")}
       |    - list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |        list_transform(list_sort(list_distinct(cs)), c ->
       |          CAST(len(list_filter(cs, x -> x = c)) AS DOUBLE)
       |          * ${lnSql("len(list_filter(cs, x -> x = c))")})),
       |        (a, b) -> a + b)
       |      / CAST(len(cs) AS DOUBLE)
       |  END""".stripMargin

  /** Per-language length moments CTE + the z-score CASE over them —
    * shared by q_score_normalize and q_quality_gate.
    */
  private val ZMomentsCte: String =
    """g AS (
      |  SELECT lang, CAST(SUM(n_chars) AS BIGINT) AS sx,
      |         CAST(SUM(n_chars * n_chars) AS BIGINT) AS sx2,
      |         COUNT(*) AS n
      |  FROM documents GROUP BY lang
      |)""".stripMargin

  private val ZScoreSql: String =
    """CASE WHEN CAST(sx2 AS DOUBLE) / CAST(n AS DOUBLE)
      |            - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) <= 0
      |       THEN 0.0
      |       ELSE (CAST(n_chars AS DOUBLE) - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
      |            / sqrt(CAST(sx2 AS DOUBLE) / CAST(n AS DOUBLE)
      |                   - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)))
      |  END""".stripMargin

  /** DuckDB CTE pair `dists$sfx` / `asg$sfx` computing the Lloyd
    * assignment against centroid table `centCte(cluster_id, centroid)`,
    * mirroring [[Clustering.assign]]: lane-ordered left-fold squared
    * distance, argmin with smallest-cluster-id tie-break.
    */
  private def assignCtes(centCte: String, sfx: String): String = {
    val d2 =
      """list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |        list_transform(generate_series(1, len(e.embedding)), i ->
        |          (CAST(e.embedding[i] AS DOUBLE) - CAST(c.centroid[i] AS DOUBLE))
        |          * (CAST(e.embedding[i] AS DOUBLE) - CAST(c.centroid[i] AS DOUBLE)))),
        |        (a, b) -> a + b)""".stripMargin
    s"""dists$sfx AS (
       |  SELECT e.vec_id, c.cluster_id,
       |    $d2 AS dist2
       |  FROM embeddings e CROSS JOIN $centCte c
       |), asg$sfx AS (
       |  SELECT vec_id, cluster_id, dist2 FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist2, cluster_id) AS rn
       |    FROM dists$sfx)
       |  WHERE rn = 1
       |)""".stripMargin
  }

  /** Seed centroids + first assignment (`cent`, `dists`, `asg`). */
  private val AssignCtes: String =
    s"""cent AS (
       |  SELECT vec_id AS cluster_id, embedding AS centroid
       |  FROM embeddings ORDER BY vec_id LIMIT $KClusters
       |), ${assignCtes("cent", "")}""".stripMargin

  /** Centroid update from `asg` (`upd`), reassembled per-cluster arrays
    * (`cent2`), and the second assignment (`dists2`, `asg2`) — one full
    * Lloyd iteration beyond [[AssignCtes]].
    */
  private val Iter2Ctes: String =
    s"""$AssignCtes, m AS (
       |  SELECT a.cluster_id, CAST(i - 1 AS INT) AS lane, e.vec_id,
       |    CAST(e.embedding[i] AS DOUBLE) AS v
       |  FROM embeddings e JOIN asg a USING (vec_id),
       |       UNNEST(generate_series(1, len(e.embedding))) AS u(i)
       |), upd AS (
       |  SELECT cluster_id, lane,
       |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(v ORDER BY vec_id)),
       |                (a, b) -> a + b) / CAST(COUNT(*) AS DOUBLE) AS centroid_v
       |  FROM m GROUP BY cluster_id, lane
       |), cent2 AS (
       |  SELECT cluster_id, list(centroid_v ORDER BY lane) AS centroid
       |  FROM upd GROUP BY cluster_id
       |), ${assignCtes("cent2", "2")}""".stripMargin

  /** Lane-ordered squared-L2 fold between two 8-long FLOAT slices —
    * mirrors [[Clustering.squaredDistance]] exactly (cast, diff, square,
    * left-fold in lane order).
    */
  private def PqFold(a: String, b: String): String =
    s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |      list_transform(generate_series(1, 8), i ->
       |        (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE))
       |        * (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE)))),
       |      (x, y) -> x + y)""".stripMargin

  /** Shared PQ CTE chain: codebooks (`cb(sub, code, centroid)` — the
    * first-16-by-id vectors' 8-dim subvectors) and the encoded corpus
    * (`codes(id, sub, code)` — argmin by (dist2, code)), mirroring
    * [[Quantize.pqCodebooks]]/[[Quantize.pqEncode]] at dim 64,
    * 8 subspaces, 16 codes.
    */
  private lazy val PqCtes: String =
    s"""cb AS (
       |  SELECT s.sub, c.code, c.v[s.sub * 8 + 1 : s.sub * 8 + 8] AS centroid
       |  FROM (SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS code,
       |               embedding AS v
       |        FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 16) t0) c
       |  CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS sub) s
       |), sv AS (
       |  SELECT e.vec_id AS id, s.sub, e.embedding[s.sub * 8 + 1 : s.sub * 8 + 8] AS subvec
       |  FROM embeddings e CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS sub) s
       |), pqd AS (
       |  SELECT sv.id, sv.sub, cb.code,
       |    ${PqFold("sv.subvec", "cb.centroid")} AS dist2
       |  FROM sv JOIN cb USING (sub)
       |), codes AS (
       |  SELECT id, sub, code FROM (
       |    SELECT id, sub, code, ROW_NUMBER() OVER (PARTITION BY id, sub ORDER BY dist2, code) AS rn
       |    FROM pqd) t
       |  WHERE rn = 1
       |)""".stripMargin

  val all: Seq[Q] = Seq(

    // Character-distribution Shannon entropy per document — the
    // gibberish/compressibility screen. Map-side only; the −p·ln p fold
    // runs over SORTED distinct characters so the double is exact in
    // both engines.
    Q(
      "q_char_entropy",
      (spark, dir) =>
        Q.t(spark, dir, "documents")
          .select(col("doc_id"), TextAnalysis.charEntropy(col("text")).as("entropy")),
      Some(
        s"""WITH lnt AS (SELECT $LnTabSql AS l)
           |SELECT doc_id,
           |  $EntropySql AS entropy
           |FROM (SELECT doc_id, text, str_split(text, '') AS cs FROM documents)
           |CROSS JOIN lnt""".stripMargin
      )
    ),

    // Cross-document boilerplate 3-grams: grams in ≥5 distinct docs.
    // One shuffle of (doc-distinct gram) rows; counts partial-aggregate.
    Q(
      "q_boilerplate",
      (spark, dir) =>
        TextAnalysis.boilerplateGrams(
          Q.t(spark, dir, "documents"), "text", n = 3, minDocs = 5L),
      Some(
        s"""WITH toks AS (
           |  SELECT doc_id, $SqlToks AS t FROM documents
           |), g AS (
           |  SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS gram
           |  FROM toks, UNNEST(generate_series(1, len(t) - 2)) AS u(i)
           |)
           |SELECT gram, COUNT(*) AS n_docs FROM g GROUP BY gram
           |HAVING COUNT(*) >= 5""".stripMargin
      )
    ),

    // Corpus-unigram NLL per document (perplexity proxy): tokens of
    // globally-rare terms score high. Two partial-agg shuffles; per-doc
    // fold over terms in sorted order. The gate compares the PINNED
    // surprisal components (n_tokens, nll_tab = Σ tf·lnInt(n)) — every
    // ln is a table read, so the entry survives fixture regeneration
    // with no runtime-log drift; the full score derives downstream as
    // nll = n_tokens·ln(ΣNN) − nll_tab.
    Q(
      "q_unigram_nll",
      (spark, dir) =>
        TextAnalysis.unigramSurprisal(Q.t(spark, dir, "documents"), "doc_id", "text")
          .withColumnRenamed("id", "doc_id"),
      Some(
        s"""WITH $UnigramSurCtes
           |SELECT id AS doc_id, n_tokens, nll_tab FROM sur""".stripMargin
      )
    ),

    // Loss-based data selection (hard-example mining): keep each
    // language's hardest quartile by per-token surprisal. Ranking by
    // the TABLE component rate (nll_tab / n_tokens, ascending) is
    // monotone-equivalent to ranking by the true per-token NLL
    // (nll/n_tok = lnΣN − nll_tab/n_tok — the corpus constant shifts,
    // never reorders), so the gate stays pure table reads + one
    // division + rank arithmetic.
    Q(
      "q_hard_examples",
      (spark, dir) => {
        val docs = Q.t(spark, dir, "documents")
        val scored = TextAnalysis
          .unigramSurprisal(docs, "doc_id", "text")
          .withColumnRenamed("id", "doc_id")
          .join(docs.select(col("doc_id"), col("lang")), "doc_id")
          .withColumn("tab_rate", col("nll_tab") / col("n_tokens").cast("double"))
          .withColumn("__hard", -col("tab_rate"))
        Normalize.topFractionByGroup(scored, "lang", "__hard", "doc_id",
          keepPpm = 250000L)
          .select(col("doc_id"), col("lang"), col("tab_rate"))
      },
      Some(
        s"""WITH $UnigramSurCtes, sc AS (
           |  SELECT s.id AS doc_id, d.lang,
           |    s.nll_tab / CAST(s.n_tokens AS DOUBLE) AS tab_rate
           |  FROM sur s JOIN documents d ON s.id = d.doc_id
           |), r AS (
           |  SELECT doc_id, lang, tab_rate,
           |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY tab_rate ASC, doc_id ASC) AS rn,
           |    COUNT(*) OVER (PARTITION BY lang) AS n
           |  FROM sc)
           |SELECT doc_id, lang, tab_rate
           |FROM r WHERE rn <= (n * 250000 + 999999) // 1000000""".stripMargin
      )
    ),

    // Bigram-conditional surprisal (KenLM-proxy, one order above
    // q_unigram_nll): -ln P(w2|w1) summed over a doc's pairs — the
    // incoherent-text signal unigram models miss. Gate compares the
    // fully-pinned (n_bigrams, nll2_tab): every ln is a table read,
    // per-doc fold in (w1, w2) order.
    Q(
      "q_bigram_nll",
      (spark, dir) =>
        TextAnalysis.bigramSurprisal(Q.t(spark, dir, "documents"), "doc_id", "text")
          .withColumnRenamed("id", "doc_id"),
      Some(
        s"""WITH lnt AS (SELECT $LnTabSql AS l),
           |bg AS (
           |  SELECT doc_id AS id, t[i] AS w1, t[i + 1] AS w2
           |  FROM (SELECT doc_id, $SqlToks AS t FROM documents),
           |       UNNEST(generate_series(1, len(t) - 1)) AS u(i)
           |), tf AS (
           |  SELECT id, w1, w2, COUNT(*) AS tf FROM bg GROUP BY id, w1, w2
           |), c2 AS (SELECT w1, w2, CAST(SUM(tf) AS BIGINT) AS n2 FROM tf GROUP BY w1, w2),
           |c1 AS (SELECT w1, CAST(SUM(n2) AS BIGINT) AS n1 FROM c2 GROUP BY w1),
           |contrib AS (
           |  SELECT id, w1, w2, tf,
           |    CAST(tf AS DOUBLE) * (${lnSql("n1")} - ${lnSql("n2")}) AS c
           |  FROM tf JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN lnt
           |)
           |SELECT id AS doc_id, CAST(SUM(tf) AS BIGINT) AS n_bigrams,
           |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(c ORDER BY w1, w2)),
           |              (a, b) -> a + b) AS nll2_tab
           |FROM contrib GROUP BY id""".stripMargin
      )
    ),

    // Okapi BM25 (Lucene IDF variant) for a fixed query — the retrieval
    // ranking past TF-IDF. Bit-exact gate: idf telescopes to
    // lnInt(2N+2) − lnInt(2df+1) (pure table reads), tf/df/dl/N are
    // longs, avgdl is one deterministic division, per-doc sums fold in
    // term order, and both engines evaluate the identical literal
    // arithmetic (k1=1.2, b=0.75 appear as the same IEEE ops in the
    // same association order on both sides).
    Q(
      "q_bm25",
      (spark, dir) =>
        TextAnalysis.bm25(Q.t(spark, dir, "documents"), "doc_id", "text",
          queryTerms = Seq("join", "vector", "stream"))
          .withColumnRenamed("id", "doc_id"),
      Some(
        s"""WITH lnt AS (SELECT $LnTabSql AS l),
           |base AS (SELECT doc_id AS id, $SqlToks AS t FROM documents),
           |stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(len(t)) AS BIGINT) AS tot FROM base),
           |tok AS (SELECT id, CAST(len(t) AS BIGINT) AS dl, unnest(t) AS term FROM base),
           |tf AS (
           |  SELECT id, dl, term, COUNT(*) AS tf FROM tok
           |  WHERE term IN ('join', 'vector', 'stream')
           |  GROUP BY id, dl, term
           |), dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
           |contrib AS (
           |  SELECT id, term,
           |    (${lnSql("2 * n + 2")} - ${lnSql("2 * df + 1")})
           |      * (CAST(tf AS DOUBLE) * (1.2e0 + 1.0e0))
           |      / (CAST(tf AS DOUBLE)
           |         + 1.2e0 * (1.0e0 - 0.75e0 + 0.75e0 * (CAST(dl AS DOUBLE) / (CAST(tot AS DOUBLE) / CAST(n AS DOUBLE))))) AS c
           |  FROM tf JOIN dfreq USING (term) CROSS JOIN stats CROSS JOIN lnt
           |)
           |SELECT id AS doc_id,
           |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(c ORDER BY term)),
           |              (a, b) -> a + b) AS bm25
           |FROM contrib GROUP BY id""".stripMargin
      )
    ),

    // Hybrid retrieval: BM25 lexical ranks fused with cosine vector
    // ranks by reciprocal-rank fusion (score-free — ranks, not scores,
    // are the common scale). Both lists are top-50 via parallel
    // per-partition top-k (TakeOrderedAndProject; the rank window runs
    // over 50 rows only), then RRF sums 1/(60+rank) in list-name order
    // — one IEEE division of exact integers per contribution, so the
    // fused doubles are bit-exact across engines.
    Q(
      "q_hybrid_retrieval",
      (spark, dir) => {
        val docs = Q.t(spark, dir, "documents")
        val emb = Q.t(spark, dir, "embeddings")
        val lex = Retrieval.topKRanked(
          TextAnalysis.bm25(docs, "doc_id", "text",
            queryTerms = Seq("join", "vector", "stream")),
          Seq(col("bm25").desc, col("id").asc), k = 50)
          .select(col("id").as("doc_id"), col("rank"))
        val vec = graft.operators.Similarity.bruteForceTopK(
          emb, emb.filter(col("vec_id") === 0), "vec_id", "embedding", k = 50)
          .select(col("neighbor_id").as("doc_id"), col("rank"))
        Retrieval.rrfFuse(Seq("bm25" -> lex, "ann" -> vec), "doc_id")
      },
      Some(
        s"""WITH lnt AS (SELECT $LnTabSql AS l),
           |base AS (SELECT doc_id AS id, $SqlToks AS t FROM documents),
           |stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(len(t)) AS BIGINT) AS tot FROM base),
           |tok AS (SELECT id, CAST(len(t) AS BIGINT) AS dl, unnest(t) AS term FROM base),
           |tf AS (
           |  SELECT id, dl, term, COUNT(*) AS tf FROM tok
           |  WHERE term IN ('join', 'vector', 'stream')
           |  GROUP BY id, dl, term
           |), dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
           |contrib AS (
           |  SELECT id, term,
           |    (${lnSql("2 * n + 2")} - ${lnSql("2 * df + 1")})
           |      * (CAST(tf AS DOUBLE) * (1.2e0 + 1.0e0))
           |      / (CAST(tf AS DOUBLE)
           |         + 1.2e0 * (1.0e0 - 0.75e0 + 0.75e0 * (CAST(dl AS DOUBLE) / (CAST(tot AS DOUBLE) / CAST(n AS DOUBLE))))) AS c
           |  FROM tf JOIN dfreq USING (term) CROSS JOIN stats CROSS JOIN lnt
           |), bmscore AS (
           |  SELECT id AS doc_id,
           |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(c ORDER BY term)),
           |                (a, b) -> a + b) AS bm25
           |  FROM contrib GROUP BY id
           |), lex AS (
           |  SELECT doc_id, rnk AS rank FROM (
           |    SELECT doc_id, ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id ASC) AS rnk
           |    FROM bmscore) t
           |  WHERE rnk <= 50
           |), qv AS (SELECT embedding AS v FROM embeddings WHERE vec_id = 0),
           |vecr AS (
           |  SELECT doc_id, rnk AS rank FROM (
           |    SELECT e.vec_id AS doc_id, ROW_NUMBER() OVER (ORDER BY
           |      list_sum(list_transform(list_zip(q.v, e.embedding),
           |        p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
           |      / (sqrt(list_sum(list_transform(q.v, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
           |       * sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) DESC,
           |      e.vec_id ASC) AS rnk
           |    FROM embeddings e CROSS JOIN qv q WHERE e.vec_id <> 0) t
           |  WHERE rnk <= 50
           |), tagged AS (
           |  SELECT doc_id, 'bm25' AS src, rank FROM lex
           |  UNION ALL
           |  SELECT doc_id, 'ann' AS src, rank FROM vecr
           |)
           |SELECT doc_id,
           |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           |    list(1.0e0 / (60.0e0 + CAST(rank AS DOUBLE)) ORDER BY src)),
           |    (a, b) -> a + b) AS rrf,
           |  CAST(COUNT(*) AS BIGINT) AS n_lists
           |FROM tagged GROUP BY doc_id""".stripMargin
      )
    ),

    // Lloyd assignment over the embeddings table: nearest of the k
    // lowest-id centroids (broadcast), per-vector argmin.
    Q(
      "q_kmeans_assign",
      (spark, dir) => {
        val vecs = Q.t(spark, dir, "embeddings")
        Clustering.assign(vecs, "vec_id", "embedding",
          Clustering.initialCentroids(vecs, "vec_id", "embedding", KClusters))
          .withColumnRenamed("id", "vec_id")
      },
      Some(s"WITH $AssignCtes SELECT vec_id, cluster_id, dist2 FROM asg")
    ),

    // Coreset / diversity-sampling exemplars: per cluster, the member
    // nearest its centroid (ties → smallest id) plus the member count.
    // Spark side is a map-side lexicographic struct-min (no window, no
    // per-cluster sort); dist2 is the lane-ordered fold, so argmin
    // comparisons are bit-exact.
    Q(
      "q_coreset_reps",
      (spark, dir) => {
        val vecs = Q.t(spark, dir, "embeddings")
        Clustering.coresetReps(vecs, "vec_id", "embedding",
          Clustering.initialCentroids(vecs, "vec_id", "embedding", KClusters))
      },
      Some(
        s"""WITH $AssignCtes, reps AS (
           |  SELECT cluster_id, vec_id, dist2,
           |    ROW_NUMBER() OVER (PARTITION BY cluster_id ORDER BY dist2, vec_id) AS rn,
           |    COUNT(*) OVER (PARTITION BY cluster_id) AS n_members
           |  FROM asg)
           |SELECT cluster_id, vec_id AS rep_id, dist2, n_members
           |FROM reps WHERE rn = 1""".stripMargin
      )
    ),

    // One Lloyd centroid-update step: per (cluster, lane) member mean,
    // folded in vec-id order. k·dim result rows — reducer state is
    // independent of corpus size.
    Q(
      "q_kmeans_update",
      (spark, dir) => {
        val vecs = Q.t(spark, dir, "embeddings")
        Clustering.updateStep(vecs, "vec_id", "embedding",
          Clustering.initialCentroids(vecs, "vec_id", "embedding", KClusters))
      },
      Some(
        s"""WITH $AssignCtes, m AS (
           |  SELECT a.cluster_id, CAST(i - 1 AS INT) AS lane, e.vec_id,
           |    CAST(e.embedding[i] AS DOUBLE) AS v
           |  FROM embeddings e JOIN asg a USING (vec_id),
           |       UNNEST(generate_series(1, len(e.embedding))) AS u(i)
           |)
           |SELECT cluster_id, lane,
           |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(v ORDER BY vec_id)),
           |              (a, b) -> a + b) / CAST(COUNT(*) AS DOUBLE) AS centroid_v,
           |  CAST(COUNT(*) AS BIGINT) AS n_members
           |FROM m GROUP BY cluster_id, lane""".stripMargin
      )
    ),

    // The PRODUCTION k-means update path (scalar-only reducer state, no
    // id join, one partial-agg shuffle) under the oracle gate. Its
    // double sum is order-FREE, which normally can't hash-match across
    // engines — the gate makes it exact instead of ordered: lane values
    // are first snapped to the 2^-20 grid (floor(x·2^20 + 0.5), exact in
    // both engines: power-of-two scaling only shifts the exponent, floor
    // yields an integer, the division is again a pure exponent shift).
    // Every partial sum of grid values is then exactly representable
    // (numerators stay ≪ 2^53: |x| < 1 ⇒ |k| < 2^20, ≤ 2^13 members ⇒
    // sum < 2^33), so ANY accumulation order — Spark's partial-agg tree,
    // DuckDB's — produces the identical double, and the final s/n is one
    // deterministic IEEE division. Same trick as Q.dsum, in base 2.
    // Assignment distances are exact by the same argument (squared-diff
    // numerators < 2^48), so the cluster memberships agree too.
    Q(
      "q_kmeans_update_scale",
      (spark, dir) => {
        val grid = lit(1048576.0) // 2^20
        val vecs = Q.t(spark, dir, "embeddings").select(
          col("vec_id"),
          transform(col("embedding"), x =>
            floor(x.cast("double") * grid + lit(0.5)).cast("double") / grid)
            .as("embedding"))
        Clustering.updateStepAtScale(vecs, "embedding",
          Clustering.initialCentroids(vecs, "vec_id", "embedding", KClusters))
      },
      Some(
        s"""WITH qe AS (
           |  SELECT vec_id,
           |    list_transform(embedding, x ->
           |      CAST(floor(CAST(x AS DOUBLE) * 1048576.0 + 0.5) AS BIGINT) / 1048576.0) AS qv
           |  FROM embeddings
           |), cent AS (
           |  SELECT vec_id AS cluster_id, qv AS centroid FROM qe ORDER BY vec_id LIMIT $KClusters
           |), dists AS (
           |  SELECT e.vec_id, c.cluster_id,
           |    list_sum(list_transform(generate_series(1, len(e.qv)), i ->
           |      (e.qv[i] - c.centroid[i]) * (e.qv[i] - c.centroid[i]))) AS dist2
           |  FROM qe e CROSS JOIN cent c
           |), asg AS (
           |  SELECT vec_id, cluster_id FROM (
           |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist2, cluster_id) AS rn
           |    FROM dists) t
           |  WHERE rn = 1
           |), m AS (
           |  SELECT a.cluster_id, CAST(i - 1 AS INT) AS lane, e.qv[i] AS v
           |  FROM qe e JOIN asg a USING (vec_id),
           |       UNNEST(generate_series(1, len(e.qv))) AS u(i)
           |)
           |SELECT cluster_id, lane,
           |  SUM(v) / CAST(COUNT(*) AS DOUBLE) AS centroid_v,
           |  CAST(COUNT(*) AS BIGINT) AS n_members
           |FROM m GROUP BY cluster_id, lane""".stripMargin
      )
    ),

    // Passage-level dedup: 32-token non-overlapping chunks,
    // fingerprinted; first (doc, chunk) occurrence of each distinct
    // passage survives. Sub-document twin of exact dedup.
    Q(
      "q_passage_dedup",
      (spark, dir) =>
        Dedup.dedupPassages(Q.t(spark, dir, "documents"),
          "doc_id", "text", window = 32, stride = 32)
          .withColumnRenamed("id", "doc_id"),
      Some(
        s"""WITH toks AS (
           |  SELECT doc_id, $SqlToks AS t FROM documents
           |), ch AS (
           |  SELECT doc_id, CAST(i AS INT) AS chunk_id,
           |         array_to_string(t[i*32+1 : i*32+32], ' ') AS c
           |  FROM toks, UNNEST(generate_series(0,
           |    CASE WHEN len(t) > 32
           |         THEN CAST(FLOOR((len(t) - 32 + 31) / 32.0) AS BIGINT)
           |         ELSE 0 END)) AS u(i)
           |), ph AS (
           |  SELECT doc_id, chunk_id,
           |    list_reduce(list_prepend(CAST(0 AS BIGINT),
           |      list_transform(str_split(c, ''), x -> CAST(ascii(x) AS BIGINT))),
           |      (h, x) -> (h * 31 + x) % ${TextAnalysis.FingerprintMod}) AS phash
           |  FROM ch
           |)
           |SELECT doc_id, chunk_id, phash FROM (
           |  SELECT *, ROW_NUMBER() OVER (PARTITION BY phash ORDER BY doc_id, chunk_id) AS rn
           |  FROM ph)
           |WHERE rn = 1""".stripMargin
      )
    ),

    // The per-language "dataset card": docs, total/mean chars, length
    // extremes, distinct-text count — the summary table a corpus ships
    // with. Exact integer sums + one deterministic division (Q.davg
    // discipline); distinct texts via the digest (group on the hash,
    // never the text — the 100 TB shape).
    Q(
      "q_corpus_card",
      (spark, dir) =>
        Q.t(spark, dir, "documents")
          .groupBy(col("lang"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_chars").cast("long")).as("total_chars"),
            (sum(col("n_chars").cast("long")).cast("double") /
              count(lit(1)).cast("double")).as("mean_chars"),
            min(col("n_chars")).as("min_chars"),
            max(col("n_chars")).as("max_chars"),
            countDistinct(sha2(col("text"), 256)).as("n_distinct_texts")),
      Some(
        """SELECT lang, COUNT(*) AS n_docs,
          |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
          |  CAST(SUM(n_chars) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_chars,
          |  MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars,
          |  CAST(COUNT(DISTINCT sha256(text)) AS BIGINT) AS n_distinct_texts
          |FROM documents GROUP BY lang""".stripMargin
      )
    ),

    // Source-balanced interleave: a global reading order that cycles
    // through the languages round-robin (per-lang rank × stride +
    // stable lang index) — the diversity-preserving corpus order
    // packing consumes, without any global sort: one window per lang
    // plus a broadcast of the tiny lang-index table.
    Q(
      "q_interleave",
      (spark, dir) => {
        val docs = Q.t(spark, dir, "documents").select(col("doc_id"), col("lang"))
        val langIdx = docs.select(col("lang")).distinct()
          .withColumn("lang_idx",
            row_number().over(org.apache.spark.sql.expressions.Window
              .orderBy(col("lang"))).cast("long") - 1L)
        val nLangs = langIdx.count() // tiny dimension, driver-side by design
        val w = org.apache.spark.sql.expressions.Window.partitionBy(col("lang"))
          .orderBy(graft.operators.Sampling.orderHash(col("doc_id")).asc,
            col("doc_id").asc)
        docs.join(broadcast(langIdx), Seq("lang"))
          .withColumn("lang_rank", row_number().over(w).cast("long") - 1L)
          .select(col("doc_id"), col("lang"),
            (col("lang_rank") * nLangs + col("lang_idx")).as("global_order"))
      },
      Some {
        val pm = s"(doc_id % ${Sampling.P} + ${Sampling.P}) % ${Sampling.P}"
        s"""WITH li AS (
           |  SELECT lang, CAST(ROW_NUMBER() OVER (ORDER BY lang) - 1 AS BIGINT) AS lang_idx
           |  FROM (SELECT DISTINCT lang FROM documents)
           |), nl AS (SELECT COUNT(*) AS n FROM li),
           |r AS (
           |  SELECT doc_id, lang,
           |    CAST(ROW_NUMBER() OVER (PARTITION BY lang
           |      ORDER BY ($pm * 2246822519 + 604171) % ${Sampling.P} ASC, doc_id ASC) - 1
           |      AS BIGINT) AS lang_rank
           |  FROM documents
           |)
           |SELECT r.doc_id, r.lang,
           |       CAST(r.lang_rank * nl.n + li.lang_idx AS BIGINT) AS global_order
           |FROM r JOIN li USING (lang) CROSS JOIN nl""".stripMargin
      }
    ),

    // Rank-based per-language selection: keep the top 10% of documents
    // by length per language — the threshold-calibration rule a quality
    // score feeds ("best decile per source"). Pure rank/integer
    // arithmetic (ceil via integer div, desc-score id-asc tie-break),
    // so the kept set is engine-exact with no value-space percentile.
    Q(
      "q_top_decile",
      (spark, dir) =>
        Normalize.topFractionByGroup(
          Q.t(spark, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars")),
          groupCol = "lang", scoreCol = "n_chars", idCol = "doc_id",
          keepPpm = 100000L),
      Some(
        """SELECT doc_id, lang, n_chars FROM (
          |  SELECT doc_id, lang, n_chars,
          |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id ASC) AS rn,
          |    COUNT(*) OVER (PARTITION BY lang) AS n
          |  FROM documents) t
          |WHERE rn <= (n * 100000 + 999999) // 1000000""".stripMargin
      )
    ),

    // Per-language z-score of document length — group-wise score
    // calibration (exact integer moments broadcast back; fixed double
    // op order makes every z bit-exact).
    Q(
      "q_score_normalize",
      (spark, dir) =>
        Normalize.zscoreByGroup(Q.t(spark, dir, "documents"),
          groupCol = "lang", valueCol = "n_chars",
          keep = Seq("doc_id", "lang", "n_chars")),
      Some(
        s"""WITH $ZMomentsCte
           |SELECT doc_id, lang, n_chars,
           |  $ZScoreSql AS z
           |FROM documents JOIN g USING (lang)""".stripMargin
      )
    ),

    // Product-quantization encode: 8 subspaces × 16 deterministic
    // sub-centroids (first-16-by-id subvectors); per (vector, subspace)
    // the nearest code by L2, smallest-code tie-break — the broadcast
    // argmin fold, corpus never shuffles. 64 floats become 8 codes:
    // the PQ store's compressed index. Distances are lane-ordered
    // folds, bit-exact cross-engine (same discipline as q_kmeans_assign).
    Q(
      "q_pq_encode",
      (spark, dir) => {
        val emb = Q.t(spark, dir, "embeddings")
        Quantize.pqEncode(emb, "vec_id", "embedding",
          Quantize.pqCodebooks(emb, "vec_id", "embedding",
            dim = 64, subspaces = 8, nCodes = 16),
          dim = 64, subspaces = 8)
          .withColumnRenamed("id", "vec_id")
      },
      Some(s"WITH $PqCtes SELECT id AS vec_id, CAST(sub AS BIGINT) AS sub, code FROM codes")
    ),

    // PQ asymmetric-distance search: each query's (sub, code) lookup
    // table joins the code rows — the raw corpus vectors never load.
    // Approximate distance = the table entries summed in subspace
    // order (bit-exact fold); rank by (adc, id). QuantizeSpec pins
    // recall against the exact baseline.
    Q(
      "q_pq_adc",
      (spark, dir) => {
        val emb = Q.t(spark, dir, "embeddings")
        val cb = Quantize.pqCodebooks(emb, "vec_id", "embedding",
          dim = 64, subspaces = 8, nCodes = 16)
        Quantize.pqAdcTopK(
          Quantize.pqEncode(emb, "vec_id", "embedding", cb, dim = 64, subspaces = 8),
          cb, emb.filter(col("vec_id") < 4), "vec_id", "embedding",
          dim = 64, subspaces = 8, k = 10)
      },
      Some(
        s"""WITH $PqCtes, qs AS (
           |  SELECT q.vec_id AS query_id, s.sub, q.embedding[s.sub * 8 + 1 : s.sub * 8 + 8] AS qsub
           |  FROM embeddings q CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS sub) s
           |  WHERE q.vec_id < 4
           |), dtab AS (
           |  SELECT qs.query_id, qs.sub, cb.code,
           |    ${PqFold("qs.qsub", "cb.centroid")} AS dd
           |  FROM qs JOIN cb USING (sub)
           |), adc AS (
           |  SELECT d.query_id, c.id AS neighbor_id,
           |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(d.dd ORDER BY d.sub)),
           |                (a, b) -> a + b) AS adc
           |  FROM codes c JOIN dtab d ON c.sub = d.sub AND c.code = d.code
           |  WHERE d.query_id <> c.id
           |  GROUP BY d.query_id, c.id
           |)
           |SELECT query_id, neighbor_id, CAST(rnk AS INT) AS rank FROM (
           |  SELECT query_id, neighbor_id,
           |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc ASC, neighbor_id ASC) AS rnk
           |  FROM adc) t
           |WHERE rnk <= 10""".stripMargin
      )
    ),

    // IVF-PQ: the deployed ANN composition — queries probe their 4
    // nearest coarse cells (broadcast cosine ranking), candidates
    // inside those cells rank by PQ asymmetric distance over their
    // CODES; raw vectors are touched only at build time. Coarse probe
    // and codes reuse the machinery q_ann_ivf / q_pq_adc pin
    // individually; this gate pins their composition.
    Q(
      "q_ivfpq",
      (spark, dir) => {
        val emb = Q.t(spark, dir, "embeddings")
        Quantize.ivfPqTopK(
          emb, emb.filter(col("vec_id") < 4),
          emb.orderBy(col("vec_id")).limit(16),
          Quantize.pqCodebooks(emb, "vec_id", "embedding",
            dim = 64, subspaces = 8, nCodes = 16),
          "vec_id", "embedding", dim = 64, subspaces = 8, k = 10, nProbe = 4)
      },
      Some {
        def cos(a: String, b: String) =
          s"""list_sum(list_transform(list_zip($a, $b), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
             |        / (sqrt(list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
             |         * sqrt(list_sum(list_transform($b, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))""".stripMargin
        s"""WITH $PqCtes, coarse AS (
           |  SELECT vec_id AS ccid, embedding AS ccvec FROM embeddings ORDER BY vec_id LIMIT 16
           |), assigned AS (
           |  SELECT vec_id AS neighbor_id, ccid AS centroid_id FROM (
           |    SELECT e.vec_id, c.ccid,
           |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
           |        ${cos("e.embedding", "c.ccvec")} DESC, c.ccid ASC) AS rn
           |    FROM embeddings e CROSS JOIN coarse c) t
           |  WHERE rn = 1
           |), probes AS (
           |  SELECT query_id, centroid_id FROM (
           |    SELECT q.vec_id AS query_id, c.ccid AS centroid_id,
           |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
           |        ${cos("q.embedding", "c.ccvec")} DESC, c.ccid ASC) AS rn
           |    FROM embeddings q CROSS JOIN coarse c WHERE q.vec_id < 4) t
           |  WHERE rn <= 4
           |), cand AS (
           |  SELECT p.query_id, a.neighbor_id
           |  FROM probes p JOIN assigned a USING (centroid_id)
           |  WHERE p.query_id <> a.neighbor_id
           |), qs AS (
           |  SELECT q.vec_id AS query_id, s.sub, q.embedding[s.sub * 8 + 1 : s.sub * 8 + 8] AS qsub
           |  FROM embeddings q CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS sub) s
           |  WHERE q.vec_id < 4
           |), dtab AS (
           |  SELECT qs.query_id, qs.sub, cb.code,
           |    ${PqFold("qs.qsub", "cb.centroid")} AS dd
           |  FROM qs JOIN cb USING (sub)
           |), adc AS (
           |  SELECT ca.query_id, ca.neighbor_id,
           |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(d.dd ORDER BY d.sub)),
           |                (a, b) -> a + b) AS adc
           |  FROM cand ca
           |  JOIN codes c ON c.id = ca.neighbor_id
           |  JOIN dtab d ON d.query_id = ca.query_id AND d.sub = c.sub AND d.code = c.code
           |  GROUP BY ca.query_id, ca.neighbor_id
           |)
           |SELECT query_id, neighbor_id, CAST(rnk AS INT) AS rank FROM (
           |  SELECT query_id, neighbor_id,
           |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc ASC, neighbor_id ASC) AS rnk
           |  FROM adc) t
           |WHERE rnk <= 10""".stripMargin
      }
    ),

    // One Lloyd step of per-subspace PQ codebook TRAINING — the
    // production path out of first-N-by-id stand-in codebooks. Gated
    // exactly like q_kmeans_update_scale: lanes snap to the 2^-20 grid
    // upstream, so the order-FREE member sums are exact in any
    // accumulation order (numerators < 2^20, ≤ 2^13 members ⇒ partial
    // sums ≪ 2^53) and the assignment distances are exact rationals
    // (squared-diff numerators < 2^45 over the 2^40 grid) — memberships
    // and means hash-match across engines despite scalar-state,
    // shuffle-once execution. Codes with no members emit no rows (both
    // engines' GROUP BY agree); pqCodebooksFromUpdate carries them.
    Q(
      "q_pq_train",
      (spark, dir) => {
        val grid = lit(1048576.0) // 2^20
        val emb = Q.t(spark, dir, "embeddings").select(
          col("vec_id"),
          transform(col("embedding"), x =>
            floor(x.cast("double") * grid + lit(0.5)).cast("double") / grid)
            .as("embedding"))
        Quantize.pqUpdateStep(emb, "embedding",
          Quantize.pqCodebooks(emb, "vec_id", "embedding",
            dim = 64, subspaces = 8, nCodes = 16),
          dim = 64, subspaces = 8)
      },
      Some(
        s"""WITH qe AS (
           |  SELECT vec_id,
           |    list_transform(embedding, x ->
           |      CAST(floor(CAST(x AS DOUBLE) * 1048576.0 + 0.5) AS BIGINT) / 1048576.0) AS qv
           |  FROM embeddings
           |), cbq AS (
           |  SELECT s.sub, c.code, c.v[s.sub * 8 + 1 : s.sub * 8 + 8] AS centroid
           |  FROM (SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS code,
           |               qv AS v
           |        FROM (SELECT vec_id, qv FROM qe ORDER BY vec_id LIMIT 16) t0) c
           |  CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS sub) s
           |), svq AS (
           |  SELECT e.vec_id AS id, s.sub, e.qv[s.sub * 8 + 1 : s.sub * 8 + 8] AS subvec
           |  FROM qe e CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS sub) s
           |), pqdq AS (
           |  SELECT sv.id, sv.sub, cb.code,
           |    ${PqFold("sv.subvec", "cb.centroid")} AS dist2
           |  FROM svq sv JOIN cbq cb USING (sub)
           |), codesq AS (
           |  SELECT id, sub, code FROM (
           |    SELECT id, sub, code, ROW_NUMBER() OVER (PARTITION BY id, sub ORDER BY dist2, code) AS rn
           |    FROM pqdq) t
           |  WHERE rn = 1
           |), m AS (
           |  SELECT c.sub, c.code, CAST(i - 1 AS INT) AS lane, sv.subvec[i] AS v
           |  FROM svq sv JOIN codesq c ON sv.id = c.id AND sv.sub = c.sub,
           |       UNNEST(generate_series(1, 8)) AS u(i)
           |)
           |SELECT CAST(sub AS BIGINT) AS sub, code, lane,
           |  SUM(v) / CAST(COUNT(*) AS DOUBLE) AS centroid_v,
           |  CAST(COUNT(*) AS BIGINT) AS n_members
           |FROM m GROUP BY sub, code, lane""".stripMargin
      )
    ),

    // IVF-PQ with RESIDUAL encoding — corpus codes quantize
    // (vector − assigned coarse centroid) and each query builds one
    // distance table per probed cell against its own residual; the
    // (cell, sub, code) equi-join is simultaneously the IVF candidate
    // bound and the ADC lookup. Residual subtraction is float→double
    // widening + IEEE subtraction (exact), so the whole chain stays
    // engine-deterministic; codebooks here are the residual-space
    // first-16-by-id stand-ins (training is gated by q_pq_train;
    // QuantizeSpec pins the trained+residual recall win).
    Q(
      "q_ivfpq_residual",
      (spark, dir) => {
        val emb = Q.t(spark, dir, "embeddings")
        val cents = emb.orderBy(col("vec_id")).limit(16)
        val rcb = Quantize.pqCodebooks(
          Quantize.residuals(emb, cents, "vec_id", "embedding"),
          "vec_id", "resid", dim = 64, subspaces = 8, nCodes = 16)
        Quantize.ivfPqResidualTopK(
          emb, emb.filter(col("vec_id") < 4), cents, rcb,
          "vec_id", "embedding", dim = 64, subspaces = 8, k = 10, nProbe = 4)
      },
      Some {
        def cos(a: String, b: String) =
          s"""list_sum(list_transform(list_zip($a, $b), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
             |        / (sqrt(list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
             |         * sqrt(list_sum(list_transform($b, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))""".stripMargin
        s"""WITH coarse AS (
           |  SELECT vec_id AS ccid, embedding AS ccvec FROM embeddings ORDER BY vec_id LIMIT 16
           |), asgr AS (
           |  SELECT vec_id, embedding, ccid, ccvec FROM (
           |    SELECT e.vec_id, e.embedding, c.ccid, c.ccvec,
           |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
           |        ${cos("e.embedding", "c.ccvec")} DESC, c.ccid ASC) AS rn
           |    FROM embeddings e CROSS JOIN coarse c) t
           |  WHERE rn = 1
           |), rv AS (
           |  SELECT vec_id, ccid AS centroid_id,
           |    list_transform(generate_series(1, 64), i ->
           |      CAST(embedding[i] AS DOUBLE) - CAST(ccvec[i] AS DOUBLE)) AS rvec
           |  FROM asgr
           |), rcb AS (
           |  SELECT s.sub, c.code, c.v[s.sub * 8 + 1 : s.sub * 8 + 8] AS centroid
           |  FROM (SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS code,
           |               rvec AS v
           |        FROM (SELECT vec_id, rvec FROM rv ORDER BY vec_id LIMIT 16) t0) c
           |  CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS sub) s
           |), rsv AS (
           |  SELECT r.vec_id AS id, r.centroid_id, s.sub,
           |         r.rvec[s.sub * 8 + 1 : s.sub * 8 + 8] AS subvec
           |  FROM rv r CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS sub) s
           |), rpqd AS (
           |  SELECT sv.id, sv.centroid_id, sv.sub, cb.code,
           |    ${PqFold("sv.subvec", "cb.centroid")} AS dist2
           |  FROM rsv sv JOIN rcb cb USING (sub)
           |), rcodes AS (
           |  SELECT id, centroid_id, sub, code FROM (
           |    SELECT id, centroid_id, sub, code,
           |      ROW_NUMBER() OVER (PARTITION BY id, sub ORDER BY dist2, code) AS rn
           |    FROM rpqd) t
           |  WHERE rn = 1
           |), probes AS (
           |  SELECT query_id, centroid_id, qres FROM (
           |    SELECT q.vec_id AS query_id, c.ccid AS centroid_id,
           |      list_transform(generate_series(1, 64), i ->
           |        CAST(q.embedding[i] AS DOUBLE) - CAST(c.ccvec[i] AS DOUBLE)) AS qres,
           |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
           |        ${cos("q.embedding", "c.ccvec")} DESC, c.ccid ASC) AS rn
           |    FROM embeddings q CROSS JOIN coarse c WHERE q.vec_id < 4) t
           |  WHERE rn <= 4
           |), qs AS (
           |  SELECT p.query_id, p.centroid_id, s.sub,
           |         p.qres[s.sub * 8 + 1 : s.sub * 8 + 8] AS qsub
           |  FROM probes p CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS sub) s
           |), dtab AS (
           |  SELECT qs.query_id, qs.centroid_id, qs.sub, cb.code,
           |    ${PqFold("qs.qsub", "cb.centroid")} AS dd
           |  FROM qs JOIN rcb cb USING (sub)
           |), adc AS (
           |  SELECT d.query_id, c.id AS neighbor_id,
           |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(d.dd ORDER BY d.sub)),
           |                (a, b) -> a + b) AS adc
           |  FROM rcodes c
           |  JOIN dtab d ON d.centroid_id = c.centroid_id AND d.sub = c.sub AND d.code = c.code
           |  WHERE d.query_id <> c.id
           |  GROUP BY d.query_id, c.id
           |)
           |SELECT query_id, neighbor_id, CAST(rnk AS INT) AS rank FROM (
           |  SELECT query_id, neighbor_id,
           |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc ASC, neighbor_id ASC) AS rnk
           |  FROM adc) t
           |WHERE rnk <= 10""".stripMargin
      }
    ),

    // The FULL production ANN composition under the hash gate: coarse
    // IVF + residual encoding + TRAINED per-subspace codebooks. Inputs
    // snap to the 2^-20 grid, so the whole chain is engine-exact end to
    // end: residuals are exact grid differences (numerators < 2^21),
    // the training step's order-free member sums stay < 2^34 ≪ 2^53
    // (exact in any accumulation order), the mean is one IEEE division
    // (bit-identical trained centroids in both engines), and every
    // subsequent distance is a lane-ordered fold of identical doubles.
    // Empty codes carry their seed centroid (pqCodebooksFromUpdate's
    // COALESCE, mirrored in SQL). q_pq_train gates the training step in
    // isolation; this entry pins that training, residual encoding, and
    // the per-cell ADC search COMPOSE without losing determinism —
    // the deployment configuration, not a fixture toy.
    Q(
      "q_ivfpq_trained",
      (spark, dir) => {
        val grid = lit(1048576.0) // 2^20
        val qe = Q.t(spark, dir, "embeddings").select(
          col("vec_id"),
          transform(col("embedding"), x =>
            floor(x.cast("double") * grid + lit(0.5)).cast("double") / grid)
            .as("embedding"))
        val cents = qe.orderBy(col("vec_id")).limit(16)
        // residuals are PINNED and filled once: they feed the seed
        // codebooks, the Lloyd update AND the search-side code
        // assignment — un-materialized, the coarse assignment over the
        // raw corpus ran three times (guide §2.4: one corpus pass per
        // artifact, not per consumer)
        val res = Guard.pin(Quantize.residuals(qe, cents, "vec_id", "embedding"))
        res.count()
        // trained codebooks are PERSISTED then read back — the
        // deployment shape (train once, search many), and it keeps the
        // search plan from re-running the training lineage at each of
        // the codebooks' two appearances (encode + distance tables)
        val scratch = Q.scratch("rcbt")
        Quantize.pqTrainedCodebooks(res, "vec_id", "resid",
            dim = 64, subspaces = 8, nCodes = 16, iters = 1)
          .write.mode("overwrite").parquet(scratch)
        Quantize.ivfPqResidualTopKFromResiduals(
          res, qe.filter(col("vec_id") < 4), cents,
          spark.read.parquet(scratch),
          "vec_id", "embedding", dim = 64, subspaces = 8, k = 10, nProbe = 4)
      },
      Some {
        def cos(a: String, b: String) =
          s"""list_sum(list_transform(list_zip($a, $b), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
             |        / (sqrt(list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
             |         * sqrt(list_sum(list_transform($b, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))""".stripMargin
        s"""WITH qe AS (
           |  SELECT vec_id,
           |    list_transform(embedding, x ->
           |      CAST(floor(CAST(x AS DOUBLE) * 1048576.0 + 0.5) AS BIGINT) / 1048576.0) AS qv
           |  FROM embeddings
           |), coarse AS (
           |  SELECT vec_id AS ccid, qv AS ccvec FROM qe ORDER BY vec_id LIMIT 16
           |), asgr AS (
           |  SELECT vec_id, qv, ccid, ccvec FROM (
           |    SELECT e.vec_id, e.qv, c.ccid, c.ccvec,
           |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
           |        ${cos("e.qv", "c.ccvec")} DESC, c.ccid ASC) AS rn
           |    FROM qe e CROSS JOIN coarse c) t
           |  WHERE rn = 1
           |), rv AS (
           |  SELECT vec_id, ccid AS centroid_id,
           |    list_transform(generate_series(1, 64), i -> qv[i] - ccvec[i]) AS rvec
           |  FROM asgr
           |), rcbs AS (
           |  SELECT s.sub, c.code, c.v[s.sub * 8 + 1 : s.sub * 8 + 8] AS centroid
           |  FROM (SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS code,
           |               rvec AS v
           |        FROM (SELECT vec_id, rvec FROM rv ORDER BY vec_id LIMIT 16) t0) c
           |  CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS sub) s
           |), rsv AS (
           |  SELECT r.vec_id AS id, r.centroid_id, s.sub,
           |         r.rvec[s.sub * 8 + 1 : s.sub * 8 + 8] AS subvec
           |  FROM rv r CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS sub) s
           |), spqd AS (
           |  SELECT sv.id, sv.sub, cb.code,
           |    ${PqFold("sv.subvec", "cb.centroid")} AS dist2
           |  FROM rsv sv JOIN rcbs cb USING (sub)
           |), scodes AS (
           |  SELECT id, sub, code FROM (
           |    SELECT id, sub, code, ROW_NUMBER() OVER (PARTITION BY id, sub ORDER BY dist2, code) AS rn
           |    FROM spqd) t
           |  WHERE rn = 1
           |), m AS (
           |  SELECT c.sub, c.code, CAST(i - 1 AS INT) AS lane, sv.subvec[i] AS v
           |  FROM rsv sv JOIN scodes c ON sv.id = c.id AND sv.sub = c.sub,
           |       UNNEST(generate_series(1, 8)) AS u(i)
           |), upd AS (
           |  SELECT sub, code, lane, SUM(v) / CAST(COUNT(*) AS DOUBLE) AS centroid_v
           |  FROM m GROUP BY sub, code, lane
           |), tc AS (
           |  SELECT sub, code, list(centroid_v ORDER BY lane) AS c FROM upd GROUP BY sub, code
           |), rcbt AS (
           |  SELECT s.sub, s.code, COALESCE(t.c, s.centroid) AS centroid
           |  FROM rcbs s LEFT JOIN tc t ON s.sub = t.sub AND s.code = t.code
           |), rpqd AS (
           |  SELECT sv.id, sv.centroid_id, sv.sub, cb.code,
           |    ${PqFold("sv.subvec", "cb.centroid")} AS dist2
           |  FROM rsv sv JOIN rcbt cb USING (sub)
           |), rcodes AS (
           |  SELECT id, centroid_id, sub, code FROM (
           |    SELECT id, centroid_id, sub, code,
           |      ROW_NUMBER() OVER (PARTITION BY id, sub ORDER BY dist2, code) AS rn
           |    FROM rpqd) t
           |  WHERE rn = 1
           |), probes AS (
           |  SELECT query_id, centroid_id, qres FROM (
           |    SELECT q.vec_id AS query_id, c.ccid AS centroid_id,
           |      list_transform(generate_series(1, 64), i -> q.qv[i] - c.ccvec[i]) AS qres,
           |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
           |        ${cos("q.qv", "c.ccvec")} DESC, c.ccid ASC) AS rn
           |    FROM qe q CROSS JOIN coarse c WHERE q.vec_id < 4) t
           |  WHERE rn <= 4
           |), qs AS (
           |  SELECT p.query_id, p.centroid_id, s.sub,
           |         p.qres[s.sub * 8 + 1 : s.sub * 8 + 8] AS qsub
           |  FROM probes p CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS sub) s
           |), dtab AS (
           |  SELECT qs.query_id, qs.centroid_id, qs.sub, cb.code,
           |    ${PqFold("qs.qsub", "cb.centroid")} AS dd
           |  FROM qs JOIN rcbt cb USING (sub)
           |), adc AS (
           |  SELECT d.query_id, c.id AS neighbor_id,
           |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(d.dd ORDER BY d.sub)),
           |                (a, b) -> a + b) AS adc
           |  FROM rcodes c
           |  JOIN dtab d ON d.centroid_id = c.centroid_id AND d.sub = c.sub AND d.code = c.code
           |  WHERE d.query_id <> c.id
           |  GROUP BY d.query_id, c.id
           |)
           |SELECT query_id, neighbor_id, CAST(rnk AS INT) AS rank FROM (
           |  SELECT query_id, neighbor_id,
           |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc ASC, neighbor_id ASC) AS rnk
           |  FROM adc) t
           |WHERE rnk <= 10""".stripMargin
      }
    ),

    // Incremental statistics maintenance: per-language moments of the
    // < 400 corpus are PERSISTED; the delta batch's moments merge in by
    // exact integer summation (no corpus rescan), and the union
    // z-scores against the merged table. Because (Σx, Σx², n) are
    // exact longs, merged == full recompute bit-for-bit — the oracle
    // IS the plain full-corpus z-score.
    Q(
      "q_zscore_incremental",
      (spark, dir) => {
        val docs = Q.t(spark, dir, "documents")
        val scratch = Q.scratch("moments")
        Normalize.groupMoments(
            docs.filter(col("doc_id") < 400), "lang", "n_chars")
          .write.mode("overwrite").parquet(scratch)
        val merged = Normalize.mergeMoments("lang", Seq(
          spark.read.parquet(scratch),
          Normalize.groupMoments(
            docs.filter(col("doc_id") >= 400), "lang", "n_chars")))
        Normalize.zscoreAgainst(docs, merged, "lang", "n_chars",
          keep = Seq("doc_id", "lang", "n_chars"))
      },
      Some(
        s"""WITH $ZMomentsCte
           |SELECT doc_id, lang, n_chars,
           |  $ZScoreSql AS z
           |FROM documents JOIN g USING (lang)""".stripMargin
      )
    ),

    // A full Lloyd iteration beyond q_kmeans_assign: update centroids
    // from the first assignment, then re-assign against them — pins
    // that iterative clustering composes without losing bit-exactness
    // (the updated centroids are ordered-fold means; distances against
    // them fold in lane order).
    Q(
      "q_kmeans_iter2",
      (spark, dir) => {
        val vecs = Q.t(spark, dir, "embeddings")
        val c0 = Clustering.initialCentroids(vecs, "vec_id", "embedding", KClusters)
        val c1 = Clustering.centroidsFromUpdate(
          Clustering.updateStep(vecs, "vec_id", "embedding", c0))
        Clustering.assign(vecs, "vec_id", "embedding", c1)
          .withColumnRenamed("id", "vec_id")
      },
      Some(s"WITH $Iter2Ctes SELECT vec_id, cluster_id, dist2 FROM asg2")
    ),

    // IVF ANN with a TRAINED coarse quantizer: the Lloyd-iteration
    // centroids (cast to float, the storage dtype) replace q_ann_ivf's
    // first-k-by-id stand-ins — the composition the IVF operator
    // documents as "swap in trained centroids at deployment". Oracle
    // mirrors training, assignment, probing, and ranking end to end.
    Q(
      "q_ann_ivf_trained",
      (spark, dir) => {
        val emb = Q.t(spark, dir, "embeddings")
        val c0 = Clustering.initialCentroids(emb, "vec_id", "embedding", KClusters)
        val trained = Clustering.centroidsFromUpdate(
          Clustering.updateStep(emb, "vec_id", "embedding", c0))
          .select(col("cluster_id").as("vec_id"),
            transform(col("centroid"), v => v.cast("float")).as("embedding"))
        graft.operators.Similarity.ivfTopKWith(
          emb, emb.filter(col("vec_id") < 8), trained,
          "vec_id", "embedding", k = 5, nProbe = 2)
      },
      Some {
        def cos(a: String, b: String) =
          s"""list_sum(list_transform(list_zip($a, $b), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
             |        / (sqrt(list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
             |         * sqrt(list_sum(list_transform($b, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))""".stripMargin
        s"""WITH $Iter2Ctes, centf AS (
           |  SELECT cluster_id AS ccid, list_transform(centroid, v -> CAST(v AS FLOAT)) AS ccvec
           |  FROM cent2
           |), assignedf AS (
           |  SELECT vec_id AS neighbor_id, embedding AS nvec, ccid AS cell FROM (
           |    SELECT e.vec_id, e.embedding, c.ccid,
           |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
           |        ${cos("e.embedding", "c.ccvec")} DESC, c.ccid ASC) AS rn
           |    FROM embeddings e CROSS JOIN centf c) t
           |  WHERE rn = 1
           |), probes AS (
           |  SELECT query_id, qvec, cell FROM (
           |    SELECT q.vec_id AS query_id, q.embedding AS qvec, c.ccid AS cell,
           |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
           |        ${cos("q.embedding", "c.ccvec")} DESC, c.ccid ASC) AS rn
           |    FROM embeddings q CROSS JOIN centf c WHERE q.vec_id < 8) t
           |  WHERE rn <= 2
           |), scoredf AS (
           |  SELECT p.query_id, a.neighbor_id, ${cos("p.qvec", "a.nvec")} AS sim
           |  FROM probes p JOIN assignedf a USING (cell)
           |  WHERE p.query_id <> a.neighbor_id
           |)
           |SELECT query_id, neighbor_id, CAST(rnk AS INT) AS rank FROM (
           |  SELECT query_id, neighbor_id,
           |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rnk
           |  FROM scoredf) t
           |WHERE rnk <= 5""".stripMargin
      }
    ),

    // IVF recall against the exact brute-force baseline — the
    // evaluation metric a vector index is tuned by. Integer overlap
    // counts per query, so the oracle is exact regardless of float
    // noise in the similarity values themselves (both rankings are
    // reproduced bit-for-bit anyway).
    Q(
      "q_ivf_recall",
      (spark, dir) => {
        val emb = Q.t(spark, dir, "embeddings")
        val queries = emb.filter(col("vec_id") < 8)
        val c0 = Clustering.initialCentroids(emb, "vec_id", "embedding", KClusters)
        val trained = Clustering.centroidsFromUpdate(
          Clustering.updateStep(emb, "vec_id", "embedding", c0))
          .select(col("cluster_id").as("vec_id"),
            transform(col("centroid"), v => v.cast("float")).as("embedding"))
        val ivf = graft.operators.Similarity.ivfTopKWith(
          emb, queries, trained, "vec_id", "embedding", k = 5, nProbe = 2)
        val bf = graft.operators.Similarity.bruteForceTopK(
          emb, queries, "vec_id", "embedding", k = 5)
        bf.join(ivf, Seq("query_id", "neighbor_id"), "left_semi")
          .groupBy(col("query_id"))
          .agg(count(lit(1)).as("n_match"))
      },
      Some {
        def cos(a: String, b: String) =
          s"""list_sum(list_transform(list_zip($a, $b), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
             |        / (sqrt(list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
             |         * sqrt(list_sum(list_transform($b, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))""".stripMargin
        s"""WITH $Iter2Ctes, centf AS (
           |  SELECT cluster_id AS ccid, list_transform(centroid, v -> CAST(v AS FLOAT)) AS ccvec
           |  FROM cent2
           |), assignedf AS (
           |  SELECT vec_id AS neighbor_id, embedding AS nvec, ccid AS cell FROM (
           |    SELECT e.vec_id, e.embedding, c.ccid,
           |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
           |        ${cos("e.embedding", "c.ccvec")} DESC, c.ccid ASC) AS rn
           |    FROM embeddings e CROSS JOIN centf c) t
           |  WHERE rn = 1
           |), probes AS (
           |  SELECT query_id, qvec, cell FROM (
           |    SELECT q.vec_id AS query_id, q.embedding AS qvec, c.ccid AS cell,
           |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
           |        ${cos("q.embedding", "c.ccvec")} DESC, c.ccid ASC) AS rn
           |    FROM embeddings q CROSS JOIN centf c WHERE q.vec_id < 8) t
           |  WHERE rn <= 2
           |), ivf AS (
           |  SELECT query_id, neighbor_id FROM (
           |    SELECT p.query_id, a.neighbor_id,
           |      ROW_NUMBER() OVER (PARTITION BY p.query_id ORDER BY
           |        ${cos("p.qvec", "a.nvec")} DESC, a.neighbor_id ASC) AS rnk
           |    FROM probes p JOIN assignedf a USING (cell)
           |    WHERE p.query_id <> a.neighbor_id) t
           |  WHERE rnk <= 5
           |), bf AS (
           |  SELECT query_id, neighbor_id FROM (
           |    SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
           |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
           |        ${cos("q.embedding", "e.embedding")} DESC, e.vec_id ASC) AS rnk
           |    FROM embeddings e CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 8) q
           |    WHERE e.vec_id <> q.vec_id) t
           |  WHERE rnk <= 5
           |)
           |SELECT query_id, COUNT(*) AS n_match
           |FROM bf SEMI JOIN ivf USING (query_id, neighbor_id)
           |GROUP BY query_id""".stripMargin
      }
    ),

    // The IVF retraining trigger — the drift story the index lifecycle
    // documents (Similarity.appendToIndex: "recall decay is the signal
    // to retrain") as an operator: recall of the frozen-centroid index
    // on the BUILD-time corpus (< 400) vs on the APPENDED corpus (all
    // rows, same frozen centroids), emitted as one decision row. The
    // retrain flag is PURE INTEGER arithmetic (recall drop > 0.1 ⟺
    // match-count drop > 4 out of 40), so the gate is float-immune;
    // the recall doubles are single divisions of exact ints.
    Q(
      "q_ivf_drift",
      (spark, dir) => {
        val emb = Q.t(spark, dir, "embeddings")
        val queries = emb.filter(col("vec_id") < 8)
        val base = emb.filter(col("vec_id") < 400)
        val cents = base.orderBy(col("vec_id")).limit(16) // frozen at build
        def matches(corpus: org.apache.spark.sql.DataFrame, as: String) = {
          val ivf = graft.operators.Similarity.ivfTopKWith(
            corpus, queries, cents, "vec_id", "embedding", k = 5, nProbe = 2)
          val bf = graft.operators.Similarity.bruteForceTopK(
            corpus, queries, "vec_id", "embedding", k = 5)
          bf.join(ivf, Seq("query_id", "neighbor_id"), "left_semi")
            .agg(count(lit(1)).as(as))
        }
        matches(base, "n_match_before")
          .crossJoin(matches(emb, "n_match_after"))
          .select(
            col("n_match_before"), col("n_match_after"),
            (col("n_match_before").cast("double") / lit(40.0)).as("recall_before"),
            (col("n_match_after").cast("double") / lit(40.0)).as("recall_after"),
            (col("n_match_before") - col("n_match_after") > lit(4L)).as("retrain"))
      },
      Some {
        def cos(a: String, b: String) =
          s"""list_sum(list_transform(list_zip($a, $b), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
             |        / (sqrt(list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
             |         * sqrt(list_sum(list_transform($b, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))""".stripMargin
        // one recall pipeline per corpus scope, sharing the frozen coarse
        // centroids (first 16 of the build-time corpus)
        def scope(pred: String, sfx: String, outCol: String) =
          s"""asg$sfx AS (
             |  SELECT vec_id AS neighbor_id, embedding AS nvec, ccid AS cell FROM (
             |    SELECT e.vec_id, e.embedding, c.ccid,
             |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
             |        ${cos("e.embedding", "c.ccvec")} DESC, c.ccid ASC) AS rn
             |    FROM embeddings e CROSS JOIN coarse c WHERE $pred) t
             |  WHERE rn = 1
             |), probes$sfx AS (
             |  SELECT query_id, qvec, cell FROM (
             |    SELECT q.vec_id AS query_id, q.embedding AS qvec, c.ccid AS cell,
             |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
             |        ${cos("q.embedding", "c.ccvec")} DESC, c.ccid ASC) AS rn
             |    FROM embeddings q CROSS JOIN coarse c WHERE q.vec_id < 8) t
             |  WHERE rn <= 2
             |), ivf$sfx AS (
             |  SELECT query_id, neighbor_id FROM (
             |    SELECT p.query_id, a.neighbor_id,
             |      ROW_NUMBER() OVER (PARTITION BY p.query_id ORDER BY
             |        ${cos("p.qvec", "a.nvec")} DESC, a.neighbor_id ASC) AS rnk
             |    FROM probes$sfx p JOIN asg$sfx a USING (cell)
             |    WHERE p.query_id <> a.neighbor_id) t
             |  WHERE rnk <= 5
             |), bf$sfx AS (
             |  SELECT query_id, neighbor_id FROM (
             |    SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
             |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
             |        ${cos("q.embedding", "e.embedding")} DESC, e.vec_id ASC) AS rnk
             |    FROM embeddings e
             |    CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 8) q
             |    WHERE e.vec_id <> q.vec_id AND $pred) t
             |  WHERE rnk <= 5
             |), n$sfx AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS $outCol
             |  FROM bf$sfx SEMI JOIN ivf$sfx USING (query_id, neighbor_id)
             |)""".stripMargin
        s"""WITH coarse AS (
           |  SELECT vec_id AS ccid, embedding AS ccvec FROM embeddings
           |  WHERE vec_id < 400 ORDER BY vec_id LIMIT 16
           |),
           |${scope("e.vec_id < 400", "b", "n_match_before")},
           |${scope("TRUE", "a", "n_match_after")}
           |SELECT n_match_before, n_match_after,
           |  CAST(n_match_before AS DOUBLE) / 40.0 AS recall_before,
           |  CAST(n_match_after AS DOUBLE) / 40.0 AS recall_after,
           |  (n_match_before - n_match_after) > 4 AS retrain
           |FROM nb CROSS JOIN na""".stripMargin
      }
    ),

    // PQ codebook DRIFT trigger — q_ivf_drift's integer decision shape
    // composed with ADC recall, closing the retrain loop: codebooks
    // Lloyd-trained on the < 400 build corpus (grid-snapped inputs so
    // the training means are order-free-exact), then three recall
    // measurements against exact-L2 top-5 (8 queries × 5 = 40 pairs):
    // stale codebooks on the build corpus, stale codebooks after the
    // append (the drift signal), and codebooks RETRAINED on the drifted
    // corpus (the remediation). All counts are integers and the retrain
    // flag is integer arithmetic, so the gate is float-immune; the
    // oracle replays seed→assign→mean→coalesce training and the
    // sub-ordered ADC fold for every scope.
    Q(
      "q_pq_drift",
      (spark, dir) => {
        val grid = lit(1048576.0) // 2^20
        val qe = Q.t(spark, dir, "embeddings").select(
          col("vec_id"),
          transform(col("embedding"), x =>
            floor(x.cast("double") * grid + lit(0.5)).cast("double") / grid)
            .as("embedding"))
        val base = qe.filter(col("vec_id") < 400)
        val queries = qe.filter(col("vec_id") < 8)
        val stalePath = Q.scratch("pqdrift_s")
        val freshPath = Q.scratch("pqdrift_r")
        val bfQePath = Q.scratch("pqdrift_bf")
        def top(corpus: org.apache.spark.sql.DataFrame, cb: org.apache.spark.sql.DataFrame) =
          Quantize.pqAdcTopK(
            Quantize.pqEncode(corpus, "vec_id", "embedding", cb, dim = 64, subspaces = 8),
            cb, queries, "vec_id", "embedding", dim = 64, subspaces = 8, k = 5)
        def bf(corpus: org.apache.spark.sql.DataFrame) = {
          val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("qv"))
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(col("query_id"))
            .orderBy(col("d2").asc, col("neighbor_id").asc)
          corpus.select(col("vec_id").as("neighbor_id"), col("embedding").as("nv"))
            .crossJoin(broadcast(q))
            .filter(col("query_id") =!= col("neighbor_id"))
            .select(col("query_id"), col("neighbor_id"),
              Clustering.squaredDistance(col("nv"), col("qv")).as("d2"))
            .withColumn("rnk", row_number().over(w))
            .filter(col("rnk") <= 5)
            .select(col("query_id"), col("neighbor_id"))
        }
        def matches(t: org.apache.spark.sql.DataFrame,
            b: org.apache.spark.sql.DataFrame, as: String) =
          b.join(t, Seq("query_id", "neighbor_id"), "left_semi")
            .agg(count(lit(1)).as(as))
        // the full-corpus exact top-5 feeds TWO recall pipelines
        // (after + retrained) — pin it once like the codebooks, or the
        // brute-force distance pass runs twice (the r15 bench-drift
        // audit's finding). The three artifact builds (stale train,
        // fresh train, exact top-5) are INDEPENDENT — submit them from
        // a small pool so each job's tasks back-fill the previous
        // job's straggler tail instead of serializing three small
        // actions (guide §2.6); each write is its own artifact, so the
        // bytes are identical to the sequential order.
        val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
        try {
          Seq[() => Unit](
            () => Quantize.pqTrainedCodebooks(base, "vec_id", "embedding",
                dim = 64, subspaces = 8, nCodes = 16, iters = 1)
              .write.mode("overwrite").parquet(stalePath),
            () => Quantize.pqTrainedCodebooks(qe, "vec_id", "embedding",
                dim = 64, subspaces = 8, nCodes = 16, iters = 1)
              .write.mode("overwrite").parquet(freshPath),
            () => bf(qe).write.mode("overwrite").parquet(bfQePath)
          ).map(j => pool.submit(new java.util.concurrent.Callable[Unit] {
            def call(): Unit = j()
          })).foreach(_.get())
        } finally pool.shutdown()
        val scb = spark.read.parquet(stalePath)
        val rcb = spark.read.parquet(freshPath)
        val bfQe = spark.read.parquet(bfQePath)
        matches(top(base, scb), bf(base), "n_match_before")
          .crossJoin(matches(top(qe, scb), bfQe, "n_match_after"))
          .crossJoin(matches(top(qe, rcb), bfQe, "n_match_retrained"))
          .select(col("n_match_before"), col("n_match_after"),
            col("n_match_retrained"),
            (col("n_match_before") - col("n_match_after") > lit(2L)).as("retrain"))
      },
      Some {
        val fold64 =
          s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             |      list_transform(generate_series(1, 64), i ->
             |        (CAST(e.qv[i] AS DOUBLE) - CAST(q.qv[i] AS DOUBLE))
             |        * (CAST(e.qv[i] AS DOUBLE) - CAST(q.qv[i] AS DOUBLE)))),
             |      (x, y) -> x + y)""".stripMargin
        // seed → encode → per-(sub,code,lane) mean → coalesce: one Lloyd
        // iteration over the scope `pred`, ending in ${p}cb(sub, code,
        // centroid) — mirrors pqTrainedCodebooks(iters = 1)
        def trainCtes(pred: String, p: String) =
          s"""${p}cb0 AS (
             |  SELECT s.sub, c.code, c.v[s.sub * 8 + 1 : s.sub * 8 + 8] AS centroid
             |  FROM (SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS code,
             |               qv AS v
             |        FROM (SELECT vec_id, qv FROM qe WHERE $pred ORDER BY vec_id LIMIT 16) t0) c
             |  CROSS JOIN subs s
             |), ${p}tsv AS (
             |  SELECT vec_id AS id, s.sub, qv[s.sub * 8 + 1 : s.sub * 8 + 8] AS subvec
             |  FROM qe CROSS JOIN subs s WHERE $pred
             |), ${p}pqd0 AS (
             |  SELECT sv.id, sv.sub, cb.code,
             |    ${PqFold("sv.subvec", "cb.centroid")} AS dist2
             |  FROM ${p}tsv sv JOIN ${p}cb0 cb USING (sub)
             |), ${p}c0 AS (
             |  SELECT id, sub, code FROM (
             |    SELECT id, sub, code, ROW_NUMBER() OVER (PARTITION BY id, sub ORDER BY dist2, code) AS rn
             |    FROM ${p}pqd0) t
             |  WHERE rn = 1
             |), ${p}m AS (
             |  SELECT c.sub, c.code, CAST(i - 1 AS INT) AS lane, sv.subvec[i] AS v
             |  FROM ${p}tsv sv JOIN ${p}c0 c ON sv.id = c.id AND sv.sub = c.sub,
             |       UNNEST(generate_series(1, 8)) AS u(i)
             |), ${p}upd AS (
             |  SELECT sub, code, lane, SUM(v) / CAST(COUNT(*) AS DOUBLE) AS cv
             |  FROM ${p}m GROUP BY sub, code, lane
             |), ${p}tc AS (
             |  SELECT sub, code, list(cv ORDER BY lane) AS c FROM ${p}upd GROUP BY sub, code
             |), ${p}cb AS (
             |  SELECT s.sub, s.code, COALESCE(t.c, s.centroid) AS centroid
             |  FROM ${p}cb0 s LEFT JOIN ${p}tc t ON s.sub = t.sub AND s.code = t.code
             |)""".stripMargin
        // encode the scope with `cb`, build the query distance tables,
        // rank by the sub-ordered ADC fold — ends in ${p}top
        def evalCtes(cb: String, pred: String, p: String) =
          s"""${p}esv AS (
             |  SELECT vec_id AS id, s.sub, qv[s.sub * 8 + 1 : s.sub * 8 + 8] AS subvec
             |  FROM qe CROSS JOIN subs s WHERE $pred
             |), ${p}epqd AS (
             |  SELECT sv.id, sv.sub, cb.code,
             |    ${PqFold("sv.subvec", "cb.centroid")} AS dist2
             |  FROM ${p}esv sv JOIN $cb cb USING (sub)
             |), ${p}ec AS (
             |  SELECT id, sub, code FROM (
             |    SELECT id, sub, code, ROW_NUMBER() OVER (PARTITION BY id, sub ORDER BY dist2, code) AS rn
             |    FROM ${p}epqd) t
             |  WHERE rn = 1
             |), ${p}dtab AS (
             |  SELECT q.query_id, q.sub, cb.code,
             |    ${PqFold("q.qsub", "cb.centroid")} AS dd
             |  FROM qsubs q JOIN $cb cb USING (sub)
             |), ${p}adc AS (
             |  SELECT d.query_id, c.id AS neighbor_id,
             |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(d.dd ORDER BY d.sub)),
             |                (a, b) -> a + b) AS adc
             |  FROM ${p}ec c JOIN ${p}dtab d ON c.sub = d.sub AND c.code = d.code
             |  WHERE d.query_id <> c.id
             |  GROUP BY d.query_id, c.id
             |), ${p}top AS (
             |  SELECT query_id, neighbor_id FROM (
             |    SELECT query_id, neighbor_id,
             |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc ASC, neighbor_id ASC) AS rnk
             |    FROM ${p}adc) t
             |  WHERE rnk <= 5
             |)""".stripMargin
        def bfCtes(pred: String, p: String) =
          s"""${p}bf AS (
             |  SELECT query_id, neighbor_id FROM (
             |    SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
             |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
             |        $fold64 ASC, e.vec_id ASC) AS rnk
             |    FROM (SELECT vec_id, qv FROM qe) e
             |    CROSS JOIN (SELECT vec_id, qv FROM qe WHERE vec_id < 8) q
             |    WHERE e.vec_id <> q.vec_id AND $pred) t
             |  WHERE rnk <= 5
             |)""".stripMargin
        s"""WITH qe AS (
           |  SELECT vec_id,
           |    list_transform(embedding, x ->
           |      CAST(floor(CAST(x AS DOUBLE) * 1048576.0 + 0.5) AS BIGINT) / 1048576.0) AS qv
           |  FROM embeddings
           |), subs AS (SELECT unnest(generate_series(0, 7)) AS sub),
           |qsubs AS (
           |  SELECT vec_id AS query_id, s.sub, qv[s.sub * 8 + 1 : s.sub * 8 + 8] AS qsub
           |  FROM qe CROSS JOIN subs s WHERE vec_id < 8
           |),
           |${trainCtes("vec_id < 400", "s")},
           |${trainCtes("TRUE", "r")},
           |${evalCtes("scb", "vec_id < 400", "b")},
           |${evalCtes("scb", "TRUE", "a")},
           |${evalCtes("rcb", "TRUE", "t")},
           |${bfCtes("e.vec_id < 400", "bb")},
           |${bfCtes("TRUE", "ba")},
           |nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_match_before
           |       FROM bbbf SEMI JOIN btop USING (query_id, neighbor_id)),
           |na AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_match_after
           |       FROM babf SEMI JOIN atop USING (query_id, neighbor_id)),
           |nr AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_match_retrained
           |       FROM babf SEMI JOIN ttop USING (query_id, neighbor_id))
           |SELECT n_match_before, n_match_after, n_match_retrained,
           |  (n_match_before - n_match_after) > 2 AS retrain
           |FROM nb CROSS JOIN na CROSS JOIN nr""".stripMargin
      }
    ),

    // The recall-vs-probes tuning curve as a first-class, regression-
    // guarded artifact: total brute-force-top-5 hits across the 8 query
    // vectors at nProbe ∈ {1, 2, 4}, from ONE candidate pass (probe
    // ranks computed once to max(probes), each sweep point filters the
    // shared rank). Integer hit counts, so the gate is float-immune;
    // recall@k = n_match / 40 downstream.
    Q(
      "q_ivf_sweep",
      (spark, dir) => {
        val emb = Q.t(spark, dir, "embeddings")
        val queries = emb.filter(col("vec_id") < 8)
        val c0 = Clustering.initialCentroids(emb, "vec_id", "embedding", KClusters)
        val trained = Clustering.centroidsFromUpdate(
          Clustering.updateStep(emb, "vec_id", "embedding", c0))
          .select(col("cluster_id").as("vec_id"),
            transform(col("centroid"), v => v.cast("float")).as("embedding"))
        val swept = graft.operators.Similarity.ivfProbeSweep(
          emb, queries, trained, "vec_id", "embedding", k = 5,
          probes = Seq(1, 2, 4))
        val bf = graft.operators.Similarity.bruteForceTopK(
          emb, queries, "vec_id", "embedding", k = 5)
        swept.join(bf.select(col("query_id"), col("neighbor_id")),
            Seq("query_id", "neighbor_id"))
          .groupBy(col("n_probe"))
          .agg(count(lit(1)).as("n_match"))
      },
      Some {
        def cos(a: String, b: String) =
          s"""list_sum(list_transform(list_zip($a, $b), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
             |        / (sqrt(list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
             |         * sqrt(list_sum(list_transform($b, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))""".stripMargin
        s"""WITH $Iter2Ctes, centf AS (
           |  SELECT cluster_id AS ccid, list_transform(centroid, v -> CAST(v AS FLOAT)) AS ccvec
           |  FROM cent2
           |), assignedf AS (
           |  SELECT vec_id AS neighbor_id, embedding AS nvec, ccid AS cell FROM (
           |    SELECT e.vec_id, e.embedding, c.ccid,
           |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
           |        ${cos("e.embedding", "c.ccvec")} DESC, c.ccid ASC) AS rn
           |    FROM embeddings e CROSS JOIN centf c) t
           |  WHERE rn = 1
           |), proberanks AS (
           |  SELECT query_id, qvec, cell, rn AS crank FROM (
           |    SELECT q.vec_id AS query_id, q.embedding AS qvec, c.ccid AS cell,
           |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
           |        ${cos("q.embedding", "c.ccvec")} DESC, c.ccid ASC) AS rn
           |    FROM embeddings q CROSS JOIN centf c WHERE q.vec_id < 8) t
           |  WHERE rn <= 4
           |), swept AS (
           |  SELECT pv.n_probe, p.query_id, p.qvec, p.cell
           |  FROM proberanks p CROSS JOIN (VALUES (1), (2), (4)) pv(n_probe)
           |  WHERE p.crank <= pv.n_probe
           |), ivf AS (
           |  SELECT n_probe, query_id, neighbor_id FROM (
           |    SELECT s.n_probe, s.query_id, a.neighbor_id,
           |      ROW_NUMBER() OVER (PARTITION BY s.n_probe, s.query_id ORDER BY
           |        ${cos("s.qvec", "a.nvec")} DESC, a.neighbor_id ASC) AS rnk
           |    FROM swept s JOIN assignedf a USING (cell)
           |    WHERE s.query_id <> a.neighbor_id) t
           |  WHERE rnk <= 5
           |), bf AS (
           |  SELECT query_id, neighbor_id FROM (
           |    SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
           |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
           |        ${cos("q.embedding", "e.embedding")} DESC, e.vec_id ASC) AS rnk
           |    FROM embeddings e CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 8) q
           |    WHERE e.vec_id <> q.vec_id) t
           |  WHERE rnk <= 5
           |)
           |SELECT n_probe, COUNT(*) AS n_match
           |FROM ivf JOIN bf USING (query_id, neighbor_id)
           |GROUP BY n_probe""".stripMargin
      }
    ),

    // The composed round-4 curation gate: entropy band + token
    // repetition + per-language length calibration in one pass over the
    // corpus (moments broadcast). Every score is bit-exact (table ln,
    // single divisions), so the filter decisions are deterministic and
    // the whole gate is oracle-checkable end to end.
    Q(
      "q_quality_gate",
      (spark, dir) => {
        val scored = Normalize.zscoreByGroup(Q.t(spark, dir, "documents"),
          groupCol = "lang", valueCol = "n_chars",
          keep = Seq("doc_id", "text"))
          .select(col("doc_id"),
            TextAnalysis.charEntropy(col("text")).as("entropy"),
            TextAnalysis.dupTokenFrac(col("text")).as("dup_frac"),
            col("z").as("z_len"))
        scored.filter(col("entropy") >= 2.0 &&
          col("dup_frac") <= 0.6 && abs(col("z_len")) <= 1.5)
      },
      Some(
        s"""WITH lnt AS (SELECT $LnTabSql AS l),
           |$ZMomentsCte, scored AS (
           |  SELECT doc_id,
           |    $EntropySql AS entropy,
           |    CASE WHEN len(t) = 0 THEN 0.0
           |         ELSE 1.0 - CAST(len(list_distinct(t)) AS DOUBLE) / CAST(len(t) AS DOUBLE)
           |    END AS dup_frac,
           |    $ZScoreSql AS z_len
           |  FROM (SELECT doc_id, text, lang, n_chars,
           |          str_split(text, '') AS cs, $SqlToks AS t
           |        FROM documents)
           |  JOIN g USING (lang) CROSS JOIN lnt
           |)
           |SELECT doc_id, entropy, dup_frac, z_len FROM scored
           |WHERE entropy >= 2.0 AND dup_frac <= 0.6 AND abs(z_len) <= 1.5""".stripMargin
      )
    ),

    // ORC source/sink round-trip (the third columnar format after
    // parquet and CSV/JSON): write part to ORC, read it back. The
    // oracle checks against the original parquet values — a true
    // lossless-round-trip assertion.
    Q(
      "q_orc_roundtrip",
      (spark, dir) => {
        val tmp = Q.scratch("orc")
        Q.t(spark, dir, "part").write.mode("overwrite").orc(tmp)
        spark.read.orc(tmp)
          .select(col("p_partkey"), col("p_name"), col("p_brand"),
            col("p_type"), col("p_size"), col("p_retailprice"))
      },
      Some(
        "SELECT p_partkey, p_name, p_brand, p_type, p_size, p_retailprice FROM part"
      )
    ),

    // Topic-balanced selection: cap every k-means cell at 40 members,
    // closest-to-centroid first — the per-topic quota pass that stops
    // one dominant topic from swamping a curated mixture. One broadcast
    // argmin (assignment, zero corpus shuffles) + one cluster-keyed
    // window whose sort is confined to each cluster's partition. dist2
    // is the lane-ordered fold, so the rank order — and therefore the
    // kept set — is engine-exact.
    Q(
      "q_cluster_cap",
      (spark, dir) => {
        val vecs = Q.t(spark, dir, "embeddings")
        val assigned = Clustering.assign(vecs, "vec_id", "embedding",
          Clustering.initialCentroids(vecs, "vec_id", "embedding", KClusters))
        val out = Clustering.capPerCluster(assigned, cap = 40)
          .withColumnRenamed("id", "vec_id")
        // the hot-topic safety fact, asserted in the gate itself: each
        // map task forwards at most cap rows per cluster BELOW the
        // exchange, so a skewed topic's full mass never crosses the
        // shuffle (typed-node match — toString shapes aren't stable API)
        Q.requireMapSideGroupLimit(out, cap = 40)
        out
      },
      Some(
        s"""WITH $AssignCtes, r AS (
           |  SELECT vec_id, cluster_id, dist2,
           |    ROW_NUMBER() OVER (PARTITION BY cluster_id ORDER BY dist2, vec_id) AS rn
           |  FROM asg)
           |SELECT vec_id, cluster_id, dist2 FROM r WHERE rn <= 40""".stripMargin
      )
    ),

    // Loss-driven domain reweighting (the DoReMi decision shape):
    // per-language mean loss rate → excess over the easiest language →
    // normalized mixture weight, so the HARDEST language takes the
    // largest weight. The rate fed in is the shifted loss −tab_rate
    // (the ln ΣN corpus constant cancels in the excess — see
    // doremiWeightCtes; round 10 fixed the sign, which previously
    // upweighted the easiest language). The per-doc rate snaps to
    // the 2^-20 grid so the per-language sum is order-free integer
    // arithmetic; the baseline and normalizer operate on |langs| rows
    // (ordered fold in lang order — the q_temperature_mix discipline).
    Q(
      "q_doremi_weights",
      (spark, dir) => {
        val docs = Q.t(spark, dir, "documents")
        val rated = TextAnalysis
          .unigramSurprisal(docs, "doc_id", "text")
          .withColumnRenamed("id", "doc_id")
          .join(docs.select(col("doc_id"), col("lang")), "doc_id")
          .withColumn("loss_rate", -(col("nll_tab") / col("n_tokens").cast("double")))
        Sampling.excessLossWeights(rated, "lang", "loss_rate")
      },
      Some(
        s"""WITH $UnigramSurCtes, ${doremiWeightCtes("sur", "documents", "")}
           |SELECT lang, n, weight FROM w""".stripMargin
      )
    ),

    // The DoReMi loop closed end-to-end: loss → weights → quotas →
    // deterministic selection. Per-language excess-loss weights
    // (q_doremi_weights' exact chain) turn a 200-doc budget into
    // per-language quotas (floor of budget × weight — one IEEE multiply
    // both engines share), and quotaSample keeps exactly that many docs
    // per language in unbiased id-hash order. Baseline languages get
    // quota 0 and vanish; the hardest language absorbs the budget. One
    // corpus-sized window shuffle; weights/quotas ride broadcast.
    Q(
      "q_doremi_sample",
      (spark, dir) => {
        val docs = Q.t(spark, dir, "documents")
        val rated = TextAnalysis
          .unigramSurprisal(docs, "doc_id", "text")
          .withColumnRenamed("id", "doc_id")
          .join(docs.select(col("doc_id"), col("lang")), "doc_id")
          .withColumn("loss_rate", -(col("nll_tab") / col("n_tokens").cast("double")))
        val quota = Sampling.excessLossWeights(rated, "lang", "loss_rate")
          .select(col("lang"),
            floor(lit(200.0) * col("weight")).cast("long").as("alloc"))
        Sampling.quotaSample(
          docs.select(col("doc_id"), col("lang")), "lang", "doc_id", quota)
          .select(col("doc_id"), col("lang"))
      },
      Some {
        val pm = s"(doc_id % ${Sampling.P} + ${Sampling.P}) % ${Sampling.P}"
        s"""WITH $UnigramSurCtes, ${doremiWeightCtes("sur", "documents", "")}, qta AS (
           |  SELECT lang, CAST(FLOOR(200.0 * weight) AS BIGINT) AS alloc FROM w
           |), r AS (
           |  SELECT doc_id, lang, ROW_NUMBER() OVER (
           |    PARTITION BY lang
           |    ORDER BY ($pm * 2246822519 + 604171) % ${Sampling.P} ASC, doc_id ASC) AS rn
           |  FROM documents)
           |SELECT doc_id, lang FROM r JOIN qta USING (lang) WHERE rn <= alloc""".stripMargin
      }
    ),

    // DoReMi iteration 2 — the loop closed ONE TURN FURTHER: the
    // round-1 weights select the quota mixture, the unigram reference
    // model is REBUILT from the selected corpus, every selected doc is
    // re-rated under it, and the round-2 weights come out of the same
    // excess-loss chain. This is the property DoReMi promises —
    // iterating reweighting on the reweighted mixture converges (the
    // engineered-corpus spec in SamplingSpec pins excess-spread
    // shrinkage; the gate pins both rounds' numbers bit-exactly).
    // Same discipline throughout: 2^-20 grid sums, |langs|-row
    // baseline/normalizer, selection by integer hash rank. Two
    // corpus-linear rating passes + two |langs|-row decisions; the only
    // corpus-sized shuffle beyond rating is the selection window.
    Q(
      "q_doremi_iter2",
      (spark, dir) => {
        val docs = Q.t(spark, dir, "documents")
        def rated(d: org.apache.spark.sql.DataFrame) = TextAnalysis
          .unigramSurprisal(d, "doc_id", "text")
          .withColumnRenamed("id", "doc_id")
          .join(d.select(col("doc_id"), col("lang")), "doc_id")
          .withColumn("loss_rate", -(col("nll_tab") / col("n_tokens").cast("double")))
        // Materialize each round boundary to scratch parquet (the
        // production checkpoint between DoReMi rounds) instead of
        // persist(): the rating chain embeds the 16k-entry ln-table as
        // a plan LITERAL, and both unpersisted lineage (the chain
        // re-ran once per consumer — 27 s first measured) and cached
        // lineage (every subsequent action re-canonicalizes the
        // literal-bearing cached plans — still 13 s) pay for it on the
        // driver. A file round-trip gives every downstream consumer a
        // literal-free scan plan: ~3 s total, one rating pass per
        // round. All checkpointed frames are per-doc or |langs|-sized.
        def mat(df: org.apache.spark.sql.DataFrame, tag: String) = {
          val p = Q.scratch(tag)
          df.write.mode("overwrite").parquet(p)
          spark.read.parquet(p)
        }
        val rated1 = mat(rated(docs), "doremi2r1")
        val w1 = mat(
          Sampling.excessLossWeights(rated1, "lang", "loss_rate"), "doremi2w1")
        val quota = w1.select(col("lang"),
          floor(lit(200.0) * col("weight")).cast("long").as("alloc"))
        val sel = mat(Sampling.quotaSample(
          docs.select(col("doc_id"), col("lang")), "lang", "doc_id", quota),
          "doremi2sel")
        val rated2 = mat(rated(docs.join(sel.select("doc_id"), "doc_id")), "doremi2r2")
        val w2 = Sampling.excessLossWeights(rated2, "lang", "loss_rate")
        val out = w1.select(col("lang"), col("weight").as("w1"))
          .join(w2.select(col("lang"), col("n").as("n_sel"),
            col("weight").as("w2")), "lang")
        mat(out, "doremi2out")
      },
      Some {
        val pm = s"(doc_id % ${Sampling.P} + ${Sampling.P}) % ${Sampling.P}"
        s"""WITH $UnigramSurCtes, ${doremiWeightCtes("sur", "documents", "")}, qta AS (
           |  SELECT lang, CAST(FLOOR(200.0 * weight) AS BIGINT) AS alloc FROM w
           |), r AS (
           |  SELECT doc_id, lang, ROW_NUMBER() OVER (
           |    PARTITION BY lang
           |    ORDER BY ($pm * 2246822519 + 604171) % ${Sampling.P} ASC, doc_id ASC) AS rn
           |  FROM documents
           |), sel AS (
           |  SELECT doc_id, lang FROM r JOIN qta USING (lang) WHERE rn <= alloc
           |), seldocs AS (
           |  SELECT d.* FROM documents d JOIN sel s USING (doc_id)
           |), ${unigramSurOver("seldocs", "2")}, ${doremiWeightCtes("sur2", "seldocs", "2")}
           |SELECT w.lang, w.weight AS w1, w2.n AS n_sel, w2.weight AS w2
           |FROM w JOIN w2 ON w.lang = w2.lang""".stripMargin
      }
    ),

    // Quota ADMISSION (arrival-order enforcement): the temperature
    // allocation's per-language budgets enforced over documents
    // arriving in doc_id order. Unlike q_doremi_sample's unbiased
    // hash-order selection, admission order is ARRIVAL order — the
    // semantics an ingest actually enforces. Quota rides a broadcast;
    // the corpus pays one group-keyed window shuffle.
    Q(
      "q_quota_admit",
      (spark, dir) => {
        val docs = Q.t(spark, dir, "documents").select(col("doc_id"), col("lang"))
        val quota = Sampling.temperatureAlloc(docs, "lang", budget = 300L)
          .select(col("lang"), col("alloc"))
        val out = Sampling.quotaAdmit(docs, "lang", "doc_id", "doc_id", quota)
        // the |groups|-sized quota must ride a broadcast into the window
        Q.requireBroadcastJoin(out)
        out
      },
      Some(
        """WITH c AS (
          |  SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang
          |), z AS (
          |  SELECT list_reduce(
          |    list_prepend(CAST(0.0 AS DOUBLE),
          |      (SELECT list(sqrt(CAST(n AS DOUBLE)) ORDER BY lang) FROM c)),
          |    (a, b) -> a + b) AS z
          |), qta AS (
          |  SELECT lang,
          |    CAST(FLOOR(300.0 * sqrt(CAST(n AS DOUBLE)) / z) AS BIGINT) AS alloc
          |  FROM c, z
          |), r AS (
          |  SELECT doc_id, lang,
          |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id ASC) AS rn
          |  FROM documents
          |)
          |SELECT doc_id, lang FROM r JOIN qta USING (lang) WHERE rn <= alloc""".stripMargin
      )
    ),

    // Embedding-space outlier screen: max absolute per-lane z-score
    // per vector — the OOD filter run before clustering/ANN trusts the
    // geometry. Lane values snap to the 2^-20 grid (order-free integer
    // moments), each z is a fixed IEEE chain, and the per-vector
    // reduction is an order-free max — bit-exact. One corpus shuffle
    // for the dim-row stats; scoring is map-side against the broadcast
    // stats array.
    Q(
      "q_embed_outliers",
      (spark, dir) =>
        Normalize.embeddingOutliers(
          Q.t(spark, dir, "embeddings"), "vec_id", "embedding", tau = 4.0),
      Some(
        """WITH x AS (
          |  SELECT vec_id, i - 1 AS lane,
          |    CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1048576.0) AS BIGINT) AS xq
          |  FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS u(i)
          |), st AS (
          |  SELECT lane, CAST(SUM(xq) AS BIGINT) AS sq,
          |    CAST(SUM(xq * xq) AS BIGINT) AS sq2, COUNT(*) AS n
          |  FROM x GROUP BY lane
          |), zz AS (
          |  SELECT vec_id, x.lane,
          |    CASE WHEN CAST(sq2 AS DOUBLE) / CAST(n AS DOUBLE)
          |              - (CAST(sq AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sq AS DOUBLE) / CAST(n AS DOUBLE)) <= 0
          |         THEN 0.0
          |         ELSE ABS((CAST(xq AS DOUBLE) - CAST(sq AS DOUBLE) / CAST(n AS DOUBLE))
          |              / sqrt(CAST(sq2 AS DOUBLE) / CAST(n AS DOUBLE)
          |                     - (CAST(sq AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sq AS DOUBLE) / CAST(n AS DOUBLE))))
          |    END AS az
          |  FROM x JOIN st USING (lane)
          |)
          |SELECT vec_id, MAX(az) AS out_score, MAX(az) > 4.0 AS is_outlier
          |FROM zz GROUP BY vec_id""".stripMargin
      )
    ),

    // k-anonymity audit over the quasi-identifier triple (lang, source,
    // 256-char length bucket): every document annotated with its group
    // size and the k >= 5 release flag — the privacy gate a training
    // export runs before shipping attribute-bearing rows. Group table
    // partial-aggregates to quasi-identifier cardinality and joins back
    // by broadcast; the corpus never shuffles.
    Q(
      "q_kanonymity",
      (spark, dir) => {
        val docs = Q.t(spark, dir, "documents")
        val out = Profile.kAnonymity(
          docs.select(col("doc_id"), col("lang"), col("source"),
            expr("n_chars div 256").as("len_bucket")),
          Seq("lang", "source", "len_bucket"), k = 5L)
          .select(col("doc_id"), col("lang"), col("source"),
            col("len_bucket"), col("k_group"), col("keep"))
        // the corpus-never-shuffles fact, asserted in the gate: the QI
        // group table joins back by BROADCAST, and no exchange
        // repartitions the corpus side by the group key
        Q.requireBroadcastJoin(out)
        out
      },
      Some(
        """WITH q AS (
          |  SELECT doc_id, lang, source, n_chars // 256 AS len_bucket FROM documents
          |), g AS (
          |  SELECT lang, source, len_bucket, COUNT(*) AS k_group
          |  FROM q GROUP BY lang, source, len_bucket
          |)
          |SELECT q.doc_id, q.lang, q.source, q.len_bucket, g.k_group,
          |       g.k_group >= 5 AS keep
          |FROM q JOIN g ON q.lang IS NOT DISTINCT FROM g.lang
          |           AND q.source IS NOT DISTINCT FROM g.source
          |           AND q.len_bucket IS NOT DISTINCT FROM g.len_bucket""".stripMargin
      )
    ),

    // The k-anonymity REMEDY: local-recoding generalization down a
    // 3-level ladder — (lang, source, 256-char bucket) → (lang, source,
    // 1024-char bucket) → (lang, source) — each row taking the FIRST
    // level whose group clears k = 5, suppressed only when even the
    // attribute drop can't save it. This is the suppress-vs-generalize
    // decision a release pipeline executes over q_kanonymity's audit.
    // Each level's group table stays QI-cardinality-sized and joins
    // back by broadcast (guarded past 2^20 groups); the corpus never
    // shuffles. Pure integer counts + CASE — bit-exact.
    Q(
      "q_kanonymity_generalize",
      (spark, dir) => {
        val docs = Q.t(spark, dir, "documents")
          .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        val out = Profile.kAnonymityGeneralize(
          docs,
          levels = Seq(
            Seq("lang" -> col("lang"), "source" -> col("source"),
              "b" -> expr("n_chars div 256")),
            Seq("lang" -> col("lang"), "source" -> col("source"),
              "b" -> expr("n_chars div 1024")),
            Seq("lang" -> col("lang"), "source" -> col("source"))),
          k = 5L)
          .select(col("doc_id"), col("lang"), col("source"),
            expr("n_chars div 256").as("len_bucket"),
            col("gen_level"), col("k_group"), col("keep"))
        Q.requireBroadcastJoin(out)
        out
      },
      Some(
        """WITH q AS (
          |  SELECT doc_id, lang, source, n_chars // 256 AS b0, n_chars // 1024 AS b1
          |  FROM documents
          |), g0 AS (
          |  SELECT lang, source, b0, COUNT(*) AS k0 FROM q GROUP BY lang, source, b0
          |), g1 AS (
          |  SELECT lang, source, b1, COUNT(*) AS k1 FROM q GROUP BY lang, source, b1
          |), g2 AS (
          |  SELECT lang, source, COUNT(*) AS k2 FROM q GROUP BY lang, source
          |)
          |SELECT q.doc_id, q.lang, q.source, q.b0 AS len_bucket,
          |  CASE WHEN k0 >= 5 THEN 0 WHEN k1 >= 5 THEN 1 WHEN k2 >= 5 THEN 2
          |       ELSE 3 END AS gen_level,
          |  CASE WHEN k0 >= 5 THEN k0 WHEN k1 >= 5 THEN k1 ELSE k2 END AS k_group,
          |  (k0 >= 5 OR k1 >= 5 OR k2 >= 5) AS keep
          |FROM q
          |JOIN g0 ON q.lang IS NOT DISTINCT FROM g0.lang
          |       AND q.source IS NOT DISTINCT FROM g0.source
          |       AND q.b0 IS NOT DISTINCT FROM g0.b0
          |JOIN g1 ON q.lang IS NOT DISTINCT FROM g1.lang
          |       AND q.source IS NOT DISTINCT FROM g1.source
          |       AND q.b1 IS NOT DISTINCT FROM g1.b1
          |JOIN g2 ON q.lang IS NOT DISTINCT FROM g2.lang
          |       AND q.source IS NOT DISTINCT FROM g2.source""".stripMargin
      )
    ),

    // l-diversity: k-anonymity's companion release audit — a QI group
    // whose rows all share one SENSITIVE value leaks it even when the
    // group is k-large. QI = (lang, 256-char bucket), sensitive =
    // source, l = 8. The distinct-sensitive count partial-aggregates
    // over (QI, source) and collapses to the QI-sized group table that
    // joins back by BROADCAST (guarded past 2^20 groups, as
    // q_kanonymity); the corpus never shuffles. Integer counts — exact.
    Q(
      "q_ldiversity",
      (spark, dir) => {
        val docs = Q.t(spark, dir, "documents")
        val out = Profile.lDiversity(
          docs.select(col("doc_id"), col("lang"),
            expr("n_chars div 256").as("len_bucket"), col("source")),
          Seq("lang", "len_bucket"), sensitiveCol = "source", l = 8L)
          .select(col("doc_id"), col("lang"), col("len_bucket"),
            col("l_distinct"), col("keep"))
        Q.requireBroadcastJoin(out)
        out
      },
      Some(
        """WITH q AS (
          |  SELECT doc_id, lang, n_chars // 256 AS len_bucket, source FROM documents
          |), g AS (
          |  SELECT lang, len_bucket, COUNT(DISTINCT source) AS l_distinct
          |  FROM q GROUP BY lang, len_bucket
          |)
          |SELECT q.doc_id, q.lang, q.len_bucket, g.l_distinct,
          |       g.l_distinct >= 8 AS keep
          |FROM q JOIN g ON q.lang IS NOT DISTINCT FROM g.lang
          |           AND q.len_bucket IS NOT DISTINCT FROM g.len_bucket""".stripMargin
      )
    ),

    // t-closeness with total-variation distance: the third rung of the
    // release-audit ladder — a group passes only when its sensitive-
    // value DISTRIBUTION sits within t of the corpus-wide one (diverse
    // but skewed groups still leak). Evaluated entirely in cross-
    // multiplied integers carried as DECIMAL(38,0) (Σ_v |c_gv·N −
    // c_v·n_g| vs 2·t‰·n_g·N, and a `div` floor for the reported
    // per-mille) — exact through ~10^17-row corpora where plain Long
    // math would wrap at n_g·N ≈ 4.6e15; DuckDB's HUGEINT sums match
    // bit-for-bit. ONE corpus-sized partial-agg shuffle to (QI, source)
    // counts; marginals and group sizes ride count-guarded broadcasts;
    // output is the QI-sized release-gate table, not a corpus frame.
    Q(
      "q_tcloseness",
      (spark, dir) => {
        val docs = Q.t(spark, dir, "documents")
        Profile.tCloseness(
          docs.select(col("lang"), expr("n_chars div 256").as("len_bucket"),
            col("source")),
          Seq("lang", "len_bucket"), sensitiveCol = "source", tPerMille = 400L)
      },
      Some(
        """WITH q AS (
          |  SELECT lang, n_chars // 256 AS len_bucket, source FROM documents
          |), gv AS (
          |  SELECT lang, len_bucket, source, COUNT(*) AS c_gv
          |  FROM q GROUP BY lang, len_bucket, source
          |), gs AS (
          |  SELECT lang, len_bucket, SUM(c_gv) AS n_g FROM gv GROUP BY lang, len_bucket
          |), mv AS (
          |  SELECT source, SUM(c_gv) AS c_v FROM gv GROUP BY source
          |), tot AS (
          |  SELECT SUM(c_v) AS n FROM mv
          |), pres AS (
          |  SELECT gv.lang, gv.len_bucket,
          |    ANY_VALUE(n_g) AS n_g, ANY_VALUE(n) AS n,
          |    SUM(ABS(c_gv * n - c_v * n_g)) AS pn, SUM(c_v) AS pv
          |  FROM gv JOIN mv ON gv.source IS NOT DISTINCT FROM mv.source
          |          JOIN gs ON gv.lang IS NOT DISTINCT FROM gs.lang
          |                 AND gv.len_bucket IS NOT DISTINCT FROM gs.len_bucket
          |          CROSS JOIN tot
          |  GROUP BY gv.lang, gv.len_bucket
          |)
          |SELECT lang, len_bucket, CAST(n_g AS BIGINT) AS n_group,
          |  CAST(pn + (n - pv) * n_g AS BIGINT) AS tvd_num,
          |  CAST((1000 * (pn + (n - pv) * n_g)) // (2 * n_g * n) AS BIGINT) AS tvd_pm,
          |  1000 * (pn + (n - pv) * n_g) <= 2 * 400 * n_g * n AS keep
          |FROM pres""".stripMargin
      )
    ),

    // CCNet-style perplexity bucketing (Wenzek et al. 2020): per
    // language, documents split into head/middle/tail terciles of the
    // unigram-LM perplexity proxy, keeping head+middle — the classic
    // web-corpus curation cut. The surprisal table-rate is
    // ANTI-monotone in perplexity (the q_hard_examples trick: the
    // ln ΣN corpus constant cancels in ranking), so head = highest
    // grid-snapped rate; ntile runs over (rate DESC, id) — fully
    // tie-broken, engine-identical. One corpus-sized agg shuffle (the
    // surprisal chain) + one lang-keyed window.
    Q(
      "q_ppl_buckets",
      (spark, dir) => {
        val docs = Q.t(spark, dir, "documents")
        val rated = TextAnalysis.unigramSurprisal(docs, "doc_id", "text")
          .withColumn("rate_q",
            floor(col("nll_tab") / col("n_tokens").cast("double") * lit(1048576.0))
              .cast("long"))
          .join(docs.select(col("doc_id"), col("lang")), col("id") === col("doc_id"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("lang")).orderBy(col("rate_q").desc, col("doc_id").asc)
        rated
          .withColumn("t", ntile(3).over(w))
          .select(
            col("doc_id"), col("lang"), col("rate_q"),
            when(col("t") === 1, "head").when(col("t") === 2, "middle")
              .otherwise("tail").as("bucket"),
            (col("t") <= 2).as("keep"))
      },
      Some(
        s"""WITH $UnigramSurCtes, r AS (
           |  SELECT s.id AS doc_id, d.lang,
           |    CAST(FLOOR(s.nll_tab / CAST(s.n_tokens AS DOUBLE) * 1048576.0) AS BIGINT) AS rate_q
           |  FROM sur s JOIN documents d ON s.id = d.doc_id
           |), n AS (
           |  SELECT doc_id, lang, rate_q,
           |    ntile(3) OVER (PARTITION BY lang ORDER BY rate_q DESC, doc_id) AS t
           |  FROM r
           |)
           |SELECT doc_id, lang, rate_q,
           |  CASE t WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket,
           |  t <= 2 AS keep
           |FROM n""".stripMargin
      )
    ),

    // q_ppl_buckets' 100 TB-SAFE twin: the ntile window ranks every
    // document of a language inside one task — fine here, a hot-spot
    // at web scale. The histogram method cuts the same terciles from
    // the per-(lang, grid-rate) VALUE histogram: one partial-agg
    // shuffle to the histogram, a lang-keyed window over DISTINCT grid
    // values (≪ docs; coarsen the grid for a hard bound), thresholds
    // collapse to |langs| rows riding a broadcast, assignment is
    // map-side. Boundary ties share the earlier bucket (assignment is
    // by VALUE, the only semantics a value threshold can have), so
    // bucket sizes are ≥ the exact tercile rather than == — the
    // documented, deterministic trade for unbounded scale.
    Q(
      "q_ppl_buckets_hist",
      (spark, dir) => {
        val docs = Q.t(spark, dir, "documents")
        // pinned: the rated frame feeds THREE sinks (the histogram
        // under the cumulative window, the per-lang totals, and the
        // final assignment join) — un-materialized, the whole
        // surprisal chain (two agg shuffles plus the 16384-entry
        // LnTable literal in every copy of its projections) ran three
        // times and tripled the plan/task-binary size (guide §2.4;
        // §3.3's plan-truncation note). The pinned frame is
        // (doc_id, lang, rate_q) — three scalars per doc.
        val rated = Guard.pin(TextAnalysis.unigramSurprisal(docs, "doc_id", "text")
          .withColumn("rate_q",
            floor(col("nll_tab") / col("n_tokens").cast("double") * lit(1048576.0))
              .cast("long"))
          .join(docs.select(col("doc_id"), col("lang")), col("id") === col("doc_id"))
          .select(col("doc_id"), col("lang"), col("rate_q")))
        // filled before the three sinks race for its blocks
        rated.count()
        val hist = rated.groupBy(col("lang"), col("rate_q"))
          .agg(count(lit(1)).as("n"))
        val wc = org.apache.spark.sql.expressions.Window
          .partitionBy(col("lang")).orderBy(col("rate_q").desc)
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow)
        val cum = hist.withColumn("c", sum(col("n")).over(wc))
        val tot = hist.groupBy(col("lang")).agg(sum(col("n")).as("nn"))
        val cuts = cum.join(tot, "lang")
          .groupBy(col("lang"))
          .agg(
            max(when(col("c") >=
              floor((col("nn") + 2) / 3.0).cast("long"), col("rate_q"))).as("t1"),
            max(when(col("c") >=
              floor((col("nn") * 2 + 2) / 3.0).cast("long"), col("rate_q"))).as("t2"))
        val out = rated.join(broadcast(cuts), "lang")
          .select(
            col("doc_id"), col("lang"), col("rate_q"),
            when(col("rate_q") >= col("t1"), "head")
              .when(col("rate_q") >= col("t2"), "middle")
              .otherwise("tail").as("bucket"))
        Q.requireBroadcastJoin(out) // thresholds ride a broadcast
        out
      },
      Some(
        s"""WITH $UnigramSurCtes, r AS (
           |  SELECT s.id AS doc_id, d.lang,
           |    CAST(FLOOR(s.nll_tab / CAST(s.n_tokens AS DOUBLE) * 1048576.0) AS BIGINT) AS rate_q
           |  FROM sur s JOIN documents d ON s.id = d.doc_id
           |), hist AS (
           |  SELECT lang, rate_q, COUNT(*) AS n FROM r GROUP BY lang, rate_q
           |), cum AS (
           |  SELECT lang, rate_q,
           |    SUM(n) OVER (PARTITION BY lang ORDER BY rate_q DESC
           |                 ROWS UNBOUNDED PRECEDING) AS c
           |  FROM hist
           |), tot AS (
           |  SELECT lang, CAST(SUM(n) AS BIGINT) AS nn FROM hist GROUP BY lang
           |), cuts AS (
           |  SELECT cum.lang,
           |    MAX(CASE WHEN c >= (nn + 2) // 3 THEN rate_q END) AS t1,
           |    MAX(CASE WHEN c >= (nn * 2 + 2) // 3 THEN rate_q END) AS t2
           |  FROM cum JOIN tot USING (lang) GROUP BY cum.lang
           |)
           |SELECT doc_id, r.lang, rate_q,
           |  CASE WHEN rate_q >= t1 THEN 'head'
           |       WHEN rate_q >= t2 THEN 'middle'
           |       ELSE 'tail' END AS bucket
           |FROM r JOIN cuts ON r.lang = cuts.lang""".stripMargin
      )
    ),

    // In-engine TRAINING of the linear curation filter: 3 epochs of
    // the distributed batch perceptron over integer quality features,
    // distilling the long-document rule (n_chars >= 256, exactly
    // expressible by the f2 = n_chars div 64 feature, so the trainer
    // demonstrably converges). Integer sums make every epoch update
    // order-free and engine-exact (a float GD could never pin); the
    // model lives driver-side as a |features|-row decision table and
    // each epoch is ONE map-side aggregate over the corpus. The gate
    // pins the full training TRACE — per-epoch misclassified counts
    // and post-update weights — against 3 unrolled oracle epochs.
    Q(
      "q_perceptron_train",
      (spark, dir) => {
        val feats = Q.t(spark, dir, "documents").select(
          when(col("n_chars") >= 256L, 1L).otherwise(-1L).as("y"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("f1"),
          floor(col("n_chars") / 64).cast("long").as("f2"),
          TextAnalysis.punctCount(col("text")).cast("long").as("f3"))
        Train.perceptronTrace(feats, Seq("f1", "f2", "f3"), "y", epochs = 3)
      },
      Some(
        s"""WITH $PerceptronCtes
           |SELECT CAST(1 AS INT) AS epoch, n_mis, wb AS w_bias, w1 AS w_1, w2 AS w_2, w3 AS w_3 FROM g1
           |UNION ALL
           |SELECT CAST(2 AS INT), n_mis, wb, w1, w2, w3 FROM g2
           |UNION ALL
           |SELECT CAST(3 AS INT), n_mis, wb, w1, w2, w3 FROM g3""".stripMargin
      )
    ),

    // The CONVERGENT in-engine trainer: an optimal decision stump per
    // feature by exhaustive integer threshold search over the value
    // histogram (both polarities; the degenerate all-plus/all-minus
    // stumps appear at t = min, so the search is complete). Where the
    // batch perceptron above oscillates on noisy features, the stump
    // provably finds the 0-error rule here (f2 = n_chars div 64
    // separates the label exactly at 4) — the base learner a boosting
    // loop would call. One (feature, value) partial-agg shuffle + a
    // feature-keyed window over DISTINCT values, |features| rows out.
    Q(
      "q_stump_train",
      (spark, dir) => {
        val feats = Q.t(spark, dir, "documents").select(
          when(col("n_chars") >= 256L, 1L).otherwise(-1L).as("y"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("f1"),
          floor(col("n_chars") / 64).cast("long").as("f2"),
          TextAnalysis.punctCount(col("text")).cast("long").as("f3"))
        Train.stumpTrain(feats, Seq("f1", "f2", "f3"), "y")
      },
      Some(
        s"""WITH $PerceptronCtes, lf AS (
           |  SELECT 'f1' AS feature, f1 AS v, y FROM pf
           |  UNION ALL SELECT 'f2', f2, y FROM pf
           |  UNION ALL SELECT 'f3', f3, y FROM pf
           |), h AS (
           |  SELECT feature, v,
           |    CAST(SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS np,
           |    CAST(SUM(CASE WHEN y = -1 THEN 1 ELSE 0 END) AS BIGINT) AS nn
           |  FROM lf GROUP BY feature, v
           |), sc AS (
           |  SELECT feature, v,
           |    COALESCE(SUM(np) OVER (PARTITION BY feature ORDER BY v
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS posBelow,
           |    COALESCE(SUM(nn) OVER (PARTITION BY feature ORDER BY v
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS negBelow,
           |    SUM(np) OVER (PARTITION BY feature) AS p,
           |    SUM(nn) OVER (PARTITION BY feature) AS ng
           |  FROM h
           |), cand AS (
           |  SELECT feature, v AS thresh, 'ge' AS polarity,
           |    CAST(posBelow + ng - negBelow AS BIGINT) AS n_err
           |  FROM sc
           |  UNION ALL
           |  SELECT feature, v, 'lt',
           |    CAST(p + ng - (posBelow + ng - negBelow) AS BIGINT)
           |  FROM sc
           |), best AS (
           |  SELECT feature, thresh, polarity, n_err,
           |    ROW_NUMBER() OVER (PARTITION BY feature
           |      ORDER BY n_err, thresh, polarity) AS rf
           |  FROM cand
           |)
           |SELECT feature, thresh, polarity, n_err,
           |  ROW_NUMBER() OVER (ORDER BY n_err, feature, thresh, polarity) = 1 AS is_best
           |FROM best WHERE rf = 1""".stripMargin
      )
    ),

    // The trained stump APPLIED: the argmin (feature, threshold,
    // polarity) rides back as literals and every document keeps or
    // drops map-side — train→deploy inside one engine, non-degenerate
    // by construction (the learned rule reproduces the label's 58/42
    // split exactly at 0 training error).
    Q(
      "q_stump_screen",
      (spark, dir) => {
        val docs = Q.t(spark, dir, "documents")
        val feats = docs.select(
          col("doc_id"),
          when(col("n_chars") >= 256L, 1L).otherwise(-1L).as("y"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("f1"),
          floor(col("n_chars") / 64).cast("long").as("f2"),
          TextAnalysis.punctCount(col("text")).cast("long").as("f3"))
        val best = Train.stumpTrain(feats, Seq("f1", "f2", "f3"), "y")
          .filter(col("is_best")).head()
        val (bf, bt, bp) = (best.getAs[String]("feature"),
          best.getAs[Long]("thresh"), best.getAs[String]("polarity"))
        feats.select(
          col("doc_id"),
          Train.stumpKeep(col(bf), bt, bp).as("keep"),
          (Train.stumpKeep(col(bf), bt, bp) === (col("y") === 1L)).as("agree"))
      },
      Some(
        s"""WITH $PerceptronCtes, lf AS (
           |  SELECT 'f1' AS feature, f1 AS v, y FROM pf
           |  UNION ALL SELECT 'f2', f2, y FROM pf
           |  UNION ALL SELECT 'f3', f3, y FROM pf
           |), h AS (
           |  SELECT feature, v,
           |    CAST(SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS np,
           |    CAST(SUM(CASE WHEN y = -1 THEN 1 ELSE 0 END) AS BIGINT) AS nn
           |  FROM lf GROUP BY feature, v
           |), sc AS (
           |  SELECT feature, v,
           |    COALESCE(SUM(np) OVER (PARTITION BY feature ORDER BY v
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS posBelow,
           |    COALESCE(SUM(nn) OVER (PARTITION BY feature ORDER BY v
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS negBelow,
           |    SUM(np) OVER (PARTITION BY feature) AS p,
           |    SUM(nn) OVER (PARTITION BY feature) AS ng
           |  FROM h
           |), cand AS (
           |  SELECT feature, v AS thresh, 'ge' AS polarity,
           |    CAST(posBelow + ng - negBelow AS BIGINT) AS n_err
           |  FROM sc
           |  UNION ALL
           |  SELECT feature, v, 'lt',
           |    CAST(p + ng - (posBelow + ng - negBelow) AS BIGINT)
           |  FROM sc
           |), pick AS (
           |  SELECT feature, thresh, polarity FROM cand
           |  ORDER BY n_err, feature, thresh, polarity LIMIT 1
           |)
           |SELECT doc_id,
           |  CASE WHEN polarity = 'ge'
           |       THEN (CASE feature WHEN 'f1' THEN f1 WHEN 'f2' THEN f2 ELSE f3 END) >= thresh
           |       ELSE (CASE feature WHEN 'f1' THEN f1 WHEN 'f2' THEN f2 ELSE f3 END) < thresh
           |  END AS keep,
           |  (CASE WHEN polarity = 'ge'
           |        THEN (CASE feature WHEN 'f1' THEN f1 WHEN 'f2' THEN f2 ELSE f3 END) >= thresh
           |        ELSE (CASE feature WHEN 'f1' THEN f1 WHEN 'f2' THEN f2 ELSE f3 END) < thresh
           |   END) = (y = 1) AS agree
           |FROM pf CROSS JOIN pick""".stripMargin
      )
    ),

    // DSIR importance rating (Xie et al. 2023): every document scored
    // by the hashed-unigram log-likelihood ratio of the TARGET corpus
    // (lang='en' — the distribution to select toward) vs the RAW
    // corpus. The 64-bucket model collapses to a decision table riding
    // a broadcast; the per-doc fold is bucket-ordered so the double
    // sum is engine-exact; count-div-4 keeps every ln a shared-table
    // read even when hot terms collide in a bucket (the ln 4 shift
    // cancels between the target and raw terms).
    Q(
      "q_dsir_weights",
      (spark, dir) => {
        val out = Sampling.dsirLogRatios(
          Q.t(spark, dir, "documents"), "doc_id", "text",
          isTarget = col("lang") === "en", buckets = 64)
        // the 64-row bucket model must ride a broadcast back over the
        // per-doc counts — the corpus never shuffles for the model join
        Q.requireBroadcastJoin(out)
        out
      },
      Some(
        s"""WITH $DsirCtes
           |SELECT doc_id, n_tokens, lr_tab FROM pd""".stripMargin
      )
    ),

    // DSIR closed into a selection: top-300 documents by the grid-
    // snapped per-token importance rate (ties by id) — the
    // deterministic, audit-reproducible limit of the paper's Gumbel
    // resampling. One TakeOrdered(k) over the rated corpus, no global
    // sort; the corpus-constant term of the full weight cancels in
    // rate ranking (the q_hard_examples monotone trick).
    Q(
      "q_dsir_sample",
      (spark, dir) => {
        val out = Sampling.dsirSelect(
          Sampling.dsirLogRatios(
            Q.t(spark, dir, "documents"), "doc_id", "text",
            isTarget = col("lang") === "en", buckets = 64),
          "doc_id", budget = 300)
          .select(col("doc_id"), col("rate_q"))
        // top-k must plan as TakeOrderedAndProject — per-partition
        // heaps + driver merge, never a global sort
        Q.requireTakeOrdered(out)
        out
      },
      Some(
        s"""WITH $DsirCtes
           |SELECT doc_id, rate_q FROM (
           |  SELECT doc_id,
           |    CAST(FLOOR(lr_tab / CAST(n_tokens AS DOUBLE) * 1048576.0) AS BIGINT) AS rate_q,
           |    row_number() OVER (
           |      ORDER BY CAST(FLOOR(lr_tab / CAST(n_tokens AS DOUBLE) * 1048576.0) AS BIGINT) DESC,
           |               doc_id) AS rn
           |  FROM pd)
           |WHERE rn <= 300""".stripMargin
      )
    ),

    // Length-bucketed dynamic batching with padding accounting: docs
    // bucket by token-length div 16 (bounding within-batch spread, so
    // padding waste is bounded per batch), shard by id-hash so a hot
    // length bucket sorts across 4 tasks instead of one, then batch 8
    // per (bucket, shard) in the unbiased hash order. The gate emits
    // the per-batch padding ledger — n_docs·max_len − sum_len is the
    // compute a trainer would burn on pad tokens, THE metric this
    // operator exists to minimize. One (bucket, shard)-keyed window.
    Q(
      "q_length_batching",
      (spark, dir) => {
        val docs = Q.t(spark, dir, "documents")
          .select(col("doc_id"),
            TextAnalysis.tokenCount(col("text")).as("len"))
        Sampling.lengthBatches(docs, "doc_id", "len",
            bucketWidth = 16, batchSize = 8, shards = 4)
          .groupBy(col("bucket"), col("shard"), col("batch_id"))
          .agg(
            count(lit(1)).as("n_docs"),
            max(col("len")).as("max_len"),
            sum(col("len")).as("sum_len"),
            (count(lit(1)) * max(col("len")) - sum(col("len"))).as("padding_waste"))
      },
      Some {
        val pm = s"(doc_id % ${Sampling.P} + ${Sampling.P}) % ${Sampling.P}"
        s"""WITH d AS (
           |  SELECT doc_id,
           |    CAST(len(regexp_split_to_array(text, '\\s+')) AS BIGINT) AS len
           |  FROM documents
           |), b AS (
           |  SELECT doc_id, len, CAST(len // 16 AS BIGINT) AS bucket,
           |    ($pm * ${Sampling.A} + ${Sampling.B}) % ${Sampling.P} % 4 AS shard
           |  FROM d
           |), r AS (
           |  SELECT bucket, shard, len,
           |    ROW_NUMBER() OVER (PARTITION BY bucket, shard
           |      ORDER BY ($pm * 2246822519 + 604171) % ${Sampling.P} ASC, doc_id ASC) AS rn
           |  FROM b
           |), a AS (
           |  SELECT bucket, shard, CAST((rn - 1) // 8 AS BIGINT) AS batch_id, len FROM r
           |)
           |SELECT bucket, shard, batch_id,
           |  CAST(COUNT(*) AS BIGINT) AS n_docs,
           |  CAST(MAX(len) AS BIGINT) AS max_len,
           |  CAST(SUM(len) AS BIGINT) AS sum_len,
           |  CAST(COUNT(*) * MAX(len) - SUM(len) AS BIGINT) AS padding_waste
           |FROM a GROUP BY bucket, shard, batch_id""".stripMargin
      }
    ),

    // DSIR as a SCREEN: the bucket model is fitted on a training
    // corpus (even doc_ids, target lang='en'), collapses to a 64-entry
    // CENTERED delta array (each delta carries the ln(Tr)−ln(Tt)
    // corpus constant, itself a shared-table read via totals-div-64),
    // and every incoming document — including ones the model never
    // saw — is rated MAP-SIDE by folding its tokens' bucket deltas in
    // token order. No shuffle on the rating side, so the same column
    // is the streaming screen (pinned stream==batch by
    // StreamingCorpusOpsSpec); keep = rate above the NEUTRAL point 0:
    // the centered rate is a true per-token log-likelihood ratio, so
    // positive means more target-like than the average raw token mix.
    // The production inference shape: fit once, persist the decision
    // table, rate anywhere.
    Q(
      "q_dsir_screen",
      (spark, dir) => {
        val docs = Q.t(spark, dir, "documents")
        val model = Sampling.dsirBucketModel(
          docs.filter(col("doc_id") % 2 === 0), "text",
          isTarget = col("lang") === "en", buckets = 64)
        val deltas = Sampling.dsirModelArrayCentered(model, 64)
        val out = docs
          .select(
            col("doc_id"),
            size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"),
            Sampling.dsirScore(col("text"), deltas.toSeq, 64).as("score"))
          .withColumn("rate_q",
            floor(col("score") / col("n_tokens").cast("double") * lit(1048576.0))
              .cast("long"))
          .select(col("doc_id"), col("n_tokens"), col("rate_q"),
            (col("rate_q") >= 0L).as("keep"))
        // the rating side is a pure projection over the scan: the
        // fitted model rode in as a literal array, so screening at
        // 100 TB is shuffle-free by construction — pinned here
        Q.requireNoShuffle(out)
        out
      },
      Some(
        s"""WITH lnt AS (SELECT $LnTabSql AS l),
           |$DsirScreenCtes
           |SELECT doc_id, n_tokens,
           |  CAST(FLOOR(score / CAST(n_tokens AS DOUBLE) * 1048576.0) AS BIGINT) AS rate_q,
           |  CAST(FLOOR(score / CAST(n_tokens AS DOUBLE) * 1048576.0) AS BIGINT) >= 0 AS keep
           |FROM sc""".stripMargin
      )
    ),

    // Script detection — the routing signal ahead of language ID in a
    // multilingual pipeline (script is cheap and near-infallible;
    // language within a script needs the model). The fixture corpus is
    // all-ASCII, so the gate synthesizes closed-form MIXED-SCRIPT text
    // per nation row (Latin pairs, CJK ideographs from U+4E00+key,
    // digits, punctuation — moduli chosen so latin/cjk/digit/empty all
    // dominate somewhere) and the oracle re-derives every count and
    // the dominant-script decision from the formula alone: only
    // correct Unicode-range counting over real multibyte text matches.
    // Map-side regex arithmetic, no shuffle.
    Q(
      "q_script_detect",
      (spark, dir) => {
        val mk = (k: Long) =>
          "ab" * (k % 3).toInt +
            (0x4e00 + k).toChar.toString * (k % 5).toInt +
            "7" * (k % 4).toInt +
            "!" * (k % 2).toInt
        val out = Q.fixture(Q.nationKeys(spark, dir, "id"), "id", "text")(mk)
          .select(
            col("id"),
            length(col("text")).as("n_chars"),
            TextAnalysis.latinCount(col("text")).as("latin"),
            TextAnalysis.digitCount(col("text")).as("digit"),
            TextAnalysis.cjkCount(col("text")).as("cjk"),
            TextAnalysis.dominantScript(col("text")).as("script"))
          .withColumn("other",
            col("n_chars") - col("latin") - col("digit") - col("cjk"))
        Q.requireNoShuffle(out) // routing signal is map-only
        out
      },
      Some(
        """SELECT CAST(n_nationkey AS BIGINT) AS id,
          |  CAST(2 * (n_nationkey % 3) + n_nationkey % 5
          |       + n_nationkey % 4 + n_nationkey % 2 AS INT) AS n_chars,
          |  CAST(2 * (n_nationkey % 3) AS INT) AS latin,
          |  CAST(n_nationkey % 4 AS INT) AS digit,
          |  CAST(n_nationkey % 5 AS INT) AS cjk,
          |  CAST(n_nationkey % 2 AS INT) AS other,
          |  CASE
          |    WHEN 2 * (n_nationkey % 3) + n_nationkey % 5
          |         + n_nationkey % 4 + n_nationkey % 2 = 0 THEN 'empty'
          |    WHEN 2 * (n_nationkey % 3) >= n_nationkey % 5
          |     AND 2 * (n_nationkey % 3) >= n_nationkey % 4
          |     AND 2 * (n_nationkey % 3) >= n_nationkey % 2 THEN 'latin'
          |    WHEN n_nationkey % 5 >= n_nationkey % 4
          |     AND n_nationkey % 5 >= n_nationkey % 2 THEN 'cjk'
          |    WHEN n_nationkey % 4 >= n_nationkey % 2 THEN 'digit'
          |    ELSE 'other' END AS script
          |FROM nation""".stripMargin
      )
    ),

    // COMPRESSED-TEXT ingest — web corpora arrive gzipped (WARC
    // members); graft_gunzip is a native codegen Expression inflating
    // each payload inside the fused stage with the codec family's
    // degrade-don't-throw contract: corrupt members (every 7th payload
    // truncated mid-stream — the CRC32/ISIZE trailer check catches it)
    // yield NULL, never an executor exception, and a decompression-
    // bomb bound caps the inflation. The oracle never sees the
    // compressed bytes: it re-derives each document's character count
    // from the original text, so only a decode that reproduces the
    // exact payload matches. Map-only, REQUIREd shuffle-free.
    Q(
      "q_text_gunzip",
      (spark, dir) => {
        val docs = Q.t(spark, dir, "documents")
        val gz = udf((id: Long, text: String) =>
          graft.operators.Multimodal.syntheticGzipText(
            text, if (id % 7 == 3) 10 else -1))
        val out = docs
          .select(col("doc_id"),
            graft.functions.GraftFunctions
              .gunzip(gz(col("doc_id"), col("text"))).as("__txt"))
          .select(col("doc_id"),
            col("__txt").isNotNull.as("ok"),
            coalesce(length(col("__txt")), lit(0)).cast("long").as("n_chars"))
        Q.requireNoShuffle(out)
        out
      },
      Some(
        """SELECT doc_id, doc_id % 7 <> 3 AS ok,
          |  CAST(CASE WHEN doc_id % 7 = 3 THEN 0 ELSE LENGTH(text) END AS BIGINT)
          |    AS n_chars
          |FROM documents""".stripMargin
      )
    ),

    // Unicode NFC normalization — the canonical pre-hash text step:
    // visually identical strings with different codepoint sequences
    // (decomposed accents, compatibility singletons like ANGSTROM SIGN
    // U+212B) hash differently unless normalized, silently defeating
    // exact dedup. graft_nfc is a native codegen Expression (UAX #15
    // via the JDK, isNormalized fast path); the gate plants decomposed
    // sequences after every document and compares the FULL normalized
    // text against DuckDB's independent nfc_normalize implementation
    // of the same standard — two engines, one algorithm, bit-equal
    // output. Map-only, REQUIREd shuffle-free.
    Q(
      "q_text_nfc",
      (spark, dir) => {
        val docs = Q.t(spark, dir, "documents")
        // e + COMBINING ACUTE, A + COMBINING RING, ANGSTROM SIGN,
        // ga + COMBINING KATAKANA VOICED MARK (no composition exists)
        val suffix = " e\u0301A\u030A\u212Bga\u3099"
        val out = docs.select(col("doc_id"),
          graft.functions.GraftFunctions
            .nfc(concat(col("text"), lit(suffix))).as("norm_text"))
        Q.requireNoShuffle(out)
        out
      },
      Some(
        """SELECT doc_id,
          |  nfc_normalize(text || ' e' || chr(769) || 'A' || chr(778) ||
          |                chr(8491) || 'ga' || chr(12441)) AS norm_text
          |FROM documents""".stripMargin
      )
    ),

    // HTML → text extraction — the step ZERO of a web-corpus pipeline
    // (C4/RefinedWeb ingest raw HTML): script/style/comment blocks
    // dropped wholesale, tags stripped, entities decoded (&amp; last,
    // so &amp;lt; yields literal "&lt;"), whitespace collapsed. The
    // gate wraps each document in a closed-form HTML shell (style +
    // script + comment + attributes + every handled entity), strips
    // it, and the oracle re-derives the clean text from the WRAPPING
    // FORMULA alone — only a strip that removes exactly the right
    // spans and decodes in the right order matches. Pure codegen'd
    // regexp chain, REQUIREd shuffle-free.
    Q(
      "q_html_strip",
      (spark, dir) => {
        val docs = Q.t(spark, dir, "documents")
        val html = concat(
          lit("<html><head><style>p{color:red}</style>" +
            "<script type=\"text/js\">var x = 1 < 2;</script></head>"),
          lit("<body><!-- note --><h1 class=\"t\">T</h1><p>"),
          col("text"),
          lit("</p><p>&amp;lt; &lt;tag&gt; &quot;q&quot; &#39;s&#39;&nbsp;end</p>" +
            "</body></html>"))
        val out = docs.select(
          col("doc_id"),
          TextAnalysis.stripHtml(html).as("clean_text"))
          .withColumn("n_chars_clean", length(col("clean_text")).cast("long"))
        Q.requireNoShuffle(out)
        out
      },
      Some(
        """SELECT doc_id,
          |  TRIM(regexp_replace(
          |    'T ' || text || ' &lt; <tag> "q" ''s'' end',
          |    '\s+', ' ', 'g')) AS clean_text,
          |  CAST(LENGTH(TRIM(regexp_replace(
          |    'T ' || text || ' &lt; <tag> "q" ''s'' end',
          |    '\s+', ' ', 'g'))) AS BIGINT) AS n_chars_clean
          |FROM documents""".stripMargin
      )
    ),

    // URL provenance — the curation key a web pipeline filters and
    // caps by BEFORE reading any document body: hosts parsed with
    // Spark's parse_url, collapsed to the registrable domain (eTLD+1
    // via the two-level-suffix heuristic — sub.dom.co.uk must yield
    // dom.co.uk while sub.dom.com yields dom.com), per-domain corpus
    // counts riding a broadcast back, and a literal blocklist
    // predicate (the right plan for a small denylist — no join at
    // all). URLs are closed-form from doc_id, so the oracle derives
    // host AND domain from the generation formula alone — an
    // independent check of the suffix logic. Corpus never shuffles;
    // only the 15-row domain table aggregates.
    Q(
      "q_url_domains",
      (spark, dir) => {
        val docs = Q.t(spark, dir, "documents")
        val subs = Seq("www", "blog", "cdn", "shop")
        val doms = Seq("alpha", "beta", "gamma", "delta", "epsilon")
        val tlds = Seq("com", "co.uk", "org")
        val url = concat(
          lit("https://"),
          element_at(lit(subs.toArray), (col("doc_id") % 4).cast("int") + 1), lit("."),
          element_at(lit(doms.toArray), (col("doc_id") % 5).cast("int") + 1), lit("."),
          element_at(lit(tlds.toArray), (col("doc_id") % 3).cast("int") + 1),
          lit("/p/"), col("doc_id"))
        val parsed = docs.select(col("doc_id"), url.as("url"))
          .withColumn("host", expr("parse_url(url, 'HOST')"))
          .withColumn("domain", TextAnalysis.registrableDomain(col("host")))
        val counts = parsed.groupBy(col("domain")).agg(count(lit(1)).as("n_domain"))
        val out = parsed
          .join(broadcast(counts), "domain")
          .select(col("doc_id"), col("host"), col("domain"), col("n_domain"),
            col("domain").isin("beta.co.uk", "delta.com", "epsilon.org")
              .as("blocked"))
        Q.requireBroadcastJoin(out)
        out
      },
      Some(
        """WITH u AS (
          |  SELECT doc_id,
          |    CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 'www' WHEN 1 THEN 'blog'
          |         WHEN 2 THEN 'cdn' ELSE 'shop' END AS sub,
          |    CASE CAST(doc_id % 5 AS INT) WHEN 0 THEN 'alpha' WHEN 1 THEN 'beta'
          |         WHEN 2 THEN 'gamma' WHEN 3 THEN 'delta' ELSE 'epsilon' END AS dom,
          |    CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'com' WHEN 1 THEN 'co.uk'
          |         ELSE 'org' END AS tld
          |  FROM documents
          |), h AS (
          |  SELECT doc_id, sub || '.' || dom || '.' || tld AS host,
          |         dom || '.' || tld AS domain
          |  FROM u
          |), c AS (
          |  SELECT domain, COUNT(*) AS n_domain FROM h GROUP BY domain
          |)
          |SELECT h.doc_id, h.host, h.domain, c.n_domain,
          |  h.domain IN ('beta.co.uk', 'delta.com', 'epsilon.org') AS blocked
          |FROM h JOIN c USING (domain)""".stripMargin
      )
    ),

    // RFC 3986 URL canonicalization (graft_url_canon, native codegen):
    // the key every URL-level dedup and crawl-frontier table must
    // agree on. Six messiness families planted by doc_id arm —
    // uppercase scheme/host + default port + dot segments + an
    // unreserved %-escape, a :443 https port, a KEPT non-default port
    // with a reserved escape uppercased, a double dot-segment pop with
    // a %-decoded query, a pathless authority, and an out-of-contract
    // ftp URL that must yield NULL — and the oracle re-derives each
    // canonical string from the construction formula, so only the
    // full §6 pipeline (case, port, §5.2.4, §6.2.2.2) matches.
    // Map-only, REQUIREd shuffle-free.
    Q(
      "q_url_canonicalize",
      (spark, dir) => {
        val docs = Q.t(spark, dir, "documents")
        val url = expr(
          """CASE CAST(doc_id % 6 AS INT)
            |  WHEN 0 THEN concat('HTTP://WWW.Alpha', doc_id % 5, '.COM:80/a/./b/../c', doc_id % 7, '/%7Euser')
            |  WHEN 1 THEN concat('https://shop.beta', doc_id % 5, '.org:443/p/', doc_id, '#frag')
            |  WHEN 2 THEN concat('https://cdn.gamma', doc_id % 5, '.net:8443/x%2fy/', doc_id)
            |  WHEN 3 THEN concat('http://Delta', doc_id % 5, '.com/a/b/c/../../d?q=%41', doc_id)
            |  WHEN 4 THEN concat('https://eps', doc_id % 5, '.com')
            |  ELSE concat('ftp://bogus.example/', doc_id)
            |END""".stripMargin)
        val out = docs.select(col("doc_id"), url.as("url"))
          .withColumn("canon",
            graft.functions.GraftFunctions.urlCanon(col("url")))
        Q.requireNoShuffle(out)
        out
      },
      Some(
        """WITH m AS (
          |  SELECT doc_id, CAST(doc_id % 6 AS INT) AS arm,
          |    CAST(doc_id % 5 AS VARCHAR) AS d5,
          |    CAST(doc_id % 7 AS VARCHAR) AS d7,
          |    CAST(doc_id AS VARCHAR) AS id
          |  FROM documents
          |)
          |SELECT doc_id,
          |  CASE arm
          |    WHEN 0 THEN 'HTTP://WWW.Alpha' || d5 || '.COM:80/a/./b/../c' || d7 || '/%7Euser'
          |    WHEN 1 THEN 'https://shop.beta' || d5 || '.org:443/p/' || id || '#frag'
          |    WHEN 2 THEN 'https://cdn.gamma' || d5 || '.net:8443/x%2fy/' || id
          |    WHEN 3 THEN 'http://Delta' || d5 || '.com/a/b/c/../../d?q=%41' || id
          |    WHEN 4 THEN 'https://eps' || d5 || '.com'
          |    ELSE 'ftp://bogus.example/' || id
          |  END AS url,
          |  CASE arm
          |    WHEN 0 THEN 'http://www.alpha' || d5 || '.com/a/c' || d7 || '/~user'
          |    WHEN 1 THEN 'https://shop.beta' || d5 || '.org/p/' || id
          |    WHEN 2 THEN 'https://cdn.gamma' || d5 || '.net:8443/x%2Fy/' || id
          |    WHEN 3 THEN 'http://delta' || d5 || '.com/a/d?q=A' || id
          |    WHEN 4 THEN 'https://eps' || d5 || '.com/'
          |    ELSE NULL
          |  END AS canon
          |FROM m""".stripMargin
      )
    ),

    // URL-level dedup ON the canonical form — the first dedup stage of
    // a crawl pipeline (cheaper than any content hash: drop refetches
    // of the same resource before touching the payload). Every
    // document plants TWO url variants (the clean form plus one of
    // four messiness families: case, default port, dot segments,
    // fragment); only a correct canonicalizer collapses each pair, so
    // the oracle can assert n_variants = 2 per canonical key from the
    // clean formula alone. ONE canonical-keyed exchange, typed-
    // asserted.
    Q(
      "q_url_dedup",
      (spark, dir) => {
        val docs = Q.t(spark, dir, "documents")
        val clean = expr(
          "concat('https://www.site', doc_id % 5, '.com/p/', doc_id)")
        val messy = expr(
          """CASE CAST(doc_id % 4 AS INT)
            |  WHEN 0 THEN concat('HTTPS://WWW.SITE', doc_id % 5, '.COM/p/', doc_id)
            |  WHEN 1 THEN concat('https://www.site', doc_id % 5, '.com:443/p/', doc_id)
            |  WHEN 2 THEN concat('https://www.site', doc_id % 5, '.com/p/./x/../', doc_id)
            |  ELSE concat('https://www.site', doc_id % 5, '.com/p/', doc_id, '#sec')
            |END""".stripMargin)
        val urls = docs.select(clean.as("url"))
          .unionByName(docs.select(messy.as("url")))
        val out = urls
          .select(graft.functions.GraftFunctions.urlCanon(col("url")).as("canon"))
          .groupBy(col("canon")).agg(count(lit(1)).as("n_variants"))
        Q.requireMaxShuffles(out, 1)
        out
      },
      Some(
        """SELECT 'https://www.site' || CAST(doc_id % 5 AS VARCHAR) || '.com/p/'
          |    || CAST(doc_id AS VARCHAR) AS canon,
          |  CAST(2 AS BIGINT) AS n_variants
          |FROM documents""".stripMargin
      )
    ),

    // Crawl politeness: robots.txt parsed per RFC 9309 group structure
    // and applied as the CONSERVATIVE longest-prefix screen (wildcard
    // disallows widen to their literal prefix — never fetch what a
    // rule meant to block; wildcard allows drop — never un-block what
    // the site blocked; allow wins length ties; specific agent group
    // used ALONE over '*'). Two robots families by domain parity plant
    // six path arms whose decisions the oracle re-derives closed-form
    // — incl. the arm that is only correct when the star group is
    // IGNORED for domains carrying a graftbot group, and the arm that
    // flips if a dropped wildcard allow were widened instead. Rules
    // are a |domains|-bounded BROADCAST; one agg exchange rates the
    // corpus.
    Q(
      "q_robots_screen",
      (spark, dir) => {
        import spark.implicits._
        val docs = Q.t(spark, dir, "documents")
        val robotsEven =
          """User-agent: *
            |Disallow: /private
            |Allow: /private/ok
            |Disallow: /cgi*bin
            |Allow: /wild*card
            |Disallow: /wild
            |Disallow:
            |""".stripMargin
        val robotsOdd =
          """User-agent: *
            |Disallow: /
            |User-agent: GraftBot
            |Disallow: /private
            |Allow: /private/ok
            |""".stripMargin
        val robots = (0 until 5)
          .map(m => (s"site$m.com", if (m % 2 == 0) robotsEven else robotsOdd))
          .toDF("domain", "robots_txt")
        val ruleRows = graft.operators.Robots.rules(robots, "domain", "robots_txt")
        val urls = docs.select(col("doc_id"),
          concat(lit("site"), col("doc_id") % 5, lit(".com")).as("domain"),
          expr(
            """CASE CAST(doc_id % 6 AS INT)
              |  WHEN 0 THEN concat('/private/x', doc_id)
              |  WHEN 1 THEN concat('/private/ok/', doc_id)
              |  WHEN 2 THEN concat('/public/', doc_id)
              |  WHEN 3 THEN concat('/cgi-bin/', doc_id)
              |  WHEN 4 THEN concat('/wild-card/', doc_id)
              |  ELSE concat('/index', doc_id)
              |END""".stripMargin).as("path"))
        val out = graft.operators.Robots.politenessScreen(urls, ruleRows, "GraftBot")
        Q.requireBroadcastJoin(out)
        out
      },
      Some(
        """SELECT doc_id,
          |  'site' || CAST(doc_id % 5 AS VARCHAR) || '.com' AS domain,
          |  CASE CAST(doc_id % 6 AS INT)
          |    WHEN 0 THEN '/private/x' || CAST(doc_id AS VARCHAR)
          |    WHEN 1 THEN '/private/ok/' || CAST(doc_id AS VARCHAR)
          |    WHEN 2 THEN '/public/' || CAST(doc_id AS VARCHAR)
          |    WHEN 3 THEN '/cgi-bin/' || CAST(doc_id AS VARCHAR)
          |    WHEN 4 THEN '/wild-card/' || CAST(doc_id AS VARCHAR)
          |    ELSE '/index' || CAST(doc_id AS VARCHAR)
          |  END AS path,
          |  CASE CAST(doc_id % 6 AS INT)
          |    WHEN 0 THEN FALSE
          |    WHEN 1 THEN TRUE
          |    WHEN 2 THEN TRUE
          |    WHEN 3 THEN (doc_id % 5) % 2 = 1
          |    WHEN 4 THEN (doc_id % 5) % 2 = 1
          |    ELSE TRUE
          |  END AS allowed
          |FROM documents""".stripMargin
      )
    ),

    // robots.txt FETCH-STATUS semantics (RFC 9309 §2.3.1) — the
    // decision a crawler owes domains whose robots didn't come back
    // 2xx: 4xx "unavailable" means the site chose not to publish
    // rules → crawling UNRESTRICTED; 5xx (and torn fetches, status
    // −1) "unreachable" → COMPLETE DISALLOW — an origin in trouble
    // must not be hammered, the conservative direction. Four status
    // arms × two path arms, the 200 arm keeping its parsed
    // longest-prefix behavior, all rated by the same broadcast
    // screen; the oracle re-derives every decision closed-form.
    Q(
      "q_robots_availability",
      (spark, dir) => {
        import spark.implicits._
        val docs = Q.t(spark, dir, "documents")
        val fetches = (0 until 8).map { m =>
          val status = (m % 4) match {
            case 0 => 200
            case 1 => 404
            case 2 => 503
            case _ => -1
          }
          (s"d$m.example", status,
            if (status == 200) "User-agent: *\nDisallow: /private\n" else null)
        }.toDF("domain", "status", "txt")
        val ruleRows = graft.operators.Robots.rulesWithAvailability(
          fetches, "domain", "status", "txt")
        val urls = docs.select(col("doc_id"),
          concat(lit("d"), col("doc_id") % 8, lit(".example")).as("domain"),
          when(col("doc_id") % 2 === 0, lit("/private/x"))
            .otherwise(lit("/public/y")).as("path"))
        val out = graft.operators.Robots.politenessScreen(
          urls, ruleRows, "graftbot")
        Q.requireBroadcastJoin(out)
        out
      },
      Some(
        """SELECT doc_id,
          |  'd' || CAST(doc_id % 8 AS VARCHAR) || '.example' AS domain,
          |  CASE WHEN doc_id % 2 = 0 THEN '/private/x' ELSE '/public/y' END AS path,
          |  CASE CAST(doc_id % 8 % 4 AS INT)
          |    WHEN 0 THEN doc_id % 2 <> 0  -- parsed rules: /private blocked
          |    WHEN 1 THEN TRUE             -- 4xx unavailable: unrestricted
          |    ELSE FALSE                   -- 5xx / torn: complete disallow
          |  END AS allowed
          |FROM documents""".stripMargin
      )
    ),

    // 3xx REDIRECT-CHAIN resolution over the fetch ledger (RFC 9309
    // §2.3.1.2: follow at least five consecutive redirects) — the hop
    // between "we fetched these URLs" and "this is each URL's terminal
    // answer". Six closed-form arms per domain: a direct 200, a 1-hop
    // 301, a 3-hop mixed 302/301/307 chain ending 404, a PLANTED LOOP
    // (A→B→A — exhausts the hop budget naturally, no cycle detector
    // needed at the RFC bound), a dangling Location (target never
    // fetched → status −1, the torn marker), and an OVER-LIMIT 6-hop
    // chain (start exhausts; the start one hop in resolves with
    // hops = 5 exactly). The resolver is maxHops chained left joins on
    // the |fetches|-bounded ledger — the corpus never enters the plan;
    // the oracle unrolls the identical five steps in SQL.
    Q(
      "q_redirect_resolve",
      (spark, dir) => {
        val led = Q.nationKeys(spark, dir, "k")
          .select(col("k"), explode(expr("sequence(0, 6)")).as("j"))
          .withColumn("a", col("k") % 6)
          .withColumn("url",
            concat(lit("http://d"), col("k"), lit(".example/r"), col("j")))
          .withColumn("status",
            when(col("a") === 1 && col("j") === 0, 301)
              .when(col("a") === 2 && col("j") === 0, 302)
              .when(col("a") === 2 && col("j") === 1, 301)
              .when(col("a") === 2 && col("j") === 2, 307)
              .when(col("a") === 2 && col("j") === 3, 404)
              .when(col("a") === 3 && col("j") <= 1, 301)
              .when(col("a") === 4 && col("j") === 0, 301)
              .when(col("a") === 5 && col("j") <= 5, 301)
              .otherwise(200))
          .withColumn("location",
            when(col("status").between(300, 399),
              when(col("a") === 3 && col("j") === 1,
                concat(lit("http://d"), col("k"), lit(".example/r0")))
                .when(col("a") === 4,
                  concat(lit("http://d"), col("k"), lit(".example/r9")))
                .otherwise(concat(lit("http://d"), col("k"),
                  lit(".example/r"), col("j") + 1)))
              .otherwise(lit(null).cast("string")))
        graft.operators.Robots.resolveRedirects(
          led, "url", "status", "location", maxHops = 5)
      },
      Some {
        val mid = "s.final_status BETWEEN 300 AND 399 AND s.loc IS NOT NULL"
        val step = (i: Int) =>
          s"""s$i AS (
             |  SELECT s.start_url,
             |    CASE WHEN $mid THEN COALESCE(n.url, s.loc)
             |         ELSE s.final_url END AS final_url,
             |    CASE WHEN $mid THEN COALESCE(n.status, -1)
             |         ELSE s.final_status END AS final_status,
             |    CASE WHEN $mid THEN n.loc ELSE s.loc END AS loc,
             |    CASE WHEN $mid THEN s.hops + 1 ELSE s.hops END AS hops
             |  FROM s${i - 1} s LEFT JOIN led n
             |    ON $mid AND n.url = s.loc
             |)""".stripMargin
        s"""WITH led AS (
           |  SELECT k, j, a,
           |    'http://d' || CAST(k AS VARCHAR) || '.example/r' || CAST(j AS VARCHAR) AS url,
           |    CASE WHEN a = 1 AND j = 0 THEN 301
           |         WHEN a = 2 AND j = 0 THEN 302
           |         WHEN a = 2 AND j = 1 THEN 301
           |         WHEN a = 2 AND j = 2 THEN 307
           |         WHEN a = 2 AND j = 3 THEN 404
           |         WHEN a = 3 AND j <= 1 THEN 301
           |         WHEN a = 4 AND j = 0 THEN 301
           |         WHEN a = 5 AND j <= 5 THEN 301
           |         ELSE 200 END AS status,
           |    CASE WHEN (CASE WHEN a = 1 AND j = 0 THEN 301
           |         WHEN a = 2 AND j = 0 THEN 302
           |         WHEN a = 2 AND j = 1 THEN 301
           |         WHEN a = 2 AND j = 2 THEN 307
           |         WHEN a = 2 AND j = 3 THEN 404
           |         WHEN a = 3 AND j <= 1 THEN 301
           |         WHEN a = 4 AND j = 0 THEN 301
           |         WHEN a = 5 AND j <= 5 THEN 301
           |         ELSE 200 END) BETWEEN 300 AND 399
           |      THEN CASE WHEN a = 3 AND j = 1
           |             THEN 'http://d' || CAST(k AS VARCHAR) || '.example/r0'
           |           WHEN a = 4
           |             THEN 'http://d' || CAST(k AS VARCHAR) || '.example/r9'
           |           ELSE 'http://d' || CAST(k AS VARCHAR) || '.example/r'
           |                || CAST(j + 1 AS VARCHAR) END
           |      ELSE NULL END AS loc
           |  FROM (SELECT CAST(n_nationkey AS BIGINT) AS k, i AS j,
           |          CAST(n_nationkey AS BIGINT) % 6 AS a
           |        FROM nation, UNNEST(generate_series(0, 6)) AS u(i))
           |), s0 AS (
           |  SELECT url AS start_url, url AS final_url, status AS final_status,
           |    loc, 0 AS hops
           |  FROM led
           |), ${(1 to 5).map(step).mkString(", ")}
           |SELECT start_url, final_url, CAST(final_status AS INT) AS final_status,
           |  CAST(hops AS INT) AS hops,
           |  final_status BETWEEN 300 AND 399 AND loc IS NOT NULL AS exhausted
           |FROM s5""".stripMargin
      }
    ),

    // Robots rules THROUGH redirects — the composition the resolver
    // exists for: per RFC 9309 §2.3.1.2 a robots.txt reached via
    // redirects is VALID FOR THE ORIGINAL authority. Four arms per
    // domain: a direct 200 (rules parse), a 301 to a DIFFERENT host
    // whose 200 body must still bind to the ORIGINAL domain, a
    // redirect LOOP (exhausts → unavailable → unrestricted, the RFC's
    // MAY), and a 301 landing on a 503 (unreachable → complete
    // disallow). Every decision re-derived closed-form by the oracle;
    // the rules frame stays |domains|-bounded and rides the same
    // broadcast screen.
    Q(
      "q_robots_redirect",
      (spark, dir) => {
        val nat = Q.nationKeys(spark, dir, "k").withColumn("b", col("k") % 4)
        val dom = concat(lit("d"), col("k"), lit(".example"))
        val robotsUrl = concat(lit("http://"), dom, lit("/robots.txt"))
        val altUrl = concat(lit("http://alt"), col("k"), lit(".example/robots.txt"))
        val tmpUrl = concat(lit("http://"), dom, lit("/tmp1"))
        val errUrl = concat(lit("http://"), dom, lit("/err"))
        val txt = "User-agent: *\nDisallow: /a1\n"
        val starts = nat.select(dom.as("domain"), robotsUrl.as("url"))
        val fetches = nat.select(robotsUrl.as("url"),
            when(col("b") === 0, 200).otherwise(301).as("status"),
            when(col("b") === 1, altUrl).when(col("b") === 2, tmpUrl)
              .when(col("b") === 3, errUrl)
              .otherwise(lit(null).cast("string")).as("location"),
            when(col("b") === 0, txt).otherwise(lit(null).cast("string")).as("text"))
          .unionByName(nat.select(altUrl.as("url"), lit(200).as("status"),
            lit(null).cast("string").as("location"), lit(txt).as("text")))
          .unionByName(nat.select(tmpUrl.as("url"), lit(301).as("status"),
            robotsUrl.as("location"), lit(null).cast("string").as("text")))
          .unionByName(nat.select(errUrl.as("url"), lit(503).as("status"),
            lit(null).cast("string").as("location"),
            lit(null).cast("string").as("text")))
        val ruleRows = graft.operators.Robots.rulesViaRedirects(starts, fetches)
        val urls = nat
          .select(col("k"), explode(expr("sequence(0, 1)")).as("pi"))
          .select((col("k") * 2 + col("pi")).as("doc_id"),
            concat(lit("d"), col("k"), lit(".example")).as("domain"),
            when(col("pi") === 0, lit("/a1/x")).otherwise(lit("/b/y")).as("path"))
        graft.operators.Robots.politenessScreen(urls, ruleRows, "graftbot")
      },
      Some(
        """SELECT CAST(n_nationkey AS BIGINT) * 2 + pi AS doc_id,
          |  'd' || CAST(n_nationkey AS VARCHAR) || '.example' AS domain,
          |  CASE WHEN pi = 0 THEN '/a1/x' ELSE '/b/y' END AS path,
          |  CASE CAST(n_nationkey % 4 AS INT)
          |    WHEN 2 THEN TRUE   -- redirect loop: unavailable → unrestricted
          |    WHEN 3 THEN FALSE  -- lands on 503: unreachable → disallow all
          |    ELSE pi <> 0       -- parsed rules (direct or via redirect): /a1 blocked
          |  END AS allowed
          |FROM nation, UNNEST(generate_series(0, 1)) AS u(pi)""".stripMargin
      )
    ),

    // EXACT RFC 9309 wildcard matching — the conservative screen's
    // documented approximation upgraded to the protocol's REAL
    // semantics: `*` matches any octet sequence, a trailing `$`
    // anchors the end, and the MOST-OCTETS rule path wins (allow on
    // ties). The fixture's robots combines a full disallow with a
    // wildcard Allow carve-out ("Allow: /pub*" — a rule the
    // conservative screen DROPS entirely), an anchored extension
    // block ("/*.pdf$"), a mid-pattern wildcard ("/a/*/secret"), and
    // an end-anchored allow ("/a/open$"). Eight path arms per doc;
    // `allowed` is the exact distributed screen's verdict and
    // `allowed_conservative` the safe approximation's — the rows
    // where they differ ARE the approximation's documented
    // over-block, now measurable. Broadcast screen, one agg exchange.
    Q(
      "q_robots_wildcard",
      (spark, dir) => {
        import spark.implicits._
        val docs = Q.t(spark, dir, "documents")
        val robotsTxt = "User-agent: *\nDisallow: /\nAllow: /pub*\n" +
          "Disallow: /*.pdf$\nDisallow: /a/*/secret\nAllow: /a/open$\n"
        val parsed = (0 until 5).flatMap(m =>
          graft.operators.Robots.parseRobots(s"w$m.example", robotsTxt))
        val ruleRows = parsed.toDF()
        val consRules = graft.operators.Robots.effectiveRules(parsed, "graftbot")
        val urls = docs.select(col("doc_id"),
          concat(lit("w"), col("doc_id") % 5, lit(".example")).as("domain"),
          element_at(array(lit("/pub/x"), lit("/other"), lit("/pub/doc.pdf"),
            lit("/a/b/secret"), lit("/a/open"), lit("/a/openx"),
            lit("/pub/sub/file.pdf"), lit("/")),
            (col("doc_id") % 8).cast("int") + 1).as("path"))
        val out = graft.operators.Robots.politenessScreenExact(
          urls, ruleRows, "graftbot")
          .withColumn("allowed_conservative",
            graft.operators.Robots.allowedColumn(consRules,
              col("domain"), col("path")))
        Q.requireBroadcastJoin(out)
        out
      },
      Some(
        """SELECT doc_id,
          |  'w' || CAST(doc_id % 5 AS VARCHAR) || '.example' AS domain,
          |  CASE CAST(doc_id % 8 AS INT)
          |    WHEN 0 THEN '/pub/x' WHEN 1 THEN '/other'
          |    WHEN 2 THEN '/pub/doc.pdf' WHEN 3 THEN '/a/b/secret'
          |    WHEN 4 THEN '/a/open' WHEN 5 THEN '/a/openx'
          |    WHEN 6 THEN '/pub/sub/file.pdf' ELSE '/' END AS path,
          |  -- exact: /pub* admits 0 (octets 5 > 1); /*.pdf$ (7) beats
          |  -- /pub* (5) on 2 and 6; /a/*/secret blocks 3; /a/open$
          |  -- admits exactly 4 and NOT the unanchored 5
          |  CAST(doc_id % 8 AS INT) IN (0, 4) AS allowed,
          |  -- the safe approximation drops both wildcard Allows and
          |  -- widens every Disallow: everything refuses
          |  FALSE AS allowed_conservative
          |FROM documents""".stripMargin
      )
    ),

    // Sitemap-seeded FRONTIER — the crawl's other discovery path
    // (robots.txt's `Sitemap:` lines point here): parse the sitemaps.
    // org `<loc>` entries (XML entity decode — sitemap URLs MUST
    // escape `&`), canonicalize, drop out-of-contract schemes, rate
    // against the same robots rules MAP-SIDE, and dedup the admitted
    // frontier. Arms per key: a normal URL that also appears as an
    // exact duplicate (collapsed), an entity-escaped query with
    // whitespace padding, a messy case/port/dot-segment form, a
    // robots-blocked /a1 path, and an ftp loc the canonicalizer
    // NULLs. Everything before the final distinct is map-only — ONE
    // exchange, typed-asserted; the oracle re-derives the 3 admitted
    // frontier rows per key closed-form.
    Q(
      "q_sitemap_frontier",
      (spark, dir) => {
        val sitemap = (k: Long) => {
          def m(i: Long) = (k + i) % 5
          s"""<?xml version="1.0"?><urlset>
             |<url><loc>http://site${m(0)}.example/s/0/$k</loc></url>
             |<url><loc> http://site${m(1)}.example/s/1/$k?a=1&amp;b=2 </loc></url>
             |<url><loc>HTTP://Site${m(2)}.EXAMPLE:80/s/./2/$k</loc></url>
             |<url><loc>http://site${m(3)}.example/a1/$k</loc></url>
             |<url><loc>ftp://site${m(4)}.example/s/4/$k</loc></url>
             |<url><loc>http://site${m(0)}.example/s/0/$k</loc></url>
             |</urlset>""".stripMargin
        }
        val rules = graft.operators.Robots.effectiveRules(
          (0 until 5).flatMap(mm =>
            graft.operators.Robots.parseRobots(s"site$mm.example",
              "User-agent: *\nDisallow: /a1\n")),
          "graftbot")
        val locs = graft.operators.Robots.sitemapUrls(
          Q.fixture(Q.nationKeys(spark, dir, "media_id"), "media_id", "xml")(sitemap),
          "media_id", "xml")
        val out = locs
          .withColumn("canon",
            graft.functions.GraftFunctions.urlCanon(col("loc")))
          .filter(col("canon").isNotNull)
          .filter(graft.operators.Robots.allowedColumn(rules,
            expr("parse_url(canon, 'HOST')"), expr("parse_url(canon, 'PATH')")))
          .select(col("media_id"), col("canon"))
          .distinct()
        Q.requireMaxShuffles(out, 1)
        out
      },
      Some(
        """SELECT CAST(n_nationkey AS BIGINT) AS media_id,
          |  CASE i
          |    WHEN 0 THEN 'http://site' || CAST(n_nationkey % 5 AS VARCHAR)
          |      || '.example/s/0/' || CAST(n_nationkey AS VARCHAR)
          |    WHEN 1 THEN 'http://site' || CAST((n_nationkey + 1) % 5 AS VARCHAR)
          |      || '.example/s/1/' || CAST(n_nationkey AS VARCHAR) || '?a=1&b=2'
          |    ELSE 'http://site' || CAST((n_nationkey + 2) % 5 AS VARCHAR)
          |      || '.example/s/2/' || CAST(n_nationkey AS VARCHAR)
          |  END AS canon
          |FROM nation, UNNEST(generate_series(0, 2)) AS u(i)""".stripMargin
      )
    ),

    // Sitemap DISCOVERY chained from robots.txt — the pointer hop the
    // frontier actually starts from: `Sitemap:` directives are
    // location-INDEPENDENT (not group-scoped; several per file; any
    // case; comments strip), so they ride a lenient line scan beside
    // the group walk (which correctly ignores them as unknown
    // directives). The chain: robots → pointers → (deterministic
    // fetch of each sitemap XML) → <loc> extraction with entity
    // decode and trim → canonicalization → the deduped per-domain
    // seed set. Arms: two pointers (one SHOUTING-case with a trailing
    // comment) / one pointer inside a group block / none. Everything
    // before the dedup is map-only — ONE exchange, typed-asserted;
    // the oracle re-derives the whole two-hop chain closed-form.
    Q(
      "q_sitemap_discovery",
      (spark, dir) => {
        import spark.implicits._
        val robots = Q.t(spark, dir, "nation")
          .select(col("n_nationkey").as("n"))
          .select(concat(lit("d"), col("n"), lit(".example")).as("domain"),
            when(col("n") % 3 === 0, concat(
              lit("User-agent: *\nDisallow: /private\nSitemap: http://d"),
              col("n"), lit(".example/sm1.xml\nSITEMAP: http://d"),
              col("n"), lit(".example/sm2.xml # mirror\n")))
              .when(col("n") % 3 === 1, concat(
                lit("User-agent: *\nSitemap: http://d"), col("n"),
                lit(".example/sm1.xml\nDisallow: /x\n")))
              .otherwise(lit("User-agent: *\nDisallow: /\n")).as("txt"))
        val pointers = graft.operators.Robots.sitemapPointers(robots, "domain", "txt")
        // the deterministic "fetch": each sitemap lists two pages under
        // its own index — one loc entity-escaped and padded (the decode
        // + trim arms)
        val fetch = udf((u: String) => {
          val base = u.substring(0, u.indexOf("/sm"))
          val j = u.substring(u.indexOf("/sm") + 3, u.length - 4)
          s"""<?xml version="1.0"?><urlset>
             |<url><loc>$base/s/$j/a</loc></url>
             |<url><loc> $base/s/$j/b?x=1&amp;y=2 </loc></url>
             |</urlset>""".stripMargin
        })
        val out = pointers
          .withColumn("xml", fetch(col("sitemap_url")))
          .select(col("domain"), col("xml"))
          .as[(String, String)]
          .flatMap { case (d, x) =>
            graft.operators.Robots.parseSitemapLocs(x).map(l => (d, l))
          }
          .toDF("domain", "loc")
          .select(col("domain"),
            graft.functions.GraftFunctions.urlCanon(col("loc")).as("canon"))
          .distinct()
        Q.requireMaxShuffles(out, 1)
        out
      },
      Some(
        """WITH p AS (
          |  SELECT n_nationkey AS n, j
          |  FROM nation, UNNEST(generate_series(1, 2)) AS u(j)
          |  WHERE n_nationkey % 3 = 0 OR (n_nationkey % 3 = 1 AND j = 1)
          |)
          |SELECT DISTINCT 'd' || CAST(n AS VARCHAR) || '.example' AS domain,
          |  'http://d' || CAST(n AS VARCHAR) || '.example/s/'
          |    || CAST(j AS VARCHAR) || '/' || s AS canon
          |FROM p, (VALUES ('a'), ('b?x=1&y=2')) v(s)""".stripMargin
      )
    ),

    // Sitemap INDEX files + COMPRESSED sitemaps — how sitemaps
    // actually ship: mostly `.xml.gz` (the protocol caps a file at
    // 50k URLs / 50 MB UNCOMPRESSED, so the wire form compresses) and
    // nested one level under `<sitemapindex>` (an index lists CHILD
    // sitemaps; deeper nesting is out of protocol). The full chain:
    // robots `Sitemap:` directive → gzipped INDEX (strict CRC-verified
    // gunzip — a torn sitemap is a visible nothing, never a
    // half-parsed URL list) → child sitemap fetches (gzipped urlsets)
    // → page locs → canon seeds. Three arms per domain: a gzipped
    // index with two gzipped children (4 pages), a PLAIN uncompressed
    // urlset pointed at directly (2 pages — both document kinds route
    // correctly), and a torn gzip (0 pages). Two joins on
    // |sitemaps|-bounded frames; the decode map-only.
    Q(
      "q_sitemap_index",
      (spark, dir) => {
        val nat = Q.nationKeys(spark, dir, "k")
        val c = col("k") % 3
        val robots = nat.select(
          concat(lit("d"), col("k"), lit(".example")).as("domain"),
          concat(lit("User-agent: *\nDisallow: /a1\nSitemap: http://d"),
            col("k"),
            when(c === 0, lit(".example/idx.xml.gz\n"))
              .when(c === 1, lit(".example/sm.xml\n"))
              .otherwise(lit(".example/bad.xml.gz\n"))).as("txt"))
        val pointers = graft.operators.Robots.sitemapPointers(robots, "domain", "txt")
        // the deterministic "fetch": every domain's five possible
        // bodies exist in the ledger; only the pointed-at ones matter
        val mk = udf((k: Long, w: String) => {
          import graft.operators.CompressedMeta.gzipMember
          val base = s"http://d$k.example"
          def urlset(j: String) =
            (s"""<?xml version="1.0"?><urlset>""" +
              s"<url><loc>$base/s/$j/a</loc></url>" +
              s"<url><loc> $base/s/$j/b?x=1&amp;y=2 </loc></url></urlset>")
              .getBytes("UTF-8")
          w match {
            case "idx" => gzipMember(
              (s"""<?xml version="1.0"?><sitemapindex>""" +
                s"<sitemap><loc>$base/sm0.xml.gz</loc></sitemap>" +
                s"<sitemap><loc>$base/sm1.xml.gz</loc></sitemap></sitemapindex>")
                .getBytes("UTF-8"))
            case "sm0"   => gzipMember(urlset("0"))
            case "sm1"   => gzipMember(urlset("1"))
            case "plain" => urlset("p")
            case _       => java.util.Arrays.copyOf(gzipMember(urlset("z")), 15)
          }
        })
        val fetches = nat
          .select(col("k"), explode(array(lit("idx"), lit("sm0"), lit("sm1"),
            lit("plain"), lit("bad"))).as("w"))
          .select(concat(lit("http://d"), col("k"),
            when(col("w") === "idx", lit(".example/idx.xml.gz"))
              .when(col("w") === "sm0", lit(".example/sm0.xml.gz"))
              .when(col("w") === "sm1", lit(".example/sm1.xml.gz"))
              .when(col("w") === "plain", lit(".example/sm.xml"))
              .otherwise(lit(".example/bad.xml.gz"))).as("url"),
            mk(col("k"), col("w")).as("payload"))
        val out = graft.operators.Robots.sitemapLocsVia(pointers, fetches)
          .select(col("domain"),
            graft.functions.GraftFunctions.urlCanon(col("loc")).as("canon"))
          .distinct()
        Q.requireMaxShuffles(out, 4)
        out
      },
      Some(
        """WITH arms AS (
          |  SELECT CAST(n_nationkey AS BIGINT) AS k,
          |    CAST(n_nationkey % 3 AS INT) AS c
          |  FROM nation
          |), pages AS (
          |  SELECT k, '/s/' || CAST(j AS VARCHAR) AS pre
          |  FROM arms, UNNEST(generate_series(0, 1)) AS u(j) WHERE c = 0
          |  UNION ALL
          |  SELECT k, '/s/p' FROM arms WHERE c = 1
          |)
          |SELECT DISTINCT 'd' || CAST(k AS VARCHAR) || '.example' AS domain,
          |  'http://d' || CAST(k AS VARCHAR) || '.example' || pre || '/' || s AS canon
          |FROM pages, (VALUES ('a'), ('b?x=1&y=2')) v(s)""".stripMargin
      )
    ),

    // Crawl-delay extraction — the politeness INTERVAL half of RFC
    // 9309's de-facto companion directive (the path screen is
    // q_robots_screen): parse `Crawl-delay:` under the same shared
    // group walk, select the effective per-domain delay under §2.2.1
    // (specific agent's groups used ALONE when present, `*` only
    // otherwise; several delays collapse to the MAX — the polite
    // reading), all pure SQL over the |domains|-bounded robots frame.
    // Arms per domain (d{n}.example by n%5): specific-agent group
    // beats a laxer star group / star-only fractional seconds /
    // two star groups take the max / an invalid value is skipped and
    // a 90000 s value caps at one hour (untrusted sites must not park
    // the crawler) / no directive at all → domain ABSENT (scheduler
    // default applies). The oracle re-derives each arm closed-form.
    Q(
      "q_crawl_delays",
      (spark, dir) => {
        val robots = Q.t(spark, dir, "nation")
          .select(concat(lit("d"), col("n_nationkey"), lit(".example")).as("domain"),
            (col("n_nationkey") % 5).cast("int").as("__arm"))
          .withColumn("txt",
            when(col("__arm") === 0,
              lit("User-agent: graftbot\nCrawl-delay: 2\nUser-agent: *\nCrawl-delay: 10\n"))
            .when(col("__arm") === 1, lit("User-agent: *\nCrawl-delay: 1.5\n"))
            .when(col("__arm") === 2,
              lit("User-agent: *\nCrawl-delay: 3\n\nUser-agent: *\nCrawl-delay: 0.5\n"))
            .when(col("__arm") === 3,
              lit("User-agent: *\nCrawl-delay: fast\nCrawl-delay: 90000\n"))
            .otherwise(lit("User-agent: *\nDisallow: /tmp\n")))
        graft.operators.Robots.effectiveDelayFrame(
          graft.operators.Robots.crawlDelays(robots, "domain", "txt"), "graftbot")
      },
      Some(
        """SELECT 'd' || CAST(n_nationkey AS VARCHAR) || '.example' AS domain,
          |  CAST(CASE CAST(n_nationkey % 5 AS INT)
          |    WHEN 0 THEN 2000 WHEN 1 THEN 1500
          |    WHEN 2 THEN 3000 ELSE 3600000 END AS BIGINT) AS delay_ms
          |FROM nation WHERE n_nationkey % 5 <> 4""".stripMargin
      )
    ),

    // Frontier SCHEDULING — the step between the admitted frontier and
    // the fetchers: politeness is PER HOST (one request per
    // crawl-delay interval), so a host's URLs must land together while
    // hosts stay independent — the host IS the parallelism axis. slot
    // = deterministic rank within host, fetch_at_ms = slot × the
    // host's delay, worker = host-hash shard. The delay table rides as
    // a DATAFRAME through the count-guarded broadcast join
    // (scheduleJoined — the web-scale form: a CreateMap literal
    // explodes plan size at 10⁷–10⁸ registrable domains; the guarded
    // frame never enters the plan text), typed-asserted: a broadcast
    // hash join AND exactly ONE exchange — the per-host window; the
    // delay lookup costs the frontier nothing. A giant host
    // serializing on one task is politeness itself, and host-sharding
    // means other hosts never wait on it. The oracle re-runs the
    // window, the delay CASE, and the polynomial shard hash
    // closed-form.
    Q(
      "q_frontier_schedule",
      (spark, dir) => {
        import spark.implicits._
        val frontier = Q.t(spark, dir, "documents")
          .select(col("doc_id"),
            concat(lit("site"), (col("doc_id") % 5).cast("int"), lit(".example")).as("host"))
          .withColumn("canon",
            concat(lit("http://"), col("host"), lit("/p/"), col("doc_id")))
        val delays = Seq("site0.example" -> 1000L, "site1.example" -> 250L)
          .toDF("domain", "delay_ms")
        val out = graft.operators.Frontier.scheduleJoined(
          frontier, delays, defaultDelayMs = 500L, workers = 8)
        Q.requireBroadcastJoin(out)
        Q.requireMaxShuffles(out, 1)
        out
      },
      Some(
        s"""WITH f AS (
           |  SELECT doc_id,
           |    'site' || CAST(CAST(doc_id % 5 AS INT) AS VARCHAR) || '.example' AS host,
           |    'http://site' || CAST(CAST(doc_id % 5 AS INT) AS VARCHAR)
           |      || '.example/p/' || CAST(doc_id AS VARCHAR) AS canon
           |  FROM documents
           |), s AS (
           |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY host ORDER BY canon ASC)
           |    - 1 AS BIGINT) AS slot
           |  FROM f
           |)
           |SELECT *,
           |  slot * CASE host WHEN 'site0.example' THEN 1000
           |    WHEN 'site1.example' THEN 250 ELSE 500 END AS fetch_at_ms,
           |  CAST(${polyHashSql("host", 31L)} % 8 AS INT) AS worker
           |FROM s""".stripMargin
      )
    ),

    // AUTHORITY-PRIORITIZED frontier — the composition a real crawler
    // runs: a discovered URL inherits the PageRank of its REFERRING
    // domain (a link from a high-authority page is fetched first), so
    // within each host the politeness slots order by referrer
    // authority DESC before the deterministic URL tiebreak. The rank
    // table is the |domains|-bounded integer-exact PageRank (2
    // unrolled rounds — the q_pagerank_domains frame), pinned and
    // BROADCAST onto the frontier. Corpus-side: the raw edge stream
    // collapses to the distinct (host, referrer) frontier in ONE
    // exchange; the per-host window is the second and runs on the
    // collapsed frame — both typed-asserted (≤ 2 total). URL host =
    // the edge's dst domain, referrer = its src — both closed-form,
    // so the oracle re-derives ranks, priorities, slots and shards
    // end to end.
    Q(
      "q_frontier_priority",
      (spark, dir) => {
        val docs = Q.t(spark, dir, "documents")
        val ranks = Graph.pageRankInt(graphEdges(docs), "src", "dst", iters = 2)
        val frontier = graphEdges(docs)
          .select(col("dst").as("host"), col("src").as("referrer"))
          .withColumn("canon",
            concat(lit("http://"), col("host"), lit("/from/"), col("referrer")))
          .distinct()
          .join(broadcast(ranks.select(col("node").as("referrer"),
            col("rank_micro").as("priority"))), Seq("referrer"))
        val out = graft.operators.Frontier.schedule(
          frontier, Nil, defaultDelayMs = 500L, workers = 8,
          priorityCol = Some("priority"))
        Q.requireMaxShuffles(out, 2)
        out
      },
      Some(
        s"""WITH $DomainRankCtes,
           |f AS (
           |  SELECT DISTINCT dst AS host, src AS referrer,
           |    'http://' || dst || '/from/' || src AS canon
           |  FROM adj
           |), fr AS (
           |  SELECT f.referrer, f.host, f.canon,
           |    CAST(r.rank AS BIGINT) AS priority
           |  FROM f JOIN r2 r ON r.node = f.referrer
           |), s AS (
           |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY host
           |    ORDER BY priority DESC, canon ASC) - 1 AS BIGINT) AS slot
           |  FROM fr
           |)
           |SELECT *, slot * 500 AS fetch_at_ms,
           |  CAST(${polyHashSql("host", 31L)} % 8 AS INT) AS worker
           |FROM s""".stripMargin
      )
    ),

    // The CRAWL CYCLE composed end to end — both discovery paths into
    // one politeness-correct fetch plan: WARC-crawled pages (HTTP
    // screen → canonicalization) UNION sitemap seeds (loc extraction →
    // canonicalization), rated-and-deduped by ONE politenessScreen
    // exchange (the rating groupBy on the canonical URL IS the
    // frontier dedup), then scheduled under the per-domain
    // crawl-delays PARSED FROM THE SAME robots.txt files that provided
    // the path rules (fractional-second directives; one site omits the
    // directive and takes the scheduler default). Rules AND delays
    // stay |domains|-bounded FRAMES end to end — the rules ride the
    // screen's broadcast, the delays scheduleJoined's count-guarded
    // broadcast (typed-asserted), so neither table ever enters the
    // plan text (the web-scale shape; a CreateMap literal explodes at
    // 10⁷–10⁸ domains). Everything before the screen is map-only, so
    // the corpus crosses the wire exactly twice — the screen groupBy
    // and the per-host window — both typed-asserted. The oracle
    // re-derives both discovery sets closed-form, unions, and re-runs
    // the window + delay CASE + shard hash.
    Q(
      "q_crawl_cycle",
      (spark, dir) => {
        import spark.implicits._
        val blobs = Q.nationKeys(spark, dir, "media_id")
        def robotsTxt(m: Int): String =
          "User-agent: *\nDisallow: /a1\nDisallow: /a2/*/x$\n" +
            (if (m < 4) s"Crawl-delay: 0.${m + 1}\n" else "")
        // the FRAME forms end to end — rules and delays stay DataFrames
        // (the web-scale shape: neither table ever enters the plan text;
        // rules ride politenessScreen's broadcast, delays the
        // count-guarded scheduleJoined broadcast)
        val robotsDf = (0 until 5)
          .map(m => (s"site$m.example", robotsTxt(m)))
          .toDF("domain", "txt")
        val ruleRows = graft.operators.Robots.rules(robotsDf, "domain", "txt")
        val delayFrame = graft.operators.Robots.effectiveDelayFrame(
          graft.operators.Robots.crawlDelays(robotsDf, "domain", "txt"), "graftbot")
        val warc = (k: Long) => graft.operators.Warc.syntheticWarcCrawl(k, 8)
        val crawled = graft.operators.Warc.httpResponses(
          graft.operators.Warc.records(
            Q.fixture(blobs, "media_id", "payload")(warc),
            "media_id", "payload"))
          .filter(col("status") === 200 && col("content_type") === "text/html")
          .withColumn("canon",
            graft.functions.GraftFunctions.urlCanon(col("target_uri")))
          .select(col("canon"))
        val sitemap = (k: Long) => {
          def m(i: Long) = (k + i) % 5
          s"""<?xml version="1.0"?><urlset>
             |<url><loc>http://site${m(0)}.example/s/0/$k</loc></url>
             |<url><loc> http://site${m(1)}.example/s/1/$k?a=1&amp;b=2 </loc></url>
             |<url><loc>HTTP://Site${m(2)}.EXAMPLE:80/s/./2/$k</loc></url>
             |<url><loc>http://site${m(3)}.example/a1/$k</loc></url>
             |<url><loc>ftp://site${m(4)}.example/s/4/$k</loc></url>
             |</urlset>""".stripMargin
        }
        val seeded = graft.operators.Robots.sitemapUrls(
          Q.fixture(blobs, "media_id", "xml")(sitemap), "media_id", "xml")
          .withColumn("canon",
            graft.functions.GraftFunctions.urlCanon(col("loc")))
          .select(col("canon"))
        // the AUDIT screen's groupBy(canon) is BOTH the rating collapse
        // and the frontier dedup — one exchange does the two jobs the
        // literal path needed a filter + distinct for. Admission is
        // the EXACT verdict; the conservative twin rides the SAME join
        // and is recorded per row as `overblocked` — the /a2 pages the
        // widened `/a2/*/x$` disallow would have cost this frontier
        val screened = graft.operators.Robots.politenessScreenAudit(
          crawled.unionByName(seeded)
            .filter(col("canon").isNotNull)
            .withColumn("host", expr("parse_url(canon, 'HOST')"))
            .withColumn("__path", expr("parse_url(canon, 'PATH')")),
          ruleRows, "graftbot",
          idCol = "canon", domainCol = "host", pathCol = "__path")
        val frontier = screened.filter(col("allowed"))
          .select(col("canon"), col("host"),
            (!col("allowed_conservative")).as("overblocked"))
        val out = graft.operators.Frontier.scheduleJoined(
          frontier, delayFrame, defaultDelayMs = 250L, workers = 8)
        Q.requireBroadcastJoin(out)
        // the corpus crosses the wire exactly twice: the screen's
        // rating groupBy (the dedup) and the per-host window — the
        // rules and delay frames both collapse into count-guarded
        // broadcast relations, so their derivations never appear in
        // the output plan
        Q.requireMaxShuffles(out, 2)
        out
      },
      Some(
        s"""WITH rows0 AS (
           |  SELECT CAST(n_nationkey AS BIGINT) AS media_id, i AS rec_idx,
           |    (n_nationkey + i) % 5 AS m, CAST(i % 4 AS INT) AS arm,
           |    (n_nationkey + i - 1) % 5 AS mprev
           |  FROM nation, UNNEST(generate_series(0, 7)) AS u(i)
           |), cr AS (
           |  SELECT DISTINCT
           |    CASE WHEN arm = 3
           |      THEN 'http://site' || CAST(mprev AS VARCHAR) || '.example/a2/p/'
           |           || CAST(rec_idx - 1 AS VARCHAR)
           |      ELSE 'http://site' || CAST(m AS VARCHAR) || '.example/a'
           |           || CAST(arm AS VARCHAR) || '/p/' || CAST(rec_idx AS VARCHAR)
           |    END AS canon
           |  FROM rows0
           |  WHERE (media_id + rec_idx) % 7 <> 2 AND (media_id + rec_idx) % 5 <> 3
           |    AND (CASE WHEN arm = 3 THEN 2 ELSE arm END) <> 1
           |), sm AS (
           |  SELECT DISTINCT CASE i
           |    WHEN 0 THEN 'http://site' || CAST(n_nationkey % 5 AS VARCHAR)
           |      || '.example/s/0/' || CAST(n_nationkey AS VARCHAR)
           |    WHEN 1 THEN 'http://site' || CAST((n_nationkey + 1) % 5 AS VARCHAR)
           |      || '.example/s/1/' || CAST(n_nationkey AS VARCHAR) || '?a=1&b=2'
           |    ELSE 'http://site' || CAST((n_nationkey + 2) % 5 AS VARCHAR)
           |      || '.example/s/2/' || CAST(n_nationkey AS VARCHAR)
           |  END AS canon
           |  FROM nation, UNNEST(generate_series(0, 2)) AS u(i)
           |), fr AS (
           |  SELECT DISTINCT canon FROM
           |    (SELECT canon FROM cr UNION ALL SELECT canon FROM sm)
           |), fh AS (
           |  SELECT canon, split_part(substr(canon, 8), '/', 1) AS host,
           |    canon LIKE '%/a2/%' AS overblocked FROM fr
           |), s AS (
           |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY host
           |    ORDER BY canon ASC) - 1 AS BIGINT) AS slot
           |  FROM fh
           |)
           |SELECT *,
           |  slot * CASE host
           |    WHEN 'site0.example' THEN 100 WHEN 'site1.example' THEN 200
           |    WHEN 'site2.example' THEN 300 WHEN 'site3.example' THEN 400
           |    ELSE 250 END AS fetch_at_ms,
           |  CAST(${polyHashSql("host", 31L)} % 8 AS INT) AS worker
           |FROM s""".stripMargin
      )
    ),

    // Adaptive REVISIT scheduling — the refresh policy of a continuous
    // crawl: pages that keep changing re-fetch at the base interval,
    // pages unchanged for k consecutive fetches back off as base·2^k,
    // capped so dormant pages still revisit. ONE per-URL window
    // derives the unchanged streak since the last change; the rest is
    // integer arithmetic with the shift clamped BEFORE it can wrap —
    // all oracle-checkable. Fixture: six fetches per URL with the last
    // change at position n mod 6 (streaks 1..5 plus the never-rechanged
    // arm), base 200 ms, cap 3.2 s — both the exponential ladder and
    // the cap arms exercised closed-form.
    Q(
      "q_revisit_schedule",
      (spark, dir) => {
        val hist = Q.nationKeys(spark, dir, "n")
          .select(col("n"), explode(sequence(lit(0), lit(5))).as("i"))
          .select(
            concat(lit("http://r"), col("n"), lit(".example/p")).as("canon"),
            (col("n") * 10000L + col("i") * 100L).as("fetch_ms"),
            (col("i") === 0 || col("i") < col("n") % 6).as("changed"))
        val out = graft.operators.Frontier.revisitSchedule(
          hist, baseMs = 200L, maxMs = 3200L)
        Q.requireMaxShuffles(out, 1)
        out
      },
      Some(
        """SELECT
          |  'http://r' || CAST(n_nationkey AS VARCHAR) || '.example/p' AS canon,
          |  CAST(n_nationkey * 10000 + 500 AS BIGINT) AS last_fetch_ms,
          |  CAST(CASE WHEN n_nationkey % 6 = 0 THEN 5
          |       ELSE 6 - n_nationkey % 6 END AS BIGINT) AS unchanged_streak,
          |  CAST(LEAST(3200, 200 * (1 << CAST(CASE WHEN n_nationkey % 6 = 0 THEN 5
          |       ELSE 6 - n_nationkey % 6 END AS INT))) AS BIGINT) AS interval_ms,
          |  CAST(n_nationkey * 10000 + 500
          |     + LEAST(3200, 200 * (1 << CAST(CASE WHEN n_nationkey % 6 = 0 THEN 5
          |       ELSE 6 - n_nationkey % 6 END AS INT))) AS BIGINT) AS next_fetch_ms
          |FROM nation""".stripMargin
      )
    ),

    // The CONTINUOUS-CRAWL loop CLOSED — the composition a refresh
    // crawler actually runs, each piece already gated solo: two fetch
    // rounds of every page → Changelog.snapshotDiff verdicts on the
    // payloads (the 'changed' flag is the DIFF FRAME's output, not a
    // re-derivation — the loop is real) → Frontier.revisitSchedule
    // turns the per-URL change history into backoff intervals →
    // re-admission through the SAME canon + robots chain a first
    // admission runs (the robots re-check archived crawls owe sites
    // whose rules changed: /p/ban pages drop OUT of the refresh plan)
    // → the next fetch plan, politeness slots ordered by URGENCY
    // (earliest next_fetch first) under frame-joined crawl-delays.
    // 304-AWARE (RFC 9110 §15.4.5): round 2 arrives as the protocol
    // delivers it — id%4==1 comes back `304 Not Modified` with NO
    // BODY (the conditional-GET answer IS the unchanged verdict;
    // forcing it through a content diff would misread the absent
    // payload as 'removed'), the rest 200 with payloads diffed by
    // snapshotDiff, changed at id%3==0. Fixture arms, all
    // closed-form: changed (200, text differs — streak 0, base
    // interval) vs unchanged (304 OR equal payload — streak 1,
    // doubled); id%7==0 URLs fall under the new robots ban; messy
    // stored URLs (case, port, dot-segment) unify through
    // graft_url_canon before the history window. The oracle
    // re-derives the verdicts, streaks, intervals, admission and the
    // slot/delay/shard plan across both crawl rounds. Corpus
    // exchanges: the diff-scoping semi-join + diff full-outer +
    // verdict join + revisit window + screen groupBy + host window;
    // the rules/delay frames stay |domains|-bounded (one tiny
    // group-selection exchange) and NEVER enter the plan text.
    Q(
      "q_crawl_refresh",
      (spark, dir) => {
        import spark.implicits._
        val docs = Q.t(spark, dir, "documents")
        // round-1 snapshot, then round-2 FETCHES as the protocol
        // delivers them: a refresh crawler sends If-Modified-Since,
        // so id%4==1 comes back 304 Not Modified — an unchanged
        // verdict WITH NO BODY (fetchVerdicts' status arm); the rest
        // come back 200 with payloads, changed at id%3==0
        val v1 = docs.select(col("doc_id"), col("text"))
        val fetch2 = docs.select(col("doc_id"),
          when(col("doc_id") % 4 === 1, 304).otherwise(200).as("status"),
          when(col("doc_id") % 3 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text"))
        val verdicts = graft.operators.Changelog.fetchVerdicts(
          v1, fetch2, "doc_id", "text", "status")
        // the fetch history, keyed by the CANONICAL url (stored forms
        // are messy; the canon step is part of the loop)
        val messy = concat(lit("HTTP://Site"), (col("doc_id") % 5).cast("int"),
          lit(".EXAMPLE:80/p/./"),
          when(col("doc_id") % 7 === 0, concat(lit("ban"), col("doc_id")))
            .otherwise(col("doc_id").cast("string")))
        val pages = docs.select(col("doc_id"),
          graft.functions.GraftFunctions.urlCanon(messy).as("canon"))
        val f1 = pages.select(col("canon"),
          (col("doc_id") * 1000L).as("fetch_ms"), lit(true).as("changed"))
        val f2 = pages
          .join(verdicts.filter(col("change") === "changed")
            .select(col("key").as("doc_id"), lit(true).as("__chg")), Seq("doc_id"), "left")
          .select(col("canon"), (col("doc_id") * 1000L + 60000L).as("fetch_ms"),
            coalesce(col("__chg"), lit(false)).as("changed"))
        val sched = graft.operators.Frontier.revisitSchedule(
          f1.unionByName(f2), baseMs = 30000L, maxMs = 240000L)
        // re-admission: the refreshed robots ban /p/ban, WILDCARD-ban
        // /p/1*7$ (pages whose id starts with 1 and ends with 7 — the
        // exact matcher reads it correctly and drops ONLY those, where
        // the conservative widening to the /p/1 prefix would have
        // dropped every id starting with 1), and carry the per-site
        // crawl-delays the NEXT plan schedules under. Admission is the
        // EXACT verdict (politenessScreenAudit); the conservative
        // twin's per-row over-block rides the output as `overblocked`
        val robotsDf = (0 until 5).map(m => (s"site$m.example",
          "User-agent: *\nDisallow: /p/ban\nDisallow: /p/1*7$\n" +
            (if (m < 4) s"Crawl-delay: ${m + 1}\n" else "")))
          .toDF("domain", "txt")
        val ruleRows = graft.operators.Robots.rules(robotsDf, "domain", "txt")
        val delayFrame = graft.operators.Robots.effectiveDelayFrame(
          graft.operators.Robots.crawlDelays(robotsDf, "domain", "txt"), "graftbot")
        val admitted = graft.operators.Robots.politenessScreenAudit(
          sched.withColumn("host", expr("parse_url(canon, 'HOST')"))
            .withColumn("__path", expr("parse_url(canon, 'PATH')")),
          ruleRows, "graftbot",
          idCol = "canon", domainCol = "host", pathCol = "__path")
          .filter(col("allowed"))
          .withColumn("overblocked", !col("allowed_conservative"))
          .withColumn("priority", -col("next_fetch_ms"))
        val out = graft.operators.Frontier.scheduleJoined(
          admitted, delayFrame, defaultDelayMs = 500L, workers = 8,
          priorityCol = Some("priority"))
          .select(col("canon"), col("host"), col("unchanged_streak"),
            col("interval_ms"), col("next_fetch_ms"), col("slot"),
            col("fetch_at_ms"), col("worker"), col("overblocked"))
        Q.requireBroadcastJoin(out)
        // 6 total: fetchVerdicts' per-key window + its prev-side digest
        // join (the fetch side reuses the window's partitioning) + the
        // verdict join (2 sides) + the revisit window + the screen
        // groupBy + the host window, minus the folds AQE finds — the
        // honest corpus count for a diff-driven refresh; the
        // rules/delay frames ride count-guarded broadcasts and never
        // appear in the output plan
        Q.requireMaxShuffles(out, 6)
        out
      },
      Some(
        s"""WITH sched AS (
           |  SELECT
           |    'http://site' || CAST(CAST(doc_id % 5 AS INT) AS VARCHAR)
           |      || '.example/p/' || CAST(doc_id AS VARCHAR) AS canon,
           |    'site' || CAST(CAST(doc_id % 5 AS INT) AS VARCHAR) || '.example' AS host,
           |    CAST(CASE WHEN doc_id % 3 = 0 AND doc_id % 4 <> 1 THEN 0 ELSE 1 END
           |      AS BIGINT) AS unchanged_streak,
           |    CAST(CASE WHEN doc_id % 3 = 0 AND doc_id % 4 <> 1 THEN 30000
           |      ELSE 60000 END AS BIGINT) AS interval_ms,
           |    CAST(doc_id * 1000 + 60000 AS BIGINT) AS last_fetch_ms,
           |    CAST(doc_id AS VARCHAR) LIKE '1%' AS overblocked
           |  FROM documents
           |  WHERE doc_id % 7 <> 0
           |    AND NOT (CAST(doc_id AS VARCHAR) LIKE '1%7')
           |), s AS (
           |  SELECT canon, host, unchanged_streak, interval_ms,
           |    last_fetch_ms + interval_ms AS next_fetch_ms,
           |    CAST(ROW_NUMBER() OVER (PARTITION BY host
           |      ORDER BY last_fetch_ms + interval_ms ASC, canon ASC) - 1
           |      AS BIGINT) AS slot,
           |    overblocked
           |  FROM sched
           |)
           |SELECT *,
           |  slot * CASE host
           |    WHEN 'site0.example' THEN 1000 WHEN 'site1.example' THEN 2000
           |    WHEN 'site2.example' THEN 3000 WHEN 'site3.example' THEN 4000
           |    ELSE 500 END AS fetch_at_ms,
           |  CAST(${polyHashSql("host", 31L)} % 8 AS INT) AS worker
           |FROM s""".stripMargin
      )
    ),

    // The CONDITIONAL-GET request plan — the side of the refresh loop
    // q_crawl_refresh's 304 arm presupposes: a crawler only RECEIVES
    // 304s if it SENT validators, so the ledger must track the
    // last-known ETag / Last-Modified per URL and emit which URLs
    // revalidate vs re-fetch in full (RFC 9110 §13.1.2-3; ETag
    // outranks dates, both ride when both are held). Fixture arms,
    // closed-form per doc_id: etag-present (every 3rd) vs absent;
    // round 2 arrives as a validator-less 304 (every 4th — the held
    // tag must PERSIST) or as a 200 that replaces the tag (%5<>0) or
    // re-sends none; Last-Modified on evens from round 1 only. ONE
    // key aggregate with map-side combine — shuffle bytes ∝ URLs.
    Q(
      "q_refresh_conditional",
      (spark, dir) => {
        val docs = Q.t(spark, dir, "documents").select(col("doc_id"))
        val r1 = docs.select(col("doc_id"),
          (col("doc_id") * 1000L).as("t"),
          when(col("doc_id") % 3 === 0,
            concat(lit("W/\"v1-"), col("doc_id"), lit("\""))).as("etag"),
          when(col("doc_id") % 2 === 0,
            concat(lit("Mon-"), col("doc_id"))).as("lm"))
        val r2 = docs.select(col("doc_id"),
          (col("doc_id") * 1000L + 60000L).as("t"),
          when(col("doc_id") % 4 =!= 1 && col("doc_id") % 3 === 0 &&
            col("doc_id") % 5 =!= 0,
            concat(lit("W/\"v2-"), col("doc_id"), lit("\""))).as("etag"),
          lit(null).cast("string").as("lm"))
        val out = graft.operators.Changelog.conditionalFetchPlan(
          r1.unionByName(r2), "doc_id", "t", "etag", "lm")
        Q.requireMaxShuffles(out, 1)
        out
      },
      Some(
        """SELECT doc_id AS key,
          |  CASE WHEN doc_id % 3 = 0 THEN
          |    CASE WHEN doc_id % 4 <> 1 AND doc_id % 5 <> 0
          |      THEN 'W/"v2-' || CAST(doc_id AS VARCHAR) || '"'
          |      ELSE 'W/"v1-' || CAST(doc_id AS VARCHAR) || '"' END
          |  END AS if_none_match,
          |  CASE WHEN doc_id % 2 = 0
          |    THEN 'Mon-' || CAST(doc_id AS VARCHAR) END AS if_modified_since,
          |  CASE WHEN doc_id % 3 = 0 OR doc_id % 2 = 0
          |    THEN 'revalidate' ELSE 'full' END AS plan
          |FROM documents""".stripMargin
      )
    ),

    // The conditional-GET plan FROM THE ARCHIVE — the loop closed at
    // the byte level: a refresh crawler's validators live in its own
    // fetch history's HTTP headers, so the chain is WARC container
    // walk → httpValidators (ETag case-preserved — an opaque token the
    // request must echo byte-for-byte; Last-Modified verbatim) →
    // conditionalFetchPlan keyed on the URI with rec_idx as recency.
    // Two fetch rounds per blob: held tags persist across
    // validator-less 304s, newer 200s replace them, date-only pages
    // revalidate by If-Modified-Since, validator-less pages re-fetch
    // in full — every arm closed-form in (seed, i).
    Q(
      "q_refresh_archive",
      (spark, dir) => {
        val warc = (k: Long) => graft.operators.Warc.syntheticWarcRefresh(k, 6)
        val ledger = graft.operators.Warc.httpValidators(
          graft.operators.Warc.recordsBinary(
            Q.fixture(Q.nationKeys(spark, dir, "media_id"), "media_id", "payload")(warc),
            "media_id", "payload"))
        val out = graft.operators.Changelog.conditionalFetchPlan(
          ledger, "target_uri", "rec_idx", "etag", "last_modified")
        Q.requireMaxShuffles(out, 1)
        out
      },
      Some(
        """SELECT
          |  'http://site' || CAST((n_nationkey + i) % 5 AS VARCHAR)
          |    || '.example/r/' || CAST(n_nationkey AS VARCHAR)
          |    || '/' || CAST(i AS VARCHAR) AS key,
          |  CASE WHEN i % 3 = 0 THEN
          |    CASE WHEN i % 4 <> 1 AND i % 5 <> 0
          |      THEN 'W/"v2-' || CAST(n_nationkey AS VARCHAR) || '-'
          |        || CAST(i AS VARCHAR) || '"'
          |      ELSE 'W/"v1-' || CAST(n_nationkey AS VARCHAR) || '-'
          |        || CAST(i AS VARCHAR) || '"' END
          |  END AS if_none_match,
          |  CASE WHEN i % 2 = 0
          |    THEN 'Mon, 0' || CAST(i AS VARCHAR) || ' Jan 2026'
          |  END AS if_modified_since,
          |  CASE WHEN i % 3 = 0 OR i % 2 = 0
          |    THEN 'revalidate' ELSE 'full' END AS plan
          |FROM nation, UNNEST(generate_series(0, 5)) AS u(i)""".stripMargin
      )
    ),

    // Snapshot DIFF between two dataset versions — the release-note
    // primitive of a curation cycle (what did v2 add, remove, change
    // vs v1), the audit twin of q_cdc_apply. Each side collapses to
    // (key, sha-256 digest) MAP-SIDE before the one full-outer key
    // shuffle (shuffle bytes ∝ keys, not documents), and unchanged
    // keys drop in the projection so the output is ∝ the delta. The
    // gate plants all three regimes by doc_id arm (every 7th±
    // removed / changed / added under a collision-free key shift) and
    // the oracle re-derives the classification from the arms alone.
    Q(
      "q_snapshot_diff",
      (spark, dir) => {
        val docs = Q.t(spark, dir, "documents")
        val before = docs.select(col("doc_id"), col("text"))
        val kept = docs.filter(col("doc_id") % 7 =!= 3)
          .select(col("doc_id"),
            when(col("doc_id") % 7 === 5, concat(col("text"), lit(" v2")))
              .otherwise(col("text")).as("text"))
        val added = docs.filter(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 2000000000L).as("doc_id"), col("text"))
        graft.operators.Changelog.snapshotDiff(
          before, kept.unionByName(added), "doc_id", "text")
      },
      Some(
        """SELECT doc_id AS key, 'removed' AS change FROM documents WHERE doc_id % 7 = 3
          |UNION ALL
          |SELECT doc_id, 'changed' FROM documents WHERE doc_id % 7 = 5
          |UNION ALL
          |SELECT doc_id + 2000000000, 'added' FROM documents WHERE doc_id % 7 = 0""".stripMargin
      )
    ),

    // Count-Min sketch — the mergeable frequency estimator joining the
    // HLL/moments/MinHash/DSIR summary family: d=4 hash rows × w=64
    // buckets of exact integer counts, point estimate = MIN over the
    // d counters (one-sided error: never undercounts). The gate
    // builds PER-HALF sketches and MERGES them (cell-wise sum), while
    // the ORACLE builds on the full corpus — the hash equality IS the
    // merge==build pin (the q_dsir_merge discipline). Estimates are
    // checked on the exact top-20 tokens (TakeOrdered, REQUIREd),
    // rated map-side against the collected 256-cell decision table.
    Q(
      "q_countmin",
      (spark, dir) => {
        val docs = Q.t(spark, dir, "documents")
        val merged = graft.operators.Sketch.countMinMerge(
          graft.operators.Sketch.countMin(
            docs.filter(col("doc_id") % 2 === 0), "text", 64),
          graft.operators.Sketch.countMin(
            docs.filter(col("doc_id") % 2 === 1), "text", 64))
        val arr = graft.operators.Sketch.countMinArrays(merged, 64)
        val top = docs
          .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
          .groupBy(col("token")).agg(count(lit(1)).as("true_count"))
          .orderBy(col("true_count").desc, col("token").asc)
          .limit(20)
        // the top-k itself plans as TakeOrderedAndProject (per-partition
        // heaps + one driver merge, never a global sort); the estimator
        // projection on top can re-plan the limit, so assert on the
        // top-k frame
        Q.requireTakeOrdered(top)
        top.select(col("token"), col("true_count"),
          graft.operators.Sketch.countMinEstimate(col("token"), arr, 64)
            .as("est_count"))
          .withColumn("overestimate", col("est_count") >= col("true_count"))
      },
      Some {
        val estArms = graft.operators.Sketch.CmsMults.zipWithIndex.map { case (m, i) =>
          s"""COALESCE((SELECT cnt FROM sk
             |        WHERE sk.i = $i AND sk.b = ${cmsBucketSql("tp.token", m, 64)}), 0)""".stripMargin
        }.mkString(",\n      ")
        s"""WITH tk AS (
           |  SELECT unnest(regexp_split_to_array(text, '\\s+')) AS t FROM documents
           |), tf AS (
           |  SELECT t AS token, CAST(COUNT(*) AS BIGINT) AS true_count
           |  FROM tk GROUP BY t
           |), top AS (
           |  SELECT token, true_count FROM tf
           |  ORDER BY true_count DESC, token ASC LIMIT 20
           |), sk AS (
           |  ${cmsSketchRowsSql(64)}
           |)
           |SELECT tp.token, tp.true_count,
           |  CAST(LEAST(
           |      $estArms) AS BIGINT) AS est_count,
           |  LEAST(
           |      $estArms) >= tp.true_count AS overestimate
           |FROM top tp""".stripMargin
      }
    ),

    // The Count-Min sketch as a SCREEN — "fit once, rate anywhere",
    // the DSIR/quality-classifier inference shape applied to
    // frequency: the 256-cell table rides the closure and every
    // document is rated MAP-SIDE by the max estimated frequency over
    // its tokens (the hot-token/boilerplate signal a curation rule
    // thresholds; also the skew-key detector for join salting). No
    // shuffle on the rating side (REQUIREd), so the same column
    // screens a stream — pinned by the MemoryStream twin in
    // StreamingCorpusOpsSpec.
    Q(
      "q_cms_screen",
      (spark, dir) => {
        val docs = Q.t(spark, dir, "documents")
        val arr = graft.operators.Sketch.countMinArrays(
          graft.operators.Sketch.countMin(docs, "text", 64), 64)
        val maxEst = aggregate(
          transform(TextAnalysis.tokens(col("text")),
            t => graft.operators.Sketch.countMinEstimate(t, arr, 64)),
          lit(0L), (a, e) => greatest(a, e))
        val out = docs.select(col("doc_id"), maxEst.as("max_est"))
          .withColumn("hot", col("max_est") >= 1000L)
        Q.requireNoShuffle(out)
        out
      },
      Some {
        val mults = graft.operators.Sketch.CmsMults
        val joins = mults.zipWithIndex.map { case (m, i) =>
          s"LEFT JOIN sk s$i ON s$i.i = $i AND s$i.b = ${cmsBucketSql("dt.t", m, 64)}"
        }.mkString("\n  ")
        val leastExpr = mults.indices
          .map(i => s"COALESCE(s$i.cnt, 0)").mkString("LEAST(", ", ", ")")
        s"""WITH tk AS (
           |  SELECT unnest(regexp_split_to_array(text, '\\s+')) AS t FROM documents
           |), sk AS (
           |  ${cmsSketchRowsSql(64)}
           |), dt AS (
           |  SELECT doc_id, unnest(regexp_split_to_array(text, '\\s+')) AS t
           |  FROM documents
           |), de AS (
           |  SELECT dt.doc_id, $leastExpr AS e
           |  FROM dt
           |  $joins
           |)
           |SELECT doc_id, CAST(MAX(e) AS BIGINT) AS max_est,
           |  MAX(e) >= 1000 AS hot
           |FROM de GROUP BY doc_id""".stripMargin
      }
    ),

    // CMS HEAVY HITTERS — the operator users actually run a frequency
    // sketch for: top-k tokens above a mass threshold, over 100 TB,
    // without shuffling the full term dictionary. Three stages:
    // (1) the d·w-cell sketch (ONE corpus scan; the token mass N rides
    // the build for free — Σ of any hash row's cells IS N, so the
    // φ=1/200 threshold costs nothing extra); (2) a MAP-SIDE screen —
    // only tokens whose CMS estimate reaches the threshold cross the
    // wire, and CMS's one-sided error makes the screen LOSSLESS for
    // true heavy hitters (estimates never undercount — the never-miss
    // invariant, spec-pinned in TopKSketchSpec); (3) an exact count
    // over the screened survivors kills the false positives, so the
    // output is the TRUE top-k — which is why the oracle is plain
    // exact SQL: any undercounting sketch would lose a heavy token
    // and hash-mismatch. Top-k plans as TakeOrderedAndProject.
    Q(
      "q_cms_topk",
      (spark, dir) => {
        val docs = Q.t(spark, dir, "documents")
        val w = 4096
        val arr = graft.operators.Sketch.countMinArrays(
          graft.operators.Sketch.countMin(docs, "text", w), w)
        val thresh = math.max(1L, arr(0).sum / 200L)
        val toks = docs.select(explode(TextAnalysis.tokens(col("text"))).as("token"))
        val out = toks
          .filter(graft.operators.Sketch.countMinEstimate(col("token"), arr, w) >= thresh)
          .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
          .filter(col("cnt") >= thresh)
          .orderBy(col("cnt").desc, col("token").asc)
          .limit(20)
        Q.requireTakeOrdered(out)
        out
      },
      Some(
        s"""WITH tk AS (
           |  SELECT unnest(regexp_split_to_array(text, '\\s+')) AS t FROM documents
           |), sk AS (
           |  ${cmsSketchRowsSql(4096)}
           |), th AS (
           |  SELECT GREATEST(1, CAST(SUM(cnt) AS BIGINT) // 200) AS v
           |  FROM sk WHERE i = 0
           |), tf AS (
           |  SELECT t AS token, CAST(COUNT(*) AS BIGINT) AS cnt FROM tk GROUP BY t
           |)
           |SELECT token, cnt FROM tf, th WHERE cnt >= th.v
           |ORDER BY cnt DESC, token ASC LIMIT 20""".stripMargin
      )
    ),

    // Deterministic HyperLogLog — distinct counting as a MERGEABLE
    // 64-register summary (the Count-Min discipline with MAX in place
    // of SUM): register = max leading-zero rank, per bucket, of XXH64
    // (rank statistics need real avalanche — the polynomial family
    // measured a 10^6x overestimate on short keys; the unsigned-
    // HUGEINT oracle port is the SimHash gates' validated chain).
    // The gate counts distinct order keys
    // (15k at sf0.01 — every bucket populated, ranks deep), building
    // PER-HALF register sets and MERGING them cell-wise while the
    // oracle derives every register from the full key stream in SQL —
    // merge==build pinned on the registers THEMSELVES, not just an
    // estimate (the built-in DataSketches q_hll_distinct can only be
    // oracle-checked in its sparse-exact regime; this sketch is
    // hash-checkable at any cardinality). One scan, 64 rows out.
    Q(
      "q_hll_registers",
      (spark, dir) => {
        val keys = Q.t(spark, dir, "orders")
          .select(col("o_orderkey").cast("string").as("k"),
            col("o_orderkey").as("__id"))
        graft.operators.Sketch.hllMerge(
          graft.operators.Sketch.hllRegisters(
            keys.filter(col("__id") % 2 === 0), "k"),
          graft.operators.Sketch.hllRegisters(
            keys.filter(col("__id") % 2 === 1), "k"))
      },
      Some(
        s"""WITH tk AS (
           |  SELECT CAST(o_orderkey AS VARCHAR) AS t FROM orders
           |), ${hllRegistersSql("tk")}
           |SELECT bucket, register FROM hregs""".stripMargin
      )
    ),

    // The HLL ESTIMATE, all-integer: Σ2^-M runs as a scaled integer
    // sum over the register frame (empty buckets contribute
    // 2^(FieldBits+1) = 2^33), the α·m²·2^33 numerator is one
    // precomputed literal, and the division
    // floors — so the estimate itself hash-matches, not just lands in
    // a band. `method` pins that the order-key cardinality is in the
    // RAW regime (documents' synthetic text has only ~31 distinct
    // tokens — the linear gate below covers that end); err_pm records
    // the per-mille error against the exact distinct count (both
    // engines compute it, so the accuracy claim is part of the hash).
    // One agg row out of the 64-row frame.
    Q(
      "q_hll_estimate",
      (spark, dir) => {
        val keys = Q.t(spark, dir, "orders")
          .select(col("o_orderkey").cast("string").as("k"))
        val est = graft.operators.Sketch.hllEstimate(
          graft.operators.Sketch.hllRegisters(keys, "k"))
        val exact = keys.agg(countDistinct(col("k")).as("n_exact"))
        est.crossJoin(exact)
          .withColumn("err_pm", expr("abs(est - n_exact) * 1000L div n_exact"))
          .withColumn("within_band", col("err_pm") <= 300L)
      },
      Some(
        s"""WITH lnt AS (SELECT $LnTabSql AS l), tk AS (
           |  SELECT CAST(o_orderkey AS VARCHAR) AS t FROM orders
           |), ${hllRegistersSql("tk")}, ${hllEstimateSql("hregs")}, ex AS (
           |  SELECT CAST(COUNT(DISTINCT t) AS BIGINT) AS n_exact FROM tk
           |)
           |SELECT e.*, ex.n_exact,
           |  CAST(ABS(e.est - ex.n_exact) * 1000 // ex.n_exact AS BIGINT) AS err_pm,
           |  ABS(e.est - ex.n_exact) * 1000 // ex.n_exact <= 300 AS within_band
           |FROM hest e CROSS JOIN ex""".stripMargin
      )
    ),

    // The LINEAR-COUNTING branch of the same estimator, pinned on a
    // genuinely small corpus (nation-name tokens): most registers
    // empty, est_raw under 2.5·m, so m·ln(m/V) takes over — both ln
    // reads from the shared LnTable, the float product a single IEEE
    // multiply in both engines, floored to an integer estimate.
    Q(
      "q_hll_linear",
      (spark, dir) => {
        val nat = Q.t(spark, dir, "nation")
        val est = graft.operators.Sketch.hllEstimate(
          graft.operators.Sketch.hllRegisters(nat, "n_name"))
        val exact = nat
          .select(explode(TextAnalysis.tokens(col("n_name"))).as("__t"))
          .agg(countDistinct(col("__t")).as("n_exact"))
        est.crossJoin(exact)
      },
      Some(
        s"""WITH lnt AS (SELECT $LnTabSql AS l), tk AS (
           |  SELECT unnest(regexp_split_to_array(n_name, '\\s+')) AS t FROM nation
           |), ${hllRegistersSql("tk")}, ${hllEstimateSql("hregs")}, ex AS (
           |  SELECT CAST(COUNT(DISTINCT t) AS BIGINT) AS n_exact FROM tk
           |)
           |SELECT e.*, ex.n_exact FROM hest e CROSS JOIN ex""".stripMargin
      )
    ),

    // PRODUCTION-WIDTH HLL — m = 2^12 = 4096 buckets. m = 64 is the
    // screening regime (~13% three-sigma band), kept above for its
    // oracle-pinnable 64-row register frame; real distinct counting
    // runs 4096+ buckets (~1.6% standard error). The all-integer
    // estimate SURVIVES the widening (numerator α·m²·2^33 ≈ 1.04e17,
    // harmonic sum ≤ m·2^33 = 2^45 — both inside Long), the
    // width-dependent constants splice from ONE Scala function into
    // BOTH engines (hllAlphaNumFor — the literal cannot drift), and
    // the gate keeps the family's merge==build discipline: per-half
    // builds, cell-wise-MAX merge, estimate on the merged frame.
    // err_pm asserts the TIGHTER production band (≤ 50‰ vs the m=64
    // gate's 300‰). Still one scan per half + one ≤4096-row
    // partial-agg exchange; the register frame never grows with the
    // corpus.
    Q(
      "q_hll_wide",
      (spark, dir) => {
        val bits = graft.operators.Sketch.HllWideBits
        val keys = Q.t(spark, dir, "orders")
          .select(col("o_orderkey").cast("string").as("k"),
            col("o_orderkey").as("__id"))
        val merged = graft.operators.Sketch.hllMerge(
          graft.operators.Sketch.hllRegistersP(
            keys.filter(col("__id") % 2 === 0), "k", bits),
          graft.operators.Sketch.hllRegistersP(
            keys.filter(col("__id") % 2 === 1), "k", bits))
        val est = graft.operators.Sketch.hllEstimateP(merged, bits)
        val exact = keys.agg(countDistinct(col("k")).as("n_exact"))
        est.crossJoin(exact)
          .withColumn("err_pm", expr("abs(est - n_exact) * 1000L div n_exact"))
          .withColumn("within_band", col("err_pm") <= 50L)
      },
      Some {
        val bits = graft.operators.Sketch.HllWideBits
        s"""WITH lnt AS (SELECT $LnTabSql AS l), tk AS (
           |  SELECT CAST(o_orderkey AS VARCHAR) AS t FROM orders
           |), ${hllRegistersSqlP("tk", bits)}, ${hllEstimateSqlP("hregs", bits)}, ex AS (
           |  SELECT CAST(COUNT(DISTINCT t) AS BIGINT) AS n_exact FROM tk
           |)
           |SELECT e.*, ex.n_exact,
           |  CAST(ABS(e.est - ex.n_exact) * 1000 // ex.n_exact AS BIGINT) AS err_pm,
           |  CAST(ABS(e.est - ex.n_exact) * 1000 // ex.n_exact AS BIGINT) <= 50
           |    AS within_band
           |FROM hest e CROSS JOIN ex""".stripMargin
      }
    ),

    // KMV (k-minimum-values / bottom-k theta) REGISTERS — the sketch
    // family's set-operation member: the K smallest distinct XXH64
    // values of the key stream. Like q_hll_registers the gate builds
    // PER-HALF sketches and merges (order statistics are associative/
    // commutative/idempotent — merge == full build bit-exactly) while
    // the oracle derives every register from the full key stream via
    // the validated unsigned-HUGEINT XXH64 chain; pinned on the
    // registers THEMSELVES. One scan, TakeOrdered (never a full
    // sort), 64 rows out.
    Q(
      "q_kmv_registers",
      (spark, dir) => {
        val keys = Q.t(spark, dir, "orders")
          .select(col("o_orderkey").cast("string").as("k"),
            col("o_orderkey").as("__id"))
        graft.operators.Sketch.kmvMerge(
          graft.operators.Sketch.kmvSketch(
            keys.filter(col("__id") % 2 === 0), "k"),
          graft.operators.Sketch.kmvSketch(
            keys.filter(col("__id") % 2 === 1), "k"))
      },
      Some(
        s"""WITH tk AS (
           |  SELECT DISTINCT CAST(o_orderkey AS VARCHAR) AS t FROM orders
           |), ${kmvRegistersSql("tk")}
           |SELECT ${kmvSignSql("th")} AS hv FROM kregs""".stripMargin
      )
    ),

    // The KMV ESTIMATE, all-integer: n̂ = (K−1)·2^64 // U_K with U_K
    // the Kth minimum — exact integral division of a precomputed
    // numerator, so the estimate itself hash-matches (the HLL-estimate
    // discipline); under K distinct keys the sketch is exhaustive and
    // the count EXACT (`method` pins the branch). err_pm records the
    // per-mille error against the exact distinct count — at K=64 the
    // theoretical RSE is 1/√(K−2) ≈ 12.7%, so the 400‰ band is ~3σ;
    // both engines compute the band, making the accuracy claim part
    // of the hash. One agg row out of the 64-row frame.
    Q(
      "q_kmv_estimate",
      (spark, dir) => {
        val keys = Q.t(spark, dir, "orders")
          .select(col("o_orderkey").cast("string").as("k"))
        val est = graft.operators.Sketch.kmvEstimate(
          graft.operators.Sketch.kmvSketch(keys, "k"))
        val exact = keys.agg(countDistinct(col("k")).as("n_exact"))
        est.crossJoin(exact)
          .withColumn("err_pm", expr("abs(est - n_exact) * 1000L div n_exact"))
          .withColumn("within_band", col("err_pm") <= 400L)
      },
      Some(
        s"""WITH tk AS (
           |  SELECT DISTINCT CAST(o_orderkey AS VARCHAR) AS t FROM orders
           |), ${kmvRegistersSql("tk")}, ${kmvEstimateSql("kregs")}, ex AS (
           |  SELECT CAST(COUNT(*) AS BIGINT) AS n_exact FROM tk
           |)
           |SELECT e.*, ex.n_exact,
           |  CAST(ABS(e.est - ex.n_exact) * 1000 // ex.n_exact AS BIGINT) AS err_pm,
           |  ABS(e.est - ex.n_exact) * 1000 // ex.n_exact <= 400 AS within_band
           |FROM kest e CROSS JOIN ex""".stripMargin
      )
    ),

    // KMV INTERSECTION — what the family's other members can't do:
    // |A∩B| in DISTINCT KEYS across two sources (HLL has no
    // intersections; MinHash gives shingle-set Jaccard, not key
    // overlap). The K smallest of A∪B are a uniform hash-sample of the
    // union, so the fraction present in BOTH register sets estimates
    // the overlap: n̂_∩ = c·n̂_∪ div K, all-integer. Sources: order keys
    // coprime-filtered (A = keys ∤3, B = keys ∤2 → true overlap = keys
    // ∤2 ∤3, 1/3 of the stream) — the oracle hashes the full key
    // stream ONCE and derives both register sets, the merge, the
    // common count, and the exact overlap closed-form. Register frames
    // are K-row: every join broadcasts, one row out.
    Q(
      "q_kmv_intersect",
      (spark, dir) => {
        val keys = Q.t(spark, dir, "orders")
          .select(col("o_orderkey").cast("string").as("k"),
            col("o_orderkey").as("__id"))
        val a = graft.operators.Sketch.kmvSketch(
          keys.filter(col("__id") % 3 =!= 0), "k")
        val b = graft.operators.Sketch.kmvSketch(
          keys.filter(col("__id") % 2 =!= 0), "k")
        val exact = keys
          .filter(col("__id") % 3 =!= 0 && col("__id") % 2 =!= 0)
          .agg(countDistinct(col("k")).as("n_exact"))
        graft.operators.Sketch.kmvIntersectEstimate(a, b)
          .crossJoin(exact)
          .withColumn("err_pm", expr("abs(est - n_exact) * 1000L div n_exact"))
      },
      Some(
        s"""WITH tk AS (
           |  SELECT DISTINCT CAST(o_orderkey AS VARCHAR) AS t FROM orders
           |), ${kmvRegistersSql("tk")},
           |kx AS MATERIALIZED (SELECT CAST(tok AS BIGINT) AS key, th FROM xh),
           |ka AS (SELECT DISTINCT th FROM kx WHERE key % 3 <> 0
           |       ORDER BY th LIMIT ${graft.operators.Sketch.KmvK}),
           |kb AS (SELECT DISTINCT th FROM kx WHERE key % 2 <> 0
           |       ORDER BY th LIMIT ${graft.operators.Sketch.KmvK}),
           |mg AS (SELECT DISTINCT th FROM
           |         (SELECT th FROM ka UNION ALL SELECT th FROM kb)
           |       ORDER BY th LIMIT ${graft.operators.Sketch.KmvK}),
           |${kmvEstimateSql("mg")},
           |cm AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_common FROM mg
           |       WHERE th IN (SELECT th FROM ka) AND th IN (SELECT th FROM kb)),
           |ex AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_exact FROM kx
           |       WHERE key % 3 <> 0 AND key % 2 <> 0)
           |SELECT e.n_present AS n_union_present, e.method,
           |  e.est AS n_union_est, c.n_common,
           |  CAST(CASE WHEN e.method = 'exact' THEN c.n_common
           |       ELSE CAST(c.n_common AS HUGEINT) * e.est
           |            // ${graft.operators.Sketch.KmvK} END AS BIGINT) AS est,
           |  ex.n_exact,
           |  CAST(ABS(CAST(CASE WHEN e.method = 'exact' THEN c.n_common
           |       ELSE CAST(c.n_common AS HUGEINT) * e.est
           |            // ${graft.operators.Sketch.KmvK} END AS BIGINT) - ex.n_exact)
           |       * 1000 // ex.n_exact AS BIGINT) AS err_pm
           |FROM kest e, cm c, ex""".stripMargin
      )
    ),

    // KMV set DIFFERENCE (A-not-B) — the member that CLOSES the
    // set-operation family on the SAME merged sample (union = the
    // merge's estimate, intersection = q_kmv_intersect, difference =
    // here): c = merged registers inside A's set but NOT B's;
    // n̂_{A∖B} = c·n̂_∪ div K, exactly c when the union sketch is
    // exhaustive. Membership against register sets is sound for every
    // merged element (the union's Kth minimum is ≤ either input's).
    // Same coprime fixture as the intersection — A = keys ∤3, B =
    // keys ∤2, so A∖B = the even keys not divisible by 3 (1/3 of the
    // stream) — and the oracle derives both register sets, the merge,
    // the anti-membership count and the exact difference closed-form
    // from ONE hashed key stream. K-row frames, every join
    // broadcasts, one row out.
    Q(
      "q_kmv_difference",
      (spark, dir) => {
        val keys = Q.t(spark, dir, "orders")
          .select(col("o_orderkey").cast("string").as("k"),
            col("o_orderkey").as("__id"))
        val a = graft.operators.Sketch.kmvSketch(
          keys.filter(col("__id") % 3 =!= 0), "k")
        val b = graft.operators.Sketch.kmvSketch(
          keys.filter(col("__id") % 2 =!= 0), "k")
        val exact = keys
          .filter(col("__id") % 3 =!= 0 && col("__id") % 2 === 0)
          .agg(countDistinct(col("k")).as("n_exact"))
        graft.operators.Sketch.kmvDifferenceEstimate(a, b)
          .crossJoin(exact)
          .withColumn("err_pm", expr("abs(est - n_exact) * 1000L div n_exact"))
      },
      Some(
        s"""WITH tk AS (
           |  SELECT DISTINCT CAST(o_orderkey AS VARCHAR) AS t FROM orders
           |), ${kmvRegistersSql("tk")},
           |kx AS MATERIALIZED (SELECT CAST(tok AS BIGINT) AS key, th FROM xh),
           |ka AS (SELECT DISTINCT th FROM kx WHERE key % 3 <> 0
           |       ORDER BY th LIMIT ${graft.operators.Sketch.KmvK}),
           |kb AS (SELECT DISTINCT th FROM kx WHERE key % 2 <> 0
           |       ORDER BY th LIMIT ${graft.operators.Sketch.KmvK}),
           |mg AS (SELECT DISTINCT th FROM
           |         (SELECT th FROM ka UNION ALL SELECT th FROM kb)
           |       ORDER BY th LIMIT ${graft.operators.Sketch.KmvK}),
           |${kmvEstimateSql("mg")},
           |dc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_diff FROM mg
           |       WHERE th IN (SELECT th FROM ka) AND th NOT IN (SELECT th FROM kb)),
           |ex AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_exact FROM kx
           |       WHERE key % 3 <> 0 AND key % 2 = 0)
           |SELECT e.n_present AS n_union_present, e.method,
           |  e.est AS n_union_est, d.n_diff,
           |  CAST(CASE WHEN e.method = 'exact' THEN d.n_diff
           |       ELSE CAST(d.n_diff AS HUGEINT) * e.est
           |            // ${graft.operators.Sketch.KmvK} END AS BIGINT) AS est,
           |  ex.n_exact,
           |  CAST(ABS(CAST(CASE WHEN e.method = 'exact' THEN d.n_diff
           |       ELSE CAST(d.n_diff AS HUGEINT) * e.est
           |            // ${graft.operators.Sketch.KmvK} END AS BIGINT) - ex.n_exact)
           |       * 1000 // ex.n_exact AS BIGINT) AS err_pm
           |FROM kest e, dc d, ex""".stripMargin
      )
    ),

    // KMV cross-source OVERLAP MATRIX — the two-sketch intersection
    // vectorized over every unordered group pair in one frame: one
    // KMV register set per order priority over the customer-key
    // stream (kmvSketchBy — both exchanges ∝ distinct (group, key)
    // pairs, never the corpus), then per-pair merge / common-count /
    // estimate on the ≤|groups|²·K-row frames (kmvOverlapMatrix —
    // every join broadcasts). Priorities share most customers, so
    // every pair sits in the sampled regime; the oracle derives each
    // register, merge and estimate from the full key stream via the
    // validated XXH64 chain. 10 rows out.
    Q(
      "q_kmv_overlap_matrix",
      (spark, dir) => {
        val keyed = Q.t(spark, dir, "orders")
          .select(col("o_orderpriority"),
            col("o_custkey").cast("string").as("k"))
        graft.operators.Sketch.kmvOverlapMatrix(
          graft.operators.Sketch.kmvSketchBy(keyed, "k", "o_orderpriority"))
      },
      Some {
        val k = graft.operators.Sketch.KmvK
        val num = graft.operators.Sketch.KmvNum.toPlainString
        s"""WITH tk AS (
           |  SELECT DISTINCT CAST(o_custkey AS VARCHAR) AS t FROM orders
           |), ${kmvRegistersSql("tk")},
           |gk AS MATERIALIZED (
           |  SELECT DISTINCT o.o_orderpriority AS g, x.th
           |  FROM orders o JOIN xh x ON CAST(o.o_custkey AS VARCHAR) = x.tok
           |),
           |sregs AS MATERIALIZED (
           |  SELECT g, th FROM gk
           |  QUALIFY ROW_NUMBER() OVER (PARTITION BY g ORDER BY th) <= $k
           |),
           |prs AS (
           |  SELECT a.g AS ga, b.g AS gb
           |  FROM (SELECT DISTINCT g FROM sregs) a,
           |       (SELECT DISTINCT g FROM sregs) b
           |  WHERE a.g < b.g
           |),
           |un AS (
           |  SELECT DISTINCT p.ga, p.gb, s.th
           |  FROM prs p JOIN sregs s ON s.g = p.ga OR s.g = p.gb
           |),
           |mg AS (
           |  SELECT ga, gb, th FROM un
           |  QUALIFY ROW_NUMBER() OVER (PARTITION BY ga, gb ORDER BY th) <= $k
           |),
           |cm AS (
           |  SELECT m.ga, m.gb, CAST(COUNT(*) AS BIGINT) AS n_common FROM mg m
           |  WHERE EXISTS (SELECT 1 FROM sregs s WHERE s.g = m.ga AND s.th = m.th)
           |    AND EXISTS (SELECT 1 FROM sregs s WHERE s.g = m.gb AND s.th = m.th)
           |  GROUP BY m.ga, m.gb
           |),
           |me AS (
           |  SELECT ga, gb, CAST(COUNT(*) AS BIGINT) AS n_union_present,
           |    CASE WHEN COUNT(*) < $k THEN 'exact' ELSE 'sampled' END AS method,
           |    CAST(CASE WHEN COUNT(*) < $k THEN COUNT(*)
           |         ELSE CAST($num AS HUGEINT) // MAX(th) END AS BIGINT) AS n_union_est
           |  FROM mg GROUP BY ga, gb
           |)
           |SELECT me.ga AS group_a, me.gb AS group_b, me.n_union_present,
           |  me.method, me.n_union_est,
           |  CAST(COALESCE(cm.n_common, 0) AS BIGINT) AS n_common,
           |  CAST(CASE WHEN me.method = 'exact' THEN COALESCE(cm.n_common, 0)
           |       ELSE CAST(COALESCE(cm.n_common, 0) AS HUGEINT) * me.n_union_est
           |            // $k END AS BIGINT) AS est
           |FROM me LEFT JOIN cm ON me.ga = cm.ga AND me.gb = cm.gb""".stripMargin
      }
    ),

    // The KMV SET-OPERATIONS MATRIX — union, intersection and BOTH
    // directed differences per group pair from ONE merged K-sample
    // (the overlap matrix completed by the difference members): every
    // merged register classifies by membership in the two source sets
    // (sound — the union's Kth minimum is ≤ either input's), the
    // three class counts PARTITION n_union_present, and each estimate
    // is count·n̂_∪ div K (exact when the union sketch is
    // exhaustive). "Which sources cover what the others miss" is the
    // question a corpus-mixing decision actually asks; HLL cannot
    // answer it at all. Frames ≤ |groups|²·K; the oracle re-derives
    // every class count and estimate from the full key stream.
    Q(
      "q_kmv_setops_matrix",
      (spark, dir) => {
        val keyed = Q.t(spark, dir, "orders")
          .select(col("o_orderpriority"),
            col("o_custkey").cast("string").as("k"))
        graft.operators.Sketch.kmvSetOpsMatrix(
          graft.operators.Sketch.kmvSketchBy(keyed, "k", "o_orderpriority"))
      },
      Some {
        val k = graft.operators.Sketch.KmvK
        val num = graft.operators.Sketch.KmvNum.toPlainString
        s"""WITH tk AS (
           |  SELECT DISTINCT CAST(o_custkey AS VARCHAR) AS t FROM orders
           |), ${kmvRegistersSql("tk")},
           |gk AS MATERIALIZED (
           |  SELECT DISTINCT o.o_orderpriority AS g, x.th
           |  FROM orders o JOIN xh x ON CAST(o.o_custkey AS VARCHAR) = x.tok
           |),
           |sregs AS MATERIALIZED (
           |  SELECT g, th FROM gk
           |  QUALIFY ROW_NUMBER() OVER (PARTITION BY g ORDER BY th) <= $k
           |),
           |prs AS (
           |  SELECT a.g AS ga, b.g AS gb
           |  FROM (SELECT DISTINCT g FROM sregs) a,
           |       (SELECT DISTINCT g FROM sregs) b
           |  WHERE a.g < b.g
           |),
           |un AS (
           |  SELECT DISTINCT p.ga, p.gb, s.th
           |  FROM prs p JOIN sregs s ON s.g = p.ga OR s.g = p.gb
           |),
           |mg AS (
           |  SELECT ga, gb, th FROM un
           |  QUALIFY ROW_NUMBER() OVER (PARTITION BY ga, gb ORDER BY th) <= $k
           |),
           |fl AS (
           |  SELECT m.ga, m.gb, m.th,
           |    EXISTS (SELECT 1 FROM sregs s WHERE s.g = m.ga AND s.th = m.th) AS ina,
           |    EXISTS (SELECT 1 FROM sregs s WHERE s.g = m.gb AND s.th = m.th) AS inb
           |  FROM mg m
           |),
           |cm AS (
           |  SELECT ga, gb,
           |    CAST(COUNT(*) AS BIGINT) AS n_union_present,
           |    MAX(th) AS uk,
           |    CAST(SUM(CASE WHEN ina AND inb THEN 1 ELSE 0 END) AS BIGINT) AS n_common,
           |    CAST(SUM(CASE WHEN ina AND NOT inb THEN 1 ELSE 0 END) AS BIGINT) AS n_a_only,
           |    CAST(SUM(CASE WHEN inb AND NOT ina THEN 1 ELSE 0 END) AS BIGINT) AS n_b_only
           |  FROM fl GROUP BY ga, gb
           |)
           |SELECT ga AS group_a, gb AS group_b, n_union_present,
           |  CASE WHEN n_union_present < $k THEN 'exact' ELSE 'sampled' END AS method,
           |  CAST(CASE WHEN n_union_present < $k THEN n_union_present
           |       ELSE CAST($num AS HUGEINT) // uk END AS BIGINT) AS n_union_est,
           |  n_common, n_a_only, n_b_only,
           |  CAST(CASE WHEN n_union_present < $k THEN n_common
           |       ELSE CAST(n_common AS HUGEINT) *
           |            (CAST($num AS HUGEINT) // uk) // $k END AS BIGINT) AS est_intersect,
           |  CAST(CASE WHEN n_union_present < $k THEN n_a_only
           |       ELSE CAST(n_a_only AS HUGEINT) *
           |            (CAST($num AS HUGEINT) // uk) // $k END AS BIGINT) AS est_a_only,
           |  CAST(CASE WHEN n_union_present < $k THEN n_b_only
           |       ELSE CAST(n_b_only AS HUGEINT) *
           |            (CAST($num AS HUGEINT) // uk) // $k END AS BIGINT) AS est_b_only
           |FROM cm""".stripMargin
      }
    ),

    // GROUPED HLL — distinct counting per group as ONE mergeable frame
    // (group, bucket, register): the deterministic, register-level-
    // checkable cousin of approx_count_distinct's GROUP BY form. One
    // scan, one partial-agg shuffle into the ≤|groups|·64-cell frame;
    // the estimate math runs vectorized by group (hllEstimateBy — one
    // agg, never a collect). Gate: distinct customers per order
    // priority, estimate AND per-mille error both hash-matched against
    // the exact counts; the oracle derives every group's registers
    // from the full key stream via the validated XXH64 chain.
    Q(
      "q_hll_groups",
      (spark, dir) => {
        val keyed = Q.t(spark, dir, "orders")
          .select(col("o_orderpriority"),
            col("o_custkey").cast("string").as("k"))
        val est = graft.operators.Sketch.hllEstimateBy(
          graft.operators.Sketch.hllRegistersBy(keyed, "k", "o_orderpriority"))
        val exact = Q.t(spark, dir, "orders")
          .groupBy(col("o_orderpriority").as("group"))
          .agg(countDistinct(col("o_custkey")).as("n_exact"))
        est.join(exact, "group")
          .withColumn("err_pm", expr("abs(est - n_exact) * 1000L div n_exact"))
      },
      Some {
        val m = graft.operators.Sketch.HllBuckets
        val k = graft.operators.Sketch.HllFieldBits + 1
        val an = graft.operators.Sketch.HllAlphaNum
        val lc = graft.operators.Sketch.HllLcBound
        s"""WITH lnt AS (SELECT $LnTabSql AS l), tk AS (
           |  SELECT DISTINCT o_orderpriority AS g,
           |    CAST(o_custkey AS VARCHAR) AS t FROM orders
           |), hto AS (SELECT g AS id, t AS tok FROM tk),${OracleSql.xxh64Ctes("hto")},
           |hgregs AS (
           |  SELECT id AS g, CAST(th % $m AS BIGINT) AS bucket,
           |    CAST(MAX(CASE WHEN (th // $m) % 4294967296 = 0 THEN $k
           |             ELSE $k - LENGTH(bin(CAST((th // $m) % 4294967296 AS BIGINT))) END)
           |      AS BIGINT) AS register
           |  FROM xh GROUP BY 1, 2
           |), hgsum AS (
           |  SELECT g, CAST(COUNT(*) AS BIGINT) AS n_present,
           |    CAST($m - COUNT(*) AS BIGINT) AS n_zero,
           |    CAST(COALESCE(SUM(CAST(1 AS BIGINT) << CAST($k - register AS INT)), 0)
           |       + ($m - COUNT(*)) * (CAST(1 AS BIGINT) << $k) AS BIGINT) AS s_sum
           |  FROM hgregs GROUP BY g
           |), hgraw AS (
           |  SELECT *, CAST($an // s_sum AS BIGINT) AS est_raw,
           |    CASE WHEN $an // s_sum <= $lc AND n_zero > 0
           |         THEN 'linear' ELSE 'raw' END AS method
           |  FROM hgsum
           |), hgest AS (
           |  SELECT g, n_present, n_zero, s_sum, est_raw, method,
           |    CAST(CASE WHEN method = 'linear'
           |      THEN CAST(FLOOR(${m.toDouble}e0 * (l[$m] - l[CAST(n_zero AS INT)])) AS BIGINT)
           |      ELSE est_raw END AS BIGINT) AS est
           |  FROM hgraw, lnt
           |), ex AS (
           |  SELECT o_orderpriority AS g,
           |    CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_exact
           |  FROM orders GROUP BY 1
           |)
           |SELECT e.g AS "group", e.n_present, e.n_zero, e.s_sum, e.est_raw,
           |  e.method, e.est, ex.n_exact,
           |  CAST(ABS(e.est - ex.n_exact) * 1000 // ex.n_exact AS BIGINT) AS err_pm
           |FROM hgest e JOIN ex ON ex.g = e.g""".stripMargin
      }
    ),

    // GROUPED HLL AT PRODUCTION WIDTH — m = 4096 per group, SPARSELY:
    // the register frame carries only the (group, bucket) cells a key
    // actually hit, so widening the sketch costs rows proportional to
    // the DATA (≤ distinct keys per group), never |groups|·4096 dense
    // cells — a million-group frame at m=64-data-density stays a
    // million-row-scale frame however wide the precision. Each
    // group's absent cells enter the harmonic sum arithmetically as
    // m − n_present zero registers (the solo wide path's contract,
    // vectorized by group). Width constants splice from the SAME
    // Scala functions into both engines; err_pm asserts the
    // production band (≤50‰) per group. One scan, one partial-agg
    // shuffle, |groups| rows out.
    Q(
      "q_hll_groups_wide",
      (spark, dir) => {
        val bits = graft.operators.Sketch.HllWideBits
        val keyed = Q.t(spark, dir, "orders")
          .select(col("o_orderpriority"),
            col("o_custkey").cast("string").as("k"))
        val est = graft.operators.Sketch.hllEstimateByP(
          graft.operators.Sketch.hllRegistersByP(
            keyed, "k", "o_orderpriority", bits), bits)
        val exact = Q.t(spark, dir, "orders")
          .groupBy(col("o_orderpriority").as("group"))
          .agg(countDistinct(col("o_custkey")).as("n_exact"))
        est.join(exact, "group")
          .withColumn("err_pm", expr("abs(est - n_exact) * 1000L div n_exact"))
          .withColumn("within_band", col("err_pm") <= 50L)
      },
      Some {
        val bits = graft.operators.Sketch.HllWideBits
        val m = 1L << bits
        val k = graft.operators.Sketch.HllFieldBits + 1
        val an = graft.operators.Sketch.hllAlphaNumFor(bits)
        val lc = graft.operators.Sketch.hllLcBoundFor(bits)
        s"""WITH lnt AS (SELECT $LnTabSql AS l), tk AS (
           |  SELECT DISTINCT o_orderpriority AS g,
           |    CAST(o_custkey AS VARCHAR) AS t FROM orders
           |), hto AS (SELECT g AS id, t AS tok FROM tk),${OracleSql.xxh64Ctes("hto")},
           |hgregs AS (
           |  SELECT id AS g, CAST(th % $m AS BIGINT) AS bucket,
           |    CAST(MAX(CASE WHEN (th // $m) % 4294967296 = 0 THEN $k
           |             ELSE $k - LENGTH(bin(CAST((th // $m) % 4294967296 AS BIGINT))) END)
           |      AS BIGINT) AS register
           |  FROM xh GROUP BY 1, 2
           |), hgsum AS (
           |  SELECT g, CAST(COUNT(*) AS BIGINT) AS n_present,
           |    CAST($m - COUNT(*) AS BIGINT) AS n_zero,
           |    CAST(COALESCE(SUM(CAST(1 AS BIGINT) << CAST($k - register AS INT)), 0)
           |       + ($m - COUNT(*)) * (CAST(1 AS BIGINT) << $k) AS BIGINT) AS s_sum
           |  FROM hgregs GROUP BY g
           |), hgraw AS (
           |  SELECT *, CAST($an // s_sum AS BIGINT) AS est_raw,
           |    CASE WHEN $an // s_sum <= $lc AND n_zero > 0
           |         THEN 'linear' ELSE 'raw' END AS method
           |  FROM hgsum
           |), hgest AS (
           |  SELECT g, n_present, n_zero, s_sum, est_raw, method,
           |    CAST(CASE WHEN method = 'linear'
           |      THEN CAST(FLOOR(${m.toDouble}e0 * (l[$m] - l[CAST(n_zero AS INT)])) AS BIGINT)
           |      ELSE est_raw END AS BIGINT) AS est
           |  FROM hgraw, lnt
           |), ex AS (
           |  SELECT o_orderpriority AS g,
           |    CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_exact
           |  FROM orders GROUP BY 1
           |)
           |SELECT e.g AS "group", e.n_present, e.n_zero, e.s_sum, e.est_raw,
           |  e.method, e.est, ex.n_exact,
           |  CAST(ABS(e.est - ex.n_exact) * 1000 // ex.n_exact AS BIGINT) AS err_pm,
           |  ABS(e.est - ex.n_exact) * 1000 // ex.n_exact <= 50 AS within_band
           |FROM hgest e JOIN ex ON ex.g = e.g""".stripMargin
      }
    ),

    // Domain-authority ranking over the link graph — the Common-Crawl
    // provenance signal: INTEGER-exact PageRank in micro-units (ranks
    // start at 10^6; per-edge share = (rank·850000) div (out·10^6),
    // teleport 150000 — every step floor-divided integer math, so two
    // unrolled iterations are bit-exact in both engines, the same
    // discipline as the t-closeness/DSIR decision tables applied to
    // an ITERATIVE GRAPH computation). The corpus-sized edge list
    // (closed-form: each doc links its own domain to a shifted-id
    // domain) collapses to the weighted adjacency in ONE shuffle;
    // both iterations then run on the |domains|²-bounded frame.
    Q(
      "q_pagerank_domains",
      (spark, dir) => {
        Graph.pageRankInt(graphEdges(Q.t(spark, dir, "documents")),
          "src", "dst", iters = 2)
      },
      Some(
        s"""WITH $DomainRankCtes
           |SELECT node, CAST(rank AS BIGINT) AS rank_micro FROM r2""".stripMargin
      )
    ),

    // HITS hubs & authorities over the same domain graph — the
    // two-sided signal PageRank's single score can't separate (a link
    // directory is a great hub and a terrible authority; a cited
    // reference the reverse). INTEGER-exact in micro-units: each round
    // computes auth = Σ_in w·hub, max-renormalizes to [0, 10^6] (exact
    // integer arithmetic — L2 would force floats), then hub = Σ_out
    // w·auth over the NEW authorities (the classic update order). Two
    // unrolled rounds are bit-exact in both engines; the corpus
    // collapses to the weighted adjacency in ONE shuffle and every
    // iteration runs on the |domains|²-bounded frame with per-round
    // lineage cuts.
    Q(
      "q_hits_domains",
      (spark, dir) => {
        Graph.hitsInt(
          Graph.collapseEdges(graphEdges(Q.t(spark, dir, "documents")), "src", "dst"),
          iters = 2)
      },
      Some(
        s"""WITH ${domainGraphCtes(GraphEdgesSql, "")},
           |h0 AS (SELECT node, CAST(1000000 AS BIGINT) AS h FROM nodes),
           |${hitsStepSql(1, "h0")},
           |${hitsStepSql(2, "h1")}
           |SELECT a2.node, a2.a AS auth_micro, h2.h AS hub_micro
           |FROM a2 JOIN h2 ON h2.node = a2.node""".stripMargin
      )
    ),

    // PageRank run TO CONVERGENCE — real rank jobs iterate 10-50
    // rounds, exactly the regime where the naive loop's unbounded
    // lineage kills analysis and recompute cost. pageRankConverged
    // pins each round's |domains|-bounded rank frame and drops its
    // predecessor (the mergedDict discipline), stopping on an
    // INTEGER criterion: floor-divided integer shares reach an exact
    // fixed point, so tol=0 terminates deterministically (11-13 rounds
    // on this graph; maxIters=32 is the oscillation backstop). The
    // oracle runs the SAME loop as a recursive CTE — contributions and
    // each node's previous rank ride one self-reference via a
    // self-marker row in adjx (recursive CTEs allow exactly one) —
    // and stops at the same fixed point, pinning ranks AND the
    // iteration count bit-exactly.
    Q(
      "q_pagerank_converged",
      (spark, dir) => {
        val res = Graph.pageRankConverged(
          Graph.collapseEdges(graphEdges(Q.t(spark, dir, "documents")), "src", "dst"),
          maxIters = 32, tolMicro = 0L)
        res.ranks.select(col("node"), col("rank_micro"),
          lit(res.itersRun.toLong).as("iters_run"))
      },
      Some(
        s"""WITH RECURSIVE ${domainGraphCtes(GraphEdgesSql, "")},
           |adjx AS (
           |  SELECT src, dst, w FROM adj
           |  UNION ALL
           |  SELECT node, node, NULL FROM nodes
           |), it AS (
           |  SELECT 0 AS k, node, CAST(1000000 AS BIGINT) AS rank, 1 AS moving
           |  FROM nodes
           |  UNION ALL
           |  SELECT * FROM (
           |    SELECT k, node, rank,
           |      CASE WHEN MAX(ABS(rank - prev)) OVER () > 0 AND k < 32
           |           THEN 1 ELSE 0 END AS moving
           |    FROM (
           |      SELECT MAX(p.k) + 1 AS k, x.dst AS node,
           |        150000 + COALESCE(SUM(CASE WHEN x.w IS NOT NULL
           |          THEN x.w * ((p.rank * 850000) // (d.outw * 1000000)) END), 0) AS rank,
           |        MAX(CASE WHEN x.w IS NULL THEN p.rank END) AS prev,
           |        MAX(p.moving) AS moving
           |      FROM it p JOIN adjx x ON x.src = p.node
           |      LEFT JOIN deg d ON d.src = p.node
           |      GROUP BY x.dst
           |    ) g WHERE g.moving = 1
           |  ) z
           |)
           |SELECT node, CAST(rank AS BIGINT) AS rank_micro,
           |  CAST(k AS BIGINT) AS iters_run
           |FROM it WHERE k = (SELECT MAX(k) FROM it)""".stripMargin
      )
    ),

    // HITS run TO CONVERGENCE — the two-score twin of
    // q_pagerank_converged, closing the graph family's last open loop:
    // iterate auth/hub rounds until the largest per-node HUB change is
    // within 2.5% of the scale (hub delta alone decides — auth is a
    // pure function of the previous hubs, so a settled hub settles
    // the pair). Unlike PageRank's floor-divided shares, which hit an
    // exact integer fixed point in ~12 rounds, HITS on this
    // near-regular graph converges GEOMETRICALLY with a small
    // eigengap — measured ~6%/round decay, delta still 1348 micro at
    // round 64 — so exact-zero stopping never fires and the
    // production rule is a tolerance sized to the score's consumer
    // (frontier PRIORITIZATION needs ordering stability, not micro
    // exactness; 2.5% stops at round 16 here). 64 rounds caps
    // adversarial dynamics. Each round pins its
    // |domains|-bounded frame and drops its predecessor; the delta is
    // ONE bounded aggregation per round. The oracle runs the SAME loop
    // as a recursive CTE — ONE reference to the iteration state (the
    // auth step), with per-node carries (previous hub, the round's
    // auth) smuggled through self-marker rows in adjx across BOTH
    // aggregation hops — and stops at the same fixed point, pinning
    // scores AND the iteration count bit-exactly.
    Q(
      "q_hits_converged",
      (spark, dir) => {
        val res = Graph.hitsConverged(
          Graph.collapseEdges(graphEdges(Q.t(spark, dir, "documents")), "src", "dst"),
          maxIters = 64, tolMicro = 25000L)
        res.scores.select(col("node"), col("auth_micro"),
          col("hub_micro"), lit(res.itersRun.toLong).as("iters_run"))
      },
      Some(
        s"""WITH RECURSIVE ${domainGraphCtes(GraphEdgesSql, "")},
           |adjx AS (
           |  SELECT src, dst, w FROM adj
           |  UNION ALL
           |  SELECT node, node, NULL FROM nodes
           |), it AS (
           |  SELECT 0 AS k, node, CAST(1000000 AS BIGINT) AS a,
           |    CAST(1000000 AS BIGINT) AS h, 1 AS moving
           |  FROM nodes
           |  UNION ALL
           |  SELECT * FROM (
           |    SELECT k, node, a, h,
           |      CASE WHEN MAX(ABS(h - ph)) OVER () > 25000 AND k < 64
           |           THEN 1 ELSE 0 END AS moving
           |    FROM (
           |      SELECT h2.k, h2.node, h2.a,
           |        CAST(CASE WHEN MAX(h2.h_raw) OVER () > 0
           |          THEN h2.h_raw * 1000000 // MAX(h2.h_raw) OVER ()
           |          ELSE 0 END AS BIGINT) AS h,
           |        h2.ph, h2.moving
           |      FROM (
           |        SELECT MAX(ga.k) AS k, x.src AS node,
           |          COALESCE(SUM(CASE WHEN x.w IS NOT NULL
           |            THEN x.w * ga.a END), 0) AS h_raw,
           |          MAX(CASE WHEN x.w IS NULL THEN ga.a END) AS a,
           |          MAX(CASE WHEN x.w IS NULL THEN ga.ph END) AS ph,
           |          MAX(ga.moving) AS moving
           |        FROM (
           |          SELECT g.k, g.node,
           |            CAST(CASE WHEN MAX(g.a_raw) OVER () > 0
           |              THEN g.a_raw * 1000000 // MAX(g.a_raw) OVER ()
           |              ELSE 0 END AS BIGINT) AS a,
           |            g.ph, g.moving
           |          FROM (
           |            SELECT MAX(p.k) + 1 AS k, x.dst AS node,
           |              COALESCE(SUM(CASE WHEN x.w IS NOT NULL
           |                THEN x.w * p.h END), 0) AS a_raw,
           |              MAX(CASE WHEN x.w IS NULL THEN p.h END) AS ph,
           |              MAX(p.moving) AS moving
           |            FROM it p JOIN adjx x ON x.src = p.node
           |            GROUP BY x.dst
           |          ) g
           |        ) ga JOIN adjx x ON x.dst = ga.node
           |        GROUP BY x.src
           |      ) h2
           |      WHERE h2.moving = 1
           |    ) z
           |  ) zz
           |)
           |SELECT node, a AS auth_micro, h AS hub_micro,
           |  CAST(k AS BIGINT) AS iters_run
           |FROM it WHERE k = (SELECT MAX(k) FROM it)""".stripMargin
      )
    ),

    // INCREMENTAL PageRank maintenance — the graph layer's closed
    // drift loop, mirroring IVF/PQ/DSIR/CMS: the indexed history's
    // adjacency is a MERGEABLE summary (edge counts are additive), so
    // a new ingest batch collapses alone and merges cell-wise —
    // history is never rescanned. The batch links DIFFERENTLY (shifted
    // dst formula — a planted structural change); fresh ranks over the
    // merged adjacency are compared against the STALE ranks the old
    // half alone produces, and the integer per-mille trigger
    // (Σ|Δrank|·1000 div Σstale ≥ 8) decides the refresh. The oracle
    // recomputes the merged side from the CONCATENATED edge list, so a
    // hash match pins merge == rebuild bit-exactly.
    Q(
      "q_pagerank_drift",
      (spark, dir) => {
        val docs = Q.t(spark, dir, "documents")
        // the base half collapses ONCE (pinned) — both the merged
        // re-rank and the stale rank consume the same materialization;
        // a lazy frame would re-scan + re-shuffle the history exactly
        // in the gate whose point is "history is never rescanned"
        val adjBase = Guard.pin(Graph.collapseEdges(
          graphEdges(docs.filter(col("doc_id") % 2 === 0)), "src", "dst"))
        val adjDelta = Graph.collapseEdges(
          graphEdgesShifted(docs.filter(col("doc_id") % 2 =!= 0)), "src", "dst")
        // materialize the shared base half BEFORE forking so neither
        // loop races the other into computing it
        adjBase.count()
        // the fresh and stale rank loops are INDEPENDENT driver-action
        // sequences over disjoint pinned frames — overlap them so each
        // round's tasks back-fill the other loop's straggler tails
        // (guide §2.6, the q_pq_drift discipline); both loops are
        // deterministic integer fixed-point iterations, so the ranks
        // are bit-identical to the sequential order
        val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
        val (fresh, stale) =
          try {
            val fF = pool.submit(new java.util.concurrent.Callable[org.apache.spark.sql.DataFrame] {
              def call() = Graph.pageRankFromAdj(Graph.mergeAdj(adjBase, adjDelta), iters = 2)
            })
            val fS = pool.submit(new java.util.concurrent.Callable[org.apache.spark.sql.DataFrame] {
              def call() = Graph.pageRankFromAdj(adjBase, iters = 2)
            })
            (fF.get(), fS.get())
          } finally pool.shutdown()
        // both rank frames are filled: the shared base half is done
        Guard.unpin(adjBase)
        val wAll = org.apache.spark.sql.expressions.Window
          .partitionBy().rowsBetween(Long.MinValue, Long.MaxValue)
        fresh
          .join(stale.select(col("node"), col("rank_micro").as("stale_micro")),
            Seq("node"), "left")
          // a node the stale model never saw carries the initial prior
          .withColumn("stale_micro", coalesce(col("stale_micro"), lit(1000000L)))
          .withColumn("__sa",
            sum(abs(col("rank_micro") - col("stale_micro"))).over(wAll))
          .withColumn("__ss", sum(col("stale_micro")).over(wAll))
          .withColumn("drift_pm", expr("(__sa * 1000L) div __ss"))
          .withColumn("refresh", col("drift_pm") >= 8L)
          .select(col("node"), col("rank_micro"), col("stale_micro"),
            col("drift_pm"), col("refresh"))
      },
      Some {
        val baseEdges =
          s"""SELECT
             |    ${domainSql("doc_id")} AS src,
             |    ${domainSql("doc_id + 2", "doc_id + 1")} AS dst
             |  FROM documents WHERE doc_id % 2 = 0""".stripMargin
        val fullEdges =
          s"""$baseEdges
             |  UNION ALL
             |  SELECT
             |    ${domainSql("doc_id")} AS src,
             |    ${domainSql("doc_id + 3", "doc_id + 2")} AS dst
             |  FROM documents WHERE doc_id % 2 = 1""".stripMargin
        s"""WITH ${domainGraphCtes(baseEdges, "s")},
           |${domainRankStepsSql("s")},
           |${domainGraphCtes(fullEdges, "f")},
           |${domainRankStepsSql("f")},
           |j AS (
           |  SELECT f.node, CAST(f.rank AS BIGINT) AS rank_micro,
           |    CAST(COALESCE(s.rank, 1000000) AS BIGINT) AS stale_micro
           |  FROM fr2 f LEFT JOIN sr2 s ON s.node = f.node
           |)
           |SELECT node, rank_micro, stale_micro,
           |  CAST((SUM(ABS(rank_micro - stale_micro)) OVER () * 1000)
           |       // (SUM(stale_micro) OVER ()) AS BIGINT) AS drift_pm,
           |  (SUM(ABS(rank_micro - stale_micro)) OVER () * 1000)
           |    // (SUM(stale_micro) OVER ()) >= 8 AS refresh
           |FROM j""".stripMargin
      }
    ),

    // Authority-weighted selection — the graph signal CLOSED into a
    // sampling decision: PageRank micro-ranks apportion a 100-doc
    // budget across domains by exact integer largest-remainder
    // (floor shares + the remainder to the largest fractional parts,
    // domain tie-break — sums to the budget exactly), and
    // Sampling.quotaSample executes the quota with the unbiased
    // id-hash order. The apportionment is DISTRIBUTED
    // (Sampling.largestRemainder: remainder rank + residual bump as
    // two window functions over the |domains|-sized rank frame — zero
    // corpus-side collect, so the quota step scales past
    // driver-memory domain counts); the corpus pays quotaSample's one
    // domain-keyed window. The oracle recomputes rank → apportionment
    // → selection end to end.
    Q(
      "q_authority_sample",
      (spark, dir) => {
        val docs = Q.t(spark, dir, "documents")
        val ranks = Graph.pageRankInt(graphEdges(docs), "src", "dst", iters = 2)
        val quotaDf = Sampling.largestRemainder(
          ranks.withColumnRenamed("node", "domain"), "domain", "rank_micro", 100L)
        // the two-window apportionment shape, typed-asserted
        Q.requireWindow(quotaDf)
        Sampling.quotaSample(
          docs.select(col("doc_id"), graphDomainOf(col("doc_id")).as("domain")),
          "domain", "doc_id", quotaDf)
      },
      Some {
        val pm = s"(doc_id % ${Sampling.P} + ${Sampling.P}) % ${Sampling.P}"
        s"""WITH $DomainRankCtes, tot AS (
           |  SELECT SUM(rank) AS t FROM r2
           |), al AS (
           |  SELECT node AS domain, (100 * rank) // t AS a, (100 * rank) % t AS m
           |  FROM r2, tot
           |), alq AS (
           |  SELECT domain, a + CASE WHEN
           |    ROW_NUMBER() OVER (ORDER BY m DESC, domain ASC) <=
           |      (SELECT 100 - SUM(a) FROM al)
           |    THEN 1 ELSE 0 END AS alloc
           |  FROM al
           |), tagged AS (
           |  SELECT doc_id, ${domainSql("doc_id")} AS domain
           |  FROM documents
           |), rn AS (
           |  SELECT doc_id, domain, alloc,
           |    ROW_NUMBER() OVER (PARTITION BY domain
           |      ORDER BY ($pm * 2246822519 + 604171) % ${Sampling.P} ASC,
           |               doc_id ASC) AS r
           |  FROM tagged JOIN alq USING (domain)
           |)
           |SELECT domain, doc_id FROM rn WHERE r <= alloc""".stripMargin
      }
    ),

    // PROPORTIONAL STRATIFIED SPLIT — the bread-and-butter eval-set
    // carve every pipeline runs: a 10% budget apportioned across
    // languages by exact integer largest remainder (allocations sum to
    // the budget and track each stratum's share to within one
    // document — floor shares + remainder bumps, the SAME distributed
    // two-window apportionment q_authority_sample exercises with rank
    // weights, here with stratum counts), executed per-stratum by
    // quotaSample's unbiased id-hash order so the held-out set is
    // deterministic and uncorrelated with crawl position. Corpus cost:
    // one groupBy for the counts + the one lang-keyed selection
    // window; the |langs|-row quota rides a broadcast.
    Q(
      "q_stratified_split",
      (spark, dir) => {
        val docs = Q.t(spark, dir, "documents")
        val budget = docs.count() / 10L // one bounded scalar action
        val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("n"))
        val quota = Sampling.largestRemainder(counts, "lang", "n", budget)
        Sampling.quotaSample(
          docs.select(col("doc_id"), col("lang")), "lang", "doc_id", quota)
          .select(col("doc_id"), col("lang"))
      },
      Some {
        val pm = s"(doc_id % ${Sampling.P} + ${Sampling.P}) % ${Sampling.P}"
        s"""WITH cnt AS (
           |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n FROM documents GROUP BY lang
           |), tot AS (
           |  SELECT CAST(SUM(n) AS BIGINT) AS t,
           |    CAST(SUM(n) // 10 AS BIGINT) AS b
           |  FROM cnt
           |), al AS (
           |  SELECT lang, (b * n) // t AS a, (b * n) % t AS m
           |  FROM cnt, tot
           |), alq AS (
           |  SELECT lang, a + CASE WHEN
           |    ROW_NUMBER() OVER (ORDER BY m DESC, lang ASC) <=
           |      (SELECT MAX(b) FROM tot) - (SELECT SUM(a) FROM al)
           |    THEN 1 ELSE 0 END AS alloc
           |  FROM al
           |), r AS (
           |  SELECT doc_id, lang, ROW_NUMBER() OVER (
           |    PARTITION BY lang
           |    ORDER BY ($pm * 2246822519 + 604171) % ${Sampling.P} ASC, doc_id ASC) AS rn
           |  FROM documents)
           |SELECT doc_id, lang FROM r JOIN alq USING (lang) WHERE rn <= alloc""".stripMargin
      }
    ),

    // Connected components over the domain link graph — the second
    // canonical graph operator (after rank): link-farm / site-group
    // detection. The corpus filter keeps 8 of the 15 closed-form edge
    // types, which splits the domain universe into SEVEN components
    // (one of size 3), so the propagation genuinely merges labels
    // across rounds rather than collapsing to one blob. Undirected
    // min-label propagation to the fixed point on the
    // |domains|²-bounded symmetrized edge set; the oracle runs the
    // SAME propagation as a recursive CTE (neighbors' labels and each
    // node's own label ride one self-reference via the marker-row
    // trick) until no label moves.
    Q(
      "q_domain_components",
      (spark, dir) => {
        val docs = Q.t(spark, dir, "documents").filter(col("doc_id") % 15 < 8)
        Graph.connectedComponents(
          Graph.collapseEdges(graphEdges(docs), "src", "dst"))
      },
      Some {
        val edgesSql =
          s"""SELECT
             |    ${domainSql("doc_id")} AS src,
             |    ${domainSql("doc_id + 2", "doc_id + 1")} AS dst
             |  FROM documents WHERE doc_id % 15 < 8""".stripMargin
        s"""WITH RECURSIVE ${domainGraphCtes(edgesSql, "")},
           |und AS (
           |  SELECT DISTINCT u, v FROM (
           |    SELECT src AS u, dst AS v FROM adj
           |    UNION ALL
           |    SELECT dst, src FROM adj)
           |), undx AS (
           |  SELECT u, v, 1 AS isedge FROM und
           |  UNION ALL
           |  SELECT node, node, 0 FROM nodes
           |), cc AS (
           |  SELECT 0 AS k, node, node AS component, 1 AS moving FROM nodes
           |  UNION ALL
           |  SELECT * FROM (
           |    SELECT k, node, component,
           |      CASE WHEN MAX(CASE WHEN component < old THEN 1 ELSE 0 END)
           |             OVER () = 1
           |           THEN 1 ELSE 0 END AS moving
           |    FROM (
           |      SELECT MAX(p.k) + 1 AS k, x.u AS node,
           |        MIN(p.component) AS component,
           |        MAX(CASE WHEN x.isedge = 0 THEN p.component END) AS old,
           |        MAX(p.moving) AS moving
           |      FROM cc p JOIN undx x ON x.v = p.node
           |      GROUP BY x.u
           |    ) g WHERE g.moving = 1
           |  ) z
           |)
           |SELECT node, component FROM cc
           |WHERE k = (SELECT MAX(k) FROM cc)""".stripMargin
      }
    ),

    // The WEB-INGEST flagship: the step-zero chain a web corpus runs
    // before any of the deeper curation — raw HTML → text extraction
    // (the q_html_strip shell), URL-provenance screen (q_url_domains'
    // registrable-domain blocklist), a token-count quality floor, and
    // exact dedup keeping the min-id representative (duplicates are
    // PLANTED: every doc_id % 10 = 3 document re-enters with id +
    // 1.5e9 — a multiple of 15, so the copy derives the SAME domain
    // as its original and every copy provably leaves the output:
    // blocked with its original, or deduped against the original's
    // smaller id). Every stage reuses the standalone gates'
    // formulas and the oracle composes them verbatim. One digest-
    // keyed window is the only corpus shuffle; the strip/URL/quality
    // stages are map-only.
    Q(
      "q_web_pipeline",
      (spark, dir) => {
        val docs = Q.t(spark, dir, "documents").select(col("doc_id"), col("text"))
        val base = docs.unionByName(
          docs.filter(col("doc_id") % 10 === 3)
            .select((col("doc_id") + 1500000000L).as("doc_id"), col("text")))
        val html = concat(
          lit("<html><head><style>p{color:red}</style>" +
            "<script type=\"text/js\">var x = 1 < 2;</script></head>"),
          lit("<body><!-- note --><h1 class=\"t\">T</h1><p>"),
          col("text"),
          lit("</p><p>&amp;lt; &lt;tag&gt; &quot;q&quot; &#39;s&#39;&nbsp;end</p>" +
            "</body></html>"))
        val screened = base
          .select(col("doc_id"), TextAnalysis.stripHtml(html).as("clean_text"),
            graphDomainOf(col("doc_id")).as("domain"))
          .filter(!col("domain").isin("beta.co.uk", "delta.com", "epsilon.org"))
          .withColumn("n_tokens", TextAnalysis.tokenCount(col("clean_text")).cast("long"))
          .filter(col("n_tokens") >= 40L)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(sha2(col("clean_text"), 256))
        val out = screened
          .withColumn("keeper", min(col("doc_id")).over(w))
          .filter(col("doc_id") === col("keeper"))
          .select(col("doc_id"), col("domain"), col("n_tokens"))
        // the whole ingest chain moves the corpus across the wire
        // exactly ONCE (the dedup window's digest exchange); strip,
        // domain screen and quality floor are all map-side
        Q.requireMaxShuffles(out, 1)
        out
      },
      Some(
        s"""WITH base AS (
           |  SELECT doc_id, text FROM documents
           |  UNION ALL
           |  SELECT doc_id + 1500000000, text FROM documents WHERE doc_id % 10 = 3
           |), cl AS (
           |  SELECT doc_id,
           |    TRIM(regexp_replace('T ' || text || ' &lt; <tag> "q" ''s'' end',
           |                        '\\s+', ' ', 'g')) AS clean_text,
           |    ${domainSql("doc_id")} AS domain
           |  FROM base
           |), scr AS (
           |  SELECT doc_id, clean_text, domain,
           |    CAST(len(regexp_split_to_array(clean_text, '\\s+')) AS BIGINT) AS n_tokens
           |  FROM cl
           |  WHERE domain NOT IN ('beta.co.uk', 'delta.com', 'epsilon.org')
           |    AND len(regexp_split_to_array(clean_text, '\\s+')) >= 40
           |), ded AS (
           |  SELECT doc_id, domain, n_tokens,
           |    MIN(doc_id) OVER (PARTITION BY clean_text) AS keeper
           |  FROM scr
           |)
           |SELECT doc_id, domain, n_tokens FROM ded WHERE doc_id = keeper""".stripMargin
      )
    ),

    // WARC CONTAINER walk (ISO 28500) — the layer ABOVE the gzip
    // member in a real web-archive ingest: each blob is a
    // concatenation of `WARC/1.0` records (CRLF header block + exact
    // Content-Length payload + separator), exploded into typed
    // per-record rows. Byte-exact framing (payload extents from
    // Content-Length, never delimiter scanning) and the intact-prefix
    // degrade contract: every 5th blob is truncated mid-record-2, and
    // exactly record 0 must surface — a torn crawl file yields its
    // parseable prefix, not a task failure. All fields closed-form in
    // (id, record index), so the oracle re-derives headers AND bodies
    // without touching the byte layout. Map-only, REQUIREd
    // shuffle-free.
    Q(
      "q_warc_records",
      (spark, dir) => {
        val warc = (k: Long) => graft.operators.Warc.syntheticWarc(
          k, 3, if (k % 5 == 0) 1 else Int.MaxValue)
        val out = graft.operators.Warc.records(
          Q.fixture(Q.nationKeys(spark, dir, "media_id"), "media_id", "payload")(warc),
          "media_id", "payload")
        Q.requireNoShuffle(out)
        out
      },
      Some(
        """WITH recs AS (
          |  SELECT CAST(n_nationkey AS BIGINT) AS media_id, i AS rec_idx
          |  FROM nation, UNNEST(generate_series(0, 2)) AS u(i)
          |  WHERE n_nationkey % 5 <> 0 OR i < 1
          |)
          |SELECT media_id, CAST(rec_idx AS INT) AS rec_idx,
          |  CASE WHEN rec_idx % 2 = 0 THEN 'response' ELSE 'request' END AS warc_type,
          |  'http://site' || CAST((media_id + rec_idx) % 5 AS VARCHAR) ||
          |    '.example/p' || CAST(rec_idx AS VARCHAR) AS target_uri,
          |  CAST(LENGTH('payload ' || CAST(media_id * 7 + rec_idx AS VARCHAR) ||
          |              ' content words') AS BIGINT) AS content_length,
          |  'payload ' || CAST(media_id * 7 + rec_idx AS VARCHAR) ||
          |    ' content words' AS body,
          |  CAST(NULL AS VARCHAR) AS payload_digest,
          |  CAST(NULL AS VARCHAR) AS refers_to_uri
          |FROM recs""".stripMargin
      )
    ),

    // The REAL .warc.gz layout: a crawl file is CONCATENATED gzip
    // members (conventionally one per record — boundaries need not
    // align with anything), and the JDK inflater reads them as one
    // stream, so graft_gunzip → container walk composes directly. The
    // gate splits each closed-form container's bytes into three
    // arbitrary-boundary gzip members; decode must reproduce the
    // container byte-exactly before the record walk can parse it —
    // same oracle discipline as q_warc_records (no truncation variant
    // here; that contract is pinned there and in the specs). Map-only.
    Q(
      "q_warcgz_records",
      (spark, dir) => {
        val warcgz = (k: Long) => {
          val full = graft.operators.Warc.syntheticWarc(k, 3)
          val cut1 = full.length / 3; val cut2 = 2 * full.length / 3
          def member(a: Int, b: Int): Array[Byte] =
            graft.operators.Multimodal.syntheticGzipText(
              new String(java.util.Arrays.copyOfRange(full, a, b), "UTF-8"))
          member(0, cut1) ++ member(cut1, cut2) ++ member(cut2, full.length)
        }
        val out = graft.operators.Warc.records(
          Q.fixture(Q.nationKeys(spark, dir, "media_id"), "media_id", "payload")(warcgz)
            .select(col("media_id"),
              org.apache.spark.sql.functions.encode(
                graft.functions.GraftFunctions.gunzip(col("payload")), "UTF-8")
                .as("payload")),
          "media_id", "payload")
        Q.requireNoShuffle(out)
        out
      },
      Some(
        """WITH recs AS (
          |  SELECT CAST(n_nationkey AS BIGINT) AS media_id, i AS rec_idx
          |  FROM nation, UNNEST(generate_series(0, 2)) AS u(i)
          |)
          |SELECT media_id, CAST(rec_idx AS INT) AS rec_idx,
          |  CASE WHEN rec_idx % 2 = 0 THEN 'response' ELSE 'request' END AS warc_type,
          |  'http://site' || CAST((media_id + rec_idx) % 5 AS VARCHAR) ||
          |    '.example/p' || CAST(rec_idx AS VARCHAR) AS target_uri,
          |  CAST(LENGTH('payload ' || CAST(media_id * 7 + rec_idx AS VARCHAR) ||
          |              ' content words') AS BIGINT) AS content_length,
          |  'payload ' || CAST(media_id * 7 + rec_idx AS VARCHAR) ||
          |    ' content words' AS body,
          |  CAST(NULL AS VARCHAR) AS payload_digest,
          |  CAST(NULL AS VARCHAR) AS refers_to_uri
          |FROM recs""".stripMargin
      )
    ),

    // The HTTP layer INSIDE the WARC response record — real crawls
    // store the full HTTP message as the record body, so between the
    // container walk and the HTML strip sits this parse: status line,
    // Content-Type media type + charset parameter, and the payload
    // after the header block. The fetch-status/content-type screen
    // (200 + text/html only) is the first drop decision of every web
    // corpus. All fields closed-form in (key, i): the oracle derives
    // status (404 arm), media type (image/png arm, which also loses
    // its charset), payload and the keep decision from the fixture
    // formula alone. Map-only end to end, REQUIREd shuffle-free.
    Q(
      "q_warc_http",
      (spark, dir) => {
        val warc = (k: Long) => graft.operators.Warc.syntheticWarcHttp(k, 6)
        val out = graft.operators.Warc.httpResponses(
          graft.operators.Warc.records(
            Q.fixture(Q.nationKeys(spark, dir, "media_id"), "media_id", "payload")(warc),
            "media_id", "payload"))
          .withColumn("keep",
            col("status") === 200 && col("content_type") === "text/html")
        Q.requireNoShuffle(out)
        out
      },
      Some(WarcHttpOracleSql)
    ),

    // The .warc.gz INGEST — the layout Common Crawl actually ships:
    // ONE gzip member PER RECORD, which a whole-file gunzip silently
    // flattens into boundary-less text. recordsGz splits each blob
    // into its members (raw-Inflater loop — RFC 1952 has no length
    // field, so the member extent is only knowable BY inflating —
    // with CRC32 + ISIZE verified per member and a bomb cap), parses
    // each member as WARC, and re-indexes rec_idx across members so
    // order semantics match the uncompressed path. The fixture gzips
    // the IDENTICAL logical records as q_warc_http — so this gate
    // shares that gate's oracle VERBATIM: compression must be
    // invisible to the HTTP layer. Map-only.
    Q(
      "q_warc_gz",
      (spark, dir) => {
        val warc = (k: Long) => graft.operators.Warc.syntheticWarcGz(k, 6)
        val out = graft.operators.Warc.httpResponses(
          graft.operators.Warc.recordsGz(
            Q.fixture(Q.nationKeys(spark, dir, "media_id"), "media_id", "payload")(warc),
            "media_id", "payload"))
          .withColumn("keep",
            col("status") === 200 && col("content_type") === "text/html")
        Q.requireNoShuffle(out)
        out
      },
      Some(WarcHttpOracleSql)
    ),

    // The `.warc.zst` INGEST — the archive format crawl corpora are
    // moving to, decoded by the PURE-JVM RFC 8878 decoder (raw/RLE/
    // compressed blocks, Huffman literals, FSE sequences, XXH64
    // checksums — certified against real-zstd golden bytes in
    // ZstdDecodeSpec): each blob splits into its frames (skippable
    // frames skipped, corrupt frames dropping the completed-prefix
    // way), each frame parses as WARC, rec_idx re-indexes across
    // frames. The fixture wraps the IDENTICAL logical records as
    // q_warc_http one-frame-per-record (shapes rotating: checksummed /
    // multi-block / skippable-prefixed) — so this gate shares that
    // gate's oracle VERBATIM: the compression format must be invisible
    // to the HTTP layer, exactly like q_warc_gz. Map-only.
    Q(
      "q_warc_zst",
      (spark, dir) => {
        val warc = (k: Long) => graft.operators.Warc.syntheticWarcZst(k, 6)
        val out = graft.operators.Warc.httpResponses(
          graft.operators.Warc.recordsZst(
            Q.fixture(Q.nationKeys(spark, dir, "media_id"), "media_id", "payload")(warc),
            "media_id", "payload"))
          .withColumn("keep",
            col("status") === 200 && col("content_type") === "text/html")
        Q.requireNoShuffle(out)
        out
      },
      Some(WarcHttpOracleSql)
    ),

    // The zstd ENTROPY paths under an oracle: frames built by the
    // fixture encoders — a compressed block with an RLE-coded SEQUENCE
    // (LZ window match, overlap-safe copy), a compressed block with
    // HUFFMAN-coded literals (direct weights, 1- and 4-stream
    // alternating by key), and a FULLY entropy-coded block (Huffman
    // literals under FSE-COMPRESSED weights + Compressed_Mode
    // FSE-described LL/OF/ML sequence tables with real state
    // transitions, seed-parameterized via the minimal FSE writer) —
    // decode distributively to closed-form text the oracle re-derives
    // with repeat(). The golden real-zstd bytes in ZstdDecodeSpec
    // certify the decoder against the reference implementation; THIS
    // gate certifies the distributed plumbing stays map-only and the
    // decode is deterministic under Verify.
    Q(
      "q_zstd_decode",
      (spark, dir) => {
        import spark.implicits._
        val mk = (k: Long) => {
          val seqF = graft.operators.ZstdDecode.zstdFrameSequences(
            s"w${k % 7}x ".getBytes("US-ASCII"), (5 + k % 4).toInt,
            s"end$k".getBytes("US-ASCII"), checksum = true)
          val hufText = ("abacad" * (3 + (k % 3)).toInt).getBytes("US-ASCII")
          val hufF = graft.operators.ZstdDecode.zstdFrameHuffman(
            hufText, fourStream = k % 2 == 0, checksum = true)
          // the FULLY entropy-coded member: FSE-compressed Huffman
          // weights + Compressed_Mode sequence tables with real state
          // transitions, seed-parameterized — the arm the fixture
          // encoders couldn't reach before the FSE writer landed
          val entF = graft.operators.ZstdDecode.zstdFrameEntropy(
            (2 + k % 11).toInt, (3 + k % 15).toInt, checksum = true)
          seqF ++ hufF ++ entF
        }
        val out = Q.fixture(Q.nationKeys(spark, dir, "media_id"), "media_id", "payload")(mk)
          .select(col("media_id"), col("payload"))
          .as[(Long, Array[Byte])]
          .flatMap { case (id, p) =>
            graft.operators.ZstdDecode.zstdMembers(p).zipWithIndex.map {
              case (m, i) => (id, i, new String(m, "US-ASCII"))
            }
          }
          .toDF("media_id", "member_idx", "text")
        Q.requireNoShuffle(out)
        out
      },
      Some(
        """SELECT CAST(n_nationkey AS BIGINT) AS media_id, CAST(i AS INT) AS member_idx,
          |  CASE CAST(i AS INT)
          |    WHEN 0 THEN repeat('w' || CAST(n_nationkey % 7 AS VARCHAR) || 'x ',
          |                       CAST(5 + n_nationkey % 4 AS INT))
          |                || 'end' || CAST(n_nationkey AS VARCHAR)
          |    WHEN 1 THEN repeat('abacad', CAST(3 + n_nationkey % 3 AS INT))
          |    ELSE repeat('abcd', CAST(2 + n_nationkey % 11 AS INT))
          |      || repeat('bc', CAST(3 + n_nationkey % 15 AS INT)) || 'dd'
          |  END AS text
          |FROM nation, UNNEST(generate_series(0, 2)) AS u(i)""".stripMargin
      )
    ),

    // The WET sidecar — Common Crawl's extracted-text companion: the
    // same WARC container, one warcinfo header record, then
    // `conversion` records whose bodies ARE the extracted plain text.
    // A pipeline consuming WET skips the whole HTTP/charset/strip
    // chain — this reader is the entry point. Map-only.
    Q(
      "q_wet_text",
      (spark, dir) => {
        val blobs = Q.nationKeys(spark, dir, "media_id")
        val wet = (k: Long) => graft.operators.Warc.syntheticWet(k, 6)
        val out = graft.operators.Warc.wetTexts(
          graft.operators.Warc.records(
            Q.fixture(blobs, "media_id", "payload")(wet),
            "media_id", "payload"))
        Q.requireNoShuffle(out)
        out
      },
      Some(
        """SELECT CAST(n_nationkey AS BIGINT) AS media_id,
          |  CAST(i + 1 AS INT) AS rec_idx,
          |  'http://site' || CAST((n_nationkey + i) % 5 AS VARCHAR)
          |    || '.example/p' || CAST(i AS VARCHAR) AS target_uri,
          |  'wet text ' || CAST(n_nationkey * 7 + i AS VARCHAR)
          |    || ' extracted words' AS text
          |FROM nation, UNNEST(generate_series(0, 5)) AS u(i)""".stripMargin
      )
    ),

    // The WET CONSUMER pipeline — what a training-data job actually
    // runs over the extracted-text sidecar: wetTexts → token-count
    // quality floor (map-side) → GLOBAL exact dedup (one digest-keyed
    // partial-agg exchange + the semi join back). Planted regimes:
    // one-token records fail the floor; i%5==4 records duplicate
    // their predecessor's text; and the text formula collides ACROSS
    // blobs (seed·7+i — e.g. blobs 1 and 2 share 'wet text 14'), so a
    // per-blob dedup would leak rows the oracle's global keep-first
    // drops.
    Q(
      "q_wet_pipeline",
      (spark, dir) => {
        val wet = (k: Long) =>
          graft.operators.Warc.syntheticWet(k, 8, withArms = true)
        val texts = graft.operators.Warc.wetTexts(
          graft.operators.Warc.records(
            Q.fixture(Q.nationKeys(spark, dir, "media_id"), "media_id", "payload")(wet),
            "media_id", "payload"))
        val out = graft.operators.Dedup.dropExactDuplicates(
          texts
            .filter(TextAnalysis.tokenCount(col("text")) >= 3)
            .withColumn("id", col("media_id") * 1000 + col("rec_idx")),
          "id", "text")
          .select(col("media_id"), col("rec_idx"), col("target_uri"), col("text"))
        Q.requireMaxShuffles(out, 3)
        out
      },
      Some(
        """WITH recs AS (
          |  SELECT CAST(n_nationkey AS BIGINT) AS media_id,
          |    CAST(i + 1 AS INT) AS rec_idx,
          |    'http://site' || CAST((n_nationkey + i) % 5 AS VARCHAR)
          |      || '.example/p' || CAST(i AS VARCHAR) AS target_uri,
          |    CASE WHEN i % 7 = 6 THEN 'tiny'
          |         WHEN i % 5 = 4 THEN 'wet text '
          |           || CAST(n_nationkey * 7 + i - 1 AS VARCHAR) || ' extracted words'
          |         ELSE 'wet text '
          |           || CAST(n_nationkey * 7 + i AS VARCHAR) || ' extracted words'
          |    END AS text
          |  FROM nation, UNNEST(generate_series(0, 7)) AS u(i)
          |), kept AS (
          |  SELECT *, media_id * 1000 + rec_idx AS id FROM recs
          |  WHERE i_split(text) >= 3
          |), dd AS (
          |  SELECT *, MIN(id) OVER (PARTITION BY text) AS cid FROM kept
          |)
          |SELECT media_id, rec_idx, target_uri, text
          |FROM dd WHERE id = cid""".stripMargin
          .replace("i_split(text) >= 3",
            "len(regexp_split_to_array(text, '\\s+')) >= 3")
      )
    ),

    // The WAT sidecar — Common Crawl's metadata companion: `metadata`
    // records carrying JSON envelopes whose HTML-Metadata.Links array
    // is THE web link graph's source. One row per link via Spark's
    // codegen'd from_json (null-safe: a corrupt envelope or a
    // links-less head-only page contributes nothing, never a throw) —
    // ready for the domain collapse the PageRank/HITS layer runs on.
    // Map-only.
    Q(
      "q_wat_links",
      (spark, dir) => {
        val out = graft.operators.Warc.watLinks(
          graft.operators.Warc.records(
            Q.fixture(Q.nationKeys(spark, dir, "media_id"), "media_id", "payload")(watArchive),
            "media_id", "payload"))
        Q.requireNoShuffle(out)
        out
      },
      Some(
        """SELECT CAST(n_nationkey AS BIGINT) AS media_id,
          |  CAST(i + 1 AS INT) AS rec_idx,
          |  'http://site' || CAST((n_nationkey + i) % 5 AS VARCHAR)
          |    || '.example/p' || CAST(i AS VARCHAR) AS src_uri,
          |  'http://site' || CAST((n_nationkey + i + j) % 5 AS VARCHAR)
          |    || '.example/l/' || CAST(i AS VARCHAR)
          |    || CASE WHEN j = 2 THEN 'b' ELSE '' END AS href,
          |  'A@/href' AS link_path
          |FROM nation, UNNEST(generate_series(0, 7)) AS u(i),
          |     UNNEST(generate_series(1, 2)) AS v(j)
          |WHERE i % 4 < 2""".stripMargin
      )
    ),

    // ARCHIVE → LINK GRAPH → AUTHORITY, closed: the WAT sidecar's
    // outlinks parse (watLinks), hosts extract with the native
    // parse_url, the corpus collapses to the |domains|²-bounded
    // weighted adjacency in ONE shuffle, and two integer-exact
    // PageRank rounds run on the collapsed frame — the provenance
    // signal a curation pipeline weighs sources by, derived from the
    // archive format that actually ships link data. The oracle builds
    // the identical closed-form edge list and runs the shared unrolled
    // integer-rank CTEs.
    Q(
      "q_wat_graph",
      (spark, dir) => {
        val links = graft.operators.Warc.watLinks(
          graft.operators.Warc.records(
            Q.fixture(Q.nationKeys(spark, dir, "media_id"), "media_id", "payload")(watArchive),
            "media_id", "payload"))
        val edges = links.select(
          expr("parse_url(src_uri, 'HOST')").as("src"),
          expr("parse_url(href, 'HOST')").as("dst"))
        Graph.pageRankInt(edges, "src", "dst", iters = 2)
      },
      Some {
        val edgesSql =
          """SELECT
            |    'site' || CAST((n_nationkey + i) % 5 AS VARCHAR) || '.example' AS src,
            |    'site' || CAST((n_nationkey + i + j) % 5 AS VARCHAR) || '.example' AS dst
            |  FROM nation, UNNEST(generate_series(0, 7)) AS u(i),
            |       UNNEST(generate_series(1, 2)) AS v(j)
            |  WHERE i % 4 < 2""".stripMargin
        s"""WITH ${domainGraphCtes(edgesSql, "wg")},
           |${domainRankStepsSql("wg")}
           |SELECT node, CAST(rank AS BIGINT) AS rank_micro FROM wgr2""".stripMargin
      }
    ),

    // HTML OUTLINK EXTRACTION — the link graph WITHOUT the WAT
    // sidecar: a SELF-crawled archive has only the raw HTML it
    // fetched, so the extraction itself must be an operator. Chain:
    // byte-level container walk → charset-aware text → one-pass
    // href/src scan (native codegen: entities decoded, comments and
    // script/style bodies skipped, fragment-only refs dropped) →
    // <base href> rebasing (a relative base resolves against the page
    // URL first, per WHATWG) → RFC 3986 §5.2 reference resolution
    // composed with the §6 canonical form (graft_url_resolve — the
    // resolution kernel is certified against the RFC's own §5.4
    // example matrix in HtmlSpec). Planted arms, all closed-form:
    // messy-absolute links the canon normalizes, base-relative +
    // protocol-relative links, same-host path-relative / dot-segment
    // / query-only (&amp;-escaped) links, javascript:/mailto:/
    // fragment/commented/script-body noise that must contribute
    // NOTHING, and torn markup that must not throw. Map-only end to
    // end — three codegen expressions and an explode, typed-asserted.
    Q(
      "q_html_links",
      (spark, dir) => {
        val texts = graft.operators.Warc.httpTexts(
          graft.operators.Warc.recordsBinary(
            Q.fixture(Q.nationKeys(spark, dir, "media_id"), "media_id", "payload")(htmlArchive),
            "media_id", "payload"))
          .select(col("media_id"), col("rec_idx"), col("target_uri"), col("text"))
        val out = graft.operators.Html.outlinks(texts, "target_uri", "text")
        Q.requireNoShuffle(out)
        out
      },
      Some(
        """SELECT CAST(n_nationkey AS BIGINT) AS media_id, CAST(i AS INT) AS rec_idx,
          |  'http://site' || CAST((n_nationkey + i) % 5 AS VARCHAR)
          |    || '.example/d/p' || CAST(i AS VARCHAR) AS target_uri,
          |  'http://site' || CAST((n_nationkey + i + j) % 5 AS VARCHAR)
          |    || '.example/l/' || CAST(i AS VARCHAR)
          |    || CASE WHEN j = 2 THEN 'b' ELSE '' END AS href
          |FROM nation, UNNEST(generate_series(0, 7)) AS u(i),
          |     UNNEST(generate_series(1, 2)) AS v(j)
          |WHERE i % 4 < 2
          |UNION ALL
          |SELECT CAST(n_nationkey AS BIGINT), CAST(i AS INT),
          |  'http://site' || CAST((n_nationkey + i) % 5 AS VARCHAR)
          |    || '.example/d/p' || CAST(i AS VARCHAR),
          |  'http://site' || CAST((n_nationkey + i) % 5 AS VARCHAR)
          |    || '.example' || CASE k
          |      WHEN 1 THEN '/d/l2/rel' || CAST(i AS VARCHAR)
          |      WHEN 2 THEN '/l3/dot' || CAST(i AS VARCHAR)
          |      WHEN 3 THEN '/d/p' || CAST(i AS VARCHAR) || '?q='
          |        || CAST(i AS VARCHAR) || '&r=2'
          |      ELSE '/d/p' || CAST(i AS VARCHAR) END
          |FROM nation, UNNEST(generate_series(0, 7)) AS u(i),
          |     UNNEST(generate_series(1, 4)) AS w(k)
          |WHERE i % 4 = 2""".stripMargin
      )
    ),

    // ARCHIVE → LINK GRAPH → AUTHORITY from RAW HTML — q_wat_graph's
    // twin with the extraction done HERE instead of read from the
    // sidecar: syntheticWarcHtml's arms 0/1 plant EXACTLY the WAT
    // fixture's cross-host edge set (absolute links in arm 0;
    // base-relative + protocol-relative in arm 1 — resolution feeding
    // the graph, not just the gate), and arm 2's same-host relative
    // links become self-edges the weighted collapse carries. Same
    // |domains|²-bounded one-shuffle collapse, same two integer-exact
    // PageRank rounds, same unrolled rank CTEs — only the edge list
    // differs by the planted self-edges.
    Q(
      "q_html_graph",
      (spark, dir) => {
        val texts = graft.operators.Warc.httpTexts(
          graft.operators.Warc.recordsBinary(
            Q.fixture(Q.nationKeys(spark, dir, "media_id"), "media_id", "payload")(htmlArchive),
            "media_id", "payload"))
          .select(col("media_id"), col("rec_idx"), col("target_uri"), col("text"))
        val links = graft.operators.Html.outlinks(texts, "target_uri", "text")
        val edges = links.select(
          expr("parse_url(target_uri, 'HOST')").as("src"),
          expr("parse_url(href, 'HOST')").as("dst"))
        Graph.pageRankInt(edges, "src", "dst", iters = 2)
      },
      Some {
        val edgesSql =
          """SELECT
            |    'site' || CAST((n_nationkey + i) % 5 AS VARCHAR) || '.example' AS src,
            |    'site' || CAST((n_nationkey + i + j) % 5 AS VARCHAR) || '.example' AS dst
            |  FROM nation, UNNEST(generate_series(0, 7)) AS u(i),
            |       UNNEST(generate_series(1, 2)) AS v(j)
            |  WHERE i % 4 < 2
            |  UNION ALL
            |  SELECT
            |    'site' || CAST((n_nationkey + i) % 5 AS VARCHAR) || '.example',
            |    'site' || CAST((n_nationkey + i) % 5 AS VARCHAR) || '.example'
            |  FROM nation, UNNEST(generate_series(0, 7)) AS u(i),
            |       UNNEST(generate_series(1, 4)) AS w(k)
            |  WHERE i % 4 = 2""".stripMargin
        s"""WITH ${domainGraphCtes(edgesSql, "hg")},
           |${domainRankStepsSql("hg")}
           |SELECT node, CAST(rank AS BIGINT) AS rank_micro FROM hgr2""".stripMargin
      }
    ),

    // LINK-FOLLOWING FRONTIER DISCOVERY — the loop a SELF-crawl runs
    // that sitemap/WAT pipelines never needed: fetched pages → HTML
    // outlink extraction (resolution and all) → canonical candidates →
    // anti-join against what this round already fetched (arm 2's nav
    // link resolves to its own page and must drop HERE — discovering
    // an already-crawled URL is the common case, not a corner) → the
    // per-host politeness schedule for the NEXT round. Exchanges: the
    // candidate dedup, the anti-join's crawled side, the host window.
    Q(
      "q_html_frontier",
      (spark, dir) => {
        val texts = graft.operators.Warc.httpTexts(
          graft.operators.Warc.recordsBinary(
            Q.fixture(Q.nationKeys(spark, dir, "media_id"), "media_id", "payload")(htmlArchive),
            "media_id", "payload"))
          .select(col("media_id"), col("rec_idx"), col("target_uri"), col("text"))
        val crawled = texts.select(
          graft.functions.GraftFunctions.urlCanon(col("target_uri")).as("canon"))
        val fresh = graft.operators.Html.outlinks(texts, "target_uri", "text")
          .select(col("href").as("canon"))
          .distinct()
          .join(crawled, Seq("canon"), "left_anti")
          .withColumn("host", expr("parse_url(canon, 'HOST')"))
        val out = graft.operators.Frontier.schedule(
          fresh, (0 until 5).map(m => (s"site$m.example", (m + 1) * 100L)),
          defaultDelayMs = 500L, workers = 8)
        Q.requireMaxShuffles(out, 4)
        out
      },
      Some(
        s"""WITH rows0 AS (
           |  SELECT n_nationkey AS n, i
           |  FROM nation, UNNEST(generate_series(0, 7)) AS u(i)
           |), lnk AS (
           |  SELECT 'http://site' || CAST((n + i + j) % 5 AS VARCHAR)
           |    || '.example/l/' || CAST(i AS VARCHAR)
           |    || CASE WHEN j = 2 THEN 'b' ELSE '' END AS canon
           |  FROM rows0, UNNEST(generate_series(1, 2)) AS v(j)
           |  WHERE i % 4 < 2
           |  UNION ALL
           |  SELECT 'http://site' || CAST((n + i) % 5 AS VARCHAR)
           |    || '.example' || CASE k
           |      WHEN 1 THEN '/d/l2/rel' || CAST(i AS VARCHAR)
           |      WHEN 2 THEN '/l3/dot' || CAST(i AS VARCHAR)
           |      WHEN 3 THEN '/d/p' || CAST(i AS VARCHAR) || '?q='
           |        || CAST(i AS VARCHAR) || '&r=2'
           |      ELSE '/d/p' || CAST(i AS VARCHAR) END
           |  FROM rows0, UNNEST(generate_series(1, 4)) AS w(k)
           |  WHERE i % 4 = 2
           |), crawled AS (
           |  SELECT DISTINCT 'http://site' || CAST((n + i) % 5 AS VARCHAR)
           |    || '.example/d/p' || CAST(i AS VARCHAR) AS canon
           |  FROM rows0
           |), fresh AS (
           |  SELECT DISTINCT canon FROM lnk
           |  WHERE canon NOT IN (SELECT canon FROM crawled)
           |), fh AS (
           |  SELECT canon, split_part(substr(canon, 8), '/', 1) AS host FROM fresh
           |), s AS (
           |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY host
           |    ORDER BY canon ASC) - 1 AS BIGINT) AS slot
           |  FROM fh
           |)
           |SELECT *,
           |  slot * CASE host
           |    WHEN 'site0.example' THEN 100 WHEN 'site1.example' THEN 200
           |    WHEN 'site2.example' THEN 300 WHEN 'site3.example' THEN 400
           |    ELSE 500 END AS fetch_at_ms,
           |  CAST(${polyHashSql("host", 31L)} % 8 AS INT) AS worker
           |FROM s""".stripMargin
      )
    ),

    // AUTHORITY-WEIGHTED CRAWL BUDGETS — where the WAT-derived rank
    // actually bites the frontier: authority is a HOST-level signal
    // (within one host's politeness window every URL shares it), so
    // its operational form is the per-host DEPTH budget — high-rank
    // hosts keep more politeness slots, low-rank hosts get a shallow
    // crawl. Chain: WAT outlinks → domain PageRank (integer-exact on
    // the |domains|²-bounded collapse) → budget = 1 + rank div 3·10^5
    // → the frame-joined politeness schedule admits slot < budget.
    // The oracle re-derives ranks via the shared unrolled CTEs and
    // replays the slot window + budget cut closed-form.
    Q(
      "q_frontier_authority",
      (spark, dir) => {
        import spark.implicits._
        // the n%5==0 blob subset makes the link graph ASYMMETRIC (all
        // seeds share residue 0, so in-link mass skews across hosts) —
        // differentiated ranks are the point: budgets must DIFFER
        val blobs = Q.nationKeys(spark, dir, "media_id").filter(col("media_id") % 5 === 0)
        val links = graft.operators.Warc.watLinks(
          graft.operators.Warc.records(
            Q.fixture(blobs, "media_id", "payload")(watArchive),
            "media_id", "payload"))
        val ranks = Graph.pageRankInt(
          links.select(expr("parse_url(src_uri, 'HOST')").as("src"),
            expr("parse_url(href, 'HOST')").as("dst")),
          "src", "dst", iters = 2)
        val frontier = Q.nationKeys(spark, dir, "k")
          .select(col("k"), explode(expr("sequence(0, 5)")).as("i"))
          .select(
            concat(lit("site"), (col("k") + col("i")) % 5,
              lit(".example")).as("host"),
            concat(lit("http://site"), (col("k") + col("i")) % 5,
              lit(".example/f/"), col("k"), lit("/"), col("i")).as("canon"))
        val delayFrame = (0 until 5)
          .map(m => (s"site$m.example", (m + 1) * 100L))
          .toDF("domain", "delay_ms")
        val sched = graft.operators.Frontier.scheduleJoined(
          frontier, delayFrame, defaultDelayMs = 500L, workers = 8)
        val budget = ranks.select(col("node").as("host"),
          col("rank_micro"), expr("1L + rank_micro div 300000").as("budget"))
        sched.join(budget, Seq("host"))
          .filter(col("slot") < col("budget"))
          .select(col("canon"), col("host"), col("slot"), col("fetch_at_ms"),
            col("worker"), col("rank_micro"), col("budget"))
      },
      Some {
        val edgesSql =
          """SELECT
            |    'site' || CAST((n_nationkey + i) % 5 AS VARCHAR) || '.example' AS src,
            |    'site' || CAST((n_nationkey + i + j) % 5 AS VARCHAR) || '.example' AS dst
            |  FROM nation, UNNEST(generate_series(0, 7)) AS u(i),
            |       UNNEST(generate_series(1, 2)) AS v(j)
            |  WHERE i % 4 < 2 AND n_nationkey % 5 = 0""".stripMargin
        s"""WITH ${domainGraphCtes(edgesSql, "fa")},
           |${domainRankStepsSql("fa")},
           |fr AS (
           |  SELECT
           |    'site' || CAST((n_nationkey + i) % 5 AS VARCHAR) || '.example' AS host,
           |    'http://site' || CAST((n_nationkey + i) % 5 AS VARCHAR)
           |      || '.example/f/' || CAST(n_nationkey AS VARCHAR)
           |      || '/' || CAST(i AS VARCHAR) AS canon
           |  FROM nation, UNNEST(generate_series(0, 5)) AS u(i)
           |), s AS (
           |  SELECT host, canon,
           |    CAST(ROW_NUMBER() OVER (PARTITION BY host ORDER BY canon ASC) - 1
           |      AS BIGINT) AS slot
           |  FROM fr
           |), b AS (
           |  SELECT node AS host, CAST(rank AS BIGINT) AS rank_micro,
           |    CAST(1 + rank // 300000 AS BIGINT) AS budget
           |  FROM far2
           |)
           |SELECT s.canon, s.host, s.slot,
           |  s.slot * CASE s.host
           |    WHEN 'site0.example' THEN 100 WHEN 'site1.example' THEN 200
           |    WHEN 'site2.example' THEN 300 WHEN 'site3.example' THEN 400
           |    ELSE 500 END AS fetch_at_ms,
           |  CAST(${polyHashSql("s.host", 31L)} % 8 AS INT) AS worker,
           |  b.rank_micro, b.budget
           |FROM s JOIN b ON b.host = s.host
           |WHERE s.slot < b.budget""".stripMargin
      }
    ),

    // DICTIONARY-framed zstd — the layout Common Crawl's .warc.zst
    // actually ships: the dictionary rides the archive's FIRST
    // skippable frame (magic 0x184D2A5D), and data frames reference
    // its content as window history (bytes the frames never carry).
    // Per key: a raw-content dictionary + one frame whose ONLY
    // sequence matches INTO the dictionary across the window base and
    // self-extends (repeats seed-parameterized), then a plain raw
    // frame under the same walk — zstdMembersAuto lifts the dict,
    // decodes both, and the oracle re-derives the texts with
    // repeat(). Structured dictionaries (entropy tables + offsets)
    // are certified against a real `zstd --train` dictionary and
    // `zstd -D` frames in ZstdDecodeSpec. Map-only.
    Q(
      "q_zstd_dict",
      (spark, dir) => {
        import spark.implicits._
        val mk = (k: Long) => {
          import graft.operators.ZstdDecode._
          val dictContent = s"Dk$k word ".getBytes("US-ASCII")
          dictFrame(dictContent) ++
            zstdFrameDictSeq(dictContent, (4 + k % 3).toInt,
              s"tail$k".getBytes("US-ASCII"), checksum = true) ++
            zstdFrameRaw(s"plain$k".getBytes("US-ASCII"), checksum = true)
        }
        val out = Q.fixture(Q.nationKeys(spark, dir, "media_id"), "media_id", "payload")(mk)
          .select(col("media_id"), col("payload"))
          .as[(Long, Array[Byte])]
          .flatMap { case (id, p) =>
            graft.operators.ZstdDecode.zstdMembersAuto(p).zipWithIndex.map {
              case (m, i) => (id, i, new String(m, "US-ASCII"))
            }
          }
          .toDF("media_id", "member_idx", "text")
        Q.requireNoShuffle(out)
        out
      },
      Some(
        """SELECT CAST(n_nationkey AS BIGINT) AS media_id, CAST(i AS INT) AS member_idx,
          |  CASE CAST(i AS INT)
          |    WHEN 0 THEN repeat('Dk' || CAST(n_nationkey AS VARCHAR) || ' word ',
          |                       CAST(4 + n_nationkey % 3 AS INT))
          |                || 'tail' || CAST(n_nationkey AS VARCHAR)
          |    ELSE 'plain' || CAST(n_nationkey AS VARCHAR)
          |  END AS text
          |FROM nation, UNNEST(generate_series(0, 1)) AS u(i)""".stripMargin
      )
    ),

    // CHARSET-AWARE text extraction — the honesty gap the utf-8-only
    // text layer leaves open: ~10% of the web declares
    // latin-1/windows-1252, and those pages NULL out of a utf-8-only
    // ingest. The byte-level walk (recordsBinary) keeps payloads as
    // BYTES through the HTTP split (ASCII header grammar, decoded
    // ISO-8859-1 byte-lossless), then decodes each page under its OWN
    // declared charset with STRICT decoders — a server lying about
    // its charset (utf-8-declared latin-1 bytes) yields NULL visible
    // to the audit, never silently-wrong text that would poison dedup
    // digests and tokenizers downstream; unknown charsets degrade the
    // same way. Nineteen arms per blob, each a different (declared
    // charset × actual bytes) cell of the decode matrix — the Western
    // set, the header/meta/default precedence arms, and the
    // global-crawl families (Shift_JIS, EUC-JP via the meta prescan,
    // EUC-KR, gb2312-labeled GBK, GB18030 with a 4-byte sequence,
    // Big5, KOI8-R, windows-1251, ISO-8859-7, ISO-8859-2) with
    // byte-verified multibyte payloads, plus a corrupt-trail Shift_JIS
    // arm proving the new families keep the strict never-mojibake
    // contract. Every expected string closed-form. Map-only end to
    // end, typed-asserted.
    Q(
      "q_warc_charset",
      (spark, dir) => {
        val warc = (k: Long) => graft.operators.Warc.syntheticWarcCharsets(k)
        val out = graft.operators.Warc.httpTexts(
          graft.operators.Warc.recordsBinary(
            Q.fixture(Q.nationKeys(spark, dir, "media_id"), "media_id", "payload")(warc),
            "media_id", "payload"))
        Q.requireNoShuffle(out)
        out
      },
      Some(
        """SELECT CAST(n_nationkey AS BIGINT) AS media_id, CAST(i AS INT) AS rec_idx,
          |  'http://cs' || CAST(n_nationkey AS VARCHAR) || '.example/p'
          |    || CAST(i AS VARCHAR) AS target_uri,
          |  CAST(200 AS INT) AS status,
          |  'text/html' AS content_type,
          |  CAST(NULL AS VARCHAR) AS transfer_encoding,
          |  CAST(NULL AS VARCHAR) AS content_encoding,
          |  CASE CAST(i AS INT)
          |    WHEN 0 THEN 'utf-8' WHEN 1 THEN 'iso-8859-1'
          |    WHEN 2 THEN 'windows-1252' WHEN 3 THEN NULL
          |    WHEN 4 THEN 'utf-8' WHEN 5 THEN 'shift_jis'
          |    WHEN 6 THEN 'iso-8859-1' WHEN 7 THEN 'utf-8'
          |    WHEN 8 THEN 'shift_jis' WHEN 9 THEN 'euc-jp'
          |    WHEN 10 THEN 'euc-kr' WHEN 11 THEN 'gb2312'
          |    WHEN 12 THEN 'gb18030' WHEN 13 THEN 'big5'
          |    WHEN 14 THEN 'koi8-r' WHEN 15 THEN 'windows-1251'
          |    WHEN 16 THEN 'iso-8859-7' WHEN 17 THEN 'iso-8859-2'
          |    WHEN 18 THEN 'shift_jis' ELSE NULL END AS charset,
          |  CASE CAST(i AS INT)
          |    WHEN 3 THEN 'default' WHEN 6 THEN 'meta' WHEN 9 THEN 'meta'
          |    WHEN 19 THEN 'default' WHEN 20 THEN 'default'
          |    ELSE 'header' END AS charset_source,
          |  CASE CAST(i AS INT)
          |    WHEN 0 THEN 'café page ' || CAST(n_nationkey AS VARCHAR)
          |    WHEN 1 THEN 'café résumé ' || CAST(n_nationkey AS VARCHAR)
          |    WHEN 2 THEN 'price €' || CAST(n_nationkey AS VARCHAR)
          |    WHEN 3 THEN 'plain page ' || CAST(n_nationkey AS VARCHAR)
          |    WHEN 5 THEN 'nihongo ' || CAST(n_nationkey AS VARCHAR)
          |    WHEN 6 THEN '<html><head><meta charset="iso-8859-1"></head><body>café meta '
          |      || CAST(n_nationkey AS VARCHAR) || '</body></html>'
          |    WHEN 7 THEN '<meta http-equiv="Content-Type" content="text/html; charset=iso-8859-1">café hdr '
          |      || CAST(n_nationkey AS VARCHAR)
          |    WHEN 8 THEN '日本語ページ ' || CAST(n_nationkey AS VARCHAR)
          |    WHEN 9 THEN '<meta charset="euc-jp">言語テスト ' || CAST(n_nationkey AS VARCHAR)
          |    WHEN 10 THEN '한국어 페이지 ' || CAST(n_nationkey AS VARCHAR)
          |    WHEN 11 THEN '中文网页 ' || CAST(n_nationkey AS VARCHAR)
          |    WHEN 12 THEN '中文ༀ页 ' || CAST(n_nationkey AS VARCHAR)
          |    WHEN 13 THEN '繁體中文 ' || CAST(n_nationkey AS VARCHAR)
          |    WHEN 14 THEN 'русский текст ' || CAST(n_nationkey AS VARCHAR)
          |    WHEN 15 THEN 'кириллица ' || CAST(n_nationkey AS VARCHAR)
          |    WHEN 16 THEN 'ελληνικά ' || CAST(n_nationkey AS VARCHAR)
          |    WHEN 17 THEN 'čeština stránka ' || CAST(n_nationkey AS VARCHAR)
          |    WHEN 19 THEN 'legacy café ' || CAST(n_nationkey AS VARCHAR)
          |    ELSE NULL END AS text
          |FROM nation, UNNEST(generate_series(0, 20)) AS u(i)""".stripMargin
      )
    ),

    // ON-THE-WIRE body decoding \u2014 what the charset layer left on the
    // table: raw WARC archives store responses AS TRANSFERRED, so
    // `Transfer-Encoding: chunked` framing (RFC 9112 \u00a77.1) and
    // `Content-Encoding: gzip/deflate` bodies must de-frame and
    // inflate BETWEEN the HTTP split and the charset decode or they
    // strict-decode to NULL and the ingest silently loses the page.
    // Eight arms per blob: identity, chunked (with a chunk extension
    // and a trailer field \u2014 both must be ignored per spec), gzip over
    // latin-1 bytes, zlib-deflate over cp1252 bytes, chunked OVER
    // gzip (the RFC's layer order), a TORN chunk (\u2192 NULL, framing
    // fields survive), an out-of-contract coding (br \u2192 NULL), and a
    // corrupt-CRC gzip (the strict decode refuses \u2014 all-or-NULL,
    // never silently-partial text). Map-only end to end.
    Q(
      "q_warc_encoding",
      (spark, dir) => {
        val warc = (k: Long) => graft.operators.Warc.syntheticWarcEncodings(k)
        val out = graft.operators.Warc.httpTexts(
          graft.operators.Warc.recordsBinary(
            Q.fixture(Q.nationKeys(spark, dir, "media_id"), "media_id", "payload")(warc),
            "media_id", "payload"))
        Q.requireNoShuffle(out)
        out
      },
      Some(
        """SELECT CAST(n_nationkey AS BIGINT) AS media_id, CAST(i AS INT) AS rec_idx,
          |  'http://enc' || CAST(n_nationkey AS VARCHAR) || '.example/p'
          |    || CAST(i AS VARCHAR) AS target_uri,
          |  CAST(200 AS INT) AS status,
          |  'text/html' AS content_type,
          |  CASE WHEN CAST(i AS INT) IN (1, 4, 5) THEN 'chunked'
          |    ELSE NULL END AS transfer_encoding,
          |  CASE CAST(i AS INT)
          |    WHEN 2 THEN 'gzip' WHEN 3 THEN 'deflate' WHEN 4 THEN 'gzip'
          |    WHEN 6 THEN 'br' WHEN 7 THEN 'gzip' WHEN 8 THEN 'zstd'
          |    ELSE NULL END AS content_encoding,
          |  CASE CAST(i AS INT)
          |    WHEN 2 THEN 'iso-8859-1' WHEN 3 THEN 'windows-1252'
          |    ELSE 'utf-8' END AS charset,
          |  'header' AS charset_source,
          |  CASE CAST(i AS INT)
          |    WHEN 0 THEN 'café page ' || CAST(n_nationkey AS VARCHAR)
          |    WHEN 1 THEN 'chunked café ' || CAST(n_nationkey AS VARCHAR)
          |    WHEN 2 THEN 'gz café résumé ' || CAST(n_nationkey AS VARCHAR)
          |    WHEN 3 THEN 'price €' || CAST(n_nationkey AS VARCHAR)
          |    WHEN 4 THEN 'both café ' || CAST(n_nationkey AS VARCHAR)
          |    WHEN 8 THEN repeat('zs' || CAST(n_nationkey AS VARCHAR) || ' ', 4) || 'end'
          |    ELSE NULL END AS text
          |FROM nation, UNNEST(generate_series(0, 8)) AS u(i)""".stripMargin
      )
    ),

    // The CRAWL flagship — round 13's new layers composed end to end:
    // WARC container walk → HTTP status/content-type screen → RFC 3986
    // URL canonicalization → MAP-SIDE robots politeness (the bounded
    // rule set rides the closure as literals — allowedColumn, the
    // DSIR/CMS "fit once, rate anywhere" shape, spec-pinned equal to
    // the distributed screen) → HTML strip → URL-level dedup on the
    // canonical form. Everything before the dedup is map-side (two
    // native codegen expressions, one broadcast-free politeness
    // rating), so the corpus crosses the wire exactly ONCE — the
    // canon-keyed keep-first exchange — typed-asserted. Planted
    // regimes the oracle re-derives closed-form: 404s, image/png
    // fetches, the robots-blocked /a1 arm, and arm-3 records whose
    // differently-messy URI canonicalizes to the PREVIOUS record's
    // URL — only correct canonicalization collapses them (keep-first
    // by (media_id, rec_idx)), and cross-blob collisions dedup too.
    Q(
      "q_crawl_pipeline",
      (spark, dir) => {
        // the archive interleaves revisit/request records the way real
        // Common-Crawl files do — the response screen must hold its
        // output EXACTLY (same oracle) with them present; the ledger
        // twin (q_crawl_ledger) counts what this silent filter drops.
        // withEncodings: bodies arrive ON THE WIRE (identity / chunked
        // / gzipped by record) — the byte-level ingest (recordsBinary
        // → httpTexts) de-frames and inflates them, so the oracle hash
        // is UNCHANGED from the plain-body fixture: transfer and
        // content codings must be invisible to everything downstream
        val warc = (k: Long) =>
          graft.operators.Warc.syntheticWarcCrawl(k, 8,
            withNonResponses = true, withEncodings = true)
        // admission is the EXACT RFC 9309 matcher (wildcards honored);
        // the wildcard disallow below matches NO fixture path, so the
        // admitted set is what a correct reading of the rules gives —
        // while the CONSERVATIVE twin (emitted per row as
        // `overblocked`) widens it to the /a2/ prefix and would have
        // dropped every arm-2 page: the measurable cost the exact
        // promotion recovers
        val robotsTxt = "User-agent: *\nDisallow: /a1\nDisallow: /a2/*/x$\n"
        val parsed = (0 until 5).flatMap(m =>
          graft.operators.Robots.parseRobots(s"site$m.example", robotsTxt))
        val rulesExact = graft.operators.Robots.effectiveRulesExact(parsed, "graftbot")
        val rulesCons = graft.operators.Robots.effectiveRules(parsed, "graftbot")
        val http = graft.operators.Warc.httpTexts(
          graft.operators.Warc.recordsBinary(
            Q.fixture(Q.nationKeys(spark, dir, "media_id"), "media_id", "payload")(warc),
            "media_id", "payload"))
          .filter(col("status") === 200 && col("content_type") === "text/html")
        val canoned = http
          .withColumn("canon",
            graft.functions.GraftFunctions.urlCanon(col("target_uri")))
          .withColumn("__host", expr("parse_url(canon, 'HOST')"))
          .withColumn("__path", expr("parse_url(canon, 'PATH')"))
        val polite = canoned
          .filter(graft.operators.Robots.allowedColumnExact(
            rulesExact, col("__host"), col("__path")))
          .withColumn("overblocked",
            !graft.operators.Robots.allowedColumn(
              rulesCons, col("__host"), col("__path")))
          .withColumn("text", TextAnalysis.stripHtml(col("text")))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("canon"))
          .orderBy(col("media_id").asc, col("rec_idx").asc)
        val out = polite
          .withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1)
          .select(col("media_id"), col("rec_idx"), col("canon"), col("text"),
            col("overblocked"))
        Q.requireMaxShuffles(out, 1)
        out
      },
      Some(
        """WITH rows0 AS (
          |  -- i is the RESPONSE counter (drives URI/status/text arms);
          |  -- rec_idx is the record's POSITION in the blob, shifted by
          |  -- the interleaved revisit (j%3=1) / request (j%3=2)
          |  -- records before it: i + 2*(i//3) + (i%3=2 ? 1 : 0)
          |  SELECT CAST(n_nationkey AS BIGINT) AS media_id, i,
          |    i + 2 * (i // 3) + CASE WHEN i % 3 = 2 THEN 1 ELSE 0 END AS rec_idx,
          |    (n_nationkey + i) % 5 AS m, CAST(i % 4 AS INT) AS arm,
          |    (n_nationkey + i - 1) % 5 AS mprev
          |  FROM nation, UNNEST(generate_series(0, 7)) AS u(i)
          |), rows1 AS (
          |  SELECT media_id, rec_idx,
          |    CASE WHEN arm = 3
          |      THEN 'http://site' || CAST(mprev AS VARCHAR) || '.example/a2/p/'
          |           || CAST(i - 1 AS VARCHAR)
          |      ELSE 'http://site' || CAST(m AS VARCHAR) || '.example/a'
          |           || CAST(arm AS VARCHAR) || '/p/' || CAST(i AS VARCHAR)
          |    END AS canon,
          |    CASE WHEN arm = 3 THEN 2 ELSE arm END AS eff_arm,
          |    (media_id + i) % 7 <> 2 AND (media_id + i) % 5 <> 3 AS keep_http,
          |    'T' || CAST(i AS VARCHAR) || ' page '
          |      || CAST(media_id * 7 + i AS VARCHAR) || ' crawl words' AS text
          |  FROM rows0
          |), kept AS (
          |  SELECT * FROM rows1 WHERE keep_http AND eff_arm <> 1
          |), dd AS (
          |  SELECT *, ROW_NUMBER() OVER (
          |    PARTITION BY canon ORDER BY media_id, rec_idx) AS rn
          |  FROM kept
          |)
          |SELECT media_id, CAST(rec_idx AS INT) AS rec_idx, canon, text,
          |  eff_arm = 2 AS overblocked
          |FROM dd WHERE rn = 1""".stripMargin
      )
    ),

    // The crawl screen's DROP-REASONS LEDGER — the audit a real ingest
    // owes its operators: every WARC record classified by the FIRST
    // stage that drops it (revisit/request by type — real archives
    // interleave them with responses; 404s; non-text content types;
    // robots; losing a canonical-URL dedup race) or 'admitted', then
    // ONE count per reason. Built on Warc.httpLedger (the full-stream
    // HTTP layer: warc_type rides through, non-responses carry no
    // parsed fields) so nothing is silently assumed response-shaped.
    // The dedup rank rides a (reason-null, canon) window — candidates
    // only — and the oracle re-derives every class closed-form from
    // the fixture arms, including cross-blob canonical collisions.
    // Two exchanges: the rank window + the count groupBy.
    Q(
      "q_crawl_ledger",
      (spark, dir) => {
        val warc = (k: Long) =>
          graft.operators.Warc.syntheticWarcCrawl(k, 8, withNonResponses = true)
        val robotsTxt = "User-agent: *\nDisallow: /a1\n"
        val rules = graft.operators.Robots.effectiveRules(
          (0 until 5).flatMap(m =>
            graft.operators.Robots.parseRobots(s"site$m.example", robotsTxt)),
          "graftbot")
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("__early"), col("canon"))
          .orderBy(col("media_id").asc, col("rec_idx").asc)
        val out = graft.operators.Warc.httpLedger(
          graft.operators.Warc.records(
            Q.fixture(Q.nationKeys(spark, dir, "media_id"), "media_id", "payload")(warc),
            "media_id", "payload"))
          .withColumn("canon",
            graft.functions.GraftFunctions.urlCanon(col("target_uri")))
          .withColumn("__early",
            when(col("warc_type") =!= "response", col("warc_type"))
              .when(col("status") === -1, lit("torn"))
              .when(col("status") =!= 200, lit("http_status"))
              .when(col("content_type") =!= "text/html", lit("content_type"))
              .when(col("canon").isNull, lit("canon"))
              .when(!graft.operators.Robots.allowedColumn(rules,
                expr("parse_url(canon, 'HOST')"),
                expr("parse_url(canon, 'PATH')")), lit("robots")))
          .withColumn("__rn", row_number().over(w))
          .withColumn("reason",
            coalesce(col("__early"),
              when(col("__rn") > 1, lit("duplicate")).otherwise(lit("admitted"))))
          .groupBy(col("reason")).agg(count(lit(1)).as("n"))
        Q.requireMaxShuffles(out, 2)
        out
      },
      Some(
        """WITH rows0 AS (
          |  SELECT CAST(n_nationkey AS BIGINT) AS media_id, i AS rec_idx,
          |    (n_nationkey + i) % 5 AS m, CAST(i % 4 AS INT) AS arm,
          |    (n_nationkey + i - 1) % 5 AS mprev
          |  FROM nation, UNNEST(generate_series(0, 7)) AS u(i)
          |), rows1 AS (
          |  SELECT media_id, rec_idx,
          |    CASE WHEN arm = 3
          |      THEN 'http://site' || CAST(mprev AS VARCHAR) || '.example/a2/p/'
          |           || CAST(rec_idx - 1 AS VARCHAR)
          |      ELSE 'http://site' || CAST(m AS VARCHAR) || '.example/a'
          |           || CAST(arm AS VARCHAR) || '/p/' || CAST(rec_idx AS VARCHAR)
          |    END AS canon,
          |    CASE WHEN (media_id + rec_idx) % 7 = 2 THEN 'http_status'
          |         WHEN (media_id + rec_idx) % 5 = 3 THEN 'content_type'
          |         WHEN (CASE WHEN arm = 3 THEN 2 ELSE arm END) = 1 THEN 'robots'
          |         ELSE NULL END AS early
          |  FROM rows0
          |), cand AS (
          |  SELECT canon, ROW_NUMBER() OVER (
          |    PARTITION BY canon ORDER BY media_id, rec_idx) AS rn
          |  FROM rows1 WHERE early IS NULL
          |), reasons AS (
          |  SELECT early AS reason FROM rows1 WHERE early IS NOT NULL
          |  UNION ALL
          |  SELECT CASE WHEN rn > 1 THEN 'duplicate' ELSE 'admitted' END FROM cand
          |  UNION ALL
          |  SELECT 'revisit' FROM nation, UNNEST(generate_series(0, 7)) AS u(i)
          |  WHERE i % 3 = 1
          |  UNION ALL
          |  SELECT 'request' FROM nation, UNNEST(generate_series(0, 7)) AS u(i)
          |  WHERE i % 3 = 2
          |)
          |SELECT reason, CAST(COUNT(*) AS BIGINT) AS n
          |FROM reasons GROUP BY reason""".stripMargin
      )
    ),

    // The drop-reasons ledger ON THE WIRE — q_crawl_ledger's byte-path
    // twin over a mixed-encoding archive: the string-path ledger would
    // misread a gzip- or brotli-encoded body (binary → the strict
    // UTF-8 container decode NULLs it) as a TORN fetch; the byte path
    // runs the real decode chain, so encoded-but-decodable records
    // classify exactly as their plain twins and the out-of-contract
    // `Content-Encoding: br` records (appended under their own URIs)
    // land in the 'encoding' stage — undecodable-body pages become a
    // VISIBLE, counted loss instead of polluting the torn bucket. The
    // NULL-text stage is SPLIT by cause: a wire coding the chain can't
    // inflate is 'encoding'; bytes that arrived fine but whose
    // DECLARED charset is out of contract or fails its strict decode
    // are 'charset' — two different remediations (add a decoder vs
    // distrust the server). The shift_jis records planted next to the
    // br ones prove the charset bucket SHRANK when the CJK family
    // landed: they decode now, so they count in 'admitted', while the
    // utf-7 records stay in 'charset'. All other stage counts are
    // byte-identical to the plain ledger's oracle arms.
    Q(
      "q_crawl_ledger_wire",
      (spark, dir) => {
        val warc = (k: Long) =>
          graft.operators.Warc.syntheticWarcCrawl(k, 8,
            withNonResponses = true, withEncodings = true,
            badEncodingEvery = 3)
        val robotsTxt = "User-agent: *\nDisallow: /a1\n"
        val rules = graft.operators.Robots.effectiveRules(
          (0 until 5).flatMap(m =>
            graft.operators.Robots.parseRobots(s"site$m.example", robotsTxt)),
          "graftbot")
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("__early"), col("canon"))
          .orderBy(col("media_id").asc, col("rec_idx").asc)
        val out = graft.operators.Warc.httpLedgerBytes(
          graft.operators.Warc.recordsBinary(
            Q.fixture(Q.nationKeys(spark, dir, "media_id"), "media_id", "payload")(warc),
            "media_id", "payload"))
          .withColumn("canon",
            graft.functions.GraftFunctions.urlCanon(col("target_uri")))
          .withColumn("__early",
            when(col("warc_type") =!= "response", col("warc_type"))
              .when(col("status") === -1, lit("torn"))
              .when(col("status") =!= 200, lit("http_status"))
              .when(col("content_type") =!= "text/html", lit("content_type"))
              // the ledger's body_decoded marker splits NULL text by
              // CAUSE: the wire layer lost the bytes (torn chunk,
              // corrupt gzip, out-of-contract coding) vs the bytes
              // arrived and the declared charset refused
              .when(col("text").isNull && !col("body_decoded"),
                lit("encoding"))
              .when(col("text").isNull, lit("charset"))
              .when(col("canon").isNull, lit("canon"))
              .when(!graft.operators.Robots.allowedColumn(rules,
                expr("parse_url(canon, 'HOST')"),
                expr("parse_url(canon, 'PATH')")), lit("robots")))
          .withColumn("__rn", row_number().over(w))
          .withColumn("reason",
            coalesce(col("__early"),
              when(col("__rn") > 1, lit("duplicate")).otherwise(lit("admitted"))))
          .groupBy(col("reason")).agg(count(lit(1)).as("n"))
        Q.requireMaxShuffles(out, 2)
        out
      },
      Some(
        """WITH rows0 AS (
          |  SELECT CAST(n_nationkey AS BIGINT) AS media_id, i AS rec_idx,
          |    (n_nationkey + i) % 5 AS m, CAST(i % 4 AS INT) AS arm,
          |    (n_nationkey + i - 1) % 5 AS mprev
          |  FROM nation, UNNEST(generate_series(0, 7)) AS u(i)
          |), rows1 AS (
          |  SELECT media_id, rec_idx,
          |    CASE WHEN arm = 3
          |      THEN 'http://site' || CAST(mprev AS VARCHAR) || '.example/a2/p/'
          |           || CAST(rec_idx - 1 AS VARCHAR)
          |      ELSE 'http://site' || CAST(m AS VARCHAR) || '.example/a'
          |           || CAST(arm AS VARCHAR) || '/p/' || CAST(rec_idx AS VARCHAR)
          |    END AS canon,
          |    CASE WHEN (media_id + rec_idx) % 7 = 2 THEN 'http_status'
          |         WHEN (media_id + rec_idx) % 5 = 3 THEN 'content_type'
          |         WHEN (CASE WHEN arm = 3 THEN 2 ELSE arm END) = 1 THEN 'robots'
          |         ELSE NULL END AS early
          |  FROM rows0
          |), cand AS (
          |  SELECT canon, ROW_NUMBER() OVER (
          |    PARTITION BY canon ORDER BY media_id, rec_idx) AS rn
          |  FROM rows1 WHERE early IS NULL
          |), reasons AS (
          |  SELECT early AS reason FROM rows1 WHERE early IS NOT NULL
          |  UNION ALL
          |  SELECT CASE WHEN rn > 1 THEN 'duplicate' ELSE 'admitted' END FROM cand
          |  UNION ALL
          |  SELECT 'revisit' FROM nation, UNNEST(generate_series(0, 7)) AS u(i)
          |  WHERE i % 3 = 1
          |  UNION ALL
          |  SELECT 'request' FROM nation, UNNEST(generate_series(0, 7)) AS u(i)
          |  WHERE i % 3 = 2
          |  UNION ALL
          |  SELECT 'encoding' FROM nation, UNNEST(generate_series(0, 7)) AS u(i)
          |  WHERE i % 3 = 1
          |  UNION ALL
          |  SELECT 'admitted' FROM nation, UNNEST(generate_series(0, 7)) AS u(i)
          |  WHERE i % 3 = 2
          |  UNION ALL
          |  SELECT 'charset' FROM nation, UNNEST(generate_series(0, 7)) AS u(i)
          |  WHERE i % 3 = 0
          |)
          |SELECT reason, CAST(COUNT(*) AS BIGINT) AS n
          |FROM reasons GROUP BY reason""".stripMargin
      )
    ),

    // The WARC-INGEST flagship — q_web_pipeline extended one stage
    // EARLIER and one honesty level DEEPER: payloads arrive GZIPPED
    // (how web corpora actually ship), so the chain is gunzip →
    // HTML-strip → NFC-normalize → quality floor → domain screen →
    // exact dedup on the NORMALIZED text. Three planted failure modes
    // prove each stage: every 13th payload is truncated mid-gzip (the
    // CRC check drops it at decode, never an exception); every
    // doc_id%10=3 document re-enters shifted by 3·10^9 (a multiple of
    // 15 — same domain as its original) with its dedup marker in
    // DECOMPOSED form where the original's is composed — without the
    // NFC stage the digests differ and every copy would leak through
    // dedup; with it, a copy survives only when its original was
    // corrupt-dropped (deterministic, oracle-mirrored). Gunzip, strip,
    // NFC and the screens are all map-side (two of them native codegen
    // expressions); the corpus crosses the wire exactly ONCE — the
    // digest exchange — typed-asserted.
    Q(
      "q_warc_pipeline",
      (spark, dir) => {
        val docs = Q.t(spark, dir, "documents").select(col("doc_id"), col("text"))
        val base = docs
          .select(col("doc_id"), concat(col("text"), lit(" z\u00e9")).as("text"))
          .unionByName(docs.filter(col("doc_id") % 10 === 3)
            .select((col("doc_id") + 3000000000L).as("doc_id"),
              concat(col("text"), lit(" ze\u0301")).as("text")))
        val html = concat(
          lit("<html><head><style>p{color:red}</style>" +
            "<script type=\"text/js\">var x = 1 < 2;</script></head>"),
          lit("<body><!-- note --><h1 class=\"t\">T</h1><p>"),
          col("text"),
          lit("</p><p>&amp;lt; &lt;tag&gt; &quot;q&quot; &#39;s&#39;&nbsp;end</p>" +
            "</body></html>"))
        val gz = udf((id: Long, s: String) =>
          graft.operators.Multimodal.syntheticGzipText(
            s, if (id % 13 == 5) 10 else -1))
        val screened = base
          .select(col("doc_id"),
            graft.functions.GraftFunctions
              .gunzip(gz(col("doc_id"), html)).as("__html"))
          .filter(col("__html").isNotNull)
          .select(col("doc_id"),
            graft.functions.GraftFunctions
              .nfc(TextAnalysis.stripHtml(col("__html"))).as("clean_text"),
            graphDomainOf(col("doc_id")).as("domain"))
          .filter(!col("domain").isin("beta.co.uk", "delta.com", "epsilon.org"))
          .withColumn("n_tokens", TextAnalysis.tokenCount(col("clean_text")).cast("long"))
          .filter(col("n_tokens") >= 40L)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(sha2(col("clean_text"), 256))
        val out = screened
          .withColumn("keeper", min(col("doc_id")).over(w))
          .filter(col("doc_id") === col("keeper"))
          .select(col("doc_id"), col("domain"), col("n_tokens"))
        Q.requireMaxShuffles(out, 1)
        out
      },
      Some(
        s"""WITH base AS (
           |  SELECT doc_id, text || ' z' || chr(233) AS text FROM documents
           |  UNION ALL
           |  SELECT doc_id + 3000000000, text || ' ze' || chr(769)
           |  FROM documents WHERE doc_id % 10 = 3
           |), ok AS (
           |  SELECT * FROM base WHERE doc_id % 13 <> 5
           |), cl AS (
           |  SELECT doc_id,
           |    nfc_normalize(
           |      TRIM(regexp_replace('T ' || text || ' &lt; <tag> "q" ''s'' end',
           |                          '\\s+', ' ', 'g'))) AS clean_text,
           |    ${domainSql("doc_id")} AS domain
           |  FROM ok
           |), scr AS (
           |  SELECT doc_id, clean_text, domain,
           |    CAST(len(regexp_split_to_array(clean_text, '\\s+')) AS BIGINT) AS n_tokens
           |  FROM cl
           |  WHERE domain NOT IN ('beta.co.uk', 'delta.com', 'epsilon.org')
           |    AND len(regexp_split_to_array(clean_text, '\\s+')) >= 40
           |), ded AS (
           |  SELECT doc_id, domain, n_tokens,
           |    MIN(doc_id) OVER (PARTITION BY clean_text) AS keeper
           |  FROM scr
           |)
           |SELECT doc_id, domain, n_tokens FROM ded WHERE doc_id = keeper""".stripMargin
      )
    ),

    // The v3 flagship's AUDIT artifact: every document attributed to
    // the FIRST decision that dropped it — 'ppl_tail' (the language's
    // perplexity tail tercile) → 'dsir_offtarget' (below the centered
    // screen's neutral point) → 'kept'. Same Profile.dropReasons
    // operator as the v1 audit; stage survivor sets are the SAME
    // operator calls as q_curation_v3, and the oracle composes the
    // gated CTE chains verbatim — the "why was my document dropped"
    // record for the new decision layer.
    Q(
      "q_drop_reasons_v3",
      (spark, dir) => {
        val docs = Q.t(spark, dir, "documents")
        val rated = TextAnalysis.unigramSurprisal(docs, "doc_id", "text")
          .withColumn("rate_q",
            floor(col("nll_tab") / col("n_tokens").cast("double") * lit(1048576.0))
              .cast("long"))
          .join(docs.select(col("doc_id"), col("lang")), col("id") === col("doc_id"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("lang")).orderBy(col("rate_q").desc, col("doc_id").asc)
        val pplKeep = rated.withColumn("t", ntile(3).over(w))
          .filter(col("t") <= 2).select(col("doc_id"))
        val pplKept = docs.join(pplKeep, Seq("doc_id"), "left_semi")
        val deltas = Sampling.dsirModelArrayCentered(
          Sampling.dsirBucketModel(
            docs.filter(col("doc_id") % 2 === 0), "text",
            isTarget = col("lang") === "en", buckets = 64), 64)
        val dsirKept = pplKept.filter(
          floor((Sampling.dsirScore(col("text"), deltas.toSeq, 64) /
            size(TextAnalysis.tokens(col("text"))).cast("double")) * lit(1048576.0))
            .cast("long") >= 0L)
        Profile.dropReasons(docs, "doc_id", Seq(
          "ppl_tail" -> pplKept,
          "dsir_offtarget" -> dsirKept))
      },
      Some(
        s"""WITH $UnigramSurCtes, ppr AS (
           |  SELECT s.id AS doc_id, d.lang,
           |    CAST(FLOOR(s.nll_tab / CAST(s.n_tokens AS DOUBLE) * 1048576.0) AS BIGINT) AS rate_q
           |  FROM sur s JOIN documents d ON s.id = d.doc_id
           |), ppk AS (
           |  SELECT doc_id FROM (
           |    SELECT doc_id,
           |      ntile(3) OVER (PARTITION BY lang ORDER BY rate_q DESC, doc_id) AS t
           |    FROM ppr)
           |  WHERE t <= 2
           |), $DsirScreenCtes
           |SELECT d.doc_id,
           |  CASE WHEN d.doc_id NOT IN (SELECT doc_id FROM ppk) THEN 'ppl_tail'
           |       WHEN d.doc_id IN (
           |         SELECT doc_id FROM sc
           |         WHERE CAST(FLOOR(score / CAST(n_tokens AS DOUBLE) * 1048576.0) AS BIGINT) < 0)
           |         THEN 'dsir_offtarget'
           |       ELSE 'kept' END AS drop_stage
           |FROM documents d""".stripMargin
      )
    ),

    // Incremental DSIR model maintenance: bucket counts are ADDITIVE,
    // so merging the even-half and odd-half models must equal a refit
    // on the full corpus BIT-EXACTLY — and the oracle IS the full-
    // corpus refit (the shared DsirCtes model chain), so merge==refit
    // is pinned in the hash itself. This is what lets the model live
    // as a mergeable per-ingest-batch artifact at 100 TB: fit each
    // delta, merge decision tables, never rescan history.
    Q(
      "q_dsir_merge",
      (spark, dir) => {
        val docs = Q.t(spark, dir, "documents")
        def half(p: Int) = Sampling.dsirBucketModel(
          docs.filter(col("doc_id") % 2 === p), "text",
          isTarget = col("lang") === "en", buckets = 64)
        Sampling.dsirMergeModels(half(0), half(1))
          .select(col("__b").as("b"), col("__ct").as("ct"),
            col("__cr").as("cr"), col("__delta").as("delta"))
      },
      Some(
        s"""WITH $DsirCtes
           |SELECT b, ct, cr, delta FROM dbt JOIN ddl USING (b)""".stripMargin
      )
    ),

    // DSIR model-DRIFT trigger — closing the DSIR loop the way IVF/PQ
    // already are (q_pq_drift): the STALE model (fitted on the even-id
    // training half) rates both its own training corpus and the "new"
    // odd-id batch; a keep-rate drop past 100‰ (cross-multiplied
    // integers — no float thresholding) emits the integer refit
    // decision, and the candidate refit model is built by MERGING the
    // stale model with a batch-only fit (dsirMergeModels == full refit
    // bit-exactly, the property q_dsir_merge pins) — never by
    // rescanning history. The oracle runs the gated screen chain twice
    // (stale fit pred, union fit pred) via the parameterized CTEs, so
    // the drift decision cannot drift from the screen it monitors.
    Q(
      "q_dsir_drift",
      (spark, dir) => {
        val docs = Q.t(spark, dir, "documents")
        val even = docs.filter(col("doc_id") % 2 === 0)
        val odd = docs.filter(col("doc_id") % 2 === 1)
        // 64-row decision tables: localize the stale model once so the
        // centered-array collect and the merge reuse one computation
        val m0f = Sampling.dsirBucketModel(even, "text",
          isTarget = col("lang") === "en", buckets = 64)
        val m0 = spark.createDataFrame(m0f.collectAsList(), m0f.schema)
        val m1 = Sampling.dsirMergeModels(
          m0, Sampling.dsirBucketModel(odd, "text",
            isTarget = col("lang") === "en", buckets = 64))
        val stale = Sampling.dsirModelArrayCentered(m0, 64)
        val refit = Sampling.dsirModelArrayCentered(m1, 64)
        def kept(c: org.apache.spark.sql.DataFrame, deltas: Array[Double]) =
          c.filter(
            floor(Sampling.dsirScore(col("text"), deltas.toSeq, 64) /
              size(TextAnalysis.tokens(col("text"))).cast("double") *
              lit(1048576.0)).cast("long") >= 0L)
        val out = even.agg(count(lit(1)).as("n_train"))
          .crossJoin(kept(even, stale).agg(count(lit(1)).as("keep_train")))
          .crossJoin(odd.agg(count(lit(1)).as("n_new")))
          .crossJoin(kept(odd, stale).agg(count(lit(1)).as("keep_new")))
          .crossJoin(kept(odd, refit).agg(count(lit(1)).as("keep_new_refit")))
          .withColumn("refit",
            lit(1000L) * (col("keep_train") * col("n_new") -
              col("keep_new") * col("n_train")) >
              lit(100L) * col("n_train") * col("n_new"))
        out
      },
      Some(
        s"""WITH lnt AS (SELECT $LnTabSql AS l),
           |$DsirScreenCtes,
           |${dsirScreenCtesFrom("TRUE", "r")},
           |ks AS (
           |  SELECT
           |    SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS n_train,
           |    SUM(CASE WHEN doc_id % 2 = 0 AND CAST(FLOOR(score /
           |      CAST(n_tokens AS DOUBLE) * 1048576.0) AS BIGINT) >= 0
           |      THEN 1 ELSE 0 END) AS keep_train,
           |    SUM(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS n_new,
           |    SUM(CASE WHEN doc_id % 2 = 1 AND CAST(FLOOR(score /
           |      CAST(n_tokens AS DOUBLE) * 1048576.0) AS BIGINT) >= 0
           |      THEN 1 ELSE 0 END) AS keep_new
           |  FROM sc
           |), kr AS (
           |  SELECT SUM(CASE WHEN doc_id % 2 = 1 AND CAST(FLOOR(score /
           |      CAST(n_tokens AS DOUBLE) * 1048576.0) AS BIGINT) >= 0
           |      THEN 1 ELSE 0 END) AS keep_new_refit
           |  FROM rsc
           |)
           |SELECT CAST(n_train AS BIGINT) AS n_train,
           |  CAST(keep_train AS BIGINT) AS keep_train,
           |  CAST(n_new AS BIGINT) AS n_new,
           |  CAST(keep_new AS BIGINT) AS keep_new,
           |  CAST(keep_new_refit AS BIGINT) AS keep_new_refit,
           |  1000 * (keep_train * n_new - keep_new * n_train)
           |    > 100 * n_train * n_new AS refit
           |FROM ks CROSS JOIN kr""".stripMargin
      )
    ),

    // Round-10 composed flagship: the NEW decision layer end to end —
    // CCNet perplexity cut (drop each language's tail tercile) →
    // centered DSIR screen (keep docs more target-like than the raw
    // mix, model fitted on the even-id half) → length-bucketed
    // batching of the survivors. Every stage is the SAME operator call
    // as its standalone gate, and the oracle composes the gated CTE
    // chains verbatim (UnigramSurCtes, DsirScreenCtes, the batching
    // arithmetic), so the flagship cannot drift from its parts. Output
    // is the per-survivor batch assignment — what a training run reads
    // to build its padded batches.
    Q(
      "q_curation_v3",
      (spark, dir) => {
        val docs = Q.t(spark, dir, "documents")
        val rated = TextAnalysis.unigramSurprisal(docs, "doc_id", "text")
          .withColumn("rate_q",
            floor(col("nll_tab") / col("n_tokens").cast("double") * lit(1048576.0))
              .cast("long"))
          .join(docs.select(col("doc_id"), col("lang")), col("id") === col("doc_id"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("lang")).orderBy(col("rate_q").desc, col("doc_id").asc)
        val pplKeep = rated.withColumn("t", ntile(3).over(w))
          .filter(col("t") <= 2).select(col("doc_id"))
        val deltas = Sampling.dsirModelArrayCentered(
          Sampling.dsirBucketModel(
            docs.filter(col("doc_id") % 2 === 0), "text",
            isTarget = col("lang") === "en", buckets = 64), 64)
        val surv = docs
          .join(pplKeep, Seq("doc_id"), "left_semi")
          .select(col("doc_id"),
            TextAnalysis.tokenCount(col("text")).as("len"),
            (Sampling.dsirScore(col("text"), deltas.toSeq, 64) /
              size(TextAnalysis.tokens(col("text"))).cast("double")).as("rate"))
          .filter(floor(col("rate") * lit(1048576.0)).cast("long") >= 0L)
        Sampling.lengthBatches(surv.select(col("doc_id"), col("len")),
            "doc_id", "len", bucketWidth = 16, batchSize = 8, shards = 4)
          .select(col("doc_id"), col("len"), col("bucket"), col("shard"),
            col("batch_id"))
      },
      Some {
        val pm = s"(doc_id % ${Sampling.P} + ${Sampling.P}) % ${Sampling.P}"
        s"""WITH $UnigramSurCtes, ppr AS (
           |  SELECT s.id AS doc_id, d.lang,
           |    CAST(FLOOR(s.nll_tab / CAST(s.n_tokens AS DOUBLE) * 1048576.0) AS BIGINT) AS rate_q
           |  FROM sur s JOIN documents d ON s.id = d.doc_id
           |), ppk AS (
           |  SELECT doc_id FROM (
           |    SELECT doc_id,
           |      ntile(3) OVER (PARTITION BY lang ORDER BY rate_q DESC, doc_id) AS t
           |    FROM ppr)
           |  WHERE t <= 2
           |), $DsirScreenCtes, surv AS (
           |  SELECT sc.doc_id,
           |    CAST(len(regexp_split_to_array(d.text, '\\s+')) AS BIGINT) AS len
           |  FROM sc
           |  JOIN documents d ON sc.doc_id = d.doc_id
           |  SEMI JOIN ppk ON sc.doc_id = ppk.doc_id
           |  WHERE CAST(FLOOR(score / CAST(n_tokens AS DOUBLE) * 1048576.0) AS BIGINT) >= 0
           |), sb AS (
           |  SELECT doc_id, len, CAST(len // 16 AS BIGINT) AS bucket,
           |    ($pm * ${Sampling.A} + ${Sampling.B}) % ${Sampling.P} % 4 AS shard
           |  FROM surv
           |), sr AS (
           |  SELECT doc_id, len, bucket, shard,
           |    ROW_NUMBER() OVER (PARTITION BY bucket, shard
           |      ORDER BY ($pm * 2246822519 + 604171) % ${Sampling.P} ASC, doc_id ASC) AS rn
           |  FROM sb
           |)
           |SELECT doc_id, len, bucket, shard,
           |  CAST((rn - 1) // 8 AS BIGINT) AS batch_id
           |FROM sr""".stripMargin
      }
    )
  )
}
