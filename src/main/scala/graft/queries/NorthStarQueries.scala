package graft.queries

import org.apache.spark.sql.functions._

import graft.operators.{Decontaminate, Dedup, Guard, Multimodal, Profile, Quantize, Sampling, Similarity, TextAnalysis}

/** North-star LLM-data-pipeline operators (BASELINE.json `north_star`)
  * over the `documents` / `embeddings` tables: dedup (exact, Jaccard,
  * MinHash+LSH, SimHash), similarity search (brute-force + IVF ANN,
  * cosine near-dup), text analysis (token counts, quality, lang-ID,
  * fingerprints), multimodal binary plumbing.
  *
  * Queries whose math is pure integer/single-division arithmetic carry a
  * DuckDB oracle. Ranked float results expose rank/ids only (float-sum
  * rounding is engine-specific; ranks are stable). MinHash/SimHash/IVF
  * land as rows-only checks here and are cross-checked against exact
  * baselines in DedupSpec/SimilaritySpec.
  */
object NorthStarQueries {

  /** q_image_decode's and q_image_resize's fixture: an 8x6 PPM per key. */
  private val ppm8x6: Long => Array[Byte] = Multimodal.syntheticPpm(_, 8, 6)

  /** q_audio_screen's and q_media_ledger's WAV per key: every 7th
    * truncated mid-header, every 5th silenced past the 44-byte header,
    * the rest the formula clip.
    */
  private def screenedWav(k: Long): Array[Byte] = {
    val b = Multimodal.syntheticWav(k, 1 + (k % 2).toInt, 8000, 96)
    if (k % 7 == 3) java.util.Arrays.copyOf(b, 20)
    else {
      if (k % 5 == 0) java.util.Arrays.fill(b, 44, b.length, 0.toByte)
      b
    }
  }

  /** Tokens, mirrored exactly in DuckDB as regexp_split_to_array. */
  private val SqlToks = "regexp_split_to_array(text, '\\s+')"

  private def markerCount(markers: Seq[String]): String =
    s"len(list_filter($SqlToks, t -> list_contains(${markers.mkString("['", "','", "']")}, t)))"

  /** Lang-ID as SQL: the left-to-right strictly-greater argmax of
    * `TextAnalysis.LangMarkers`, built from the seq (a CASE arm per
    * language, each requiring >= against every later language). The
    * leading NULL arm mirrors Spark's null propagation (NULL text →
    * NULL lang_pred) — without it a NULL row's all-NULL WHEN conditions
    * would fall through to the final ELSE.
    */
  private val LangCaseSql: String = {
    val scored = TextAnalysis.LangMarkers.map { case (lang, m) => lang -> markerCount(m) }
    // arm i: lang_i >= every later language (an earlier arm failing
    // implies some later language strictly beats all earlier ones), so
    // in-order evaluation reproduces the earliest-max fold exactly
    val arms = scored.init.zipWithIndex.map { case ((lang, expr), i) =>
      val laterGe = scored.drop(i + 1).map { case (_, later) => s"$expr >= $later" }
      s"WHEN ${laterGe.mkString(" AND ")} THEN '$lang'"
    }
    s"CASE WHEN text IS NULL THEN NULL ${arms.mkString(" ")} ELSE '${scored.last._1}' END"
  }

  /** Quality-score metric CTE columns + the score expression over them
    * (shared by q_text_quality and q_quality_filter).
    */
  private val QualityMetricsSql: String =
    s"""CAST(len($SqlToks) AS INT) AS n_tok,
       |    CAST(${markerCount(TextAnalysis.DefaultStopwords)} AS INT) AS n_stop,
       |    CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS INT) AS n_punct,
       |    CAST(length(text) AS INT) AS n_chars""".stripMargin

  private val QualityScoreSql: String =
    """least(CAST(n_tok AS DOUBLE) / 64.0, 1.0) * 0.5
      |    + least(CAST(n_stop AS DOUBLE) / CAST(n_tok AS DOUBLE) * 4.0, 1.0) * 0.4
      |    + (1.0 - least(CAST(n_punct AS DOUBLE) / CAST(n_chars AS DOUBLE) * 10.0, 1.0)) * 0.1""".stripMargin

  /** Oracle for the incremental near-dup screens — shared VERBATIM by
    * q_neardup_incremental (batch delta shape) and q_neardup_screen
    * (stream-static shape run in batch mode): both drop a delta doc iff
    * some indexed (< 400) doc shares an LSH band and full-signature
    * agreement ≥ 1/2, so one SQL pins both.
    */
  private lazy val NeardupScreenOracle: String = neardupScreenOracle()

  /** MinHash signature + band CTE chain over `src` (must expose
    * doc_id, text), prefixed `p` — ends in `${p}band(id, b, bv, sig)`.
    * Mirrors Dedup.minhashSignatures + the 8×4 banding exactly; shared
    * by every near-dup screen oracle.
    */
  private def sigCtes(src: String, p: String): String =
    s"""${p}toks AS (
         |  SELECT doc_id AS id, $SqlToks AS t FROM $src
         |), ${p}sh AS (
         |  SELECT id, list(shh) AS shs FROM (
         |    SELECT id,
         |      list_reduce(
         |        list_prepend(CAST(0 AS BIGINT),
         |          list_transform(str_split(array_to_string(t[i:i+2], ' '), ''),
         |                         c -> CAST(ascii(c) AS BIGINT))),
         |        (h, c) -> (h * ${Dedup.StrHashMult} + c) % ${Dedup.StrHashMod}) AS shh
         |    FROM ${p}toks, UNNEST(generate_series(1, len(t) - 2)) AS u(i))
         |  GROUP BY id
         |), ${p}sigs AS (
         |  SELECT id, list_transform(generate_series(0, 31), j ->
         |    list_min(list_transform(shs, x ->
         |      (x % ${Dedup.MinhashP} * ((2654435761 + 40503 * j) % ${Dedup.MinhashP})
         |       + (2246822519 + 604171 * j) % ${Dedup.MinhashP}) % ${Dedup.MinhashP}))) AS sig
         |  FROM ${p}sh
         |), ${p}band AS (
         |  SELECT id, b, sig[b * 4 + 1 : b * 4 + 4] AS bv, sig
         |  FROM ${p}sigs CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS b) ub
         |)""".stripMargin

  private def neardupScreenOracle(
      corpusWhere: String = "doc_id < 400"): String =
    s"""WITH corpus AS (SELECT doc_id, text FROM documents WHERE $corpusWhere),
       |delta AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id >= 400
       |  UNION ALL
       |  SELECT doc_id + 300000, text || ' zz' FROM documents WHERE doc_id < 15
       |),
       |${sigCtes("corpus", "c")},
       |${sigCtes("delta", "d")},
       |cand AS (
       |  SELECT DISTINCT d.id AS did, d.sig AS dsig, c.id AS cid, c.sig AS csig
       |  FROM dband d JOIN cband c ON d.b = c.b AND d.bv = c.bv
       |), dropped AS (
       |  SELECT DISTINCT did FROM cand
       |  WHERE CAST(len(list_filter(generate_series(1, 32), i -> dsig[i] = csig[i])) AS DOUBLE)
       |        / CAST(32 AS DOUBLE) >= 0.5
       |)
       |SELECT doc_id, text FROM delta
       |WHERE doc_id NOT IN (SELECT did FROM dropped)""".stripMargin

  /** Shared CTE chain computing the 3-gram Jaccard near-dup pairs at
    * threshold 0.4, ending in `jpairs(id_a, id_b, n_a, n_b, n_common,
    * jaccard)`. Mirrors `Dedup.jaccardPairs` exactly. `src` must expose
    * (doc_id, text).
    */
  private def jaccardCtes(src: String): String =
    s"""toks AS (
       |  SELECT doc_id AS id, $SqlToks AS t FROM $src
       |), sh AS (
       |  SELECT DISTINCT id,
       |    list_reduce(
       |      list_prepend(CAST(0 AS BIGINT),
       |        list_transform(str_split(array_to_string(t[i:i+2], ' '), ''),
       |                       c -> CAST(ascii(c) AS BIGINT))),
       |      (h, c) -> (h * 131 + c) % ${Dedup.StrHashMod}) AS sh
       |  FROM toks, UNNEST(generate_series(1, len(t) - 2)) AS u(i)
       |), sizes AS (
       |  SELECT id, COUNT(*) AS n_sh FROM sh GROUP BY id
       |), filtered AS (
       |  SELECT * FROM (
       |    SELECT id, sh, COUNT(*) OVER (PARTITION BY sh) AS freq FROM sh)
       |  WHERE freq <= ${Dedup.MaxShingleFreq}
       |), common AS (
       |  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_common
       |  FROM filtered a JOIN filtered b ON a.sh = b.sh AND a.id < b.id
       |  GROUP BY a.id, b.id
       |), jpairs AS (
       |  SELECT id_a, id_b, sa.n_sh AS n_a, sb.n_sh AS n_b, n_common,
       |         CAST(n_common AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) AS jaccard
       |  FROM common
       |  JOIN sizes sa ON sa.id = id_a
       |  JOIN sizes sb ON sb.id = id_b
       |  WHERE CAST(n_common AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) >= 0.4
       |)""".stripMargin

  /** The flagship pipeline's full CTE chain — quality/lang filter
    * (`qf`), exact dedup (`exq`), near-dup canon (`canon`), benchmark
    * contamination hits (`hits`) — shared VERBATIM by
    * q_corpus_pipeline (which selects the survivors) and
    * q_drop_reasons (which attributes every document to its dropping
    * stage), so the audit cannot drift from the pipeline it explains.
    */
  private lazy val FlagshipCtes: String =
    s"""WITH RECURSIVE m AS (
       |  SELECT doc_id, lang, text,
       |    $LangCaseSql AS lang_pred,
       |    $QualityMetricsSql
       |  FROM documents
       |), qf AS (
       |  SELECT doc_id, lang, text FROM m
       |  WHERE lang_pred = lang AND n_tok BETWEEN 8 AND 4096
       |    AND $QualityScoreSql >= 0.5
       |), exq AS (
       |  SELECT q.doc_id, q.lang, q.text FROM qf q
       |  JOIN (SELECT MIN(doc_id) AS doc_id FROM qf GROUP BY sha256(text)) e USING (doc_id)
       |), ${jaccardCtes("exq")},
       |edges AS (
       |  SELECT id_a AS u, id_b AS v FROM jpairs
       |  UNION ALL SELECT id_b, id_a FROM jpairs
       |), reach(u, v) AS (
       |  SELECT u, v FROM edges
       |  UNION
       |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
       |), canon AS (
       |  SELECT d.doc_id, d.lang, d.text FROM exq d
       |  WHERE d.doc_id <= COALESCE((SELECT MIN(r.v) FROM reach r WHERE r.u = d.doc_id),
       |                             d.doc_id)
       |), btoks AS (
       |  SELECT doc_id AS id, $SqlToks AS t FROM documents WHERE doc_id < 20
       |), bsh5 AS (
       |  SELECT DISTINCT
       |    list_reduce(
       |      list_prepend(CAST(0 AS BIGINT),
       |        list_transform(str_split(array_to_string(t[i:i+4], ' '), ''),
       |                       c -> CAST(ascii(c) AS BIGINT))),
       |      (h, c) -> (h * ${Dedup.StrHashMult} + c) % ${Dedup.StrHashMod}) AS sh
       |  FROM btoks, UNNEST(generate_series(1, len(t) - 4)) AS u(i)
       |), ctoks AS (
       |  SELECT doc_id AS id, $SqlToks AS t FROM canon
       |), csh5 AS (
       |  SELECT DISTINCT id,
       |    list_reduce(
       |      list_prepend(CAST(0 AS BIGINT),
       |        list_transform(str_split(array_to_string(t[i:i+4], ' '), ''),
       |                       c -> CAST(ascii(c) AS BIGINT))),
       |      (h, c) -> (h * ${Dedup.StrHashMult} + c) % ${Dedup.StrHashMod}) AS sh
       |  FROM ctoks, UNNEST(generate_series(1, len(t) - 4)) AS u(i)
       |), hits AS (
       |  SELECT DISTINCT id FROM csh5 JOIN bsh5 USING (sh)
       |)""".stripMargin

  /** [[jaccardCtes]]'s asymmetric twin ending in `cpairs` — same
    * shared-shingle candidates and hot-cap semantics, containment
    * (|A∩B| / min) instead of Jaccard.
    */
  private def containmentCtes(src: String, threshold: Double): String =
    s"""toks AS (
       |  SELECT doc_id AS id, $SqlToks AS t FROM $src
       |), sh AS (
       |  SELECT DISTINCT id,
       |    list_reduce(
       |      list_prepend(CAST(0 AS BIGINT),
       |        list_transform(str_split(array_to_string(t[i:i+2], ' '), ''),
       |                       c -> CAST(ascii(c) AS BIGINT))),
       |      (h, c) -> (h * 131 + c) % ${Dedup.StrHashMod}) AS sh
       |  FROM toks, UNNEST(generate_series(1, len(t) - 2)) AS u(i)
       |), sizes AS (
       |  SELECT id, COUNT(*) AS n_sh FROM sh GROUP BY id
       |), filtered AS (
       |  SELECT * FROM (
       |    SELECT id, sh, COUNT(*) OVER (PARTITION BY sh) AS freq FROM sh)
       |  WHERE freq <= ${Dedup.MaxShingleFreq}
       |), common AS (
       |  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_common
       |  FROM filtered a JOIN filtered b ON a.sh = b.sh AND a.id < b.id
       |  GROUP BY a.id, b.id
       |), cpairs AS (
       |  SELECT id_a, id_b, sa.n_sh AS n_a, sb.n_sh AS n_b, n_common,
       |         CAST(n_common AS DOUBLE) / CAST(LEAST(sa.n_sh, sb.n_sh) AS DOUBLE) AS containment
       |  FROM common
       |  JOIN sizes sa ON sa.id = id_a
       |  JOIN sizes sb ON sb.id = id_b
       |  WHERE CAST(n_common AS DOUBLE) / CAST(LEAST(sa.n_sh, sb.n_sh) AS DOUBLE) >= $threshold
       |)""".stripMargin

  /** Shared CTE chain ending in `sigs(id, sig)` — the k=32 MinHash
    * signature over 3-gram shingle hashes, mirroring
    * `Dedup.minhashSignatures` (docs with fewer than 3 tokens are
    * absent, matching its null-signature filter; duplicate shingles
    * don't disturb the mins).
    */
  private val MinhashSigCtes: String =
    s"""toks AS (
       |  SELECT doc_id AS id, $SqlToks AS t FROM documents
       |), sh AS (
       |  SELECT id, list(shh) AS shs FROM (
       |    SELECT id,
       |      list_reduce(
       |        list_prepend(CAST(0 AS BIGINT),
       |          list_transform(str_split(array_to_string(t[i:i+2], ' '), ''),
       |                         c -> CAST(ascii(c) AS BIGINT))),
       |        (h, c) -> (h * ${Dedup.StrHashMult} + c) % ${Dedup.StrHashMod}) AS shh
       |    FROM toks, UNNEST(generate_series(1, len(t) - 2)) AS u(i))
       |  GROUP BY id
       |), sigs AS (
       |  SELECT id, list_transform(generate_series(0, 31), j ->
       |    list_min(list_transform(shs, x ->
       |      (x % ${Dedup.MinhashP} * ((2654435761 + 40503 * j) % ${Dedup.MinhashP})
       |       + (2246822519 + 604171 * j) % ${Dedup.MinhashP}) % ${Dedup.MinhashP}))) AS sig
       |  FROM sh
       |)""".stripMargin

  val all: Seq[Q] = Seq(

    // ----------------------------------------------------- text analysis

    Q(
      "q_token_count",
      (spark, dir) =>
        Q.t(spark, dir, "documents").select(
          col("doc_id"),
          TextAnalysis.tokenCount(col("text")).as("n_tok"),
          TextAnalysis.subwordCount(col("text")).as("n_subword")
        ),
      Some(
        s"""SELECT doc_id,
           |  CAST(len($SqlToks) AS INT) AS n_tok,
           |  CAST(len(list_filter(regexp_split_to_array(text, '[^A-Za-z0-9'']+'), c -> c <> ''))
           |     + len(list_filter(regexp_split_to_array(text, '[A-Za-z0-9''\\s]+'), c -> c <> '')) AS INT) AS n_subword
           |FROM documents""".stripMargin
      )
    ),

    Q(
      "q_text_quality",
      (spark, dir) =>
        Q.t(spark, dir, "documents").select(
          col("doc_id"),
          TextAnalysis.tokenCount(col("text")).as("n_tok"),
          TextAnalysis.stopwordCount(col("text")).as("n_stop"),
          TextAnalysis.punctCount(col("text")).as("n_punct"),
          TextAnalysis.qualityScore(col("text")).as("quality")
        ),
      Some(
        s"""WITH m AS (
           |  SELECT doc_id,
           |    $QualityMetricsSql
           |  FROM documents)
           |SELECT doc_id, n_tok, n_stop, n_punct,
           |  $QualityScoreSql
           |    AS quality
           |FROM m""".stripMargin
      )
    ),

    // Model-based filtering: linear quality-classifier inference (the
    // fastText-shaped filter that follows the heuristic pre-filter).
    // Integer milli-weights over the integer quality features keep the
    // logit in pure Int64; the only double is one final /1000 division.
    // keep is the logit's sign, emitted as 0/1.
    Q(
      "q_quality_classifier",
      (spark, dir) =>
        Q.t(spark, dir, "documents")
          .select(
            col("doc_id"),
            TextAnalysis.classifierLogitMilli(col("text")).as("lm"))
          .select(
            col("doc_id"),
            (col("lm").cast("double") / lit(1000.0)).as("logit"),
            (col("lm") >= 0).cast("int").as("keep")),
      Some(
        s"""WITH m AS (
           |  SELECT doc_id,
           |    CAST(len($SqlToks) AS BIGINT) * 5
           |    + CAST(${markerCount(TextAnalysis.DefaultStopwords)} AS BIGINT) * 50
           |    + CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS BIGINT) * -40
           |    + CAST(length(text) AS BIGINT) * 1
           |    + -800 AS lm
           |  FROM documents)
           |SELECT doc_id, CAST(lm AS DOUBLE) / 1000.0 AS logit,
           |  CAST(lm >= 0 AS INT) AS keep
           |FROM m""".stripMargin
      )
    ),

    // Curriculum staging: each language's docs split into 4 quality
    // bands by rank arithmetic (stage 0 = best quarter). The quality
    // score is the engine-exact heuristic (pinned by q_text_quality),
    // so ranking and band assignment are deterministic in both engines.
    Q(
      "q_curriculum",
      (spark, dir) =>
        graft.operators.Sampling.curriculumStages(
          Q.t(spark, dir, "documents")
            .select(col("doc_id"), col("lang"),
              TextAnalysis.qualityScore(col("text")).as("quality")),
          "lang", "quality", "doc_id", stages = 4)
          .select(col("doc_id"), col("lang"), col("stage")),
      Some(
        s"""WITH m AS (
           |  SELECT doc_id, lang,
           |    $QualityMetricsSql
           |  FROM documents
           |), q AS (
           |  SELECT doc_id, lang,
           |    $QualityScoreSql
           |      AS quality
           |  FROM m
           |), r AS (
           |  SELECT doc_id, lang,
           |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY quality DESC, doc_id) AS rn,
           |    COUNT(*) OVER (PARTITION BY lang) AS n
           |  FROM q)
           |SELECT doc_id, lang, CAST(((rn - 1) * 4) // n AS INT) AS stage
           |FROM r""".stripMargin
      )
    ),

    // Gopher-style repetition metrics per doc: duplicate-token and
    // duplicate-3-gram fractions (the looping/boilerplate signal).
    // Single deterministic int/int divisions — oracle-exact doubles.
    Q(
      "q_repetition_metrics",
      (spark, dir) =>
        Q.t(spark, dir, "documents").select(
          col("doc_id"),
          TextAnalysis.dupTokenFrac(col("text")).as("dup_tok_frac"),
          TextAnalysis.dupNgramFrac(col("text"), 3).as("dup_3gram_frac")),
      Some(
        s"""WITH t AS (SELECT doc_id, $SqlToks AS t FROM documents)
           |SELECT doc_id,
           |  1.0 - CAST(len(list_distinct(t)) AS DOUBLE) / CAST(len(t) AS DOUBLE) AS dup_tok_frac,
           |  CASE WHEN len(t) < 3 THEN 0.0 ELSE
           |    1.0 - CAST(len(list_distinct(list_transform(generate_series(1, len(t) - 2),
           |                i -> array_to_string(t[i:i+2], ' ')))) AS DOUBLE)
           |        / CAST(len(t) - 2 AS DOUBLE) END AS dup_3gram_frac
           |FROM t""".stripMargin
      )
    ),

    // PII scrub: email + phone spans redacted via an engine-portable
    // regex subset. The fixture text carries no PII, so the query
    // splices a synthetic contact tail onto each doc and redacts it —
    // exercising multi-match replacement over every row.
    Q(
      "q_redact_pii",
      (spark, dir) =>
        Q.t(spark, dir, "documents").select(
          col("doc_id"),
          TextAnalysis.redactPii(
            concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
              lit("@mail.example.com or 555-010-4242 now"))).as("clean")),
      Some(
        s"""SELECT doc_id,
           |  regexp_replace(regexp_replace(
           |    text || ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.com or 555-010-4242 now',
           |    '${TextAnalysis.EmailRe}', '<EMAIL>', 'g'),
           |    '${TextAnalysis.PhoneRe}', '<PHONE>', 'g') AS clean
           |FROM documents""".stripMargin
      )
    ),

    Q(
      "q_lang_id",
      (spark, dir) =>
        Q.t(spark, dir, "documents").select(
          col("doc_id"),
          col("lang"),
          TextAnalysis.langId(col("text")).as("lang_pred")
        ),
      Some(
        s"""SELECT doc_id, lang,
           |  $LangCaseSql AS lang_pred
           |FROM documents""".stripMargin
      )
    ),

    Q(
      "q_fingerprint",
      (spark, dir) =>
        Q.t(spark, dir, "documents").select(
          col("doc_id"),
          TextAnalysis.fingerprint(col("text")).as("fp")
        ),
      Some(
        s"""SELECT doc_id,
           |  list_reduce(
           |    list_prepend(CAST(0 AS BIGINT),
           |      list_transform(str_split(text, ''), c -> CAST(ascii(c) AS BIGINT))),
           |    (h, c) -> (h * 31 + c) % ${TextAnalysis.FingerprintMod}) AS fp
           |FROM documents""".stripMargin
      )
    ),

    // The classic pre-training filter chain: language + length +
    // quality thresholds in one scan-bound pass.
    Q(
      "q_quality_filter",
      (spark, dir) => {
        val d = Q.t(spark, dir, "documents")
        d.filter(
          TextAnalysis.langId(col("text")) === col("lang") &&
            TextAnalysis.tokenCount(col("text")).between(8, 4096) &&
            TextAnalysis.qualityScore(col("text")) >= 0.5)
          .select(col("doc_id"), col("lang"))
      },
      Some(
        s"""WITH m AS (
           |  SELECT doc_id, lang,
           |    $LangCaseSql AS lang_pred,
           |    $QualityMetricsSql
           |  FROM documents)
           |SELECT doc_id, lang FROM m
           |WHERE lang_pred = lang
           |  AND n_tok BETWEEN 8 AND 4096
           |  AND $QualityScoreSql
           |    >= 0.5""".stripMargin
      )
    ),

    // ------------------------------------------------------------- dedup

    Q(
      "q_dedup_exact",
      (spark, dir) =>
        Dedup.exactGroups(Q.t(spark, dir, "documents"), "doc_id", "text"),
      Some(
        """SELECT sha256(text) AS digest,
          |       MIN(doc_id) AS canonical_id, COUNT(*) AS n_copies
          |FROM documents GROUP BY sha256(text)""".stripMargin
      )
    ),

    // Normalization-aware exact dedup: crawled copies of one page
    // routinely differ only in case/whitespace, which byte-exact
    // digests treat as distinct. The gate plants both variant kinds
    // (upper-cased and whitespace-padded copies of real documents,
    // ids offset so they sort AFTER their originals) and groups on
    // the normalized digest — the canonical must be the ORIGINAL id
    // and the copy count must see through the variants. Same one
    // digest-keyed shuffle as q_dedup_exact; normalization is
    // map-side.
    Q(
      "q_dedup_normalized",
      (spark, dir) => {
        val docs = Q.t(spark, dir, "documents").select(col("doc_id"), col("text"))
        val uppered = docs.filter(col("doc_id") % 9 === 0)
          .select((col("doc_id") + 1000000).as("doc_id"), upper(col("text")).as("text"))
        val padded = docs.filter(col("doc_id") % 11 === 0)
          .select((col("doc_id") + 2000000).as("doc_id"),
            concat(lit("  "), regexp_replace(col("text"), " ", "   "), lit("\t")).as("text"))
        Dedup.normalizedGroups(
          docs.unionByName(uppered).unionByName(padded), "doc_id", "text")
      },
      Some(
        """WITH aug AS (
          |  SELECT doc_id, text FROM documents
          |  UNION ALL
          |  SELECT doc_id + 1000000, upper(text) FROM documents WHERE doc_id % 9 = 0
          |  UNION ALL
          |  SELECT doc_id + 2000000, '  ' || replace(text, ' ', '   ') || chr(9)
          |  FROM documents WHERE doc_id % 11 = 0
          |)
          |SELECT sha256(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS digest,
          |       MIN(doc_id) AS canonical_id, COUNT(*) AS n_copies
          |FROM aug GROUP BY 1""".stripMargin
      )
    ),

    // Incremental exact dedup — the corpus-maintenance lifecycle: the
    // <400 corpus is collapsed to a PERSISTED digest index; the delta
    // (the remaining docs + planted cross-batch copies of corpus texts
    // + planted within-delta copies) is screened against it without the
    // corpus ever being re-read. Survivors must equal the delta-side
    // survivors of a full rerun on the union (the oracle computes
    // exactly that shape): planted cross-batch copies die on the index
    // anti-join, within-delta copies die on the min-id group, fresh
    // texts survive.
    Q(
      "q_dedup_incremental",
      (spark, dir) => {
        val docs = Q.t(spark, dir, "documents").select(col("doc_id"), col("text"))
        val corpus = docs.filter(col("doc_id") < 400)
        val fresh = docs.filter(col("doc_id") >= 400)
        val crossDup = docs.filter(col("doc_id") < 30)
          .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
        val innerDup = fresh.filter(col("doc_id") < 420)
          .select((col("doc_id") + 200000L).as("doc_id"), col("text"))
        val delta = fresh.unionAll(crossDup).unionAll(innerDup)
        val scratch = Q.scratch("digidx")
        Dedup.digestIndex(corpus, "text")
          .write.mode("overwrite").parquet(scratch)
        Dedup.dedupDeltaExact(delta, "doc_id", "text",
          spark.read.parquet(scratch))
      },
      Some(
        """WITH delta AS (
          |  SELECT doc_id, text FROM documents WHERE doc_id >= 400
          |  UNION ALL
          |  SELECT doc_id + 100000, text FROM documents WHERE doc_id < 30
          |  UNION ALL
          |  SELECT doc_id + 200000, text FROM documents WHERE doc_id >= 400 AND doc_id < 420
          |), idx AS (
          |  SELECT DISTINCT sha256(text) AS digest FROM documents WHERE doc_id < 400
          |), canon AS (
          |  SELECT sha256(text) AS digest, MIN(doc_id) AS doc_id
          |  FROM delta GROUP BY 1
          |)
          |SELECT d.doc_id, d.text FROM delta d
          |JOIN (SELECT doc_id FROM canon WHERE digest NOT IN (SELECT digest FROM idx)) k
          |  USING (doc_id)""".stripMargin
      )
    ),

    // Incremental NEAR-dup maintenance: the < 400 corpus is collapsed
    // to a persisted MinHash SIGNATURE index (k·8 bytes/doc); the delta
    // (fresh docs + planted near-dups — corpus texts with a token
    // appended, high-Jaccard but not exact) is screened against it in
    // one band equi-join. est_jaccard is an exact rational (lanes/32),
    // so the 0.5 threshold compare is engine-deterministic; the oracle
    // mirrors signatures, banding, and the screen end to end.
    Q(
      "q_neardup_incremental",
      (spark, dir) => {
        val docs = Q.t(spark, dir, "documents").select(col("doc_id"), col("text"))
        val fresh = docs.filter(col("doc_id") >= 400)
        val planted = docs.filter(col("doc_id") < 15)
          .select((col("doc_id") + 300000L).as("doc_id"),
            concat(col("text"), lit(" zz")).as("text"))
        val delta = fresh.unionAll(planted)
        val scratch = Q.scratch("sigidx")
        Dedup.minhashSignatures(
            docs.filter(col("doc_id") < 400), "doc_id", "text", n = 3, k = 32)
          .write.mode("overwrite").parquet(scratch)
        Dedup.neardupDeltaScreen(delta, "doc_id", "text",
          spark.read.parquet(scratch))
      },
      Some(NeardupScreenOracle)
    ),

    // The INGEST-side twin of q_neardup_incremental: the same planted
    // delta screened by the stream-static shape
    // (StreamingDedup.neardupScreen — per-band LEFT joins against the
    // bucketed signature index + a higher-order exists, no streaming
    // state) run here in batch mode. Same oracle: the two screens are
    // semantically identical by construction (drop iff some indexed doc
    // shares a band AND est_jaccard ≥ 1/2); StreamingDedupSpec pins the
    // actual MemoryStream execution against the batch screen.
    Q(
      "q_neardup_screen",
      (spark, dir) => {
        val docs = Q.t(spark, dir, "documents").select(col("doc_id"), col("text"))
        val fresh = docs.filter(col("doc_id") >= 400)
        val planted = docs.filter(col("doc_id") < 15)
          .select((col("doc_id") + 300000L).as("doc_id"),
            concat(col("text"), lit(" zz")).as("text"))
        val delta = fresh.unionAll(planted)
        val scratch = Q.scratch("sigidx_screen")
        Dedup.minhashSignatures(
            docs.filter(col("doc_id") < 400), "doc_id", "text", n = 3, k = 32)
          .write.mode("overwrite").parquet(scratch)
        graft.streaming.StreamingDedup.neardupScreen(delta,
          graft.streaming.StreamingDedup.bucketSignatureIndex(
            spark.read.parquet(scratch), k = 32, bands = 8),
          "text")
      },
      Some(NeardupScreenOracle)
    ),

    // CONTENT takedown through the exact-dedup lifecycle: purge the
    // digests of the deleted texts from the persisted index, then
    // re-submit the whole corpus under fresh ids. Survivors are exactly
    // the takedown's texts (their digests are gone — re-entry restored)
    // collapsed to within-delta first occurrence; everything still
    // indexed dies on the screen. Oracle mirrors index-minus-purged.
    Q(
      "q_purge_digests",
      (spark, dir) => {
        val docs = Q.t(spark, dir, "documents").select(col("doc_id"), col("text"))
        val corpus = docs.filter(col("doc_id") < 400)
        val scratch = Q.scratch("digpurge")
        Dedup.digestIndex(corpus, "text")
          .write.mode("overwrite").parquet(scratch)
        Dedup.purgeDigests(spark.read.parquet(scratch),
            corpus.filter(col("doc_id") % 7 === 0), "text")
          .write.mode("overwrite").parquet(scratch + "_v2")
        val delta = corpus
          .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
        Dedup.dedupDeltaExact(delta, "doc_id", "text",
          spark.read.parquet(scratch + "_v2"))
      },
      Some(
        """WITH corpus AS (
          |  SELECT doc_id, text FROM documents WHERE doc_id < 400
          |), idx AS (
          |  SELECT DISTINCT sha256(text) AS digest FROM corpus
          |  WHERE sha256(text) NOT IN
          |    (SELECT sha256(text) FROM corpus WHERE doc_id % 7 = 0)
          |), delta AS (
          |  SELECT doc_id + 100000 AS doc_id, text FROM corpus
          |), canon AS (
          |  SELECT sha256(text) AS digest, MIN(doc_id) AS doc_id
          |  FROM delta GROUP BY 1
          |)
          |SELECT d.doc_id, d.text FROM delta d
          |JOIN (SELECT doc_id FROM canon
          |      WHERE digest NOT IN (SELECT digest FROM idx)) k
          |  USING (doc_id)""".stripMargin
      )
    ),

    // ID-scoped takedown through the NEAR-dup lifecycle: purge the
    // deleted doc ids' rows from the persisted signature index, then
    // run the standard delta screen. Near-dups of a removed doc
    // re-enter as novel unless some OTHER indexed doc still screens
    // them — the oracle is the shared screen SQL with the purged ids
    // removed from the corpus side, so the hash pins exactly that
    // semantics.
    Q(
      "q_purge_signatures",
      (spark, dir) => {
        val docs = Q.t(spark, dir, "documents").select(col("doc_id"), col("text"))
        val fresh = docs.filter(col("doc_id") >= 400)
        val planted = docs.filter(col("doc_id") < 15)
          .select((col("doc_id") + 300000L).as("doc_id"),
            concat(col("text"), lit(" zz")).as("text"))
        val delta = fresh.unionAll(planted)
        val scratch = Q.scratch("sigpurge")
        Dedup.minhashSignatures(
            docs.filter(col("doc_id") < 400), "doc_id", "text", n = 3, k = 32)
          .write.mode("overwrite").parquet(scratch)
        Dedup.purgeSignatures(spark.read.parquet(scratch),
            docs.filter(col("doc_id") < 400 && col("doc_id") % 11 === 0),
            "doc_id")
          .write.mode("overwrite").parquet(scratch + "_v2")
        Dedup.neardupDeltaScreen(delta, "doc_id", "text",
          spark.read.parquet(scratch + "_v2"))
      },
      Some(neardupScreenOracle("doc_id < 400 AND doc_id % 11 <> 0"))
    ),

    Q(
      "q_dedup_jaccard",
      (spark, dir) =>
        Dedup.jaccardPairs(Q.t(spark, dir, "documents"), "doc_id", "text",
          n = 3, threshold = 0.4),
      Some(
        s"""WITH ${jaccardCtes("documents")}
           |SELECT id_a, id_b, n_a, n_b, n_common, jaccard
           |FROM jpairs""".stripMargin
      )
    ),

    // Asymmetric containment dedup: |A∩B| / min(|A|,|B|) over the same
    // shared-shingle candidates — catches a document QUOTED or embedded
    // inside a larger one, which symmetric Jaccard structurally misses
    // (a fully-contained 100-shingle doc in a 1000-shingle doc scores
    // jaccard 0.1, containment 1.0). Same two-shuffle plan and
    // hot-shingle lower-bound semantics as q_dedup_jaccard.
    Q(
      "q_containment",
      (spark, dir) =>
        Dedup.containmentPairs(Q.t(spark, dir, "documents"), "doc_id", "text",
          n = 3, threshold = 0.5),
      Some(
        s"""WITH ${containmentCtes("documents", 0.5)}
           |SELECT id_a, id_b, n_a, n_b, n_common, containment
           |FROM cpairs""".stripMargin
      )
    ),

    // Connected components over the near-dup graph (min-label
    // propagation in Spark; transitive closure via recursive CTE in the
    // oracle).
    Q(
      "q_dedup_clusters",
      (spark, dir) =>
        Dedup.nearDupClusters(Q.t(spark, dir, "documents"), "doc_id", "text",
          n = 3, threshold = 0.4),
      Some(
        s"""WITH RECURSIVE ${jaccardCtes("documents")},
           |edges AS (
           |  SELECT id_a AS u, id_b AS v FROM jpairs
           |  UNION ALL SELECT id_b, id_a FROM jpairs
           |), reach(u, v) AS (
           |  SELECT u, v FROM edges
           |  UNION
           |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
           |)
           |SELECT d.doc_id AS id,
           |       LEAST(d.doc_id,
           |             COALESCE((SELECT MIN(r.v) FROM reach r WHERE r.u = d.doc_id),
           |                      d.doc_id)) AS cluster
           |FROM documents d""".stripMargin
      )
    ),

    // The end-to-end dedup step a pipeline ships: materialize the
    // corpus keeping only each near-dup cluster's canonical (min-id)
    // document.
    Q(
      "q_dedup_corpus",
      (spark, dir) =>
        Dedup.dropNearDupClusterMembers(
          Q.t(spark, dir, "documents"), "doc_id", "text",
          n = 3, threshold = 0.4)
          .select(col("doc_id"), col("lang"), col("n_chars")),
      Some(
        s"""WITH RECURSIVE ${jaccardCtes("documents")},
           |edges AS (
           |  SELECT id_a AS u, id_b AS v FROM jpairs
           |  UNION ALL SELECT id_b, id_a FROM jpairs
           |), reach(u, v) AS (
           |  SELECT u, v FROM edges
           |  UNION
           |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
           |)
           |SELECT d.doc_id, d.lang, d.n_chars
           |FROM documents d
           |WHERE d.doc_id <= COALESCE((SELECT MIN(r.v) FROM reach r WHERE r.u = d.doc_id),
           |                           d.doc_id)""".stripMargin
      )
    ),

    // QUALITY-canonical near-dup dedup: one representative per cluster
    // chosen by n_chars (argmax, id tie-break) instead of smallest id —
    // ship the best near-copy, not the first-crawled one. Clusters come
    // from the same min-label propagation q_dedup_clusters pins; the
    // oracle reruns the recursive transitive closure and picks the same
    // argmax (integer quality, so the window order is float-free).
    Q(
      "q_dedup_canonical",
      (spark, dir) =>
        Dedup.canonicalByQuality(Q.t(spark, dir, "documents"),
          "doc_id", "text", "n_chars", n = 3, threshold = 0.4)
          .withColumnRenamed("id", "doc_id"),
      Some(
        s"""WITH RECURSIVE ${jaccardCtes("documents")},
           |edges AS (
           |  SELECT id_a AS u, id_b AS v FROM jpairs
           |  UNION ALL SELECT id_b, id_a FROM jpairs
           |), reach(u, v) AS (
           |  SELECT u, v FROM edges
           |  UNION
           |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
           |), cl AS (
           |  SELECT d.doc_id AS id,
           |         LEAST(d.doc_id,
           |               COALESCE((SELECT MIN(r.v) FROM reach r WHERE r.u = d.doc_id),
           |                        d.doc_id)) AS cluster
           |  FROM documents d
           |)
           |SELECT cluster, doc_id, n_chars FROM (
           |  SELECT cl.cluster, d.doc_id, d.n_chars,
           |    ROW_NUMBER() OVER (PARTITION BY cl.cluster
           |                       ORDER BY d.n_chars DESC, d.doc_id ASC) AS rn
           |  FROM documents d JOIN cl ON cl.id = d.doc_id) t
           |WHERE rn = 1""".stripMargin
      )
    ),

    // Two-stage retrieval: truncated-dimension (matryoshka-style)
    // cosine generates 32 candidates per query at 1/4 the per-pair
    // cost, the full 64-dim exact cosine reranks to top-5 — the
    // retrieve-then-rerank shape. Both stages' ranks are
    // engine-deterministic (ordered dot folds, id tie-breaks);
    // SimilaritySpec pins recall vs single-stage exact.
    Q(
      "q_two_stage_rerank",
      (spark, dir) => {
        val emb = Q.t(spark, dir, "embeddings")
        Similarity.twoStageTopK(emb, emb.filter(col("vec_id") < 8),
          "vec_id", "embedding", dPrefix = 16, kCand = 32, k = 5)
      },
      Some {
        def cos(a: String, b: String) =
          s"""list_sum(list_transform(list_zip($a, $b), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
             |        / (sqrt(list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
             |         * sqrt(list_sum(list_transform($b, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))""".stripMargin
        s"""WITH pc AS (
           |  SELECT vec_id, embedding[1:16] AS p FROM embeddings
           |), cand AS (
           |  SELECT query_id, neighbor_id FROM (
           |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
           |        ${cos("q.p", "c.p")} DESC, c.vec_id ASC) AS rn
           |    FROM pc c CROSS JOIN (SELECT * FROM pc WHERE vec_id < 8) q
           |    WHERE c.vec_id <> q.vec_id) t
           |  WHERE rn <= 32
           |)
           |SELECT query_id, neighbor_id, CAST(rnk AS INT) AS rank FROM (
           |  SELECT ca.query_id, ca.neighbor_id,
           |    ROW_NUMBER() OVER (PARTITION BY ca.query_id ORDER BY
           |      ${cos("q.embedding", "c.embedding")} DESC, ca.neighbor_id ASC) AS rnk
           |  FROM cand ca
           |  JOIN embeddings c ON c.vec_id = ca.neighbor_id
           |  JOIN embeddings q ON q.vec_id = ca.query_id) t
           |WHERE rnk <= 5""".stripMargin
      }
    ),

    // Full MinHash+LSH oracle: signatures, banding, candidate pairs and
    // the estimated jaccard are all engine-portable integer arithmetic.
    // (Spark buckets band signatures through xxhash64 as a shuffle-key
    // optimization, then re-verifies exact band equality on the joined
    // signatures, so the candidate set matches the oracle's exactly —
    // hash collisions cannot diverge it.)
    Q(
      "q_dedup_minhash",
      (spark, dir) =>
        Dedup.minhashLshPairs(Q.t(spark, dir, "documents"), "doc_id", "text"),
      Some(
        s"""WITH $MinhashSigCtes, banded AS (
           |  SELECT id, sig, b, sig[b*4+1 : b*4+4] AS band_sig
           |  FROM sigs, UNNEST(generate_series(0, 7)) AS ub(b)
           |), cand AS (
           |  SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.sig AS sig_a, b.sig AS sig_b
           |  FROM banded a JOIN banded b ON a.b = b.b AND a.band_sig = b.band_sig AND a.id < b.id
           |)
           |SELECT id_a, id_b,
           |  CAST(len(list_filter(generate_series(1, 32), i -> sig_a[i] = sig_b[i])) AS DOUBLE) / 32.0 AS est_jaccard
           |FROM cand
           |WHERE CAST(len(list_filter(generate_series(1, 32), i -> sig_a[i] = sig_b[i])) AS DOUBLE) / 32.0 >= 0.5""".stripMargin
      )
    ),
    // SimHash oracles are exact: the DuckDB side recomputes XXH64
    // (seed 42) per token in HUGEINT wrap-around arithmetic
    // ([[OracleSql.xxh64Ctes]]), so hashes — and therefore every vote
    // and bit — match Spark's bit-for-bit. Pair candidates need no
    // block simulation: maxDist 3 < 4 blocks means every qualifying
    // pair shares a 16-bit block (pigeonhole), so the LSH output
    // equals the full quadratic hamming filter.
    Q(
      "q_dedup_simhash",
      (spark, dir) =>
        Dedup.simhashPairs(Q.t(spark, dir, "documents"), "doc_id", "text"),
      Some(
        s"""WITH ${OracleSql.simhashCtes("documents")}
           |SELECT a.id AS id_a, b.id AS id_b,
           |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS dist
           |FROM sims a JOIN sims b ON a.id < b.id
           |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""".stripMargin
      )
    ),
    Q(
      "q_simhash_values",
      (spark, dir) =>
        Dedup.simhash(Q.t(spark, dir, "documents"), "doc_id", "text")
          .withColumnRenamed("id", "doc_id"),
      Some(
        s"""WITH ${OracleSql.simhashCtes("documents")}
           |SELECT id AS doc_id, simhash FROM sims""".stripMargin
      )
    ),

    // -------------------------------------------------------- similarity

    Q(
      "q_ann_cosine",
      (spark, dir) => {
        val emb = Q.t(spark, dir, "embeddings")
        Similarity.bruteForceTopK(
          emb, emb.filter(col("vec_id") < 8), "vec_id", "embedding", k = 5)
      },
      Some(
        """WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 8),
          |scored AS (
          |  SELECT q.query_id, e.vec_id AS neighbor_id,
          |    list_sum(list_transform(list_zip(q.qv, e.embedding),
          |      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
          |    / (sqrt(list_sum(list_transform(q.qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
          |     * sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS sim
          |  FROM embeddings e, q WHERE e.vec_id <> q.query_id
          |)
          |SELECT query_id, neighbor_id, CAST(rnk AS INT) AS rank FROM (
          |  SELECT query_id, neighbor_id,
          |         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rnk
          |  FROM scored) t
          |WHERE rnk <= 5""".stripMargin
      )
    ),

    // Hard-negative mining for contrastive training: per anchor, the
    // top-5 most similar vectors BELOW the 0.3 positive band — near
    // enough to be informative negatives, disjoint from what a
    // SemDeDup pass at the same threshold would collapse. Same plan
    // as q_ann_cosine (anchors broadcast, corpus never shuffles) plus
    // one map-side band predicate.
    Q(
      "q_hard_negatives",
      (spark, dir) => {
        val emb = Q.t(spark, dir, "embeddings")
        Similarity.hardNegatives(
          emb, emb.filter(col("vec_id") < 8), "vec_id", "embedding",
          k = 5, maxSim = 0.3)
      },
      Some(
        """WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 8),
          |scored AS (
          |  SELECT q.query_id, e.vec_id AS neighbor_id,
          |    list_sum(list_transform(list_zip(q.qv, e.embedding),
          |      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
          |    / (sqrt(list_sum(list_transform(q.qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
          |     * sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS sim
          |  FROM embeddings e, q WHERE e.vec_id <> q.query_id
          |)
          |SELECT query_id, neighbor_id, CAST(rnk AS INT) AS rank FROM (
          |  SELECT query_id, neighbor_id,
          |         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rnk
          |  FROM scored WHERE sim < 0.3) t
          |WHERE rnk <= 5""".stripMargin
      )
    ),

    // Full IVF oracle: centroid assignment, probing, and final ranking
    // mirrored in SQL (rank/ids only — sims stay internal).
    Q(
      "q_ann_ivf",
      (spark, dir) => {
        val emb = Q.t(spark, dir, "embeddings")
        Similarity.ivfTopK(
          emb, emb.filter(col("vec_id") < 8), "vec_id", "embedding",
          k = 5, nCells = 16, nProbe = 4)
      },
      Some {
        def cos(a: String, b: String) =
          s"""list_sum(list_transform(list_zip($a, $b), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
             |        / (sqrt(list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
             |         * sqrt(list_sum(list_transform($b, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))""".stripMargin
        s"""WITH cent AS (
           |  SELECT vec_id AS cid, embedding AS cvec FROM embeddings ORDER BY vec_id LIMIT 16
           |), assigned AS (
           |  SELECT vec_id AS neighbor_id, embedding AS nvec, cid AS centroid_id FROM (
           |    SELECT e.vec_id, e.embedding, c.cid,
           |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
           |        ${cos("e.embedding", "c.cvec")} DESC, c.cid ASC) AS rn
           |    FROM embeddings e CROSS JOIN cent c) t
           |  WHERE rn = 1
           |), probes AS (
           |  SELECT query_id, qvec, centroid_id FROM (
           |    SELECT q.vec_id AS query_id, q.embedding AS qvec, c.cid AS centroid_id,
           |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
           |        ${cos("q.embedding", "c.cvec")} DESC, c.cid ASC) AS rn
           |    FROM embeddings q CROSS JOIN cent c WHERE q.vec_id < 8) t
           |  WHERE rn <= 4
           |), scored AS (
           |  SELECT p.query_id, a.neighbor_id, ${cos("p.qvec", "a.nvec")} AS sim
           |  FROM probes p JOIN assigned a USING (centroid_id)
           |  WHERE p.query_id <> a.neighbor_id
           |)
           |SELECT query_id, neighbor_id, CAST(rnk AS INT) AS rank FROM (
           |  SELECT query_id, neighbor_id,
           |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rnk
           |  FROM scored) t
           |WHERE rnk <= 5""".stripMargin
      }
    ),

    // The persisted-index deployment shape: the assigned corpus is
    // WRITTEN partitionBy(centroid_id) and probed through the storage
    // layout — the probe join's cell ids reach the scan as a DYNAMIC
    // PARTITION PRUNING subquery (REQUIREd in the plan), so each query
    // batch reads only its probed cells' files: nProbe/nCells of the
    // corpus, enforced by the file index rather than a row filter.
    // Same parameters as q_ann_ivf -> same oracle semantics; the
    // parquet round-trip is lossless for array<float>.
    Q(
      "q_ann_ivf_persisted",
      (spark, dir) => {
        val emb = Q.t(spark, dir, "embeddings")
        val cents = emb.orderBy(col("vec_id")).limit(16)
        val scratch = Q.scratch("ivfidx")
        Similarity.assignToCentroids(emb, cents, "vec_id", "embedding")
          .write.mode("overwrite").partitionBy("centroid_id").parquet(scratch)
        val indexed = spark.read.parquet(scratch)
        val out = Similarity.ivfTopKIndexed(
          indexed, emb.filter(col("vec_id") < 8), cents,
          "vec_id", "embedding", k = 5, nProbe = 4)
        Q.requireDynamicPruning(out) // on the centroid_id layout
        out
      },
      Some {
        def cos(a: String, b: String) =
          s"""list_sum(list_transform(list_zip($a, $b), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
             |        / (sqrt(list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
             |         * sqrt(list_sum(list_transform($b, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))""".stripMargin
        s"""WITH cent AS (
           |  SELECT vec_id AS cid, embedding AS cvec FROM embeddings ORDER BY vec_id LIMIT 16
           |), assigned AS (
           |  SELECT vec_id AS neighbor_id, embedding AS nvec, cid AS centroid_id FROM (
           |    SELECT e.vec_id, e.embedding, c.cid,
           |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
           |        ${cos("e.embedding", "c.cvec")} DESC, c.cid ASC) AS rn
           |    FROM embeddings e CROSS JOIN cent c) t
           |  WHERE rn = 1
           |), probes AS (
           |  SELECT query_id, qvec, centroid_id FROM (
           |    SELECT q.vec_id AS query_id, q.embedding AS qvec, c.cid AS centroid_id,
           |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
           |        ${cos("q.embedding", "c.cvec")} DESC, c.cid ASC) AS rn
           |    FROM embeddings q CROSS JOIN cent c WHERE q.vec_id < 8) t
           |  WHERE rn <= 4
           |), scored AS (
           |  SELECT p.query_id, a.neighbor_id, ${cos("p.qvec", "a.nvec")} AS sim
           |  FROM probes p JOIN assigned a USING (centroid_id)
           |  WHERE p.query_id <> a.neighbor_id
           |)
           |SELECT query_id, neighbor_id, CAST(rnk AS INT) AS rank FROM (
           |  SELECT query_id, neighbor_id,
           |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rnk
           |  FROM scored) t
           |WHERE rnk <= 5""".stripMargin
      }
    ),

    // The persisted index's LIFECYCLE: build the layout from a 400-row
    // base, append the remaining vectors as a delta batch against the
    // SAME frozen centroids (Similarity.appendToIndex — one broadcast
    // argmax over the delta + one partitioned append; the base is never
    // re-read), then probe the grown index. The oracle is the plain
    // rebuild-on-the-union semantics (identical SQL to q_ann_ivf), so a
    // green hash pins append+probe == rebuild-from-scratch; the plan
    // require pins that appended files still probe through dynamic
    // partition pruning.
    Q(
      "q_ann_ivf_incremental",
      (spark, dir) => {
        val emb = Q.t(spark, dir, "embeddings")
        val cents = emb.orderBy(col("vec_id")).limit(16)
        val scratch = Q.scratch("ivfincr")
        Similarity.assignToCentroids(
            emb.filter(col("vec_id") < 400), cents, "vec_id", "embedding")
          .write.mode("overwrite").partitionBy("centroid_id").parquet(scratch)
        Similarity.appendToIndex(
          emb.filter(col("vec_id") >= 400), cents, "vec_id", "embedding", scratch)
        val indexed = spark.read.parquet(scratch)
        val out = Similarity.ivfTopKIndexed(
          indexed, emb.filter(col("vec_id") < 8), cents,
          "vec_id", "embedding", k = 5, nProbe = 4)
        Q.requireDynamicPruning(out) // on the appended centroid_id layout
        out
      },
      Some {
        def cos(a: String, b: String) =
          s"""list_sum(list_transform(list_zip($a, $b), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
             |        / (sqrt(list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
             |         * sqrt(list_sum(list_transform($b, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))""".stripMargin
        s"""WITH cent AS (
           |  SELECT vec_id AS cid, embedding AS cvec FROM embeddings ORDER BY vec_id LIMIT 16
           |), assigned AS (
           |  SELECT vec_id AS neighbor_id, embedding AS nvec, cid AS centroid_id FROM (
           |    SELECT e.vec_id, e.embedding, c.cid,
           |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
           |        ${cos("e.embedding", "c.cvec")} DESC, c.cid ASC) AS rn
           |    FROM embeddings e CROSS JOIN cent c) t
           |  WHERE rn = 1
           |), probes AS (
           |  SELECT query_id, qvec, centroid_id FROM (
           |    SELECT q.vec_id AS query_id, q.embedding AS qvec, c.cid AS centroid_id,
           |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
           |        ${cos("q.embedding", "c.cvec")} DESC, c.cid ASC) AS rn
           |    FROM embeddings q CROSS JOIN cent c WHERE q.vec_id < 8) t
           |  WHERE rn <= 4
           |), scored AS (
           |  SELECT p.query_id, a.neighbor_id, ${cos("p.qvec", "a.nvec")} AS sim
           |  FROM probes p JOIN assigned a USING (centroid_id)
           |  WHERE p.query_id <> a.neighbor_id
           |)
           |SELECT query_id, neighbor_id, CAST(rnk AS INT) AS rank FROM (
           |  SELECT query_id, neighbor_id,
           |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rnk
           |  FROM scored) t
           |WHERE rnk <= 5""".stripMargin
      }
    ),

    // The index lifecycle's DELETE: purge a takedown batch (five
    // non-centroid ids — their cells always retain at least the
    // centroid's own row, so every affected cell is rewritten and none
    // is removed)
    // from the persisted IVF layout via dynamic partition overwrite —
    // only cells containing deleted ids are rewritten. The REQUIREs pin
    // the partition-pruned-delete claim structurally: at least one cell
    // changed AND at least one cell's files are byte-identical
    // (name+len+mtime) through the purge — i.e., this was not a full
    // rewrite. The hash gate then pins semantics: the purged index
    // equals assignment of the FILTERED corpus against the same frozen
    // centroids (deleted vectors stay part of the coarse geometry —
    // centroids are statistics, not rows).
    Q(
      "q_purge_index",
      (spark, dir) => {
        import org.apache.hadoop.fs.Path
        val emb = Q.t(spark, dir, "embeddings")
        val cents = emb.orderBy(col("vec_id")).limit(16)
        val scratch = Q.scratch("purgeidx")
        Similarity.assignToCentroids(emb, cents, "vec_id", "embedding")
          .write.mode("overwrite").partitionBy("centroid_id").parquet(scratch)

        val root = new Path(scratch)
        val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
        def snapshot(): Map[String, Seq[(String, Long, Long)]] =
          fs.listStatus(root).toSeq
            .filter(st => st.isDirectory && st.getPath.getName.startsWith("centroid_id="))
            .map(d => d.getPath.getName ->
              fs.listStatus(d.getPath).toSeq.filter(_.isFile)
                .map(st => (st.getPath.getName, st.getLen, st.getModificationTime))
                .sortBy(_._1))
            .toMap
        val before = snapshot()
        Similarity.purgeFromIndex(spark, scratch,
          emb.filter(col("vec_id") >= 100 && col("vec_id") < 105)
            .select(col("vec_id")), "vec_id")
        val after = snapshot()
        val changed = before.keySet.filter(k => before.get(k) != after.get(k))
        require(changed.nonEmpty, "purge should rewrite the affected cells")
        require((before.keySet -- changed).nonEmpty,
          s"purge must NOT rewrite unaffected cells (all ${before.size} changed)")

        spark.read.parquet(scratch)
          .select(col("vec_id"), col("centroid_id").cast("long").as("centroid_id"))
      },
      Some {
        def cos(a: String, b: String) =
          s"""list_sum(list_transform(list_zip($a, $b), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
             |        / (sqrt(list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
             |         * sqrt(list_sum(list_transform($b, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))""".stripMargin
        s"""WITH cent AS (
           |  SELECT vec_id AS cid, embedding AS cvec FROM embeddings ORDER BY vec_id LIMIT 16
           |)
           |SELECT vec_id, cid AS centroid_id FROM (
           |  SELECT e.vec_id, c.cid,
           |    ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
           |      ${cos("e.embedding", "c.cvec")} DESC, c.cid ASC) AS rn
           |  FROM embeddings e CROSS JOIN cent c
           |  WHERE e.vec_id < 100 OR e.vec_id >= 105) t
           |WHERE rn = 1""".stripMargin
      }
    ),

    // The index-maintenance FLAGSHIP: four lifecycle days composed over
    // one persisted layout — build (< 300), append the rest against the
    // frozen centroids, purge a takedown batch via dynamic partition
    // overwrite, compact the busiest cell to one file — then probe.
    // Each step is individually gated (q_ann_ivf_incremental,
    // q_purge_index, q_compaction_exec/LayoutSpec); this entry pins
    // that they COMPOSE at the filesystem level (purge rewrites
    // appended files correctly, compaction preserves the purged state,
    // pruning survives all three rewrites). Oracle = one-shot
    // assignment + probe of the filtered corpus: maintenance must be
    // observationally equivalent to rebuilding from current truth.
    Q(
      "q_lifecycle_pipeline",
      (spark, dir) => {
        val emb = Q.t(spark, dir, "embeddings")
        val cents = emb.orderBy(col("vec_id")).limit(16)
        val path = Q.scratch("lifecycle")
        Similarity.assignToCentroids(
            emb.filter(col("vec_id") < 300), cents, "vec_id", "embedding")
          .write.mode("overwrite").partitionBy("centroid_id").parquet(path)
        Similarity.appendToIndex(
          emb.filter(col("vec_id") >= 300), cents, "vec_id", "embedding", path)
        Similarity.purgeFromIndex(spark, path,
          emb.filter(col("vec_id") >= 100 && col("vec_id") < 105)
            .select(col("vec_id")), "vec_id")
        graft.operators.Layout.compactDir(
          spark, s"$path/centroid_id=0", targetBytes = 1L << 26)
        val out = Similarity.ivfTopKIndexed(
          spark.read.parquet(path), emb.filter(col("vec_id") < 8), cents,
          "vec_id", "embedding", k = 5, nProbe = 4)
        Q.requireDynamicPruning(out) // survives the maintenance chain
        out
      },
      Some {
        def cos(a: String, b: String) =
          s"""list_sum(list_transform(list_zip($a, $b), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
             |        / (sqrt(list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
             |         * sqrt(list_sum(list_transform($b, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))""".stripMargin
        s"""WITH cent AS (
           |  SELECT vec_id AS cid, embedding AS cvec FROM embeddings ORDER BY vec_id LIMIT 16
           |), assigned AS (
           |  SELECT vec_id AS neighbor_id, embedding AS nvec, cid AS centroid_id FROM (
           |    SELECT e.vec_id, e.embedding, c.cid,
           |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
           |        ${cos("e.embedding", "c.cvec")} DESC, c.cid ASC) AS rn
           |    FROM embeddings e CROSS JOIN cent c
           |    WHERE e.vec_id < 100 OR e.vec_id >= 105) t
           |  WHERE rn = 1
           |), probes AS (
           |  SELECT query_id, qvec, centroid_id FROM (
           |    SELECT q.vec_id AS query_id, q.embedding AS qvec, c.cid AS centroid_id,
           |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
           |        ${cos("q.embedding", "c.cvec")} DESC, c.cid ASC) AS rn
           |    FROM embeddings q CROSS JOIN cent c WHERE q.vec_id < 8) t
           |  WHERE rn <= 4
           |), scored AS (
           |  SELECT p.query_id, a.neighbor_id, ${cos("p.qvec", "a.nvec")} AS sim
           |  FROM probes p JOIN assigned a USING (centroid_id)
           |  WHERE p.query_id <> a.neighbor_id
           |)
           |SELECT query_id, neighbor_id, CAST(rnk AS INT) AS rank FROM (
           |  SELECT query_id, neighbor_id,
           |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rnk
           |  FROM scored) t
           |WHERE rnk <= 5""".stripMargin
      }
    ),

    // The partition-sweeping maintenance job (Layout.maintainTable):
    // purge + compaction across EVERY partition of a lang-partitioned
    // documents layout in one bounded job. The scenario plants all four
    // partition fates at once — emptied by purge (de: every doc
    // deleted), purge-rewritten (fr), compacted (en, es: three appended
    // small files each), untouched (zh) — and REQUIREs each
    // structurally: zh's files byte-identical (name+len+mtime), de's
    // directory removed (the dynamic-overwrite stale-file gap this job
    // closes), en/es down to one file, and read-back partition pruning
    // still live. Oracle = the purge predicate over the source table:
    // maintenance must be observationally equivalent to filtering.
    Q(
      "q_maintain_table",
      (spark, dir) => {
        import org.apache.hadoop.fs.Path
        val docs = Q.t(spark, dir, "documents").select("doc_id", "lang", "text")
        val root = Q.scratch("mainttab")
        val path = s"$root/docs"
        docs.filter(!col("lang").isin("en", "es")).repartition(1)
          .write.partitionBy("lang").mode("overwrite").parquet(path)
        (0 until 3).foreach { k =>
          docs.filter(col("lang").isin("en", "es") && col("doc_id") % 3 === k)
            .repartition(1).write.partitionBy("lang").mode("append").parquet(path)
        }
        val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
        def snapshot(lang: String) = fs.listStatus(new Path(s"$path/lang=$lang"))
          .toSeq.filter(_.isFile)
          .map(st => (st.getPath.getName, st.getLen, st.getModificationTime))
          .sortBy(_._1)
        val zhBefore = snapshot("zh")

        val deletes = docs
          .filter(col("lang") === "de" ||
            (col("lang") === "fr" && col("doc_id") % 10 === 3))
          .select("doc_id")
        val report = graft.operators.Layout.maintainTable(
          spark, path, "lang", deletes, "doc_id",
          targetBytes = 1L << 26, maxFiles = 2)
        require(report.emptied == Seq("de"), s"emptied=${report.emptied}")
        require(report.untouched == Seq("zh"), s"untouched=${report.untouched}")
        require(snapshot("zh") == zhBefore,
          "untouched partition's files must stay byte-identical")
        require(!fs.exists(new Path(s"$path/lang=de")),
          "fully-purged partition's directory must be removed")
        require(snapshot("en").size == 1 && snapshot("es").size == 1,
          "compacted partitions must come out as one file")

        val out = spark.read.parquet(path).filter(col("lang") =!= "de")
          .select(col("doc_id"), col("lang"))
        Q.requirePartitionFilter(out, "lang") // pruning survives maintenance
        out
      },
      Some(
        """SELECT doc_id, lang FROM documents
          |WHERE NOT (lang = 'de' OR (lang = 'fr' AND doc_id % 10 = 3))""".stripMargin
      )
    ),

    // Oracle-safe despite the float threshold: the fixtures' closest
    // cosine sits ≥1e-4 from 0.45 while cross-engine sum-order noise is
    // ~1e-15, so the id set is stable. Verifier-scoped: the operator's
    // maxRows guard fail-fasts above 200k rows, so this registration
    // cannot launch an unbounded cartesian (q_embed_neardup_lsh is the
    // scale path).
    Q(
      "q_embed_neardup",
      (spark, dir) =>
        Similarity.cosineNearDupPairs(
          Q.t(spark, dir, "embeddings"), "vec_id", "embedding", threshold = 0.45),
      Some(
        """SELECT id_a, id_b FROM (
          |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
          |    list_sum(list_transform(list_zip(a.embedding, b.embedding),
          |      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
          |    / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
          |     * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS sim
          |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id) t
          |WHERE NOT isnan(sim) AND sim >= 0.45""".stripMargin
      )
    ),

    // LSH-bucketed scale path (SRP signatures + banded buckets + exact
    // verify) at the PRODUCTION parameterization: 16-bit bands and an
    // explicit hot-bucket cap — the configuration whose candidate count
    // cannot go quadratic (expected bucket size n/2^16, and any bucket
    // over maxBucket is dropped whole, oracle-mirrored). The fixture has
    // no true near-dups (max cosine ≈ 0.51), so the query PLANTS them:
    // lane-0-zeroed copies of the vec_id < 50 rows (representation-exact
    // in both engines — no arithmetic, just a component swap), whose
    // cosine to their source is 0.945-0.99996 at both sf fixtures vs
    // ≤ 0.513 for every other pair — the 0.9 threshold splits the two
    // populations by ≥ 0.045, 13 orders above cross-engine noise.
    // Exact oracle: the ±1 hyperplane components are algorithm
    // constants (xorshift64 stream, [[OracleSql.srpSignRows]]); every
    // double accumulation (plane sums, dot, norms) is an ordered left
    // fold matching the Scala kernels' index-order `s += x`, so
    // signatures, buckets, and the verified sims are all bitwise
    // reproductions — no float-threshold tolerance needed. dim 64 is a
    // fixture-wide property (all sf embeddings are FLOAT[64]).
    Q(
      "q_embed_neardup_lsh",
      (spark, dir) => {
        val emb = Q.t(spark, dir, "embeddings").select("vec_id", "embedding")
        val planted = emb.filter(col("vec_id") < 50).select(
          (col("vec_id") + 100000L).as("vec_id"),
          transform(col("embedding"), (x, i) =>
            when(i === 0, lit(0.0f)).otherwise(x)).as("embedding"))
        Similarity.srpNearDupPairs(
          emb.unionAll(planted), "vec_id", "embedding",
          threshold = 0.9, planes = 64, bandBits = 16, maxBucket = 64)
      },
      Some {
        val dot = (a: String, b: String) => OracleSql.orderedSum(
          s"list_transform(generate_series(1, 64), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))")
        s"""WITH signs(j, sg) AS (VALUES ${OracleSql.srpSignRows(64, 64, graft.functions.GraftMath.SrpSeed)}),
           |aug AS (
           |  SELECT vec_id, embedding FROM embeddings
           |  UNION ALL
           |  SELECT vec_id + 100000,
           |    list_transform(generate_series(1, len(embedding)), i ->
           |      CASE WHEN i = 1 THEN CAST(0.0 AS FLOAT) ELSE embedding[i] END)
           |  FROM embeddings WHERE vec_id < 50
           |),
           |planar AS (
           |  SELECT e.vec_id AS id, s.j,
           |    ${OracleSql.orderedSum("list_transform(generate_series(1, 64), i -> sg[i] * CAST(embedding[i] AS DOUBLE))")} AS s
           |  FROM aug e CROSS JOIN signs s
           |), sigs AS (
           |  SELECT id, SUM(CASE WHEN s > 0 THEN power(2::HUGEINT, j)::HUGEINT ELSE 0 END) AS sig
           |  FROM planar GROUP BY id
           |), banded AS (
           |  SELECT id, b, (sig // power(2::HUGEINT, b * 16)::HUGEINT) % 65536 AS band_val,
           |    COUNT(*) OVER (PARTITION BY b, (sig // power(2::HUGEINT, b * 16)::HUGEINT) % 65536) AS bucket_n
           |  FROM sigs CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS b)
           |), cand AS (
           |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
           |  FROM banded a JOIN banded b ON a.b = b.b AND a.band_val = b.band_val AND a.id < b.id
           |  WHERE a.bucket_n <= 64
           |), vecs AS (
           |  SELECT vec_id AS id, embedding AS v, sqrt(${dot("embedding", "embedding")}) AS nrm
           |  FROM aug
           |)
           |SELECT id_a, id_b FROM (
           |  SELECT c.id_a, c.id_b, ${dot("a.v", "b.v")} / (a.nrm * b.nrm) AS sim
           |  FROM cand c JOIN vecs a ON c.id_a = a.id JOIN vecs b ON c.id_b = b.id) t
           |WHERE NOT isnan(sim) AND sim >= 0.9""".stripMargin
      }
    ),

    // SemDeDup-style semantic dedup: coarse cells (argmax-cosine over
    // the first-16-by-id centroids, broadcast fold) confine the
    // quadratic compare to within-cell pairs; a vector with a lower-id
    // cell-mate at cosine >= 0.4 is dropped. Threshold float-safe for
    // the gate: the nearest within-cell sim sits >= 1e-5 from 0.4 at
    // both fixture scales vs ~1e-15 cross-engine noise.
    Q(
      "q_semantic_dedup",
      (spark, dir) => {
        val emb = Q.t(spark, dir, "embeddings")
        Similarity.semanticDedup(
          emb, emb.orderBy(col("vec_id")).limit(16),
          "vec_id", "embedding", threshold = 0.4)
          .select(col("vec_id"))
      },
      Some {
        val cos = (a: String, b: String) =>
          s"""list_sum(list_transform(list_zip($a, $b), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
             |        / (sqrt(list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
             |         * sqrt(list_sum(list_transform($b, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))""".stripMargin
        s"""WITH cent AS (
           |  SELECT vec_id AS cid, embedding AS cvec FROM embeddings ORDER BY vec_id LIMIT 16
           |), assigned AS (
           |  SELECT vec_id, embedding AS nvec, cid AS cell FROM (
           |    SELECT e.vec_id, e.embedding, c.cid,
           |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
           |        ${cos("e.embedding", "c.cvec")} DESC, c.cid ASC) AS rn
           |    FROM embeddings e CROSS JOIN cent c) t
           |  WHERE rn = 1
           |)
           |SELECT vec_id FROM assigned a
           |WHERE NOT EXISTS (
           |  SELECT 1 FROM assigned b
           |  WHERE b.cell = a.cell AND b.vec_id < a.vec_id
           |    AND ${cos("b.nvec", "a.nvec")} >= 0.4)""".stripMargin
      }
    ),

    // Batch twin of the stream-static semantic screen (the SAME
    // function StreamingDedupSpec drives on a MemoryStream — unified
    // API makes the exact join/exists semantics oracle-checkable):
    // vectors < 100 arrive against the >= 100 corpus; a row is dropped
    // when any same-cell corpus mate reaches cosine 0.4 (float-safe:
    // nearest sim sits >= 1e-4 from the threshold at both scales).
    Q(
      "q_semantic_screen",
      (spark, dir) => {
        val emb = Q.t(spark, dir, "embeddings")
        val corpus = emb.filter(col("vec_id") >= 100)
        val incoming = emb.filter(col("vec_id") < 100)
        graft.streaming.StreamingDedup.semanticScreen(
          incoming, corpus, corpus.orderBy(col("vec_id")).limit(16),
          "vec_id", "embedding", threshold = 0.4)
          .select(col("vec_id"))
      },
      Some {
        val cos = (a: String, b: String) =>
          s"""list_sum(list_transform(list_zip($a, $b), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
             |        / (sqrt(list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
             |         * sqrt(list_sum(list_transform($b, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))""".stripMargin
        s"""WITH cent AS (
           |  SELECT vec_id AS cid, embedding AS cvec FROM embeddings
           |  WHERE vec_id >= 100 ORDER BY vec_id LIMIT 16
           |), corp AS (
           |  SELECT vec_id, embedding AS nvec, cid AS cell FROM (
           |    SELECT e.vec_id, e.embedding, c.cid,
           |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
           |        ${cos("e.embedding", "c.cvec")} DESC, c.cid ASC) AS rn
           |    FROM embeddings e CROSS JOIN cent c WHERE e.vec_id >= 100) t
           |  WHERE rn = 1
           |), inc AS (
           |  SELECT vec_id, embedding AS nvec, cid AS cell FROM (
           |    SELECT e.vec_id, e.embedding, c.cid,
           |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
           |        ${cos("e.embedding", "c.cvec")} DESC, c.cid ASC) AS rn
           |    FROM embeddings e CROSS JOIN cent c WHERE e.vec_id < 100) t
           |  WHERE rn = 1
           |)
           |SELECT vec_id FROM inc i
           |WHERE NOT EXISTS (
           |  SELECT 1 FROM corp c
           |  WHERE c.cell = i.cell AND c.vec_id <> i.vec_id
           |    AND ${cos("c.nvec", "i.nvec")} >= 0.4)""".stripMargin
      }
    ),

    // The INGEST FLAGSHIP: all three stateless screens composed
    // cheapest-first (StreamingDedup.ingestScreen — the same chain
    // StreamingDedupSpec drives on a MemoryStream). The delta plants
    // one victim population per stage: verbatim re-submissions die on
    // the digest anti-join, " zz"-mutated texts die on the MinHash
    // band screen, fresh-text/copied-embedding rows die on the
    // semantic cell screen; fresh docs pass all three. The oracle
    // mirrors each stage in sequence over the same joined
    // documents×embeddings population, so one hash pins the whole
    // composition, including the cheapest-first shrink order.
    Q(
      "q_ingest_pipeline",
      (spark, dir) => {
        val joined = Q.t(spark, dir, "documents")
          .select(col("doc_id"), col("text"))
          .join(Q.t(spark, dir, "embeddings")
            .select(col("vec_id").as("doc_id"), col("embedding")), Seq("doc_id"))
        val corpus = joined.filter(col("doc_id") < 400)
        val exactP = corpus.filter(col("doc_id") < 20)
          .select((col("doc_id") + 500000L).as("doc_id"), col("text"), col("embedding"))
        val nearP = corpus.filter(col("doc_id") < 15)
          .select((col("doc_id") + 300000L).as("doc_id"),
            concat(col("text"), lit(" zz")).as("text"), col("embedding"))
        val semP = corpus.filter(col("doc_id") < 10)
          .select((col("doc_id") + 700000L).as("doc_id"),
            concat(lit("sem planted doc "), col("doc_id")).as("text"), col("embedding"))
        val incoming = joined.filter(col("doc_id") >= 400)
          .unionAll(exactP).unionAll(nearP).unionAll(semP)

        val digPath = Q.scratch("ing_dig")
        val sigPath = Q.scratch("ing_sig")
        Dedup.digestIndex(corpus, "text").write.mode("overwrite").parquet(digPath)
        Dedup.minhashSignatures(corpus, "doc_id", "text", n = 3, k = 32)
          .write.mode("overwrite").parquet(sigPath)
        graft.streaming.StreamingDedup.ingestScreen(
          incoming,
          spark.read.parquet(digPath),
          graft.streaming.StreamingDedup.bucketSignatureIndex(
            spark.read.parquet(sigPath), k = 32, bands = 8),
          corpus.select(col("doc_id"), col("embedding")),
          corpus.select(col("doc_id"), col("embedding"))
            .orderBy(col("doc_id")).limit(16),
          "doc_id", "text", "embedding")
          .select(col("doc_id"))
      },
      Some {
        val cos = (a: String, b: String) =>
          s"""list_sum(list_transform(list_zip($a, $b), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
             |        / (sqrt(list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
             |         * sqrt(list_sum(list_transform($b, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))""".stripMargin
        s"""WITH corpus AS (
           |  SELECT d.doc_id, d.text, e.embedding
           |  FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
           |  WHERE d.doc_id < 400
           |), delta AS (
           |  SELECT d.doc_id, d.text, e.embedding
           |  FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
           |  WHERE d.doc_id >= 400
           |  UNION ALL
           |  SELECT doc_id + 500000 AS doc_id, text, embedding FROM corpus WHERE doc_id < 20
           |  UNION ALL
           |  SELECT doc_id + 300000, text || ' zz', embedding FROM corpus WHERE doc_id < 15
           |  UNION ALL
           |  SELECT doc_id + 700000, 'sem planted doc ' || CAST(doc_id AS VARCHAR), embedding
           |  FROM corpus WHERE doc_id < 10
           |), s1 AS (
           |  SELECT * FROM delta
           |  WHERE sha256(text) NOT IN (SELECT sha256(text) FROM corpus)
           |),
           |${sigCtes("corpus", "c")},
           |${sigCtes("s1", "d")},
           |cand AS (
           |  SELECT DISTINCT d.id AS did, d.sig AS dsig, c.id AS cid, c.sig AS csig
           |  FROM dband d JOIN cband c ON d.b = c.b AND d.bv = c.bv
           |), dropped AS (
           |  SELECT DISTINCT did FROM cand
           |  WHERE CAST(len(list_filter(generate_series(1, 32), i -> dsig[i] = csig[i])) AS DOUBLE)
           |        / CAST(32 AS DOUBLE) >= 0.5
           |), s2 AS (
           |  SELECT * FROM s1 WHERE doc_id NOT IN (SELECT did FROM dropped)
           |), cent AS (
           |  SELECT doc_id AS ctid, embedding AS cvec FROM corpus ORDER BY doc_id LIMIT 16
           |), corp_cell AS (
           |  SELECT doc_id, embedding AS nvec, ctid AS cell FROM (
           |    SELECT c0.doc_id, c0.embedding, ct.ctid,
           |      ROW_NUMBER() OVER (PARTITION BY c0.doc_id ORDER BY
           |        ${cos("c0.embedding", "ct.cvec")} DESC, ct.ctid ASC) AS rn
           |    FROM corpus c0 CROSS JOIN cent ct) t
           |  WHERE rn = 1
           |), inc_cell AS (
           |  SELECT doc_id, embedding AS nvec, ctid AS cell FROM (
           |    SELECT s.doc_id, s.embedding, ct.ctid,
           |      ROW_NUMBER() OVER (PARTITION BY s.doc_id ORDER BY
           |        ${cos("s.embedding", "ct.cvec")} DESC, ct.ctid ASC) AS rn
           |    FROM s2 s CROSS JOIN cent ct) t
           |  WHERE rn = 1
           |)
           |SELECT doc_id FROM inc_cell i
           |WHERE NOT EXISTS (
           |  SELECT 1 FROM corp_cell c
           |  WHERE c.cell = i.cell AND c.doc_id <> i.doc_id
           |    AND ${cos("c.nvec", "i.nvec")} >= 0.9)""".stripMargin
      }
    ),

    // -------------------------------------------------------- multimodal

    Q(
      "q_binary_meta",
      (spark, dir) =>
        Q.t(spark, dir, "documents").select(
          col("doc_id"),
          length(encode(col("text"), "UTF-8")).as("n_bytes"),
          ascii(substring(col("text"), 1, 1)).as("first_byte")
        ),
      Some(
        """SELECT doc_id,
          |  CAST(octet_length(encode(text)) AS INT) AS n_bytes,
          |  CAST(ascii(substring(text, 1, 1)) AS INT) AS first_byte
          |FROM documents""".stripMargin
      )
    ),

    // The raw array<float> `features` column is projected to 8 scaled
    // INT columns for the driver gate (array cells are not
    // canonicalizable by the gate's pandas sort). f_j · 65536 is exact:
    // decodeStub emits v/65536.0f with v a 16-bit integer, and both the
    // float division and the multiply back are exact in IEEE float —
    // so the ints pin the full float vectors. The oracle replays the
    // stub's Java-long rolling hash (h = 31·h + byte) in HUGEINT
    // wrap-around arithmetic, including the abs()/% sign conventions.
    Q(
      "q_multimodal_features",
      (spark, dir) => {
        val feats = Multimodal.extractFeatures(
          Q.t(spark, dir, "documents")
            .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload")),
          "doc_id", "payload")
        val fcols = (0 until 8).map(j =>
          (element_at(col("features"), j + 1) * lit(65536.0f)).cast("int").as(s"f$j"))
        feats.select(
          Seq(col("media_id"), col("n_bytes"), col("format"), col("width"), col("height")) ++ fcols: _*)
      },
      Some {
        val fcols = (0 until 8).map { j =>
          val div = BigInt(1) << (7 * j)
          s"CAST((hu // $div) % 65536 AS INT) AS f$j"
        }.mkString(",\n           |  ")
        s"""WITH tb AS (
           |  SELECT doc_id,
           |    CASE WHEN text = '' THEN CAST([] AS HUGEINT[])
           |         ELSE list_transform(str_split(text, ''), c -> CAST(ascii(c) AS HUGEINT)) END AS bs,
           |    octet_length(encode(text)) AS n_bytes
           |  FROM documents
           |), rh AS (
           |  SELECT doc_id, n_bytes, bs,
           |    list_reduce(list_prepend(1125899906842597::HUGEINT, bs),
           |      (h, b) -> (h * 31 + b) % 18446744073709551616::HUGEINT) AS hu
           |  FROM tb
           |), sh AS (
           |  SELECT doc_id, n_bytes, bs, hu,
           |    CAST(CASE WHEN hu >= 9223372036854775808 THEN hu - 18446744073709551616 ELSE hu END AS BIGINT) AS hs
           |  FROM rh
           |)
           |SELECT doc_id AS media_id,
           |  CAST(n_bytes AS BIGINT) AS n_bytes,
           |  CASE WHEN len(bs) >= 2 AND bs[1] = 255 AND bs[2] = 216 THEN 'jpeg'
           |       WHEN len(bs) >= 4 AND bs[1] = 137 AND bs[2] = 80 THEN 'png'
           |       ELSE 'unknown' END AS format,
           |  CAST(1 + (CASE WHEN hs = -9223372036854775808 THEN hs % 1920
           |            WHEN hs < 0 THEN (-hs) % 1920 ELSE hs % 1920 END) AS INT) AS width,
           |  CAST(1 + (hu // 2048) % 1080 AS INT) AS height,
           |  $fcols
           |FROM sh""".stripMargin
      }
    ),

    // REAL image decode, end to end: deterministic 8x6 PPM payloads are
    // built per nation row (pixel m = (key*31 + m) mod 256 — closed
    // form), then the pure-JVM P6 parser decodes the actual bytes and
    // reports dimensions, per-channel integer moments, and the 9x8
    // dHash (split into two 32-bit halves so signed-64 shifts never
    // overflow in either engine). The oracle re-derives every pixel
    // from the formula alone — so the gate proves encoder → bytes →
    // decoder → stats is the identity on the formula, i.e. the decoder
    // actually reads the raster, not a stub. Map-only (no shuffle
    // beyond the group-by on 25 rows).
    Q(
      "q_image_decode",
      (spark, dir) => {
        Multimodal.decodeImages(
          Q.fixture(Q.nationKeys(spark, dir, "media_id"), "media_id", "payload")(ppm8x6),
          "media_id", "payload")
      },
      Some(
        """WITH px AS (
          |  SELECT CAST(n_nationkey AS BIGINT) AS media_id, i AS m,
          |    (n_nationkey * 31 + i) % 256 AS v
          |  FROM nation, UNNEST(generate_series(0, 143)) AS u(i)
          |), ch AS (
          |  SELECT media_id,
          |    CAST(SUM(CASE WHEN m % 3 = 0 THEN v END) AS BIGINT) AS sum_r,
          |    CAST(SUM(CASE WHEN m % 3 = 1 THEN v END) AS BIGINT) AS sum_g,
          |    CAST(SUM(CASE WHEN m % 3 = 2 THEN v END) AS BIGINT) AS sum_b,
          |    CAST(SUM(CASE WHEN m % 3 = 0 THEN v * v END) AS BIGINT) AS ssq_r,
          |    CAST(SUM(CASE WHEN m % 3 = 1 THEN v * v END) AS BIGINT) AS ssq_g,
          |    CAST(SUM(CASE WHEN m % 3 = 2 THEN v * v END) AS BIGINT) AS ssq_b
          |  FROM px GROUP BY media_id
          |), grid AS (
          |  SELECT CAST(n_nationkey AS BIGINT) AS media_id, gx, gy,
          |    (((n_nationkey * 31 + (((gy * 6) // 8) * 8 + ((gx * 8) // 9)) * 3 + 0) % 256)
          |     + ((n_nationkey * 31 + (((gy * 6) // 8) * 8 + ((gx * 8) // 9)) * 3 + 1) % 256)
          |     + ((n_nationkey * 31 + (((gy * 6) // 8) * 8 + ((gx * 8) // 9)) * 3 + 2) % 256)) // 3 AS gray
          |  FROM nation,
          |       UNNEST(generate_series(0, 8)) AS ux(gx),
          |       UNNEST(generate_series(0, 7)) AS uy(gy)
          |), bits AS (
          |  SELECT a.media_id, a.gx AS x, a.gy AS y
          |  FROM grid a JOIN grid b
          |    ON a.media_id = b.media_id AND b.gy = a.gy AND b.gx = a.gx + 1
          |  WHERE a.gx < 8 AND b.gray > a.gray
          |), dh AS (
          |  SELECT media_id,
          |    CAST(COALESCE(SUM(CASE WHEN y * 8 + x < 32
          |      THEN (CAST(1 AS BIGINT) << (y * 8 + x)) END), 0) AS BIGINT) AS dhash_lo,
          |    CAST(COALESCE(SUM(CASE WHEN y * 8 + x >= 32
          |      THEN (CAST(1 AS BIGINT) << (y * 8 + x - 32)) END), 0) AS BIGINT) AS dhash_hi
          |  FROM bits GROUP BY media_id
          |)
          |SELECT ch.media_id, 'ppm' AS format, 8 AS width, 6 AS height,
          |  CAST(48 AS BIGINT) AS n_pixels,
          |  sum_r, sum_g, sum_b, ssq_r, ssq_g, ssq_b,
          |  CAST(COALESCE(dh.dhash_lo, 0) AS BIGINT) AS dhash_lo,
          |  CAST(COALESCE(dh.dhash_hi, 0) AS BIGINT) AS dhash_hi
          |FROM ch LEFT JOIN dh USING (media_id)""".stripMargin
      )
    ),

    // TIFF — the archival/document-scan format (the corpora OCR
    // pipelines ingest), and the codec matrix's CONTAINER-walk image
    // format: byte-order-polymorphic header, IFD entry table with
    // inline AND offset-addressed values, multi-strip assembly, and
    // PackBits RLE. Even keys decode little-endian uncompressed RGB
    // (the shared PPM pixel formula — one oracle arm covers both
    // codecs), odd keys big-endian PackBits GRAYSCALE with 4-pixel
    // runs (so the repeat tokens are real); RowsPerStrip 2 forces
    // three strips either way. The JDK's own ImageIO TIFF reader
    // conformance-pins all eight variant corners in the spec;
    // map-only like every codec.
    Q(
      "q_image_decode_tiff",
      (spark, dir) => {
        val tif = (k: Long) => Multimodal.syntheticTiff(
          k, 8, 6, gray = k % 2 == 1, packBits = k % 2 == 1, bigEndian = k % 2 == 1)
        val out = Multimodal.decodeImages(
          Q.fixture(Q.nationKeys(spark, dir, "media_id"), "media_id", "payload")(tif),
          "media_id", "payload")
        Q.requireNoShuffle(out)
        out
      },
      Some(
        """WITH px AS (
          |  SELECT CAST(n_nationkey AS BIGINT) AS media_id, i % 3 AS c,
          |    CASE WHEN n_nationkey % 2 = 0 THEN (n_nationkey * 31 + i) % 256
          |         ELSE (n_nationkey * 31 + ((i // 3) // 4) * 4) % 256 END AS v
          |  FROM nation, UNNEST(generate_series(0, 143)) AS u(i)
          |), ch AS (
          |  SELECT media_id,
          |    CAST(SUM(CASE WHEN c = 0 THEN v END) AS BIGINT) AS sum_r,
          |    CAST(SUM(CASE WHEN c = 1 THEN v END) AS BIGINT) AS sum_g,
          |    CAST(SUM(CASE WHEN c = 2 THEN v END) AS BIGINT) AS sum_b,
          |    CAST(SUM(CASE WHEN c = 0 THEN v * v END) AS BIGINT) AS ssq_r,
          |    CAST(SUM(CASE WHEN c = 1 THEN v * v END) AS BIGINT) AS ssq_g,
          |    CAST(SUM(CASE WHEN c = 2 THEN v * v END) AS BIGINT) AS ssq_b
          |  FROM px GROUP BY media_id
          |), grid AS (
          |  SELECT CAST(n_nationkey AS BIGINT) AS media_id, gx, gy,
          |    CASE WHEN n_nationkey % 2 = 0 THEN
          |      (((n_nationkey * 31 + (((gy * 6) // 8) * 8 + ((gx * 8) // 9)) * 3 + 0) % 256)
          |       + ((n_nationkey * 31 + (((gy * 6) // 8) * 8 + ((gx * 8) // 9)) * 3 + 1) % 256)
          |       + ((n_nationkey * 31 + (((gy * 6) // 8) * 8 + ((gx * 8) // 9)) * 3 + 2) % 256)) // 3
          |    ELSE (n_nationkey * 31 + ((((gy * 6) // 8) * 8 + ((gx * 8) // 9)) // 4) * 4) % 256
          |    END AS gray
          |  FROM nation,
          |       UNNEST(generate_series(0, 8)) AS ux(gx),
          |       UNNEST(generate_series(0, 7)) AS uy(gy)
          |), bits AS (
          |  SELECT a.media_id, a.gx AS x, a.gy AS y
          |  FROM grid a JOIN grid b
          |    ON a.media_id = b.media_id AND b.gy = a.gy AND b.gx = a.gx + 1
          |  WHERE a.gx < 8 AND b.gray > a.gray
          |), dh AS (
          |  SELECT media_id,
          |    CAST(COALESCE(SUM(CASE WHEN y * 8 + x < 32
          |      THEN (CAST(1 AS BIGINT) << (y * 8 + x)) END), 0) AS BIGINT) AS dhash_lo,
          |    CAST(COALESCE(SUM(CASE WHEN y * 8 + x >= 32
          |      THEN (CAST(1 AS BIGINT) << (y * 8 + x - 32)) END), 0) AS BIGINT) AS dhash_hi
          |  FROM bits GROUP BY media_id
          |)
          |SELECT ch.media_id, 'tiff' AS format, 8 AS width, 6 AS height,
          |  CAST(48 AS BIGINT) AS n_pixels,
          |  sum_r, sum_g, sum_b, ssq_r, ssq_g, ssq_b,
          |  CAST(COALESCE(dh.dhash_lo, 0) AS BIGINT) AS dhash_lo,
          |  CAST(COALESCE(dh.dhash_hi, 0) AS BIGINT) AS dhash_hi
          |FROM ch LEFT JOIN dh USING (media_id)""".stripMargin
      )
    ),

    // Second real image format: 24-bit BMP at 6×5 — dimensions chosen
    // so the row stride (18 bytes) pads to 20, exercising the
    // bottom-up + B,G,R + padding normalization decodeBmp performs.
    // The synthetic payload buries the SAME closed-form pixel formula
    // as the PPM gate under the BMP encoding, so the oracle re-derives
    // every stat from the formula alone — only a decoder that
    // correctly un-pads, re-flips and re-orders channels matches.
    Q(
      "q_image_decode_bmp",
      (spark, dir) => {
        val bmp = (k: Long) => Multimodal.syntheticBmp(k, 6, 5)
        Multimodal.decodeImages(
          Q.fixture(Q.nationKeys(spark, dir, "media_id"), "media_id", "payload")(bmp),
          "media_id", "payload")
      },
      Some(
        """WITH px AS (
          |  SELECT CAST(n_nationkey AS BIGINT) AS media_id, i AS m,
          |    (n_nationkey * 31 + i) % 256 AS v
          |  FROM nation, UNNEST(generate_series(0, 89)) AS u(i)
          |), ch AS (
          |  SELECT media_id,
          |    CAST(SUM(CASE WHEN m % 3 = 0 THEN v END) AS BIGINT) AS sum_r,
          |    CAST(SUM(CASE WHEN m % 3 = 1 THEN v END) AS BIGINT) AS sum_g,
          |    CAST(SUM(CASE WHEN m % 3 = 2 THEN v END) AS BIGINT) AS sum_b,
          |    CAST(SUM(CASE WHEN m % 3 = 0 THEN v * v END) AS BIGINT) AS ssq_r,
          |    CAST(SUM(CASE WHEN m % 3 = 1 THEN v * v END) AS BIGINT) AS ssq_g,
          |    CAST(SUM(CASE WHEN m % 3 = 2 THEN v * v END) AS BIGINT) AS ssq_b
          |  FROM px GROUP BY media_id
          |), grid AS (
          |  SELECT CAST(n_nationkey AS BIGINT) AS media_id, gx, gy,
          |    (((n_nationkey * 31 + (((gy * 5) // 8) * 6 + ((gx * 6) // 9)) * 3 + 0) % 256)
          |     + ((n_nationkey * 31 + (((gy * 5) // 8) * 6 + ((gx * 6) // 9)) * 3 + 1) % 256)
          |     + ((n_nationkey * 31 + (((gy * 5) // 8) * 6 + ((gx * 6) // 9)) * 3 + 2) % 256)) // 3 AS gray
          |  FROM nation,
          |       UNNEST(generate_series(0, 8)) AS ux(gx),
          |       UNNEST(generate_series(0, 7)) AS uy(gy)
          |), bits AS (
          |  SELECT a.media_id, a.gx AS x, a.gy AS y
          |  FROM grid a JOIN grid b
          |    ON a.media_id = b.media_id AND b.gy = a.gy AND b.gx = a.gx + 1
          |  WHERE a.gx < 8 AND b.gray > a.gray
          |), dh AS (
          |  SELECT media_id,
          |    CAST(COALESCE(SUM(CASE WHEN y * 8 + x < 32
          |      THEN (CAST(1 AS BIGINT) << (y * 8 + x)) END), 0) AS BIGINT) AS dhash_lo,
          |    CAST(COALESCE(SUM(CASE WHEN y * 8 + x >= 32
          |      THEN (CAST(1 AS BIGINT) << (y * 8 + x - 32)) END), 0) AS BIGINT) AS dhash_hi
          |  FROM bits GROUP BY media_id
          |)
          |SELECT ch.media_id, 'bmp' AS format, 6 AS width, 5 AS height,
          |  CAST(30 AS BIGINT) AS n_pixels,
          |  sum_r, sum_g, sum_b, ssq_r, ssq_g, ssq_b,
          |  CAST(COALESCE(dh.dhash_lo, 0) AS BIGINT) AS dhash_lo,
          |  CAST(COALESCE(dh.dhash_hi, 0) AS BIGINT) AS dhash_hi
          |FROM ch LEFT JOIN dh USING (media_id)""".stripMargin
      )
    ),

    // Third image format — and the first COMPRESSED one: baseline-DCT
    // JPEG, decoded by the pure-JVM T.81 pipeline (marker walk,
    // canonical Huffman, DC DPCM + AC run-length, dequant, IDCT, 4:2:0
    // chroma upsample, BT.601 color convert). The synthetic payloads
    // are REAL 4:2:0 YCbCr JPEGs whose decoded pixels are closed-form
    // (each luma block carries only DC and the zigzag-10 vertical-
    // frequency-4 AC under a flat quant table, so the IDCT collapses
    // to 128 + D_b + A_b*s(y) with integer-exact rounding; neutral
    // chroma makes R=G=B=Y exactly) — the oracle re-derives every stat
    // from the formula alone, so only a decoder that actually
    // entropy-decodes and transforms the bytes can match. Map-only.
    Q(
      "q_image_decode_jpeg",
      (spark, dir) => {
        val jpg = (k: Long) => Multimodal.syntheticJpeg(k)
        val out = Multimodal.decodeImages(
          Q.fixture(Q.nationKeys(spark, dir, "media_id"), "media_id", "payload")(jpg),
          "media_id", "payload")
        out
      },
      Some(
        """WITH px AS (
          |  SELECT CAST(n_nationkey AS BIGINT) AS media_id, x, y,
          |    128 + ((n_nationkey * 31 + 7 * ((y // 8) * 2 + (x // 8))) % 120 - 60)
          |        + ((n_nationkey + (y // 8) * 2 + (x // 8)) % 16 - 8)
          |          * (CASE WHEN (y % 8) % 4 IN (0, 3) THEN 1 ELSE -1 END) AS v
          |  FROM nation,
          |       UNNEST(generate_series(0, 15)) AS ux(x),
          |       UNNEST(generate_series(0, 15)) AS uy(y)
          |), ch AS (
          |  SELECT media_id,
          |    CAST(SUM(v) AS BIGINT) AS s, CAST(SUM(v * v) AS BIGINT) AS q
          |  FROM px GROUP BY media_id
          |), grid AS (
          |  SELECT p.media_id, g.gx, g.gy, p.v AS gray
          |  FROM (SELECT gx, gy
          |        FROM UNNEST(generate_series(0, 8)) AS ux(gx),
          |             UNNEST(generate_series(0, 7)) AS uy(gy)) g
          |  JOIN px p ON p.x = (g.gx * 16) // 9 AND p.y = g.gy * 2
          |), bits AS (
          |  SELECT a.media_id, a.gx AS x, a.gy AS y
          |  FROM grid a JOIN grid b
          |    ON a.media_id = b.media_id AND b.gy = a.gy AND b.gx = a.gx + 1
          |  WHERE a.gx < 8 AND b.gray > a.gray
          |), dh AS (
          |  SELECT media_id,
          |    CAST(COALESCE(SUM(CASE WHEN y * 8 + x < 32
          |      THEN (CAST(1 AS BIGINT) << (y * 8 + x)) END), 0) AS BIGINT) AS dhash_lo,
          |    CAST(COALESCE(SUM(CASE WHEN y * 8 + x >= 32
          |      THEN (CAST(1 AS BIGINT) << (y * 8 + x - 32)) END), 0) AS BIGINT) AS dhash_hi
          |  FROM bits GROUP BY media_id
          |)
          |SELECT ch.media_id, 'jpeg' AS format, 16 AS width, 16 AS height,
          |  CAST(256 AS BIGINT) AS n_pixels,
          |  s AS sum_r, s AS sum_g, s AS sum_b, q AS ssq_r, q AS ssq_g, q AS ssq_b,
          |  CAST(COALESCE(dh.dhash_lo, 0) AS BIGINT) AS dhash_lo,
          |  CAST(COALESCE(dh.dhash_hi, 0) AS BIGINT) AS dhash_hi
          |FROM ch LEFT JOIN dh USING (media_id)""".stripMargin
      )
    ),

    // Fourth image format, second COMPRESSED one: PNG via the JDK's
    // zlib. The synthetic payloads are real deflated RGB PNGs carrying
    // the SAME logical pixel formula as the PPM/BMP gates — with each
    // row forward-filtered by type y mod 5, so matching requires
    // correct inflate + all five unfilter paths (None/Sub/Up/Average/
    // Paeth) — and the oracle is the PPM oracle with the format tag
    // swapped: three encodings, one source of truth. Map-only.
    Q(
      "q_image_decode_png",
      (spark, dir) => {
        val png = (k: Long) => Multimodal.syntheticPng(k, 8, 6)
        Multimodal.decodeImages(
          Q.fixture(Q.nationKeys(spark, dir, "media_id"), "media_id", "payload")(png),
          "media_id", "payload")
      },
      Some(
        """WITH px AS (
          |  SELECT CAST(n_nationkey AS BIGINT) AS media_id, i AS m,
          |    (n_nationkey * 31 + i) % 256 AS v
          |  FROM nation, UNNEST(generate_series(0, 143)) AS u(i)
          |), ch AS (
          |  SELECT media_id,
          |    CAST(SUM(CASE WHEN m % 3 = 0 THEN v END) AS BIGINT) AS sum_r,
          |    CAST(SUM(CASE WHEN m % 3 = 1 THEN v END) AS BIGINT) AS sum_g,
          |    CAST(SUM(CASE WHEN m % 3 = 2 THEN v END) AS BIGINT) AS sum_b,
          |    CAST(SUM(CASE WHEN m % 3 = 0 THEN v * v END) AS BIGINT) AS ssq_r,
          |    CAST(SUM(CASE WHEN m % 3 = 1 THEN v * v END) AS BIGINT) AS ssq_g,
          |    CAST(SUM(CASE WHEN m % 3 = 2 THEN v * v END) AS BIGINT) AS ssq_b
          |  FROM px GROUP BY media_id
          |), grid AS (
          |  SELECT CAST(n_nationkey AS BIGINT) AS media_id, gx, gy,
          |    (((n_nationkey * 31 + (((gy * 6) // 8) * 8 + ((gx * 8) // 9)) * 3 + 0) % 256)
          |     + ((n_nationkey * 31 + (((gy * 6) // 8) * 8 + ((gx * 8) // 9)) * 3 + 1) % 256)
          |     + ((n_nationkey * 31 + (((gy * 6) // 8) * 8 + ((gx * 8) // 9)) * 3 + 2) % 256)) // 3 AS gray
          |  FROM nation,
          |       UNNEST(generate_series(0, 8)) AS ux(gx),
          |       UNNEST(generate_series(0, 7)) AS uy(gy)
          |), bits AS (
          |  SELECT a.media_id, a.gx AS x, a.gy AS y
          |  FROM grid a JOIN grid b
          |    ON a.media_id = b.media_id AND b.gy = a.gy AND b.gx = a.gx + 1
          |  WHERE a.gx < 8 AND b.gray > a.gray
          |), dh AS (
          |  SELECT media_id,
          |    CAST(COALESCE(SUM(CASE WHEN y * 8 + x < 32
          |      THEN (CAST(1 AS BIGINT) << (y * 8 + x)) END), 0) AS BIGINT) AS dhash_lo,
          |    CAST(COALESCE(SUM(CASE WHEN y * 8 + x >= 32
          |      THEN (CAST(1 AS BIGINT) << (y * 8 + x - 32)) END), 0) AS BIGINT) AS dhash_hi
          |  FROM bits GROUP BY media_id
          |)
          |SELECT ch.media_id, 'png' AS format, 8 AS width, 6 AS height,
          |  CAST(48 AS BIGINT) AS n_pixels,
          |  sum_r, sum_g, sum_b, ssq_r, ssq_g, ssq_b,
          |  CAST(COALESCE(dh.dhash_lo, 0) AS BIGINT) AS dhash_lo,
          |  CAST(COALESCE(dh.dhash_hi, 0) AS BIGINT) AS dhash_hi
          |FROM ch LEFT JOIN dh USING (media_id)""".stripMargin
      )
    ),

    // WebP — the most common CURRENT web image format, fifth in the
    // family and LOSSLESS (VP8L), so closed-form oracle-able like
    // PNG/GIF: the payloads are real VP8L bitstreams (prefix codes —
    // normal canonical ones behind the code-length code — with the
    // SUBTRACT_GREEN transform rotating by key parity) carrying the
    // SAME logical pixel formula as PPM/BMP/PNG, and the oracle is
    // the PNG oracle with the format tag swapped: four encodings, one
    // source of truth. Map-only.
    Q(
      "q_image_decode_webp",
      (spark, dir) => {
        val webp = (k: Long) => Multimodal.syntheticWebp(k, 8, 6)
        val out = Multimodal.decodeImages(
          Q.fixture(Q.nationKeys(spark, dir, "media_id"), "media_id", "payload")(webp),
          "media_id", "payload")
        Q.requireNoShuffle(out)
        out
      },
      Some(
        """WITH px AS (
          |  SELECT CAST(n_nationkey AS BIGINT) AS media_id, i AS m,
          |    (n_nationkey * 31 + i) % 256 AS v
          |  FROM nation, UNNEST(generate_series(0, 143)) AS u(i)
          |), ch AS (
          |  SELECT media_id,
          |    CAST(SUM(CASE WHEN m % 3 = 0 THEN v END) AS BIGINT) AS sum_r,
          |    CAST(SUM(CASE WHEN m % 3 = 1 THEN v END) AS BIGINT) AS sum_g,
          |    CAST(SUM(CASE WHEN m % 3 = 2 THEN v END) AS BIGINT) AS sum_b,
          |    CAST(SUM(CASE WHEN m % 3 = 0 THEN v * v END) AS BIGINT) AS ssq_r,
          |    CAST(SUM(CASE WHEN m % 3 = 1 THEN v * v END) AS BIGINT) AS ssq_g,
          |    CAST(SUM(CASE WHEN m % 3 = 2 THEN v * v END) AS BIGINT) AS ssq_b
          |  FROM px GROUP BY media_id
          |), grid AS (
          |  SELECT CAST(n_nationkey AS BIGINT) AS media_id, gx, gy,
          |    (((n_nationkey * 31 + (((gy * 6) // 8) * 8 + ((gx * 8) // 9)) * 3 + 0) % 256)
          |     + ((n_nationkey * 31 + (((gy * 6) // 8) * 8 + ((gx * 8) // 9)) * 3 + 1) % 256)
          |     + ((n_nationkey * 31 + (((gy * 6) // 8) * 8 + ((gx * 8) // 9)) * 3 + 2) % 256)) // 3 AS gray
          |  FROM nation,
          |       UNNEST(generate_series(0, 8)) AS ux(gx),
          |       UNNEST(generate_series(0, 7)) AS uy(gy)
          |), bits AS (
          |  SELECT a.media_id, a.gx AS x, a.gy AS y
          |  FROM grid a JOIN grid b
          |    ON a.media_id = b.media_id AND b.gy = a.gy AND b.gx = a.gx + 1
          |  WHERE a.gx < 8 AND b.gray > a.gray
          |), dh AS (
          |  SELECT media_id,
          |    CAST(COALESCE(SUM(CASE WHEN y * 8 + x < 32
          |      THEN (CAST(1 AS BIGINT) << (y * 8 + x)) END), 0) AS BIGINT) AS dhash_lo,
          |    CAST(COALESCE(SUM(CASE WHEN y * 8 + x >= 32
          |      THEN (CAST(1 AS BIGINT) << (y * 8 + x - 32)) END), 0) AS BIGINT) AS dhash_hi
          |  FROM bits GROUP BY media_id
          |)
          |SELECT ch.media_id, 'webp' AS format, 8 AS width, 6 AS height,
          |  CAST(48 AS BIGINT) AS n_pixels,
          |  sum_r, sum_g, sum_b, ssq_r, ssq_g, ssq_b,
          |  CAST(COALESCE(dh.dhash_lo, 0) AS BIGINT) AS dhash_lo,
          |  CAST(COALESCE(dh.dhash_hi, 0) AS BIGINT) AS dhash_hi
          |FROM ch LEFT JOIN dh USING (media_id)""".stripMargin
      )
    ),

    // GIF — the third COMPRESSED image format, and like FLAC a
    // LOSSLESS one, which is what makes it closed-form oracle-able:
    // the LZW-coded index stream reconstructs exactly and maps through
    // the closed-form palette, so the oracle re-derives every RGB
    // value from the index formula alone — only a decoder that walks
    // the variable-width LSB-first code stream (dictionary growth with
    // the one-entry decode lag, KwKwK, CLEAR resets) matches. The
    // fixture encoder is a REAL LZW compressor, and the codec pair is
    // additionally pinned pixel-for-pixel against the JDK's own
    // ImageIO GIF reader in MultimodalSpec — external conformance,
    // not just self-consistency. Map-only like every codec.
    Q(
      "q_image_decode_gif",
      (spark, dir) => {
        val gif = (k: Long) => Multimodal.syntheticGif(k, 16, 16)
        val out = Multimodal.decodeImages(
          Q.fixture(Q.nationKeys(spark, dir, "media_id"), "media_id", "payload")(gif),
          "media_id", "payload")
        Q.requireNoShuffle(out)
        out
      },
      Some(
        """WITH px AS (
          |  SELECT CAST(n_nationkey AS BIGINT) AS media_id, x, y,
          |    ((n_nationkey * 31 + y * 16 + x * 7) % 128 * 37) % 256 AS r,
          |    ((n_nationkey * 31 + y * 16 + x * 7) % 128 * 59) % 256 AS g,
          |    ((n_nationkey * 31 + y * 16 + x * 7) % 128 * 83) % 256 AS b
          |  FROM nation,
          |       UNNEST(generate_series(0, 15)) AS ux(x),
          |       UNNEST(generate_series(0, 15)) AS uy(y)
          |), ch AS (
          |  SELECT media_id,
          |    CAST(SUM(r) AS BIGINT) AS sum_r, CAST(SUM(g) AS BIGINT) AS sum_g,
          |    CAST(SUM(b) AS BIGINT) AS sum_b,
          |    CAST(SUM(r * r) AS BIGINT) AS ssq_r, CAST(SUM(g * g) AS BIGINT) AS ssq_g,
          |    CAST(SUM(b * b) AS BIGINT) AS ssq_b
          |  FROM px GROUP BY media_id
          |), grid AS (
          |  SELECT p.media_id, gx, gy, (p.r + p.g + p.b) // 3 AS gray
          |  FROM (SELECT * FROM UNNEST(generate_series(0, 8)) AS ux(gx)) a,
          |       (SELECT * FROM UNNEST(generate_series(0, 7)) AS uy(gy)) c,
          |       px p
          |  WHERE p.x = (gx * 16) // 9 AND p.y = (gy * 16) // 8
          |), bits AS (
          |  SELECT a.media_id, a.gx AS x, a.gy AS y
          |  FROM grid a JOIN grid b
          |    ON a.media_id = b.media_id AND b.gy = a.gy AND b.gx = a.gx + 1
          |  WHERE a.gx < 8 AND b.gray > a.gray
          |), dh AS (
          |  SELECT media_id,
          |    CAST(COALESCE(SUM(CASE WHEN y * 8 + x < 32
          |      THEN (CAST(1 AS BIGINT) << (y * 8 + x)) END), 0) AS BIGINT) AS dhash_lo,
          |    CAST(COALESCE(SUM(CASE WHEN y * 8 + x >= 32
          |      THEN (CAST(1 AS BIGINT) << (y * 8 + x - 32)) END), 0) AS BIGINT) AS dhash_hi
          |  FROM bits GROUP BY media_id
          |)
          |SELECT ch.media_id, 'gif' AS format, 16 AS width, 16 AS height,
          |  CAST(256 AS BIGINT) AS n_pixels,
          |  sum_r, sum_g, sum_b, ssq_r, ssq_g, ssq_b,
          |  CAST(COALESCE(dh.dhash_lo, 0) AS BIGINT) AS dhash_lo,
          |  CAST(COALESCE(dh.dhash_hi, 0) AS BIGINT) AS dhash_hi
          |FROM ch LEFT JOIN dh USING (media_id)""".stripMargin
      )
    ),

    // The RESIZE stage of multimodal preprocessing: decode → 2×2
    // box-average downsample (per-channel integer mean, floor) → the
    // shared raster stats — what a training pipeline runs before
    // feature extraction so every image meets the model's input grid.
    // The oracle re-derives every RESIZED pixel from the source pixel
    // formula ((k·31+m) mod 256, averaged over each 2×2 block in
    // integer math), then recomputes moments and the dHash on the
    // 4×3 result — only a resize that averages exactly the right
    // source block per channel matches. Map-only.
    Q(
      "q_image_resize",
      (spark, dir) => {
        val out = Multimodal.decodeImagesResized(
          Q.fixture(Q.nationKeys(spark, dir, "media_id"), "media_id", "payload")(ppm8x6),
          "media_id", "payload", factor = 2)
        Q.requireNoShuffle(out)
        out
      },
      Some(
        """WITH rp AS (
          |  SELECT CAST(n_nationkey AS BIGINT) AS media_id, bx, by, c,
          |    (  (n_nationkey * 31 + ((2 * by) * 8 + 2 * bx) * 3 + c) % 256
          |     + (n_nationkey * 31 + ((2 * by) * 8 + 2 * bx + 1) * 3 + c) % 256
          |     + (n_nationkey * 31 + ((2 * by + 1) * 8 + 2 * bx) * 3 + c) % 256
          |     + (n_nationkey * 31 + ((2 * by + 1) * 8 + 2 * bx + 1) * 3 + c) % 256
          |    ) // 4 AS v
          |  FROM nation,
          |       UNNEST(generate_series(0, 3)) AS ux(bx),
          |       UNNEST(generate_series(0, 2)) AS uy(by),
          |       UNNEST(generate_series(0, 2)) AS uc(c)
          |), ch AS (
          |  SELECT media_id,
          |    CAST(SUM(CASE WHEN c = 0 THEN v END) AS BIGINT) AS sum_r,
          |    CAST(SUM(CASE WHEN c = 1 THEN v END) AS BIGINT) AS sum_g,
          |    CAST(SUM(CASE WHEN c = 2 THEN v END) AS BIGINT) AS sum_b,
          |    CAST(SUM(CASE WHEN c = 0 THEN v * v END) AS BIGINT) AS ssq_r,
          |    CAST(SUM(CASE WHEN c = 1 THEN v * v END) AS BIGINT) AS ssq_g,
          |    CAST(SUM(CASE WHEN c = 2 THEN v * v END) AS BIGINT) AS ssq_b
          |  FROM rp GROUP BY media_id
          |), grid AS (
          |  SELECT r.media_id, g.gx, g.gy, SUM(r.v) // 3 AS gray
          |  FROM (SELECT gx, gy
          |        FROM UNNEST(generate_series(0, 8)) AS ux(gx),
          |             UNNEST(generate_series(0, 7)) AS uy(gy)) g
          |  JOIN rp r ON r.bx = (g.gx * 4) // 9 AND r.by = (g.gy * 3) // 8
          |  GROUP BY r.media_id, g.gx, g.gy
          |), bits AS (
          |  SELECT a.media_id, a.gx AS x, a.gy AS y
          |  FROM grid a JOIN grid b
          |    ON a.media_id = b.media_id AND b.gy = a.gy AND b.gx = a.gx + 1
          |  WHERE a.gx < 8 AND b.gray > a.gray
          |), dh AS (
          |  SELECT media_id,
          |    CAST(COALESCE(SUM(CASE WHEN y * 8 + x < 32
          |      THEN (CAST(1 AS BIGINT) << (y * 8 + x)) END), 0) AS BIGINT) AS dhash_lo,
          |    CAST(COALESCE(SUM(CASE WHEN y * 8 + x >= 32
          |      THEN (CAST(1 AS BIGINT) << (y * 8 + x - 32)) END), 0) AS BIGINT) AS dhash_hi
          |  FROM bits GROUP BY media_id
          |)
          |SELECT ch.media_id, 'ppm' AS format, 4 AS width, 3 AS height,
          |  CAST(12 AS BIGINT) AS n_pixels,
          |  sum_r, sum_g, sum_b, ssq_r, ssq_g, ssq_b,
          |  CAST(COALESCE(dh.dhash_lo, 0) AS BIGINT) AS dhash_lo,
          |  CAST(COALESCE(dh.dhash_hi, 0) AS BIGINT) AS dhash_hi
          |FROM ch LEFT JOIN dh USING (media_id)""".stripMargin
      )
    ),

    // REAL audio decode, end to end: deterministic RIFF/WAVE PCM-16
    // payloads per nation row — interleaved sample i carries
    // ((key·31+i)·97) mod 2^16 two's-complement — alternating mono
    // (even keys) and stereo (odd keys) so the channel de-interleave is
    // actually exercised. The pure-JVM chunk-walking parser decodes the
    // BYTES and reports layout, per-channel integer moments and
    // zero-crossing counts; the oracle re-derives every sample from the
    // formula alone, so only a decoder that correctly walks chunks,
    // sign-extends little-endian 16-bit samples and de-interleaves
    // channels matches. Map-only (no shuffle beyond 25 rows).
    Q(
      "q_audio_decode_wav",
      (spark, dir) => {
        val wav = (k: Long) =>
          Multimodal.syntheticWav(k, 1 + (k % 2).toInt, 8000, 96)
        val out = Multimodal.decodeAudio(
          Q.fixture(Q.nationKeys(spark, dir, "media_id"), "media_id", "payload")(wav),
          "media_id", "payload")
        Q.requireNoShuffle(out) // decode is map-only end to end
        out
      },
      Some(
        """WITH sg AS (
          |  SELECT CAST(n_nationkey AS BIGINT) AS media_id,
          |    1 + CAST(n_nationkey % 2 AS INT) AS ch,
          |    i // (1 + n_nationkey % 2) AS t,
          |    i % (1 + n_nationkey % 2) AS c,
          |    CASE WHEN ((n_nationkey * 31 + i) * 97) % 65536 >= 32768
          |         THEN ((n_nationkey * 31 + i) * 97) % 65536 - 65536
          |         ELSE ((n_nationkey * 31 + i) * 97) % 65536 END AS s
          |  FROM nation, UNNEST(generate_series(0, 191)) AS u(i)
          |  WHERE i < 96 * (1 + n_nationkey % 2)
          |), agg AS (
          |  SELECT media_id, ch,
          |    CAST(COALESCE(SUM(CASE WHEN c = 0 THEN s END), 0) AS BIGINT) AS sum_c0,
          |    CAST(COALESCE(SUM(CASE WHEN c = 0 THEN s * s END), 0) AS BIGINT) AS ssq_c0,
          |    CAST(COALESCE(SUM(CASE WHEN c = 1 THEN s END), 0) AS BIGINT) AS sum_c1,
          |    CAST(COALESCE(SUM(CASE WHEN c = 1 THEN s * s END), 0) AS BIGINT) AS ssq_c1
          |  FROM sg GROUP BY media_id, ch
          |), zc AS (
          |  SELECT a.media_id, a.c,
          |    CAST(SUM(CASE WHEN (a.s < 0) <> (b.s < 0) THEN 1 ELSE 0 END) AS BIGINT) AS z
          |  FROM sg a JOIN sg b
          |    ON a.media_id = b.media_id AND a.c = b.c AND b.t = a.t + 1
          |  GROUP BY a.media_id, a.c
          |)
          |SELECT agg.media_id, 'wav' AS format, CAST(ch AS INT) AS n_channels,
          |  CAST(8000 AS INT) AS sample_rate,
          |  CAST(96 AS BIGINT) AS n_frames, CAST(12 AS BIGINT) AS dur_ms,
          |  sum_c0, ssq_c0, CAST(COALESCE(z0.z, 0) AS BIGINT) AS zc_c0,
          |  sum_c1, ssq_c1, CAST(COALESCE(z1.z, 0) AS BIGINT) AS zc_c1
          |FROM agg
          |LEFT JOIN zc z0 ON z0.media_id = agg.media_id AND z0.c = 0
          |LEFT JOIN zc z1 ON z1.media_id = agg.media_id AND z1.c = 1""".stripMargin
      )
    ),

    // First COMPRESSED audio format: IMA/DVI ADPCM (WAV tag 0x11) —
    // 4-bit nibbles expanding through the public adaptive step-size
    // state machine. The oracle IS that state machine, run as a
    // RECURSIVE CTE over the closed-form nibble sequence with the step
    // table as a literal list: all-integer transitions (shifts as
    // floor-divides, symmetric clamps), so only a decoder that walks
    // the exact predictor/step-index automaton matches every sample's
    // contribution to the moments and zero-crossing counts. Map-only.
    Q(
      "q_audio_decode_ima",
      (spark, dir) => {
        val ima = (k: Long) => Multimodal.syntheticWavIma(k)
        val out = Multimodal.decodeAudio(
          Q.fixture(Q.nationKeys(spark, dir, "media_id"), "media_id", "payload")(ima),
          "media_id", "payload")
        Q.requireNoShuffle(out) // decode is map-only end to end
        out
      },
      Some {
        val stepList = Multimodal.ImaStepTable.mkString("[", ", ", "]")
        s"""WITH RECURSIVE stp AS (SELECT $stepList AS t),
           |dec AS (
           |  SELECT CAST(n_nationkey AS BIGINT) AS media_id, 0 AS i,
           |    CAST((n_nationkey * 37) % 256 - 128 AS BIGINT) AS pred,
           |    CAST(n_nationkey % 16 AS BIGINT) AS idx
           |  FROM nation
           |  UNION ALL
           |  SELECT media_id, i + 1,
           |    CASE WHEN nib >= 8 THEN GREATEST(-32768, pred - diff)
           |         ELSE LEAST(32767, pred + diff) END,
           |    LEAST(88, GREATEST(0, idx +
           |      CASE WHEN nib % 8 < 4 THEN -1 ELSE (nib % 8 - 3) * 2 END))
           |  FROM (
           |    SELECT media_id, i, pred, idx, (media_id + i) % 16 AS nib,
           |      t[CAST(idx AS INT) + 1] // 8
           |        + CASE WHEN ((media_id + i) % 16 // 4) % 2 = 1
           |               THEN t[CAST(idx AS INT) + 1] ELSE 0 END
           |        + CASE WHEN ((media_id + i) % 16 // 2) % 2 = 1
           |               THEN t[CAST(idx AS INT) + 1] // 2 ELSE 0 END
           |        + CASE WHEN (media_id + i) % 16 % 2 = 1
           |               THEN t[CAST(idx AS INT) + 1] // 4 ELSE 0 END AS diff
           |    FROM dec CROSS JOIN stp WHERE i < 64) s0
           |),
           |au AS (
           |  SELECT media_id,
           |    CAST(COUNT(*) AS BIGINT) AS n_frames,
           |    CAST(SUM(pred) AS BIGINT) AS sum_c0,
           |    CAST(SUM(pred * pred) AS BIGINT) AS ssq_c0
           |  FROM dec GROUP BY media_id
           |), zc AS (
           |  SELECT media_id, CAST(COUNT(*) AS BIGINT) AS z
           |  FROM (SELECT media_id, pred,
           |          LAG(pred) OVER (PARTITION BY media_id ORDER BY i) AS prev
           |        FROM dec) lagd
           |  WHERE prev IS NOT NULL AND ((prev < 0) <> (pred < 0))
           |  GROUP BY media_id
           |)
           |SELECT au.media_id, 'wav_ima' AS format, CAST(1 AS INT) AS n_channels,
           |  CAST(8000 AS INT) AS sample_rate,
           |  n_frames, CAST(n_frames * 1000 // 8000 AS BIGINT) AS dur_ms,
           |  sum_c0, ssq_c0, CAST(COALESCE(zc.z, 0) AS BIGINT) AS zc_c0,
           |  CAST(0 AS BIGINT) AS sum_c1, CAST(0 AS BIGINT) AS ssq_c1,
           |  CAST(0 AS BIGINT) AS zc_c1
           |FROM au LEFT JOIN zc ON zc.media_id = au.media_id""".stripMargin
      }
    ),

    // MS ADPCM (wFormatTag 2) — the third ADPCM family member,
    // completing the WAV codec matrix (PCM, IMA, G.711 μ/A, MS): a
    // TWO-TAP adaptive predictor — each block picks one of the seven
    // standard (iCoef1, iCoef2) pairs; the fixture's seed mod 7
    // exercises ALL SEVEN across the key range, including the
    // negative-iCoef2 pairs whose prediction sum goes negative (both
    // engines truncate integer division toward zero — verified, not
    // assumed). The oracle runs the predictor/adaptation state machine
    // as a recursive CTE from the same closed-form seeds, re-deriving
    // every sample including the two header samples (OLDER first).
    // Map-only like every codec.
    Q(
      "q_audio_decode_ms",
      (spark, dir) => {
        val wav = (k: Long) => Multimodal.syntheticWavMs(k)
        val out = Multimodal.decodeAudio(
          Q.fixture(Q.nationKeys(spark, dir, "media_id"), "media_id", "payload")(wav),
          "media_id", "payload")
        Q.requireNoShuffle(out)
        out
      },
      Some {
        val adapt = Multimodal.MsAdaptTable.mkString("[", ", ", "]")
        val co1 = Multimodal.MsCoef1.mkString("[", ", ", "]")
        val co2 = Multimodal.MsCoef2.mkString("[", ", ", "]")
        s"""WITH RECURSIVE ad AS (SELECT $adapt AS t),
           |cf AS (
           |  SELECT CAST(n_nationkey AS BIGINT) AS media_id,
           |    CAST((n_nationkey * 31) % 256 - 128 AS BIGINT) AS s1,
           |    CAST((n_nationkey * 17) % 256 - 128 AS BIGINT) AS s2,
           |    CAST(16 + (n_nationkey * 13) % 240 AS BIGINT) AS delta,
           |    ($co1)[CAST(n_nationkey % 7 AS INT) + 1] AS c1,
           |    ($co2)[CAST(n_nationkey % 7 AS INT) + 1] AS c2
           |  FROM nation
           |), dec AS (
           |  SELECT media_id, 0 AS i, s1, s2, delta, c1, c2 FROM cf
           |  UNION ALL
           |  SELECT media_id, i + 1,
           |    LEAST(32767, GREATEST(-32768,
           |      (s1 * c1 + s2 * c2) // 256 + delta * snib)),
           |    s1,
           |    LEAST(16777216, GREATEST(16, t[CAST(nib AS INT) + 1] * delta // 256)),
           |    c1, c2
           |  FROM (
           |    SELECT d.*, ad.t, (d.media_id + d.i) % 16 AS nib,
           |      CASE WHEN (d.media_id + d.i) % 16 >= 8
           |           THEN (d.media_id + d.i) % 16 - 16
           |           ELSE (d.media_id + d.i) % 16 END AS snib
           |    FROM dec d CROSS JOIN ad WHERE d.i < 64) s0
           |), seqd AS (
           |  SELECT * FROM (
           |    SELECT media_id, -1 AS pos, s2 AS v FROM cf
           |    UNION ALL
           |    SELECT media_id, 0 AS pos, s1 AS v FROM cf
           |    UNION ALL
           |    SELECT media_id, i AS pos, s1 AS v FROM dec WHERE i >= 1)
           |), au AS (
           |  SELECT media_id,
           |    CAST(COUNT(*) AS BIGINT) AS n_frames,
           |    CAST(SUM(v) AS BIGINT) AS sum_c0,
           |    CAST(SUM(v * v) AS BIGINT) AS ssq_c0
           |  FROM seqd GROUP BY media_id
           |), zc AS (
           |  SELECT media_id, CAST(COUNT(*) AS BIGINT) AS z
           |  FROM (SELECT media_id, v,
           |          LAG(v) OVER (PARTITION BY media_id ORDER BY pos) AS prev
           |        FROM seqd) lagd
           |  WHERE prev IS NOT NULL AND ((prev < 0) <> (v < 0))
           |  GROUP BY media_id
           |)
           |SELECT au.media_id, 'wav_ms' AS format, CAST(1 AS INT) AS n_channels,
           |  CAST(8000 AS INT) AS sample_rate,
           |  n_frames, CAST(n_frames * 1000 // 8000 AS BIGINT) AS dur_ms,
           |  sum_c0, ssq_c0, CAST(COALESCE(zc.z, 0) AS BIGINT) AS zc_c0,
           |  CAST(0 AS BIGINT) AS sum_c1, CAST(0 AS BIGINT) AS ssq_c1,
           |  CAST(0 AS BIGINT) AS zc_c1
           |FROM au LEFT JOIN zc ON zc.media_id = au.media_id""".stripMargin
      }
    ),

    // FLAC — the dominant LOSSLESS web audio format, and lossless is
    // exactly what makes a compressed codec closed-form oracle-able:
    // rice-coded residuals reconstruct through fixed/LPC predictors to
    // EXACT integer samples, so the oracle re-derives every sample from
    // the generation formula without touching the bitstream — only a
    // decoder that walks metadata blocks, frame headers (CRC-8
    // verified), subframe typing, rice partitions, both predictor
    // families, and the frame CRC-16 reproduces them. Even nation keys
    // encode through FIXED order-1 subframes, odd keys through LPC
    // order-2 — two encodings, one sample stream, the lossless
    // guarantee made test-visible. Map-only like every codec.
    Q(
      "q_audio_decode_flac",
      (spark, dir) => {
        val blobs = Q.nationKeys(spark, dir, "media_id")
        val flac = (k: Long) => Multimodal.syntheticFlac(k)
        val out = Multimodal.decodeAudio(
          Q.fixture(blobs, "media_id", "payload")(flac),
          "media_id", "payload")
        Q.requireNoShuffle(out) // decode is map-only end to end
        out
      },
      Some(
        """WITH sg AS (
          |  SELECT CAST(n_nationkey AS BIGINT) AS media_id, i,
          |    (n_nationkey * 31 + i * 17) % 128 - 64 + (i % 5) * 9 AS s
          |  FROM nation, UNNEST(generate_series(0, 63)) AS u(i)
          |), agg AS (
          |  SELECT media_id,
          |    CAST(SUM(s) AS BIGINT) AS sum_c0,
          |    CAST(SUM(s * s) AS BIGINT) AS ssq_c0
          |  FROM sg GROUP BY media_id
          |), zc AS (
          |  SELECT media_id, CAST(COUNT(*) AS BIGINT) AS z
          |  FROM (SELECT media_id, s,
          |          LAG(s) OVER (PARTITION BY media_id ORDER BY i) AS prev
          |        FROM sg) lagd
          |  WHERE prev IS NOT NULL AND ((prev < 0) <> (s < 0))
          |  GROUP BY media_id
          |)
          |SELECT agg.media_id, 'flac' AS format, CAST(1 AS INT) AS n_channels,
          |  CAST(8000 AS INT) AS sample_rate,
          |  CAST(64 AS BIGINT) AS n_frames, CAST(8 AS BIGINT) AS dur_ms,
          |  sum_c0, ssq_c0, CAST(COALESCE(zc.z, 0) AS BIGINT) AS zc_c0,
          |  CAST(0 AS BIGINT) AS sum_c1, CAST(0 AS BIGINT) AS ssq_c1,
          |  CAST(0 AS BIGINT) AS zc_c1
          |FROM agg LEFT JOIN zc ON zc.media_id = agg.media_id""".stripMargin
      )
    ),

    // Audio INVENTORY without decode — the metadata pass a corpus
    // pipeline runs over millions of blobs before deciding what to
    // decode: ID3v2 tag text frames (title/artist; v2.3 plain-BE and
    // v2.4 syncsafe frame sizes BOTH exercised — the classic interop
    // trap — plus latin-1 AND UTF-8 encodings) and the MPEG-1 audio
    // frame-header walk (all three layers, Layer I slot-padding,
    // VBR detection, duration from pure header arithmetic — ~30 bytes
    // read per frame regardless of payload size). Perceptual PCM
    // stays the documented boundary (the ISO polyphase window is a
    // numeric table, not a formula); the FRAMING layer is spec
    // arithmetic and every column here is closed-form. Five arms:
    // v2.3+CBR-MP3 / v2.4+VBR-MP2 / untagged padded Layer I /
    // tag-only / not-MPEG-at-all. Map-only, shuffle-free.
    Q(
      "q_audio_inventory",
      (spark, dir) => {
        val mk = (k: Long) => graft.operators.AudioMeta.syntheticMpeg(k)
        val out = graft.operators.AudioMeta.audioInventory(
          Q.fixture(Q.nationKeys(spark, dir, "media_id"), "media_id", "payload")(mk),
          "media_id", "payload")
        Q.requireNoShuffle(out) // inventory is map-only end to end
        out
      },
      Some(
        """SELECT CAST(n_nationkey AS BIGINT) AS media_id,
          |  CAST(CASE CAST(n_nationkey % 5 AS INT)
          |    WHEN 0 THEN 3 WHEN 1 THEN 4 WHEN 3 THEN 3 ELSE 0 END AS INT) AS tag_ver,
          |  CASE CAST(n_nationkey % 5 AS INT)
          |    WHEN 0 THEN 'Track ' || CAST(n_nationkey AS VARCHAR)
          |    WHEN 1 THEN 'Träck ' || CAST(n_nationkey AS VARCHAR)
          |    WHEN 3 THEN 'Silent ' || CAST(n_nationkey AS VARCHAR)
          |  END AS title,
          |  CASE CAST(n_nationkey % 5 AS INT)
          |    WHEN 0 THEN 'Artist ' || CAST(n_nationkey % 7 AS VARCHAR)
          |  END AS artist,
          |  CAST(CASE CAST(n_nationkey % 5 AS INT)
          |    WHEN 0 THEN 3 WHEN 1 THEN 2 WHEN 2 THEN 1 ELSE 0 END AS INT) AS layer,
          |  CAST(CASE CAST(n_nationkey % 5 AS INT)
          |    WHEN 0 THEN 44100 WHEN 1 THEN 48000 WHEN 2 THEN 32000
          |    ELSE 0 END AS INT) AS sample_rate,
          |  CAST(CASE CAST(n_nationkey % 5 AS INT)
          |    WHEN 0 THEN 1 WHEN 1 THEN 2 WHEN 2 THEN 2 ELSE 0 END AS INT) AS n_channels,
          |  CAST(CASE CAST(n_nationkey % 5 AS INT)
          |    WHEN 0 THEN 6 WHEN 1 THEN 4 WHEN 2 THEN 8 ELSE 0 END AS BIGINT) AS n_frames,
          |  CAST(CASE CAST(n_nationkey % 5 AS INT)
          |    WHEN 0 THEN 6912 WHEN 1 THEN 4608 WHEN 2 THEN 3072
          |    ELSE 0 END AS BIGINT) AS n_samples,
          |  CAST(CASE CAST(n_nationkey % 5 AS INT)
          |    WHEN 0 THEN 156 WHEN 1 THEN 96 WHEN 2 THEN 96
          |    ELSE 0 END AS BIGINT) AS dur_ms,
          |  CASE CAST(n_nationkey % 5 AS INT)
          |    WHEN 0 THEN 'cbr' WHEN 1 THEN 'vbr' WHEN 2 THEN 'cbr'
          |    ELSE 'none' END AS bitrate_mode,
          |  CAST(CASE CAST(n_nationkey % 5 AS INT)
          |    WHEN 0 THEN 128 WHEN 1 THEN 96 WHEN 2 THEN 256
          |    ELSE 0 END AS INT) AS kbps_min,
          |  CAST(CASE CAST(n_nationkey % 5 AS INT)
          |    WHEN 0 THEN 128 WHEN 1 THEN 128 WHEN 2 THEN 256
          |    ELSE 0 END AS INT) AS kbps_max
          |FROM nation""".stripMargin
      )
    ),

    // MP4/ISO-BMFF inventory — the web's video container, walked at
    // the BOX level (size+type, largesize and run-to-end forms,
    // recursion into moov/trak/mdia): major brand, movie timescale +
    // duration (v0 AND v1 mvhd layouts), track count, handler kinds,
    // and the video track's 16.16 presentation dimensions — everything
    // a corpus triage pass needs before committing decode resources,
    // from header arithmetic alone. Arms: isom v0 two-track A/V with
    // seed-varied width / mp42 v1 64-bit-duration audio-only /
    // not-BMFF degrade. Map-only.
    Q(
      "q_mp4_inventory",
      (spark, dir) => {
        val mk = (k: Long) => graft.operators.ContainerMeta.syntheticMp4(k)
        val out = graft.operators.ContainerMeta.mp4Inventories(
          Q.fixture(Q.nationKeys(spark, dir, "media_id"), "media_id", "payload")(mk),
          "media_id", "payload")
        Q.requireNoShuffle(out)
        out
      },
      Some(
        """SELECT CAST(n_nationkey AS BIGINT) AS media_id,
          |  CASE CAST(n_nationkey % 3 AS INT)
          |    WHEN 0 THEN 'isom' WHEN 1 THEN 'mp42' END AS brand,
          |  CAST(CASE CAST(n_nationkey % 3 AS INT)
          |    WHEN 0 THEN 1000 WHEN 1 THEN 600 ELSE 0 END AS BIGINT) AS timescale,
          |  CAST(CASE CAST(n_nationkey % 3 AS INT)
          |    WHEN 0 THEN 90000 + n_nationkey
          |    WHEN 1 THEN 1234567890 + n_nationkey
          |    ELSE 0 END AS BIGINT) AS duration,
          |  CAST(CASE CAST(n_nationkey % 3 AS INT)
          |    WHEN 0 THEN 90000 + n_nationkey
          |    WHEN 1 THEN CAST(1234567890 + n_nationkey AS BIGINT) * 1000 // 600
          |    ELSE 0 END AS BIGINT) AS dur_ms,
          |  CAST(CASE CAST(n_nationkey % 3 AS INT)
          |    WHEN 0 THEN 2 WHEN 1 THEN 1 ELSE 0 END AS INT) AS n_tracks,
          |  CAST(n_nationkey % 3 AS INT) = 0 AS has_video,
          |  CAST(n_nationkey % 3 AS INT) IN (0, 1) AS has_audio,
          |  CAST(CASE CAST(n_nationkey % 3 AS INT)
          |    WHEN 0 THEN 640 + n_nationkey % 5 ELSE 0 END AS INT) AS width,
          |  CAST(CASE CAST(n_nationkey % 3 AS INT)
          |    WHEN 0 THEN 360 ELSE 0 END AS INT) AS height
          |FROM nation""".stripMargin
      )
    ),

    // Ogg inventory — the other audio container family (Vorbis/Opus):
    // page walk (magic, lacing table, granule positions) plus the
    // first page's identification header. Duration comes from the
    // LAST page's granule — Opus granules always tick at 48 kHz with
    // pre-skip subtracting, Vorbis at the stream rate — so a torn
    // download shows a shorter walk and duration, never a throw.
    // Arms: Opus stereo pre-skip 312 / Vorbis with seed-varied
    // channel count / not-Ogg degrade. Map-only.
    Q(
      "q_ogg_inventory",
      (spark, dir) => {
        val mk = (k: Long) => graft.operators.ContainerMeta.syntheticOgg(k)
        val out = graft.operators.ContainerMeta.oggInventories(
          Q.fixture(Q.nationKeys(spark, dir, "media_id"), "media_id", "payload")(mk),
          "media_id", "payload")
        Q.requireNoShuffle(out)
        out
      },
      Some(
        """SELECT CAST(n_nationkey AS BIGINT) AS media_id,
          |  CASE CAST(n_nationkey % 3 AS INT)
          |    WHEN 0 THEN 'opus' WHEN 1 THEN 'vorbis'
          |    ELSE 'unknown' END AS codec,
          |  CAST(CASE CAST(n_nationkey % 3 AS INT)
          |    WHEN 0 THEN 2 WHEN 1 THEN 1 + n_nationkey % 2
          |    ELSE 0 END AS INT) AS n_channels,
          |  CAST(CASE CAST(n_nationkey % 3 AS INT)
          |    WHEN 0 THEN 48000 WHEN 1 THEN 44100 ELSE 0 END AS INT) AS sample_rate,
          |  CAST(CASE WHEN n_nationkey % 3 IN (0, 1) THEN 2 ELSE 0 END AS BIGINT) AS n_pages,
          |  CAST(CASE CAST(n_nationkey % 3 AS INT)
          |    WHEN 0 THEN 48000 + n_nationkey
          |    WHEN 1 THEN 22050 + n_nationkey
          |    ELSE 0 END AS BIGINT) AS granule,
          |  CAST(CASE CAST(n_nationkey % 3 AS INT)
          |    WHEN 0 THEN (48000 + n_nationkey - 312) * 1000 // 48000
          |    WHEN 1 THEN (22050 + n_nationkey) * 1000 // 44100
          |    ELSE 0 END AS BIGINT) AS dur_ms
          |FROM nation""".stripMargin
      )
    ),

    // Matroska/WebM inventory — the EBML walk completing the
    // container-inventory matrix (MP4 ✓, Ogg ✓, RIFF ✓, MKV/WebM here):
    // vint-coded element ids/sizes, DocType from the EBML header,
    // TimestampScale + float Duration from Segment/Info, track kinds,
    // codec ids, video dimensions and audio parameters from
    // Segment/Tracks — header arithmetic only, no codec work. Arms:
    // webm with the UNKNOWN-size (live-muxed) Segment form, VP9+Opus
    // A/V / matroska known-size audio-only with an f32 duration and a
    // non-default timestamp scale / the webm arm TORN 3 bytes into the
    // Tracks id (doc type, scale, duration survive; tracks don't — the
    // intact-prefix contract) / not-EBML degrade. All integer-exact:
    // fixture durations are exactly-representable floats. Map-only.
    Q(
      "q_mkv_inventory",
      (spark, dir) => {
        val mk = (k: Long) => graft.operators.ContainerMeta.syntheticMkv(k)
        val out = graft.operators.ContainerMeta.mkvInventories(
          Q.fixture(Q.nationKeys(spark, dir, "media_id"), "media_id", "payload")(mk),
          "media_id", "payload")
        Q.requireNoShuffle(out)
        out
      },
      Some(
        """SELECT CAST(n_nationkey AS BIGINT) AS media_id,
          |  CASE CAST(n_nationkey % 4 AS INT)
          |    WHEN 0 THEN 'webm' WHEN 1 THEN 'matroska'
          |    WHEN 2 THEN 'webm' END AS doc_type,
          |  CAST(CASE CAST(n_nationkey % 4 AS INT)
          |    WHEN 0 THEN 1000000 WHEN 1 THEN 2000000
          |    WHEN 2 THEN 1000000 ELSE 0 END AS BIGINT) AS timescale,
          |  CAST(CASE CAST(n_nationkey % 4 AS INT)
          |    WHEN 0 THEN 90000 + n_nationkey
          |    WHEN 1 THEN 60000 + 2 * (n_nationkey % 1000)
          |    WHEN 2 THEN 90000 + n_nationkey
          |    ELSE 0 END AS BIGINT) AS dur_ms,
          |  CAST(CASE CAST(n_nationkey % 4 AS INT)
          |    WHEN 0 THEN 2 WHEN 1 THEN 1 ELSE 0 END AS INT) AS n_tracks,
          |  CAST(n_nationkey % 4 AS INT) = 0 AS has_video,
          |  CAST(n_nationkey % 4 AS INT) IN (0, 1) AS has_audio,
          |  CAST(CASE CAST(n_nationkey % 4 AS INT)
          |    WHEN 0 THEN 1280 + n_nationkey % 7 ELSE 0 END AS INT) AS width,
          |  CAST(CASE CAST(n_nationkey % 4 AS INT)
          |    WHEN 0 THEN 720 ELSE 0 END AS INT) AS height,
          |  CASE CAST(n_nationkey % 4 AS INT)
          |    WHEN 0 THEN 'V_VP9' END AS video_codec,
          |  CASE CAST(n_nationkey % 4 AS INT)
          |    WHEN 0 THEN 'A_OPUS' WHEN 1 THEN 'A_VORBIS' END AS audio_codec,
          |  CAST(CASE CAST(n_nationkey % 4 AS INT)
          |    WHEN 0 THEN 2 WHEN 1 THEN 1 + n_nationkey % 2
          |    ELSE 0 END AS INT) AS n_channels,
          |  CAST(CASE CAST(n_nationkey % 4 AS INT)
          |    WHEN 0 THEN 48000 WHEN 1 THEN 44100 ELSE 0 END AS INT) AS sample_rate
          |FROM nation""".stripMargin
      )
    ),

    // Gzip member inventory — the compressed-format boundary measured
    // BEFORE any inflate commits CPU (RFC 1952): method, mtime, OS,
    // the FNAME header, the walked header length, and the trailer's
    // ISIZE — the decompressed size a scheduler bins work by — under
    // the single-member contract (the web norm). Arms: named member /
    // anonymous with FEXTRA+FHCRC (the skip fields) / torn mid-FNAME
    // (fixed header fields survive, name and trailer degrade) / not
    // gzip. Map-only.
    Q(
      "q_gzip_inventory",
      (spark, dir) => {
        val mk = (k: Long) => graft.operators.CompressedMeta.syntheticGzip(k)
        val out = graft.operators.CompressedMeta.gzipInventories(
          Q.fixture(Q.nationKeys(spark, dir, "media_id"), "media_id", "payload")(mk),
          "media_id", "payload")
        Q.requireNoShuffle(out)
        out
      },
      Some(
        """SELECT CAST(n_nationkey AS BIGINT) AS media_id,
          |  CAST(n_nationkey % 4 AS INT) <> 3 AS is_gzip,
          |  CAST(CASE WHEN n_nationkey % 4 = 3 THEN 0 ELSE 8 END AS INT) AS method,
          |  CAST(CASE WHEN n_nationkey % 4 IN (0, 2)
          |    THEN 1700000000 + n_nationkey ELSE 0 END AS BIGINT) AS mtime,
          |  CAST(CASE WHEN n_nationkey % 4 = 3 THEN 0 ELSE 3 END AS INT) AS os,
          |  CASE WHEN n_nationkey % 4 = 0
          |    THEN 'f' || CAST(n_nationkey AS VARCHAR) || '.txt' END AS fname,
          |  CAST(CASE CAST(n_nationkey % 4 AS INT)
          |    WHEN 0 THEN 11 + LENGTH('f' || CAST(n_nationkey AS VARCHAR) || '.txt')
          |    WHEN 1 THEN 18 ELSE 0 END AS INT) AS header_len,
          |  CAST(CASE CAST(n_nationkey % 4 AS INT)
          |    WHEN 0 THEN 20 + n_nationkey % 10
          |    WHEN 1 THEN 40 + n_nationkey % 10
          |    ELSE 0 END AS BIGINT) AS isize
          |FROM nation""".stripMargin
      )
    ),

    // Zstd frame inventory (RFC 8878) — the walk that makes zstd
    // archives SCHEDULABLE without entropy decode: every block header
    // carries its compressed extent, so frame count, declared content
    // sizes (FCS), the WINDOW requirement (the decoder's memory
    // bound — single-segment frames require exactly their content
    // size), dictionary ids and checksum presence all read in
    // O(blocks). Arms: single-segment raw-block frame with checksum /
    // windowed+dictionary RLE frame + a skippable frame + a second
    // single-segment frame / torn mid-block (the completed-frame
    // contract yields nothing) / not zstd. Map-only.
    Q(
      "q_zstd_inventory",
      (spark, dir) => {
        val mk = (k: Long) => graft.operators.CompressedMeta.syntheticZstd(k)
        val out = graft.operators.CompressedMeta.zstdInventories(
          Q.fixture(Q.nationKeys(spark, dir, "media_id"), "media_id", "payload")(mk),
          "media_id", "payload")
        Q.requireNoShuffle(out)
        out
      },
      Some(
        """SELECT CAST(n_nationkey AS BIGINT) AS media_id,
          |  CAST(CASE CAST(n_nationkey % 4 AS INT)
          |    WHEN 0 THEN 1 WHEN 1 THEN 2 ELSE 0 END AS BIGINT) AS n_frames,
          |  CAST(CASE WHEN n_nationkey % 4 = 1 THEN 1 ELSE 0 END AS BIGINT)
          |    AS n_skippable,
          |  CAST(CASE CAST(n_nationkey % 4 AS INT)
          |    WHEN 0 THEN 1 WHEN 1 THEN 2 ELSE 0 END AS BIGINT) AS n_blocks,
          |  CAST(CASE CAST(n_nationkey % 4 AS INT)
          |    WHEN 0 THEN 100 + n_nationkey % 100
          |    WHEN 1 THEN 1000 + n_nationkey + 40 + n_nationkey % 10
          |    ELSE 0 END AS BIGINT) AS content_size,
          |  CAST(CASE CAST(n_nationkey % 4 AS INT)
          |    WHEN 0 THEN 100 + n_nationkey % 100
          |    WHEN 1 THEN 2048 ELSE 0 END AS BIGINT) AS window_size,
          |  CAST(CASE WHEN n_nationkey % 4 = 1
          |    THEN 7 + n_nationkey % 5 ELSE 0 END AS BIGINT) AS dict_id,
          |  CAST(n_nationkey % 4 AS INT) = 0 AS has_checksum
          |FROM nation""".stripMargin
      )
    ),

    // MEDIA TRIAGE — the inventory layer doing its actual job: a MIXED
    // container stream (MP4, Ogg, MKV/WebM, and — since the VP8L
    // decoder landed — WebP images, interleaved by key) routed by pure
    // header walks into the pipeline each item belongs to —
    // video_pipeline / audio_pipeline / image_pipeline / quarantine
    // (torn, lossy-VP8 or unknown) — with the measured duration riding
    // along, BEFORE any decode resources commit. Every family's
    // torn/junk arms land in quarantine (the mkv torn arm is the
    // subtle one: doc type and duration parse, tracks don't —
    // inventoried but unusable; the webp lossy arm sniffs as webp but
    // has no decodable pixels). All four walks + the union are
    // map-only: the triage costs one scan, no shuffle, typed-asserted.
    // The oracle re-derives container, decision and duration
    // closed-form from the family x arm grid.
    Q(
      "q_media_triage",
      (spark, dir) => {
        val keys = Q.nationKeys(spark, dir, "media_id")
        val mk = (k: Long) => (k % 4) match {
          case 0 => graft.operators.ContainerMeta.syntheticMp4(k / 4)
          case 1 => graft.operators.ContainerMeta.syntheticOgg(k / 4)
          case 2 => graft.operators.ContainerMeta.syntheticMkv(k / 4)
          case _ => ((k / 4) % 3) match {
            case 0 => Multimodal.syntheticWebp(k / 4, 4, 4)
            case 1 => Multimodal.webpLossyStub(k / 4)
            case _ => s"junk media ${k / 4}".getBytes("UTF-8")
          }
        }
        val blobs = Q.fixture(keys, "media_id", "payload")(mk)
        val cm = graft.operators.ContainerMeta
        val mp4 = cm.mp4Inventories(
          blobs.filter(col("media_id") % 4 === 0), "media_id", "payload")
          .select(col("media_id"),
            when(col("brand").isNull, "unknown").otherwise("mp4").as("container"),
            when(col("brand").isNull, "quarantine")
              .when(col("has_video"), "video_pipeline")
              .when(col("has_audio"), "audio_pipeline")
              .otherwise("quarantine").as("decision"),
            col("dur_ms"))
        val ogg = cm.oggInventories(
          blobs.filter(col("media_id") % 4 === 1), "media_id", "payload")
          .select(col("media_id"),
            when(col("codec") === "unknown", "unknown").otherwise("ogg").as("container"),
            when(col("codec") === "unknown", "quarantine")
              .otherwise("audio_pipeline").as("decision"),
            col("dur_ms"))
        val mkv = cm.mkvInventories(
          blobs.filter(col("media_id") % 4 === 2), "media_id", "payload")
          .select(col("media_id"),
            when(col("doc_type").isNull, "unknown").otherwise("mkv").as("container"),
            when(col("doc_type").isNull, "quarantine")
              .when(col("has_video"), "video_pipeline")
              .when(col("has_audio"), "audio_pipeline")
              .otherwise("quarantine").as("decision"),
            col("dur_ms"))
        val webp = Multimodal.decodeImages(
          blobs.filter(col("media_id") % 4 === 3), "media_id", "payload")
          .select(col("media_id"),
            when(col("format") === "webp", "webp").otherwise("unknown").as("container"),
            when(col("format") === "webp" && col("n_pixels") > 0, "image_pipeline")
              .otherwise("quarantine").as("decision"),
            lit(0L).as("dur_ms"))
        val out = mp4.unionByName(ogg).unionByName(mkv).unionByName(webp)
        Q.requireNoShuffle(out)
        out
      },
      Some(
        """WITH g AS (
          |  SELECT CAST(n_nationkey AS BIGINT) AS media_id,
          |    CAST(n_nationkey % 4 AS INT) AS f,
          |    n_nationkey // 4 AS s
          |  FROM nation
          |)
          |SELECT media_id,
          |  CASE
          |    WHEN f = 0 THEN CASE WHEN s % 3 = 2 THEN 'unknown' ELSE 'mp4' END
          |    WHEN f = 1 THEN CASE WHEN s % 3 = 2 THEN 'unknown' ELSE 'ogg' END
          |    WHEN f = 2 THEN CASE WHEN s % 4 = 3 THEN 'unknown' ELSE 'mkv' END
          |    ELSE CASE WHEN s % 3 = 2 THEN 'unknown' ELSE 'webp' END
          |  END AS container,
          |  CASE
          |    WHEN f = 0 THEN CASE CAST(s % 3 AS INT)
          |      WHEN 0 THEN 'video_pipeline' WHEN 1 THEN 'audio_pipeline'
          |      ELSE 'quarantine' END
          |    WHEN f = 1 THEN CASE WHEN s % 3 = 2 THEN 'quarantine'
          |      ELSE 'audio_pipeline' END
          |    WHEN f = 2 THEN CASE CAST(s % 4 AS INT)
          |      WHEN 0 THEN 'video_pipeline' WHEN 1 THEN 'audio_pipeline'
          |      ELSE 'quarantine' END
          |    ELSE CASE WHEN s % 3 = 0 THEN 'image_pipeline' ELSE 'quarantine' END
          |  END AS decision,
          |  CAST(CASE
          |    WHEN f = 0 THEN CASE CAST(s % 3 AS INT)
          |      WHEN 0 THEN 90000 + s
          |      WHEN 1 THEN CAST(1234567890 + s AS BIGINT) * 1000 // 600
          |      ELSE 0 END
          |    WHEN f = 1 THEN CASE CAST(s % 3 AS INT)
          |      WHEN 0 THEN (48000 + s - 312) * 1000 // 48000
          |      WHEN 1 THEN (22050 + s) * 1000 // 44100
          |      ELSE 0 END
          |    WHEN f = 2 THEN CASE CAST(s % 4 AS INT)
          |      WHEN 0 THEN 90000 + s WHEN 1 THEN 60000 + 2 * (s % 1000)
          |      WHEN 2 THEN 90000 + s ELSE 0 END
          |    ELSE 0
          |  END AS BIGINT) AS dur_ms
          |FROM g""".stripMargin
      )
    ),

    // G.711 μ-law / A-law — telephony's standard companded 8-bit
    // codecs (WAV tags 7 / 6), the voice-call and IVR recording
    // format a speech-data pipeline actually ingests. The expansion
    // is CLOSED-FORM (segment/mantissa arithmetic, no state machine),
    // so the oracle re-derives every 16-bit sample from the code-byte
    // formula: μ-law as ((u%16)·8+132)·2^((u/16)%8) around the 0x84
    // bias with u = 255−code, A-law via xor(code, 85) and the
    // seg-0/seg-1/shift piecewise form. Even keys decode μ-law MONO,
    // odd keys A-law STEREO, so both laws AND the byte-interleaved
    // de-interleave are pinned. Map-only like every codec.
    Q(
      "q_audio_decode_g711",
      (spark, dir) => {
        val g711 = (k: Long) => Multimodal.syntheticWavG711(
          k, if (k % 2 == 0) 7 else 6, 1 + (k % 2).toInt, 96)
        val out = Multimodal.decodeAudio(
          Q.fixture(Q.nationKeys(spark, dir, "media_id"), "media_id", "payload")(g711),
          "media_id", "payload")
        Q.requireNoShuffle(out) // decode is map-only end to end
        out
      },
      Some(
        """WITH ex AS (
          |  SELECT CAST(n_nationkey AS BIGINT) AS media_id,
          |    n_nationkey % 2 AS par, i,
          |    255 - (n_nationkey * 31 + i * 7) % 256 AS uu,
          |    xor((n_nationkey * 31 + i * 7) % 256, 85) AS aa
          |  FROM nation, UNNEST(generate_series(0, 191)) AS u(i)
          |  WHERE i < 96 * (1 + n_nationkey % 2)
          |), sg AS (
          |  SELECT media_id, 1 + CAST(par AS INT) AS ch,
          |    i // (1 + par) AS t, i % (1 + par) AS c,
          |    CASE WHEN par = 0 THEN
          |      CASE WHEN uu >= 128 THEN 132 - umag ELSE umag - 132 END
          |    ELSE
          |      CASE WHEN aa >= 128 THEN amag ELSE -amag END
          |    END AS s
          |  FROM (SELECT *,
          |      ((uu % 16) * 8 + 132) *
          |        (CAST(1 AS BIGINT) << CAST((uu // 16) % 8 AS INT)) AS umag,
          |      CASE WHEN (aa // 16) % 8 = 0 THEN (aa % 16) * 16 + 8
          |           ELSE ((aa % 16) * 16 + 264) *
          |             (CAST(1 AS BIGINT) << CAST((aa // 16) % 8 - 1 AS INT))
          |      END AS amag
          |    FROM ex)
          |), agg AS (
          |  SELECT media_id, ch,
          |    CAST(COALESCE(SUM(CASE WHEN c = 0 THEN s END), 0) AS BIGINT) AS sum_c0,
          |    CAST(COALESCE(SUM(CASE WHEN c = 0 THEN s * s END), 0) AS BIGINT) AS ssq_c0,
          |    CAST(COALESCE(SUM(CASE WHEN c = 1 THEN s END), 0) AS BIGINT) AS sum_c1,
          |    CAST(COALESCE(SUM(CASE WHEN c = 1 THEN s * s END), 0) AS BIGINT) AS ssq_c1
          |  FROM sg GROUP BY media_id, ch
          |), zc AS (
          |  SELECT a.media_id, a.c,
          |    CAST(SUM(CASE WHEN (a.s < 0) <> (b.s < 0) THEN 1 ELSE 0 END) AS BIGINT) AS z
          |  FROM sg a JOIN sg b
          |    ON a.media_id = b.media_id AND a.c = b.c AND b.t = a.t + 1
          |  GROUP BY a.media_id, a.c
          |)
          |SELECT agg.media_id,
          |  CASE WHEN agg.media_id % 2 = 0 THEN 'wav_ulaw' ELSE 'wav_alaw' END AS format,
          |  CAST(ch AS INT) AS n_channels, CAST(8000 AS INT) AS sample_rate,
          |  CAST(96 AS BIGINT) AS n_frames, CAST(12 AS BIGINT) AS dur_ms,
          |  sum_c0, ssq_c0, CAST(COALESCE(z0.z, 0) AS BIGINT) AS zc_c0,
          |  sum_c1, ssq_c1, CAST(COALESCE(z1.z, 0) AS BIGINT) AS zc_c1
          |FROM agg
          |LEFT JOIN zc z0 ON z0.media_id = agg.media_id AND z0.c = 0
          |LEFT JOIN zc z1 ON z1.media_id = agg.media_id AND z1.c = 1""".stripMargin
      )
    ),

    // The audio decode→DECISION loop: the decoded stats drive the
    // standard ingest screens — corrupt payloads (truncated header →
    // sniff fallback) and digital silence (zero energy) are dropped,
    // and the zero-crossing rate (per-mille of frame transitions) is
    // the cheap noisiness signal a curation rule thresholds. The gate
    // plants all three regimes (every 7th payload truncated, every
    // 5th zeroed-out samples, the rest formula clips) so each decision
    // path is exercised; the oracle re-derives the decisions from the
    // sample formula alone. Map-only like the decode itself.
    Q(
      "q_audio_screen",
      (spark, dir) => {
        val out = Multimodal.decodeAudio(
            Q.fixture(Q.nationKeys(spark, dir, "media_id"), "media_id", "payload")(screenedWav),
            "media_id", "payload")
          .select(
            col("media_id"), col("format"),
            (col("format") === "wav" && col("ssq_c0") === 0L).as("is_silent"),
            when(col("n_frames") > 1L,
              floor((col("zc_c0") * 1000L).cast("double") / (col("n_frames") - 1L)))
              .otherwise(0L).cast("long").as("zc_permille"),
            (col("format") === "wav" && col("ssq_c0") > 0L).as("keep"))
        Q.requireNoShuffle(out) // decode + decision, map-only
        out
      },
      Some(
        """WITH base AS (
          |  SELECT CAST(n_nationkey AS BIGINT) AS media_id,
          |    n_nationkey % 7 = 3 AS corrupt, n_nationkey % 5 = 0 AS silent
          |  FROM nation
          |), sg AS (
          |  SELECT CAST(n_nationkey AS BIGINT) AS media_id,
          |    i // (1 + n_nationkey % 2) AS t,
          |    CASE WHEN ((n_nationkey * 31 + i) * 97) % 65536 >= 32768
          |         THEN ((n_nationkey * 31 + i) * 97) % 65536 - 65536
          |         ELSE ((n_nationkey * 31 + i) * 97) % 65536 END AS s
          |  FROM nation, UNNEST(generate_series(0, 191)) AS u(i)
          |  WHERE n_nationkey % 7 <> 3 AND n_nationkey % 5 <> 0
          |    AND i < 96 * (1 + n_nationkey % 2)
          |    AND i % (1 + n_nationkey % 2) = 0
          |), zc AS (
          |  SELECT a.media_id,
          |    CAST(SUM(CASE WHEN (a.s < 0) <> (b.s < 0) THEN 1 ELSE 0 END) AS BIGINT) AS z
          |  FROM sg a JOIN sg b ON a.media_id = b.media_id AND b.t = a.t + 1
          |  GROUP BY a.media_id
          |)
          |SELECT base.media_id,
          |  CASE WHEN corrupt THEN 'unknown' ELSE 'wav' END AS format,
          |  NOT corrupt AND silent AS is_silent,
          |  CAST(CASE WHEN corrupt THEN 0
          |            ELSE COALESCE(zc.z, 0) * 1000 // 95 END AS BIGINT) AS zc_permille,
          |  NOT corrupt AND NOT silent AS keep
          |FROM base LEFT JOIN zc USING (media_id)""".stripMargin
      )
    ),

    // REAL video decode, end to end: Y4M (YUV4MPEG2 — uncompressed
    // planar YUV, the one real video container needing no codec) per
    // nation row, 3 frames of closed-form C444 planes; the pure-JVM
    // parser walks the stream header and FRAME markers and reports
    // per-frame luma moments + chroma sums — the signal a scene-cut /
    // black-frame / frame-sampling stage consumes. Every 9th payload
    // is truncated mid-frame: undecodable media contribute ZERO rows
    // (the explode-side corrupt signal), which the oracle mirrors by
    // excluding those keys. Map-only flatMap, REQUIREd shuffle-free.
    Q(
      "q_video_decode_y4m",
      (spark, dir) => {
        val y4m = (k: Long) => {
          val b = Multimodal.syntheticY4m(k, 6, 4, 3)
          if (k % 9 == 4) java.util.Arrays.copyOf(b, b.length - 10) else b
        }
        val out = Multimodal.decodeVideos(
          Q.fixture(Q.nationKeys(spark, dir, "media_id"), "media_id", "payload")(y4m),
          "media_id", "payload")
        Q.requireNoShuffle(out) // decode is map-only end to end
        out
      },
      Some(
        """WITH fr AS (
          |  SELECT CAST(n_nationkey AS BIGINT) AS media_id, f, p, m,
          |    (n_nationkey * 31 + f * 97 + p * 53 + m) % 256 AS v
          |  FROM nation,
          |       UNNEST(generate_series(0, 2)) AS uf(f),
          |       UNNEST(generate_series(0, 2)) AS up(p),
          |       UNNEST(generate_series(0, 23)) AS um(m)
          |  WHERE n_nationkey % 9 <> 4
          |)
          |SELECT media_id, CAST(6 AS INT) AS width, CAST(4 AS INT) AS height,
          |  CAST(3 AS INT) AS n_frames, CAST(f AS INT) AS frame_no,
          |  CAST(SUM(CASE WHEN p = 0 THEN v END) AS BIGINT) AS sum_y,
          |  CAST(SUM(CASE WHEN p = 0 THEN v * v END) AS BIGINT) AS ssq_y,
          |  CAST(SUM(CASE WHEN p = 1 THEN v END) AS BIGINT) AS sum_u,
          |  CAST(SUM(CASE WHEN p = 2 THEN v END) AS BIGINT) AS sum_v
          |FROM fr GROUP BY media_id, f""".stripMargin
      )
    ),

    // First COMPRESSED video path: MJPEG in a RIFF/AVI container —
    // the container walk (LIST recursion, word alignment) collects
    // 00dc chunks and the baseline-JPEG decoder expands each frame,
    // codec and container composing exactly as a real MJPEG file.
    // Frame f of media k is syntheticJpeg(7k+f), so every decoded
    // pixel stays closed-form THROUGH both layers: the oracle
    // re-derives per-frame grayscale moments from the IDCT formula
    // (128 + D_b + A_b*s(y), R=G=B) alone. Every 8th payload is
    // truncated inside movi: zero rows, mirrored by the oracle.
    // Map-only flatMap, REQUIREd shuffle-free.
    Q(
      "q_video_decode_mjpeg",
      (spark, dir) => {
        val avi = (k: Long) => {
          val b = Multimodal.syntheticAviMjpeg(k, 3)
          if (k % 8 == 5) java.util.Arrays.copyOf(b, b.length - 40) else b
        }
        val out = Multimodal.decodeVideosMjpeg(
          Q.fixture(Q.nationKeys(spark, dir, "media_id"), "media_id", "payload")(avi),
          "media_id", "payload")
        Q.requireNoShuffle(out) // decode is map-only end to end
        out
      },
      Some(
        """WITH px AS (
          |  SELECT CAST(n_nationkey AS BIGINT) AS media_id, f,
          |    128 + (((n_nationkey * 7 + f) * 31
          |            + 7 * ((y // 8) * 2 + (x // 8))) % 120 - 60)
          |        + (((n_nationkey * 7 + f) + (y // 8) * 2 + (x // 8)) % 16 - 8)
          |          * (CASE WHEN (y % 8) % 4 IN (0, 3) THEN 1 ELSE -1 END) AS v
          |  FROM nation,
          |       UNNEST(generate_series(0, 2)) AS uf(f),
          |       UNNEST(generate_series(0, 15)) AS ux(x),
          |       UNNEST(generate_series(0, 15)) AS uy(y)
          |  WHERE n_nationkey % 8 <> 5
          |)
          |SELECT media_id, CAST(16 AS INT) AS width, CAST(16 AS INT) AS height,
          |  CAST(3 AS INT) AS n_frames, CAST(f AS INT) AS frame_no,
          |  CAST(SUM(v) AS BIGINT) AS sum_gray,
          |  CAST(SUM(v * v) AS BIGINT) AS ssq_gray
          |FROM px GROUP BY media_id, f""".stripMargin
      )
    ),

    // The video decode→DECISION loop: per-frame luma stats drive the
    // standard screens — black frames (zero luma energy; every 6th
    // media's middle frame is zeroed) and scene cuts (adjacent-frame
    // luma jump ≥ 32 gray levels per pixel, integer-exact as
    // |Δsum_y| ≥ 32·n_pixels via one media-keyed lag window — frames
    // per media are bounded, so the window state is tiny at any
    // corpus scale). The oracle re-derives both decisions from the
    // plane formula and the planted zeroing alone.
    Q(
      "q_video_screen",
      (spark, dir) => {
        val y4m = (k: Long) => {
          val b = Multimodal.syntheticY4m(k, 6, 4, 3)
          if (k % 6 == 0) {
            // zero frame 1's luma plane: header, then frame blocks of
            // ("FRAME\n" = 6) + 3 planes x 24 bytes
            val hdr = b.indexOf('\n'.toByte) + 1
            val off = hdr + (6 + 72) + 6
            java.util.Arrays.fill(b, off, off + 24, 0.toByte)
          }
          b
        }
        val frames = Multimodal.decodeVideos(
          Q.fixture(Q.nationKeys(spark, dir, "media_id"), "media_id", "payload")(y4m),
          "media_id", "payload")
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("media_id")).orderBy(col("frame_no").asc)
        frames
          .withColumn("prev_sum_y", lag(col("sum_y"), 1).over(w))
          .select(
            col("media_id"), col("frame_no"),
            col("sum_y"),
            (col("sum_y") === 0L).as("is_black"),
            when(col("prev_sum_y").isNull, lit(false))
              .otherwise(abs(col("sum_y") - col("prev_sum_y")) >= lit(32L * 24L))
              .as("is_cut"))
      },
      Some(
        """WITH fr AS (
          |  SELECT CAST(n_nationkey AS BIGINT) AS media_id, f, m,
          |    CASE WHEN n_nationkey % 6 = 0 AND f = 1 THEN 0
          |         ELSE (n_nationkey * 31 + f * 97 + m) % 256 END AS v
          |  FROM nation,
          |       UNNEST(generate_series(0, 2)) AS uf(f),
          |       UNNEST(generate_series(0, 23)) AS um(m)
          |), fs AS (
          |  SELECT media_id, f, CAST(SUM(v) AS BIGINT) AS sum_y
          |  FROM fr GROUP BY media_id, f
          |)
          |SELECT a.media_id, CAST(a.f AS INT) AS frame_no, a.sum_y,
          |  a.sum_y = 0 AS is_black,
          |  COALESCE(abs(a.sum_y - b.sum_y) >= 768, FALSE) AS is_cut
          |FROM fs a LEFT JOIN fs b
          |  ON a.media_id = b.media_id AND b.f = a.f - 1""".stripMargin
      )
    ),

    // The MEDIA DROP-LEDGER — the multimodal pillar's flagship: one
    // ingest batch carrying all three modalities (PPM images, WAV
    // clips, Y4M videos, with corrupt / silent / black-frame payloads
    // planted per family) flows through its REAL decoder and decision
    // screen, and the ledger attributes every media item to keep or
    // its drop reason — the per-item audit record a takedown/appeal
    // workflow reads for binary corpora, mirroring q_drop_reasons for
    // text. Each modality's decisions are the SAME calls as its
    // standalone screen gate; the oracle composes the three formula
    // families. Map-only per modality + one union.
    Q(
      "q_media_ledger",
      (spark, dir) => {
        val keys = Q.nationKeys(spark, dir, "media_id")
        // images: every 5th payload corrupt
        val ppm = (k: Long) => {
          val b = Multimodal.syntheticPpm(k, 8, 6)
          if (k % 5 == 2) java.util.Arrays.copyOf(b, 9) else b
        }
        val img = Multimodal.decodeImages(
            Q.fixture(keys, "media_id", "payload")(ppm), "media_id", "payload")
          .select(lit("image").as("modality"), col("media_id"),
            when(col("n_pixels") === 0L, "corrupt").otherwise("keep").as("reason"))
        // audio: every 7th truncated, every 5th silenced
        val aud = Multimodal.decodeAudio(
            Q.fixture(keys, "media_id", "payload")(screenedWav), "media_id", "payload")
          .select(lit("audio").as("modality"), col("media_id"),
            when(col("format") =!= "wav", "corrupt")
              .when(col("ssq_c0") === 0L, "silent")
              .otherwise("keep").as("reason"))
        // video: every 9th truncated (zero rows), every 6th has a
        // black frame — undecodable media surface via the left join
        val y4m = (k: Long) => {
          val b = Multimodal.syntheticY4m(k, 6, 4, 3)
          if (k % 9 == 4) java.util.Arrays.copyOf(b, b.length - 10)
          else {
            if (k % 6 == 0) {
              val hdr = b.indexOf('\n'.toByte) + 1
              val off = hdr + (6 + 72) + 6
              java.util.Arrays.fill(b, off, off + 24, 0.toByte)
            }
            b
          }
        }
        val vidFrames = Multimodal.decodeVideos(
            Q.fixture(keys, "media_id", "payload")(y4m), "media_id", "payload")
          .groupBy(col("media_id"))
          .agg(sum(when(col("sum_y") === 0L, 1L).otherwise(0L)).as("n_black"))
        val vid = keys
          .join(vidFrames, Seq("media_id"), "left")
          .select(lit("video").as("modality"), col("media_id"),
            when(col("n_black").isNull, "corrupt")
              .when(col("n_black") > 0L, "black_frames")
              .otherwise("keep").as("reason"))
        img.unionByName(aud).unionByName(vid)
      },
      Some(
        """SELECT 'image' AS modality, CAST(n_nationkey AS BIGINT) AS media_id,
          |  CASE WHEN n_nationkey % 5 = 2 THEN 'corrupt' ELSE 'keep' END AS reason
          |FROM nation
          |UNION ALL
          |SELECT 'audio', CAST(n_nationkey AS BIGINT),
          |  CASE WHEN n_nationkey % 7 = 3 THEN 'corrupt'
          |       WHEN n_nationkey % 5 = 0 THEN 'silent'
          |       ELSE 'keep' END
          |FROM nation
          |UNION ALL
          |SELECT 'video', CAST(n_nationkey AS BIGINT),
          |  CASE WHEN n_nationkey % 9 = 4 THEN 'corrupt'
          |       WHEN n_nationkey % 6 = 0 THEN 'black_frames'
          |       ELSE 'keep' END
          |FROM nation""".stripMargin
      )
    ),

    // Video-style frame sampling plumbing: n evenly-strided 8-byte
    // slices per payload, one row per frame (hex-projected for the
    // gate; the binary plumbing itself is pinned by MultimodalSpec).
    Q(
      "q_frame_sample",
      (spark, dir) =>
        Multimodal.sampleFrames(
          Q.t(spark, dir, "documents")
            .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload")),
          "doc_id", "payload", nFrames = 4)
          .select(col("media_id"), col("frame_no"),
            upper(hex(col("frame_sample"))).as("frame_hex")),
      Some(
        """SELECT doc_id AS media_id, CAST(i AS INT) AS frame_no,
          |  upper(hex(encode(substring(text, CAST(i * stride + 1 AS INT), 8)))) AS frame_hex
          |FROM (SELECT doc_id, text,
          |        CASE WHEN octet_length(encode(text)) // 4 < 1 THEN 1
          |             ELSE octet_length(encode(text)) // 4 END AS stride
          |      FROM documents), UNNEST(generate_series(0, 3)) AS u(i)""".stripMargin
      )
    ),

    // Mergeable-sketch distinct counting (DataSketches HLL via
    // hll_sketch_agg): per-segment nation cardinalities sit in the
    // sketch's sparse-exact regime (≤ 25 ≪ lgK=12 buckets), so the
    // estimate is provably exact and COUNT(DISTINCT) is an honest
    // oracle. (q_approx_distinct covers the estimate regime; sketches
    // matter at 100 TB because they merge across partitions/days
    // without re-scanning.)
    Q(
      "q_hll_distinct",
      (spark, dir) =>
        Q.t(spark, dir, "customer")
          .groupBy(col("c_mktsegment"))
          .agg(hll_sketch_estimate(hll_sketch_agg(col("c_nationkey"))).as("n_nations")),
      Some(
        """SELECT c_mktsegment, CAST(COUNT(DISTINCT c_nationkey) AS BIGINT) AS n_nations
          |FROM customer GROUP BY c_mktsegment""".stripMargin
      )
    ),

    // MinHash signature values pinned directly (the LSH pair check
    // above exercises them indirectly; this hashes every lane of every
    // signature through the gate). posexplode'd to (doc_id, lane, sig_v)
    // rows because the gate canonicalizer can't sort array cells.
    Q(
      "q_minhash_sigs",
      (spark, dir) =>
        Dedup.minhashSignatures(Q.t(spark, dir, "documents"), "doc_id", "text", n = 3, k = 32)
          .select(
            col("id").as("doc_id"),
            posexplode(col("signature")).as(Seq("lane", "sig_v"))),
      Some(
        s"""WITH $MinhashSigCtes
           |SELECT id AS doc_id, CAST(i - 1 AS INT) AS lane, sig[i] AS sig_v
           |FROM sigs, UNNEST(generate_series(1, len(sig))) AS u(i)""".stripMargin
      )
    ),

    // Cross-source content overlap from MERGED MinHash sketches: the
    // elementwise-min merge is exact (min distributes over shingle-set
    // union), so per-source sketches estimate source-pair Jaccard from
    // k·8 bytes per source — no cross-corpus shingle join. Everything
    // integer until the final n_eq/k division; gate is bit-exact.
    Q(
      "q_source_overlap",
      (spark, dir) => {
        val docs = Q.t(spark, dir, "documents")
        val sigs = Dedup
          .minhashSignatures(docs, "doc_id", "text", n = 3, k = 32)
          .join(docs.select(col("doc_id").as("id"), col("source")), "id")
        Dedup.signatureOverlap(
          Dedup.mergeSignatures(sigs, "source"), "source")
          .withColumnRenamed("group_a", "source_a")
          .withColumnRenamed("group_b", "source_b")
      },
      Some(
        s"""WITH $MinhashSigCtes, ssig AS (
           |  SELECT d.source, j, MIN(s.sig[j + 1]) AS v
           |  FROM sigs s JOIN documents d ON s.id = d.doc_id,
           |       UNNEST(generate_series(0, 31)) AS u(j)
           |  GROUP BY d.source, j
           |), msig AS (
           |  SELECT source, list(v ORDER BY j) AS sig FROM ssig GROUP BY source
           |)
           |SELECT a.source AS source_a, b.source AS source_b,
           |  CAST(len(list_filter(generate_series(1, 32), i -> a.sig[i] = b.sig[i])) AS BIGINT) AS n_eq,
           |  CAST(len(list_filter(generate_series(1, 32), i -> a.sig[i] = b.sig[i])) AS DOUBLE)
           |    / CAST(32 AS DOUBLE) AS est_jaccard
           |FROM msig a JOIN msig b ON a.source < b.source""".stripMargin
      )
    ),

    // Corpus bigram counts (n-gram LM / collocation shape): one explode
    // + one partial-agg shuffle.
    Q(
      "q_bigram_counts",
      (spark, dir) =>
        TextAnalysis.bigramCounts(Q.t(spark, dir, "documents"), "text", minCount = 5L),
      Some(
        s"""SELECT t[i] AS w1, t[i + 1] AS w2, COUNT(*) AS n
           |FROM (SELECT $SqlToks AS t FROM documents), UNNEST(generate_series(1, len(t) - 1)) AS u(i)
           |GROUP BY 1, 2
           |HAVING COUNT(*) >= 5""".stripMargin
      )
    ),

    // TF-IDF per (doc, term): tf/df are exact longs; the double chain
    // (N/df → ln → ·tf) is fixed-order and the ln domain is small
    // integer ratios, where JVM Math.log and DuckDB ln agree
    // bit-for-bit (pinned by this gate).
    Q(
      "q_tfidf",
      (spark, dir) =>
        TextAnalysis.tfidf(Q.t(spark, dir, "documents"), "doc_id", "text", minTf = 2L)
          .withColumnRenamed("id", "doc_id"),
      Some(
        """WITH tf AS (
          |  SELECT id, term, COUNT(*) AS tf
          |  FROM (SELECT doc_id AS id, unnest(regexp_split_to_array(text, '\s+')) AS term FROM documents)
          |  GROUP BY id, term HAVING COUNT(*) >= 2
          |), dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
          |n AS (SELECT COUNT(*) AS n FROM documents)
          |SELECT tf.id AS doc_id, tf.term, tf.tf, dfreq.df,
          |  CAST(tf.tf AS DOUBLE) * ln(CAST(n.n AS DOUBLE) / CAST(dfreq.df AS DOUBLE)) AS tfidf
          |FROM tf JOIN dfreq USING (term) CROSS JOIN n""".stripMargin
      )
    ),

    // Benchmark decontamination: docs 0..19 stand in for the eval set;
    // the rest of the corpus is screened for shared 5-gram shingles.
    // The bench shingle set is broadcast — corpus-side map-only.
    Q(
      "q_decontaminate",
      (spark, dir) => {
        val docs = Q.t(spark, dir, "documents")
        Decontaminate.contaminatedDocs(
          docs.filter(col("doc_id") >= 20), docs.filter(col("doc_id") < 20),
          "doc_id", "text", n = 5)
          .withColumnRenamed("id", "doc_id")
      },
      Some(
        s"""WITH toks AS (
           |  SELECT doc_id AS id, $SqlToks AS t FROM documents
           |), sh5 AS (
           |  SELECT DISTINCT id,
           |    list_reduce(
           |      list_prepend(CAST(0 AS BIGINT),
           |        list_transform(str_split(array_to_string(t[i:i+4], ' '), ''),
           |                       c -> CAST(ascii(c) AS BIGINT))),
           |      (h, c) -> (h * ${Dedup.StrHashMult} + c) % ${Dedup.StrHashMod}) AS sh
           |  FROM toks, UNNEST(generate_series(1, len(t) - 4)) AS u(i)
           |), bench AS (SELECT DISTINCT sh FROM sh5 WHERE id < 20)
           |SELECT id AS doc_id, COUNT(*) AS n_hits
           |FROM sh5 JOIN bench USING (sh)
           |WHERE id >= 20
           |GROUP BY id""".stripMargin
      )
    ),

    // GRADED benchmark overlap: per document the distinct 5-shingle
    // count, the number shared with the eval set, and novelty =
    // 1 − hits/shingles — the signal for policies between "any
    // overlap drops" (q_decontaminate) and "ignore": quantified
    // partial leaks, quote-heavy docs, boilerplate overlap. Same
    // broadcast-shingle shape; short docs (no full n-gram) score
    // novelty 1 with zero counts.
    Q(
      "q_novelty_score",
      (spark, dir) => {
        val docs = Q.t(spark, dir, "documents")
        Decontaminate.noveltyScores(
          docs.filter(col("doc_id") >= 20), docs.filter(col("doc_id") < 20),
          "doc_id", "text", n = 5)
      },
      Some(
        s"""WITH toks AS (
           |  SELECT doc_id AS id, $SqlToks AS t FROM documents
           |), sh5 AS (
           |  SELECT DISTINCT id,
           |    list_reduce(
           |      list_prepend(CAST(0 AS BIGINT),
           |        list_transform(str_split(array_to_string(t[i:i+4], ' '), ''),
           |                       c -> CAST(ascii(c) AS BIGINT))),
           |      (h, c) -> (h * ${Dedup.StrHashMult} + c) % ${Dedup.StrHashMod}) AS sh
           |  FROM toks, UNNEST(generate_series(1, len(t) - 4)) AS u(i)
           |), bench AS (SELECT DISTINCT sh FROM sh5 WHERE id < 20)
           |, per AS (
           |  SELECT s.id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
           |    CAST(SUM(CASE WHEN b.sh IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
           |  FROM sh5 s LEFT JOIN bench b ON s.sh = b.sh
           |  WHERE s.id >= 20 GROUP BY s.id
           |)
           |SELECT d.doc_id,
           |  COALESCE(n_shingles, 0) AS n_shingles,
           |  COALESCE(n_hits, 0) AS n_hits,
           |  CASE WHEN COALESCE(n_shingles, 0) = 0 THEN 1.0
           |       ELSE 1.0 - CAST(n_hits AS DOUBLE) / CAST(n_shingles AS DOUBLE)
           |  END AS novelty
           |FROM documents d LEFT JOIN per ON d.doc_id = per.id
           |WHERE d.doc_id >= 20""".stripMargin
      )
    ),

    // The streaming-shaped decontamination screen (broadcast shingle
    // set + per-row arrays_overlap, zero state — StreamEnrich) run in
    // batch mode: must keep exactly the NOT-EXISTS-clean documents.
    Q(
      "q_decontam_corpus",
      (spark, dir) => {
        val docs = Q.t(spark, dir, "documents")
        graft.streaming.StreamEnrich.dropContaminated(
          docs.filter(col("doc_id") >= 20), docs.filter(col("doc_id") < 20),
          "text", n = 5)
          .select(col("doc_id"), col("lang"))
      },
      Some(
        s"""WITH toks AS (
           |  SELECT doc_id AS id, $SqlToks AS t FROM documents
           |), sh5 AS (
           |  SELECT DISTINCT id,
           |    list_reduce(
           |      list_prepend(CAST(0 AS BIGINT),
           |        list_transform(str_split(array_to_string(t[i:i+4], ' '), ''),
           |                       c -> CAST(ascii(c) AS BIGINT))),
           |      (h, c) -> (h * ${Dedup.StrHashMult} + c) % ${Dedup.StrHashMod}) AS sh
           |  FROM toks, UNNEST(generate_series(1, len(t) - 4)) AS u(i)
           |), bench AS (SELECT DISTINCT sh FROM sh5 WHERE id < 20)
           |SELECT doc_id, lang FROM documents d
           |WHERE doc_id >= 20 AND NOT EXISTS (
           |  SELECT 1 FROM sh5 JOIN bench USING (sh) WHERE sh5.id = d.doc_id)""".stripMargin
      )
    ),

    // Int8 embedding quantization: floor(x+0.5) rounding and fixed
    // double op order make every lane engine-exact; scale is one
    // division. posexplode'd to (vec_id, lane, q, scale) rows for the
    // gate (array cells aren't canonicalizable).
    Q(
      "q_quantize_int8",
      (spark, dir) =>
        Quantize.toInt8(Q.t(spark, dir, "embeddings"), "vec_id", "embedding")
          .select(
            col("vec_id"),
            posexplode(col("qvec")).as(Seq("lane", "q")),
            col("scale")),
      Some(
        """SELECT vec_id, CAST(i - 1 AS INT) AS lane, qvec[i] AS q, scale
          |FROM (
          |  SELECT vec_id,
          |    list_transform(embedding, v -> CASE WHEN maxabs = 0 THEN 0
          |      ELSE CAST(floor(CAST(v AS DOUBLE) * 127.0 / CAST(maxabs AS DOUBLE) + 0.5) AS INT) END) AS qvec,
          |    CAST(maxabs AS DOUBLE) / 127.0 AS scale
          |  FROM (SELECT vec_id, embedding,
          |          list_max(list_transform(embedding, v -> abs(v))) AS maxabs
          |        FROM embeddings)
          |), UNNEST(generate_series(1, len(qvec))) AS u(i)""".stripMargin
      )
    ),

    // Multimodal composition: decode (stub) → feature vectors → int8
    // quantization, the storage shape an embedding store ingests. Pins
    // the float hand-off between the two operators: the oracle rebuilds
    // the features from the rolling hash (exact 16-bit/65536 floats)
    // and re-applies the quantization formula.
    Q(
      "q_multimodal_pipeline",
      (spark, dir) => {
        val feats = Multimodal.extractFeatures(
          Q.t(spark, dir, "documents")
            .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload")),
          "doc_id", "payload")
          .select(col("media_id"), col("features"))
        Quantize.toInt8(feats, "media_id", "features")
          .select(
            col("media_id"),
            posexplode(col("qvec")).as(Seq("lane", "q")),
            col("scale"))
      },
      Some {
        val vs = (0 until 8)
          .map(j => s"(hu // ${BigInt(1) << (7 * j)}) % 65536")
          .mkString("[", ", ", "]")
        s"""WITH tb AS (
           |  SELECT doc_id,
           |    CASE WHEN text = '' THEN CAST([] AS HUGEINT[])
           |         ELSE list_transform(str_split(text, ''), c -> CAST(ascii(c) AS HUGEINT)) END AS bs
           |  FROM documents
           |), rh AS (
           |  SELECT doc_id,
           |    list_reduce(list_prepend(1125899906842597::HUGEINT, bs),
           |      (h, b) -> (h * 31 + b) % 18446744073709551616::HUGEINT) AS hu
           |  FROM tb
           |), fl AS (
           |  SELECT doc_id AS media_id,
           |    list_transform($vs, v -> CAST(CAST(v AS DOUBLE) / 65536.0 AS FLOAT)) AS features
           |  FROM rh
           |), mx AS (
           |  SELECT media_id, features,
           |    list_max(list_transform(features, v -> abs(v))) AS maxabs
           |  FROM fl
           |), qv AS (
           |  SELECT media_id,
           |    list_transform(features, v -> CASE WHEN maxabs = 0 THEN 0
           |      ELSE CAST(floor(CAST(v AS DOUBLE) * 127.0 / CAST(maxabs AS DOUBLE) + 0.5) AS INT) END) AS qvec,
           |    CAST(maxabs AS DOUBLE) / 127.0 AS scale
           |  FROM mx
           |)
           |SELECT media_id, CAST(i - 1 AS INT) AS lane, qvec[i] AS q, scale
           |FROM qv, UNNEST(generate_series(1, len(qvec))) AS u(i)""".stripMargin
      }
    ),

    // ------------------------------------------------- flagship pipeline

    // The full pre-training corpus pipeline as ONE query — quality/lang
    // filter → exact dedup → near-dup cluster drop → benchmark
    // decontamination → deterministic split + shard routing. Every
    // stage is the already-oracle-checked operator; this pins their
    // COMPOSITION (each stage runs on the previous stage's survivors,
    // which no per-stage gate exercises). Plan-wise the chain is:
    // map-side filters → two grouped exchanges (digest, shingle) →
    // dup-subgraph label propagation → broadcast screens → map-side
    // routing; nothing corpus-sized ever sits in driver memory.
    Q(
      "q_corpus_pipeline",
      (spark, dir) => {
        val docs = Q.t(spark, dir, "documents")
        val bench = docs.filter(col("doc_id") < 20)
        val quality = docs.filter(
          TextAnalysis.langId(col("text")) === col("lang") &&
            TextAnalysis.tokenCount(col("text")).between(8, 4096) &&
            TextAnalysis.qualityScore(col("text")) >= 0.5)
        val exact = Dedup.dropExactDuplicates(quality, "doc_id", "text")
        val canon = Dedup.dropNearDupClusterMembers(exact, "doc_id", "text", n = 3, threshold = 0.4)
        val clean = Decontaminate.dropContaminated(canon, bench, "doc_id", "text", n = 5)
        clean.select(
          col("doc_id"), col("lang"),
          Sampling.splitLabel(col("doc_id"), 10).as("split"),
          Sampling.hashBucket(col("doc_id"), 64).as("shard"))
      },
      Some(
        s"""$FlagshipCtes
           |SELECT doc_id, lang,
           |  CASE WHEN (((doc_id % ${Sampling.P} + ${Sampling.P}) % ${Sampling.P}) * ${Sampling.A} + ${Sampling.B})
           |            % ${Sampling.P} % 100 < 10
           |       THEN 'holdout' ELSE 'train' END AS split,
           |  (((doc_id % ${Sampling.P} + ${Sampling.P}) % ${Sampling.P}) * ${Sampling.A} + ${Sampling.B})
           |    % ${Sampling.P} % 64 AS shard
           |FROM canon
           |WHERE doc_id NOT IN (SELECT id FROM hits)""".stripMargin
      )
    ),

    // The flagship pipeline's AUDIT artifact: every document attributed
    // to the first stage that dropped it ('quality' → 'exact_dup' →
    // 'near_dup' → 'contaminated') or 'kept' — the "why was my document
    // dropped" record a takedown/appeal workflow reads, which the
    // survivor-only flagship output cannot answer. Stage survivor sets
    // are the SAME operator calls as q_corpus_pipeline; the oracle
    // shares the flagship's CTE chain verbatim. Plan: the pipeline's
    // own cost + one id-keyed (id, flag) left join per stage.
    Q(
      "q_drop_reasons",
      (spark, dir) => {
        val docs = Q.t(spark, dir, "documents")
        val bench = docs.filter(col("doc_id") < 20)
        // pin and fill both reused stages: `quality` feeds the
        // exact-dedup lineage AND its own attribution join; `exact`
        // feeds the near-dup chain three ways plus its attribution join
        // — un-materialized, the regex-heavy quality metrics re-ran once
        // per consumer (guide §2.4)
        val quality = Guard.pin(docs.filter(
          TextAnalysis.langId(col("text")) === col("lang") &&
            TextAnalysis.tokenCount(col("text")).between(8, 4096) &&
            TextAnalysis.qualityScore(col("text")) >= 0.5))
        quality.count()
        val exact = Guard.pin(Dedup.dropExactDuplicates(quality, "doc_id", "text"))
        exact.count()
        val canon = Dedup.dropNearDupClusterMembers(exact, "doc_id", "text", n = 3, threshold = 0.4)
        val clean = Decontaminate.dropContaminated(canon, bench, "doc_id", "text", n = 5)
        Profile.dropReasons(docs, "doc_id", Seq(
          "quality" -> quality,
          "exact_dup" -> exact,
          "near_dup" -> canon,
          "contaminated" -> clean))
      },
      Some(
        s"""$FlagshipCtes
           |SELECT d.doc_id,
           |  CASE WHEN d.doc_id NOT IN (SELECT doc_id FROM qf) THEN 'quality'
           |       WHEN d.doc_id NOT IN (SELECT doc_id FROM exq) THEN 'exact_dup'
           |       WHEN d.doc_id NOT IN (SELECT doc_id FROM canon) THEN 'near_dup'
           |       WHEN d.doc_id IN (SELECT id FROM hits) THEN 'contaminated'
           |       ELSE 'kept' END AS drop_stage
           |FROM documents d""".stripMargin
      )
    ),

    // Round-5 curation chain — pins the NEW operators composing, and a
    // cross-TABLE screen the other flagship doesn't have: quality/lang
    // filter → exact dedup → per-source cap → semantic (embedding)
    // dedup screen via doc_id = vec_id semi-join → split/shard routing.
    // Plan: map-side filters → digest exchange → source-cap exchange →
    // broadcast-fold cell assign + within-cell equi-join → semi join →
    // map-side routing.
    Q(
      "q_curation_v2",
      (spark, dir) => {
        val docs = Q.t(spark, dir, "documents")
        val emb = Q.t(spark, dir, "embeddings")
        val quality = docs.filter(
          TextAnalysis.langId(col("text")) === col("lang") &&
            TextAnalysis.tokenCount(col("text")).between(8, 4096) &&
            TextAnalysis.qualityScore(col("text")) >= 0.5)
        val exact = Dedup.dropExactDuplicates(quality, "doc_id", "text")
        val capped = Sampling.capPerGroup(exact, "source", "doc_id", n = 10)
        val semKeep = Similarity.semanticDedup(
          emb, emb.orderBy(col("vec_id")).limit(16),
          "vec_id", "embedding", threshold = 0.4)
          .select(col("vec_id").as("doc_id"))
        capped.join(semKeep, Seq("doc_id"), "left_semi")
          .select(
            col("doc_id"), col("source"),
            Sampling.splitLabel(col("doc_id"), 10).as("split"),
            Sampling.hashBucket(col("doc_id"), 64).as("shard"))
      },
      Some {
        val cos = (a: String, b: String) =>
          s"""list_sum(list_transform(list_zip($a, $b), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
             |        / (sqrt(list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
             |         * sqrt(list_sum(list_transform($b, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))""".stripMargin
        val pm = s"(doc_id % ${Sampling.P} + ${Sampling.P}) % ${Sampling.P}"
        s"""WITH m AS (
           |  SELECT doc_id, source, lang, text,
           |    $LangCaseSql AS lang_pred,
           |    $QualityMetricsSql
           |  FROM documents
           |), qf AS (
           |  SELECT doc_id, source, text FROM m
           |  WHERE lang_pred = lang AND n_tok BETWEEN 8 AND 4096
           |    AND $QualityScoreSql >= 0.5
           |), exq AS (
           |  SELECT q.doc_id, q.source FROM qf q
           |  JOIN (SELECT MIN(doc_id) AS doc_id FROM qf GROUP BY sha256(text)) e USING (doc_id)
           |), capped AS (
           |  SELECT doc_id, source FROM (
           |    SELECT doc_id, source, ROW_NUMBER() OVER (
           |      PARTITION BY source
           |      ORDER BY ($pm * 2246822519 + 604171) % ${Sampling.P} ASC, doc_id ASC) AS rn
           |    FROM exq) t
           |  WHERE rn <= 10
           |), cent AS (
           |  SELECT vec_id AS cid, embedding AS cvec FROM embeddings ORDER BY vec_id LIMIT 16
           |), assigned AS (
           |  SELECT vec_id, embedding AS nvec, cid AS cell FROM (
           |    SELECT e.vec_id, e.embedding, c.cid,
           |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
           |        ${cos("e.embedding", "c.cvec")} DESC, c.cid ASC) AS rn
           |    FROM embeddings e CROSS JOIN cent c) t
           |  WHERE rn = 1
           |), semkeep AS (
           |  SELECT vec_id AS doc_id FROM assigned a
           |  WHERE NOT EXISTS (
           |    SELECT 1 FROM assigned b
           |    WHERE b.cell = a.cell AND b.vec_id < a.vec_id
           |      AND ${cos("b.nvec", "a.nvec")} >= 0.4)
           |)
           |SELECT doc_id, source,
           |  CASE WHEN ($pm * ${Sampling.A} + ${Sampling.B}) % ${Sampling.P} % 100 < 10
           |       THEN 'holdout' ELSE 'train' END AS split,
           |  ($pm * ${Sampling.A} + ${Sampling.B}) % ${Sampling.P} % 64 AS shard
           |FROM capped SEMI JOIN semkeep USING (doc_id)""".stripMargin
      }
    ),

    // The INCREMENTAL curation flagship — the nightly delta batch
    // through the corpus-maintenance stack: exact-dedup screen against
    // the PERSISTED corpus digest index (cross-batch copies die without
    // the corpus being re-read; within-batch copies die on min-id) →
    // quality gate (lang agreement + token band + score) → benchmark
    // decontamination (broadcast shingle screen vs the bench set) →
    // per-source cap. Plan: delta-only shuffles + one digest join
    // against the index + map-side screens; corpus text is never
    // scanned. The batch twin of what a streaming ingest pipeline runs
    // per micro-batch.
    Q(
      "q_delta_pipeline",
      (spark, dir) => {
        val docs = Q.t(spark, dir, "documents")
        val cols = Seq("doc_id", "text", "lang", "source")
        val fresh = docs.filter(col("doc_id") >= 400).select(cols.map(col): _*)
        val crossDup = docs.filter(col("doc_id") < 30)
          .select((col("doc_id") + 100000L).as("doc_id"),
            col("text"), col("lang"), col("source"))
        val innerDup = fresh.filter(col("doc_id") < 420)
          .select((col("doc_id") + 200000L).as("doc_id"),
            col("text"), col("lang"), col("source"))
        val delta = fresh.unionAll(crossDup).unionAll(innerDup)
        val scratch = Q.scratch("digidx_pipe")
        Dedup.digestIndex(docs.filter(col("doc_id") < 400), "text")
          .write.mode("overwrite").parquet(scratch)
        val screened = Dedup.dedupDeltaExact(delta, "doc_id", "text",
          spark.read.parquet(scratch))
        val quality = screened.filter(
          TextAnalysis.langId(col("text")) === col("lang") &&
            TextAnalysis.tokenCount(col("text")).between(8, 4096) &&
            TextAnalysis.qualityScore(col("text")) >= 0.5)
        val contaminated = Decontaminate.contaminatedDocs(
            quality, docs.filter(col("doc_id") < 20), "doc_id", "text", n = 5)
          .select(col("id").as("doc_id"))
        val clean = quality.join(contaminated, Seq("doc_id"), "left_anti")
        Sampling.capPerGroup(clean, "source", "doc_id", n = 10)
          .select(col("doc_id"), col("source"))
      },
      Some {
        val pm = s"(doc_id % ${Sampling.P} + ${Sampling.P}) % ${Sampling.P}"
        s"""WITH delta AS (
           |  SELECT doc_id, text, lang, source FROM documents WHERE doc_id >= 400
           |  UNION ALL
           |  SELECT doc_id + 100000, text, lang, source FROM documents WHERE doc_id < 30
           |  UNION ALL
           |  SELECT doc_id + 200000, text, lang, source FROM documents WHERE doc_id >= 400 AND doc_id < 420
           |), idx AS (
           |  SELECT DISTINCT sha256(text) AS digest FROM documents WHERE doc_id < 400
           |), screened AS (
           |  SELECT d.* FROM delta d
           |  JOIN (SELECT MIN(doc_id) AS doc_id FROM delta GROUP BY sha256(text)) c USING (doc_id)
           |  WHERE sha256(d.text) NOT IN (SELECT digest FROM idx)
           |), m AS (
           |  SELECT doc_id, source, lang, text,
           |    $LangCaseSql AS lang_pred,
           |    $QualityMetricsSql
           |  FROM screened
           |), qf AS (
           |  SELECT doc_id, source, text FROM m
           |  WHERE lang_pred = lang AND n_tok BETWEEN 8 AND 4096
           |    AND $QualityScoreSql >= 0.5
           |), qtoks AS (
           |  SELECT doc_id AS id, $SqlToks AS t FROM qf
           |), btoks AS (
           |  SELECT doc_id AS id, $SqlToks AS t FROM documents WHERE doc_id < 20
           |), qsh AS (
           |  SELECT DISTINCT id,
           |    list_reduce(
           |      list_prepend(CAST(0 AS BIGINT),
           |        list_transform(str_split(array_to_string(t[i:i+4], ' '), ''),
           |                       c -> CAST(ascii(c) AS BIGINT))),
           |      (h, c) -> (h * ${Dedup.StrHashMult} + c) % ${Dedup.StrHashMod}) AS sh
           |  FROM qtoks, UNNEST(generate_series(1, len(t) - 4)) AS u(i)
           |), bench AS (
           |  SELECT DISTINCT
           |    list_reduce(
           |      list_prepend(CAST(0 AS BIGINT),
           |        list_transform(str_split(array_to_string(t[i:i+4], ' '), ''),
           |                       c -> CAST(ascii(c) AS BIGINT))),
           |      (h, c) -> (h * ${Dedup.StrHashMult} + c) % ${Dedup.StrHashMod}) AS sh
           |  FROM btoks, UNNEST(generate_series(1, len(t) - 4)) AS u(i)
           |), clean AS (
           |  SELECT doc_id, source FROM qf
           |  WHERE doc_id NOT IN (SELECT DISTINCT id FROM qsh JOIN bench USING (sh))
           |)
           |SELECT doc_id, source FROM (
           |  SELECT doc_id, source, ROW_NUMBER() OVER (
           |    PARTITION BY source
           |    ORDER BY ($pm * 2246822519 + 604171) % ${Sampling.P} ASC, doc_id ASC) AS rn
           |  FROM clean) t
           |WHERE rn <= 10""".stripMargin
      }
    ),

    // Leakage-safe evaluation split: hash-split into train/holdout,
    // then DROP from train any document sharing a 5-shingle with a
    // holdout document — the cross-split twin of benchmark
    // decontamination, guarding eval integrity against near-verbatim
    // overlap the random split cannot see. Plan: map-side split label,
    // then one shingle-keyed anti-join of distinct (id, hash) pairs
    // against the holdout's distinct shingle hashes; no text crosses
    // the exchange.
    Q(
      "q_split_decontam",
      (spark, dir) => {
        val docs = Q.t(spark, dir, "documents")
        val (train, holdout) = Sampling.trainHoldout(docs, "doc_id", holdoutBuckets = 10)
        val safeTrain = Decontaminate.dropContaminated(train, holdout, "doc_id", "text", n = 5)
        safeTrain.select(col("doc_id"), lit("train").as("split"))
          .unionByName(holdout.select(col("doc_id"), lit("holdout").as("split")))
      },
      Some {
        val pm = s"(((doc_id % ${Sampling.P} + ${Sampling.P}) % ${Sampling.P}) * ${Sampling.A} + ${Sampling.B}) % ${Sampling.P}"
        s"""WITH lbl AS (
           |  SELECT doc_id, text,
           |    CASE WHEN $pm % 100 < 10 THEN 'holdout' ELSE 'train' END AS split
           |  FROM documents
           |), toks AS (
           |  SELECT doc_id AS id, split, $SqlToks AS t FROM lbl
           |), sh5 AS (
           |  SELECT DISTINCT id, split,
           |    list_reduce(
           |      list_prepend(CAST(0 AS BIGINT),
           |        list_transform(str_split(array_to_string(t[i:i+4], ' '), ''),
           |                       c -> CAST(ascii(c) AS BIGINT))),
           |      (h, c) -> (h * ${Dedup.StrHashMult} + c) % ${Dedup.StrHashMod}) AS sh
           |  FROM toks, UNNEST(generate_series(1, len(t) - 4)) AS u(i)
           |), hsh AS (
           |  SELECT DISTINCT sh FROM sh5 WHERE split = 'holdout'
           |), leaky AS (
           |  SELECT DISTINCT id FROM sh5 WHERE split = 'train' AND sh IN (SELECT sh FROM hsh)
           |)
           |SELECT doc_id, split FROM lbl
           |WHERE split = 'holdout' OR doc_id NOT IN (SELECT id FROM leaky)""".stripMargin
      }
    )
  )
}
