package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Sampling, Vocab}

/** Tokenizer-training and corpus-curation gates added in round 8's
  * back half: BPE vocabulary induction (pair statistics + the merge
  * decision), the exact-substring shared-span dedup core, and
  * temperature-based mixture allocation.
  *
  * Oracle discipline: BPE and shared-span are pure integer/string
  * arithmetic (bit-exact by construction — the span oracle re-derives
  * the SAME polynomial anchor hashes as the Spark plan, so even a hash
  * collision cannot diverge the engines); the temperature allocation
  * confines floats to IEEE-exact `sqrt`, one ordered fold, and a
  * floored division — see [[Sampling.temperatureAlloc]].
  */
object TokenizerQueries {

  /** Positional-anchor shared-span CTE chain ending in
    * `spans(id_a, id_b, span_tokens)` — shared by q_shared_span and
    * q_span_dedup so the span measurement cannot drift between the
    * observation gate and the policy gate. Re-derives the SAME
    * polynomial anchor hashes as the Spark plan (bit-exact even under
    * collisions).
    */
  private val SpanCtes: String =
    s"""toks AS (
       |  SELECT doc_id AS id, regexp_split_to_array(text, '\\s+') AS t FROM documents
       |), anch AS (
       |  SELECT id, i AS pos,
       |    list_reduce(
       |      list_prepend(CAST(0 AS BIGINT),
       |        list_transform(str_split(array_to_string(t[i:i+7], ' '), ''),
       |                       c -> CAST(ascii(c) AS BIGINT))),
       |      (h, c) -> (h * ${Dedup.StrHashMult} + c) % ${Dedup.StrHashMod}) AS sh
       |  FROM toks, UNNEST(generate_series(1, len(t) - 7)) AS u(i)
       |), hot AS (
       |  SELECT sh FROM anch GROUP BY sh HAVING COUNT(DISTINCT id) > 16
       |), cold AS (
       |  SELECT * FROM anch WHERE sh NOT IN (SELECT sh FROM hot)
       |), m AS (
       |  SELECT a.id AS id_a, b.id AS id_b, a.pos AS pa, a.pos - b.pos AS d
       |  FROM cold a JOIN cold b USING (sh) WHERE a.id < b.id
       |), isl AS (
       |  SELECT id_a, id_b, d, pa,
       |    pa - ROW_NUMBER() OVER (PARTITION BY id_a, id_b, d ORDER BY pa) AS grp
       |  FROM m
       |), runs AS (
       |  SELECT id_a, id_b, COUNT(*) + 7 AS span
       |  FROM isl GROUP BY id_a, id_b, d, grp
       |), spans AS (
       |  SELECT id_a, id_b, MAX(span) AS span_tokens
       |  FROM runs GROUP BY id_a, id_b
       |  HAVING MAX(span) >= 12
       |)""".stripMargin

  /** Word-frequency → symbol-pair CTEs shared by the BPE gates,
    * parameterized on the TRAINING source (`documents` for the
    * same-corpus gates; a filtered subquery for the cross-corpus OOV
    * gate).
    */
  private def bpeCtesFrom(src: String): String =
    s"""WITH tok AS (
      |  SELECT UNNEST(regexp_split_to_array(text, '\\s+')) AS t FROM $src
      |), tc AS (
      |  SELECT t, COUNT(*) AS c FROM tok WHERE t <> '' GROUP BY t
      |), sym AS (
      |  SELECT c, str_split(t, '') AS s FROM tc WHERE len(str_split(t, '')) >= 2
      |), p AS (
      |  SELECT s[i] AS left_sym, s[i + 1] AS right_sym, c
      |  FROM sym, UNNEST(generate_series(1, len(s) - 1)) AS u(i)
      |)""".stripMargin

  private val BpeCtes: String = bpeCtesFrom("documents")

  /** The TRAINED dictionary after two learned merges, as a CTE chain
    * ending in `s3(t, s)` — shared verbatim by q_bpe_encode, q_bpe_ids
    * and q_pack_ids so the dictionary the three gates encode under
    * cannot drift. Mirrors [[Vocab.mergedDict]](iters = 2): argmax pair
    * (lexicographic tie-break) applied via the same non-regex
    * separator-joined replace, twice. Parameterized on the training
    * source like [[bpeCtesFrom]].
    */
  private def dict2CtesFrom(src: String): String =
    s"""${bpeCtesFrom(src)}, pc AS (
       |  SELECT left_sym, right_sym, CAST(SUM(c) AS BIGINT) AS pair_count
       |  FROM p GROUP BY left_sym, right_sym
       |), mg AS (
       |  SELECT left_sym, right_sym FROM pc
       |  ORDER BY pair_count DESC, left_sym, right_sym LIMIT 1
       |), sall AS (
       |  SELECT t, c, str_split(t, '') AS s FROM tc
       |), s2 AS (
       |  SELECT t, c, str_split(
       |    replace(array_to_string(s, chr(31)),
       |            (SELECT left_sym || chr(31) || right_sym FROM mg),
       |            (SELECT left_sym || right_sym FROM mg)),
       |    chr(31)) AS s
       |  FROM sall
       |), p2 AS (
       |  SELECT s[i] AS left_sym, s[i + 1] AS right_sym, c
       |  FROM s2, UNNEST(generate_series(1, len(s) - 1)) AS u(i)
       |  WHERE len(s) >= 2
       |), pc2 AS (
       |  SELECT left_sym, right_sym, CAST(SUM(c) AS BIGINT) AS pair_count
       |  FROM p2 GROUP BY left_sym, right_sym
       |), mg2 AS (
       |  SELECT left_sym, right_sym FROM pc2
       |  ORDER BY pair_count DESC, left_sym, right_sym LIMIT 1
       |), s3 AS (
       |  SELECT t, str_split(
       |    replace(array_to_string(s, chr(31)),
       |            (SELECT left_sym || chr(31) || right_sym FROM mg2),
       |            (SELECT left_sym || right_sym FROM mg2)),
       |    chr(31)) AS s
       |  FROM s2
       |)""".stripMargin

  /** Subword-id + positional-lookup CTEs over the trained `s3`
    * dictionary, ending in `lkt(t, q, tid)` and the word stream
    * `wtok(doc_id, tok, p)` — shared by q_bpe_ids and q_pack_ids.
    * Ids are 1-based lexicographic symbol ranks ([[Vocab.subwordIds]];
    * id 0 is the reserved `<eos>`). Parameterized on the training
    * source; the word stream always covers the FULL corpus.
    * `withAlphabet` extends the id space with the training alphabet
    * ([[Vocab.subwordIdsWithAlphabet]] — required for the char-fallback
    * gate, whose ids must exist even for fully-merged-away characters).
    */
  private def idCtesFrom(src: String, withAlphabet: Boolean = false): String = {
    val subvBody =
      if (withAlphabet)
        "SELECT UNNEST(s) AS sym FROM s3 UNION ALL SELECT UNNEST(str_split(t, '')) AS sym FROM s3"
      else "SELECT UNNEST(s) AS sym FROM s3"
    s"""${dict2CtesFrom(src)}, subv AS (
       |  SELECT DISTINCT sym FROM ($subvBody)
       |), tid AS (
       |  SELECT sym, CAST(ROW_NUMBER() OVER (ORDER BY sym) AS BIGINT) AS tid FROM subv
       |), lk AS (
       |  SELECT t, i AS q, s[i] AS sym
       |  FROM s3, UNNEST(generate_series(1, len(s))) AS u(i)
       |), lkt AS (
       |  SELECT t, q, tid FROM lk JOIN tid USING (sym)
       |), wtok AS (
       |  SELECT doc_id, t[i] AS tok, i AS p
       |  FROM (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS t FROM documents) d0,
       |       UNNEST(generate_series(1, len(t))) AS u(i)
       |  WHERE t[i] <> ''
       |)""".stripMargin
  }

  private val Dict2Ctes: String = dict2CtesFrom("documents")
  private val IdCtes: String = idCtesFrom("documents")

  /** Per-document (lang, bin) assignment for the pack chain via a
    * HIERARCHICAL two-level prefix sum. The naive shape —
    * `Window.partitionBy(lang)` with a running sum over every document
    * — serializes each language into ONE task, so a dominant language's
    * whole doc list lands on a single core at 100×. Here the running
    * sum decomposes exactly (integer math — bit-identical to the flat
    * window, which is what the DuckDB oracles still compute):
    *
    *   1. bucket documents by id range (order-preserving: every id in
    *      bucket b sorts before every id in b+1, so bucket-major order
    *      IS doc_id order);
    *   2. per-(lang, bucket) partial sums — a distributed partial-agg;
    *   3. running offsets over the BUCKET-level frame only (the one
    *      remaining per-lang serial step, 4–5 orders of magnitude
    *      smaller than the doc frame; recurse the same trick if a
    *      corpus ever outgrows it);
    *   4. map-side add-back: offsets broadcast-join onto the per-doc
    *      within-bucket running sums, which distribute across
    *      (lang, bucket) partitions.
    *
    * Same discipline as q_cdc_apply's map-side group limit: never let
    * one key's full mass serialize through one task.
    */
  /** Past this many (lang, bucket) offset rows — bounded above by
    * |langs| · nBuckets, where nBuckets is the ACTUAL bucket-id range
    * under the floored width (up to ~2·2^16) — the offsets frame stops
    * riding a broadcast (driver-memory risk at very high
    * language/source counts) and the add-back join degrades to a
    * shuffle join AQE sizes. The guard uses the BOUND, not an extra
    * counting action: it is derived from the same one-row aggregate
    * that sizes the buckets, errs conservative (actual offset rows ≤
    * the bound), and costs nothing.
    */
  private[graft] val MaxBroadcastOffsetRows: Long = 1L << 22

  private[graft] def packBins(stream: DataFrame, docs: DataFrame): DataFrame =
    packBinsFull(stream, docs).select(col("doc_id"), col("lang"), col("bin"))

  /** [[packBins]] plus the two doc-level quantities that make every
    * packed-stream position ARITHMETIC instead of windowed: `__n` (the
    * doc's id count incl. its <eos>) and `doc_off` (the number of ids
    * of same-bin predecessors — docs bin WHOLE under the exclusive-
    * prefix rule, so a token's bin-local seq_pos is exactly
    * `doc_off + within-doc pos`). The pack gates formerly re-ranked
    * the corpus-sized token stream with a (lang, bin)-keyed
    * row_number window — a full Exchange + Sort of every token — to
    * recover a value this frame carries per DOCUMENT (guide §2.4:
    * remove shuffles outright; §8: decide with small rows, never
    * re-shuffle the payload for a decision already made). `doc_off`
    * costs one doc-sized window keyed by (lang, bin): partitions are
    * single bins (≈ 2048 ids of docs each), so the serial step is
    * bounded and distributes across the bin space at any scale.
    */
  private[graft] def packBinsFull(stream: DataFrame, docs: DataFrame): DataFrame =
    packBinsFullFrom(
      stream.groupBy(col("doc_id")).agg(count(lit(1)).as("__n"))
        .join(docs.select(col("doc_id"), col("lang")), "doc_id"))

  /** [[packBinsFull]] from an ALREADY-BUILT per-doc frame
    * `(doc_id, __n, lang)` — the id-count-per-document aggregation is
    * the only thing the binning needs from the token stream, and a
    * caller that knows the tokenizer can derive it far more cheaply
    * than by evaluating the full id-emission lineage (see
    * [[packedLineage]]: Σ piece counts over the word stream + 1 <eos>,
    * no position window, no id join — guide §8: decide with small
    * rows).
    */
  private[graft] def packBinsFullFrom(perDoc: DataFrame): DataFrame = {
    // bucket width from the OBSERVED id range (ids need not be dense):
    // ~2^16 buckets keep the offset frame broadcast-sized while cutting
    // the serial window by the same factor. One-row driver agg — the
    // language count rides the same action for the broadcast guard.
    val r = perDoc.agg(min(col("doc_id")), max(col("doc_id")),
      countDistinct(col("lang"))).first()
    // min/max over ZERO rows are NULL: an empty corpus yields an empty
    // bins frame (the flat-window shape's behavior), not a driver NPE
    if (r.isNullAt(0))
      return perDoc.filter(lit(false))
        .select(col("doc_id"), col("lang"), lit(0L).as("bin"),
          col("__n"), lit(0L).as("doc_off"))
    val (lo, hi, nLangs) = (r.getLong(0), r.getLong(1), r.getLong(2))
    val width = math.max(1L, (hi - lo + 1) / 65536L)
    // ACTUAL bucket-id range under the floored width — up to ~2·2^16,
    // not 2^16 (width floors, so ids can run past 65535); the guard
    // bound must use it or a frame 2x the cap would still broadcast
    val nBuckets = (hi - lo) / width + 1L
    val bucketed = perDoc.withColumn("__bkt",
      expr(s"(doc_id - ${lo}L) div ${width}L"))
    val wOff = Window.partitionBy(col("lang")).orderBy(col("__bkt").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offsets = bucketed
      .groupBy(col("lang"), col("__bkt"))
      .agg(sum(col("__n")).as("__s"))
      .withColumn("__off", sum(col("__s")).over(wOff) - col("__s"))
      .select(col("lang").as("__ol"), col("__bkt").as("__ob"), col("__off"))
    // the offsets frame is ≤ nLangs · nBuckets rows; force the
    // broadcast only while that bound stays inside driver comfort,
    // otherwise let the add-back run as a shuffle join (bit-identical)
    val offSide =
      if (nLangs * nBuckets <= MaxBroadcastOffsetRows) broadcast(offsets) else offsets
    val wIn = Window.partitionBy(col("lang"), col("__bkt"))
      .orderBy(col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wBin = Window.partitionBy(col("lang"), col("bin"))
      .orderBy(col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bucketed
      .withColumn("__cumin", sum(col("__n")).over(wIn))
      .join(offSide,
        col("lang") === col("__ol") && col("__bkt") === col("__ob"))
      .withColumn("__cum", col("__off") + col("__cumin"))
      .select(col("doc_id"), col("lang"),
        floor((col("__cum") - col("__n")).cast("double") / 2048.0)
          .cast("long").as("bin"),
        col("__n"))
      .withColumn("doc_off", sum(col("__n")).over(wBin) - col("__n"))
  }

  /** Shared tokenize→bin lineage for the three pack gates (ids with a
    * per-doc <eos>, plus each doc's hierarchical bin assignment) — one
    * definition so the stream, its boundary map, and its payload can
    * never drift apart.
    *
    * Bins come back as [[packBinsFull]] — carrying each doc's id count
    * and within-bin offset, so consumers derive bin-local positions
    * arithmetically instead of re-ranking the token stream. The stream
    * itself stays LAZY: its only corpus-sized exchange (the doc-keyed
    * ranking window inside [[Vocab.encodeIds]]) is shared via Spark's
    * exchange reuse within each action, and an explicit columnar cache
    * measured as a wash at both 4 and 32 cores (r20 micro: 5.27 vs
    * 5.44 s at 4 cores, 5.67 vs 5.22 s at 32) while adding a
    * session-lifetime cache block per gate.
    */
  private def packedLineage(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val docs = Q.t(spark, dir, "documents")
    val dict = Vocab.mergedDict(docs, "text", iters = 2)
    val ids = Vocab.encodeIds(docs, "doc_id", "text", dict)
    val stream = ids.unionByName(
      docs.select(col("doc_id"), lit(Int.MaxValue.toLong).as("pos"),
        lit(0L).as("token_id")))
    // Per-doc id counts for the binning WITHOUT evaluating the id
    // stream: a doc's stream rows are its kept words' piece counts
    // plus one <eos>. encodeIds keeps exactly the dictionary-covered
    // words (inner join on the surface form) and emits size(s) ids per
    // kept word, so Σ n_sub over the broadcast-joined word stream + 1
    // is BY CONSTRUCTION equal to stream.groupBy(doc_id).count() —
    // while costing one map-side explode + partial agg instead of the
    // corpus explode + broadcast id join + doc-keyed position window
    // (guide §2.4: the binning DECIDES, it never needs the ids; §8:
    // decide with small rows). The binning consumes the counts twice
    // (the one-row range/lang aggregate and the bins frame), so this
    // also halves how often the heavy stream lineage runs per gate:
    // before, bins + the gate's stream join evaluated it three times.
    (stream, packBinsFullFrom(perDocIdCounts(docs, dict)))
  }

  /** The cheap per-doc frame `(doc_id, __n, lang)` described above —
    * equal by construction to
    * `stream.groupBy(doc_id).count ⋈ docs(lang)` over the
    * [[packedLineage]] stream (pinned in VocabSpec against the stream
    * derivation, whitespace-only documents included).
    */
  private[graft] def perDocIdCounts(docs: DataFrame, dict: DataFrame): DataFrame = {
    val lookupN = dict.select(
      concat_ws("", col("s")).as("__tok"), size(col("s")).cast("long").as("__ns"))
    val wordN = docs
      .select(col("doc_id"),
        explode(split(col("text"), "\\s+")).as("__tok"))
      .filter(col("__tok") =!= "")
      .join(broadcast(lookupN), "__tok")
      .groupBy(col("doc_id"))
      .agg(sum(col("__ns")).as("__nw"))
    docs.select(col("doc_id"), col("lang"))
      .join(wordN, Seq("doc_id"), "left")
      .select(col("doc_id"),
        (coalesce(col("__nw"), lit(0L)) + lit(1L)).as("__n"), col("lang"))
  }

  /** Bin-local sequence position, ARITHMETIC: a doc's rows are dense
    * (pos = 1..m from [[Vocab.encodeIds]]' per-doc ranking) except its
    * <eos>, which rides pos = Int.MaxValue and ranks LAST — exactly
    * position __n. Equals the former
    * `row_number() OVER (PARTITION BY lang, bin ORDER BY doc_id, pos)`
    * bit-for-bit (docs bin whole, doc_off counts same-bin
    * predecessors), with zero shuffles where the window paid a full
    * Exchange + Sort of the token stream.
    */
  private def seqPosArith: org.apache.spark.sql.Column =
    (col("doc_off") +
      when(col("pos") === lit(Int.MaxValue.toLong), col("__n"))
        .otherwise(col("pos"))).as("seq_pos")

  /** The shared ln table as a DuckDB list literal (the SAME doubles
    * [[graft.operators.TextAnalysis.LnTable]] serves the Spark side),
    * mirroring CorpusQueries' copy — e0 forces DOUBLE literals.
    */
  private lazy val LnTabSql: String =
    graft.operators.TextAnalysis.LnTable.map(d => s"${d}e0").mkString("[", ", ", "]")

  /** The unigram-LM fixture + derivation chain, shared by all four
    * unigram gates so the vocabulary, the fixed-point scores and the
    * Viterbi tie-break cannot drift between them. The corpus is the
    * nation-keyed four-word bag (`ab abc (ab|cb) b`); the oracle
    * ENUMERATES every segmentation of every word (lengths ≤ 3 → ≤ 4
    * masks) and scores it with the same `floor(ln(count)·2^20 + 0.5)`
    * fixed-point reads the Spark DP uses, ties to the minimal split
    * bitmask — so the oracle re-derives the EM result, it does not
    * assert it. Ends in: `uvoc(piece, count, is_char)` (the seed),
    * `uwd(word, freq)`, `ubest(word, freq, mask)` (per-word Viterbi
    * winner) and `unewc(piece, count)` (the re-estimated counts).
    */
  private lazy val UnigramCtes: String =
    s"""lnt AS (SELECT $LnTabSql AS l),
       |un AS (SELECT CAST(n_nationkey AS BIGINT) AS k FROM nation),
       |us AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn,
       |              CAST(SUM(CASE WHEN k % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ne,
       |              CAST(SUM(CASE WHEN k % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS no
       |       FROM un),
       |uwd AS (
       |  SELECT 'ab' AS word, nn + ne AS freq FROM us
       |  UNION ALL SELECT 'abc', nn FROM us
       |  UNION ALL SELECT 'cb', no FROM us
       |  UNION ALL SELECT 'b', nn FROM us),
       |uvoc AS (
       |  SELECT 'a' AS piece, nn + ne + nn AS count, TRUE AS is_char FROM us
       |  UNION ALL SELECT 'b', nn + ne + nn + no + nn, TRUE FROM us
       |  UNION ALL SELECT 'c', nn + no, TRUE FROM us
       |  UNION ALL SELECT 'ab', nn + ne + nn, FALSE FROM us
       |  UNION ALL SELECT 'abc', nn, FALSE FROM us
       |  UNION ALL SELECT 'bc', nn, FALSE FROM us),
       |utot AS (SELECT CAST(SUM(count) AS BIGINT) AS t FROM uvoc),
       |usegs(len, mask, start, plen) AS (VALUES
       |  (1, 0, 1, 1),
       |  (2, 0, 1, 2), (2, 1, 1, 1), (2, 1, 2, 1),
       |  (3, 0, 1, 3), (3, 1, 1, 1), (3, 1, 2, 2),
       |  (3, 2, 1, 2), (3, 2, 3, 1),
       |  (3, 3, 1, 1), (3, 3, 2, 1), (3, 3, 3, 1)),
       |usegp AS (
       |  SELECT w.word, w.freq, s.mask, s.start,
       |    substr(w.word, s.start, s.plen) AS piece
       |  FROM uwd w JOIN usegs s ON s.len = length(w.word)),
       |uscored AS (
       |  SELECT p.word, p.freq, p.mask,
       |    COUNT(*) AS m,
       |    SUM(CASE WHEN v.count IS NULL THEN 1 ELSE 0 END) AS missing,
       |    SUM(CASE WHEN v.count IS NOT NULL
       |        THEN CAST(floor(l[v.count] * 1048576.0e0 + 0.5e0) AS BIGINT) END) AS psum
       |  FROM usegp p LEFT JOIN uvoc v USING (piece) CROSS JOIN lnt
       |  GROUP BY p.word, p.freq, p.mask),
       |ubest AS (
       |  SELECT word, freq, mask FROM (
       |    SELECT word, freq, mask, ROW_NUMBER() OVER (
       |      PARTITION BY word
       |      ORDER BY psum - m * CAST(floor(l[t] * 1048576.0e0 + 0.5e0) AS BIGINT) DESC,
       |               mask ASC) AS rn
       |    FROM uscored CROSS JOIN utot CROSS JOIN lnt
       |    WHERE missing = 0) WHERE rn = 1),
       |uused AS (
       |  SELECT p.piece, CAST(SUM(p.freq) AS BIGINT) AS cnt
       |  FROM ubest b JOIN usegp p ON p.word = b.word AND p.mask = b.mask
       |  GROUP BY p.piece),
       |unewc AS (
       |  SELECT v.piece, CAST(COALESCE(u.cnt, 0) AS BIGINT) AS count
       |  FROM uvoc v LEFT JOIN uused u ON u.piece = v.piece)""".stripMargin

  /** Iteration TWO of the EM chain: the same enumeration machinery
    * under the iteration-1 counts (zero-count pieces are dead — no ln
    * row — and drop from the model, exactly like the Spark side's
    * vocabTable screen). Ends in `unewc2(piece, count)` over the SAME
    * piece set as iteration 1.
    */
  private lazy val UnigramIter2Ctes: String =
    s"""uvoc2 AS (SELECT piece, count FROM unewc WHERE count > 0),
       |utot2 AS (SELECT CAST(SUM(count) AS BIGINT) AS t FROM uvoc2),
       |uscored2 AS (
       |  SELECT p.word, p.freq, p.mask,
       |    COUNT(*) AS m,
       |    SUM(CASE WHEN v.count IS NULL THEN 1 ELSE 0 END) AS missing,
       |    SUM(CASE WHEN v.count IS NOT NULL
       |        THEN CAST(floor(l[v.count] * 1048576.0e0 + 0.5e0) AS BIGINT) END) AS psum
       |  FROM usegp p LEFT JOIN uvoc2 v USING (piece) CROSS JOIN lnt
       |  GROUP BY p.word, p.freq, p.mask),
       |ubest2 AS (
       |  SELECT word, freq, mask FROM (
       |    SELECT word, freq, mask, ROW_NUMBER() OVER (
       |      PARTITION BY word
       |      ORDER BY psum - m * CAST(floor(l[t] * 1048576.0e0 + 0.5e0) AS BIGINT) DESC,
       |               mask ASC) AS rn
       |    FROM uscored2 CROSS JOIN utot2 CROSS JOIN lnt
       |    WHERE missing = 0) WHERE rn = 1),
       |uused2 AS (
       |  SELECT p.piece, CAST(SUM(p.freq) AS BIGINT) AS cnt
       |  FROM ubest2 b JOIN usegp p ON p.word = b.word AND p.mask = b.mask
       |  GROUP BY p.piece),
       |unewc2 AS (
       |  SELECT v.piece, CAST(COALESCE(u.cnt, 0) AS BIGINT) AS count
       |  FROM unewc v LEFT JOIN uused2 u ON u.piece = v.piece)""".stripMargin

  /** The Spark-side unigram fixture corpus (the oracle's `uwd`). */
  private def unigramDocs(spark: SparkSession, dir: String): DataFrame =
    Q.nationKeys(spark, dir, "k")
      .select(concat(lit("ab abc "),
        when(col("k") % 2 === 0, "ab").otherwise("cb"), lit(" b")).as("text"))

  /** [[unigramDocs]] keyed by doc_id — the id-emission gates need the
    * document identity the bag-of-text fixture drops.
    */
  private def unigramDocsKeyed(spark: SparkSession, dir: String): DataFrame =
    Q.nationKeys(spark, dir, "doc_id")
      .withColumn("text", concat(lit("ab abc "),
        when(col("doc_id") % 2 === 0, "ab").otherwise("cb"), lit(" b")))

  /** Piece → id ranks over the seed vocabulary (`pids`) plus the
    * per-document word grid (`wseq`: doc k's words in stream order) —
    * the id-emission layer every unigram id gate shares on top of
    * [[UnigramCtes]], mirroring the BPE side's `tid`/`wtok` split.
    */
  private lazy val UnigramIdCtes: String =
    s"""pids AS (
       |  SELECT piece, CAST(ROW_NUMBER() OVER (ORDER BY piece) AS BIGINT) AS tid
       |  FROM uvoc),
       |wseq AS (
       |  SELECT k, 0 AS p, 'ab' AS word FROM un
       |  UNION ALL SELECT k, 1, 'abc' FROM un
       |  UNION ALL SELECT k, 2,
       |    CASE WHEN k % 2 = 0 THEN 'ab' ELSE 'cb' END FROM un
       |  UNION ALL SELECT k, 3, 'b' FROM un)""".stripMargin

  val all: Seq[Q] = Seq(

    // BPE merge statistics: adjacent symbol-pair frequencies weighted
    // by word frequency. The corpus-sized stage is the word-count
    // shuffle; the pair expansion runs on the distinct-token
    // dictionary (vocabulary-sized). Pure integer counts — bit-exact.
    Q(
      "q_bpe_pairs",
      (spark, dir) => Vocab.pairCounts(Q.t(spark, dir, "documents"), "text"),
      Some(
        s"""$BpeCtes
           |SELECT left_sym, right_sym, CAST(SUM(c) AS BIGINT) AS pair_count
           |FROM p GROUP BY left_sym, right_sym""".stripMargin
      )
    ),

    // The merge decision itself: argmax pair with a lexicographic
    // tie-break — the symbol pair the next BPE merge would join.
    // Plans TakeOrderedAndProject (per-partition top-1). Stays OFF the
    // pinned mergedDict loop deliberately: the dictionary is consumed
    // exactly once here, so the single-scan lineage is already optimal
    // and a pin would only add block traffic.
    Q(
      "q_bpe_merge",
      (spark, dir) =>
        Vocab.topMerge(Vocab.pairCounts(Q.t(spark, dir, "documents"), "text")),
      Some(
        s"""$BpeCtes, pc AS (
           |  SELECT left_sym, right_sym, CAST(SUM(c) AS BIGINT) AS pair_count
           |  FROM p GROUP BY left_sym, right_sym
           |)
           |SELECT left_sym, right_sym, pair_count
           |FROM pc ORDER BY pair_count DESC, left_sym, right_sym LIMIT 1""".stripMargin
      )
    ),

    // The second BPE iteration: apply the chosen merge to every
    // token's symbol sequence (non-regex replace on a US-joined
    // symbol string — greedy left-to-right in both engines) and
    // recount pairs. Pins the iterate-without-corpus-rescan design:
    // the gate runs THROUGH mergedDict's pinned loop, so the corpus
    // word count materializes exactly once (the unpinned lineage
    // re-ran it for every dictionary use — a 2-4x redundancy this
    // routing kills).
    Q(
      "q_bpe_iter2",
      (spark, dir) => {
        val dict = Vocab.mergedDict(Q.t(spark, dir, "documents"), "text", iters = 1)
        Vocab.pairStats(dict)
      },
      Some(
        s"""$BpeCtes, pc AS (
           |  SELECT left_sym, right_sym, CAST(SUM(c) AS BIGINT) AS pair_count
           |  FROM p GROUP BY left_sym, right_sym
           |), mg AS (
           |  SELECT left_sym, right_sym FROM pc
           |  ORDER BY pair_count DESC, left_sym, right_sym LIMIT 1
           |), sym2 AS (
           |  SELECT c, str_split(
           |    replace(array_to_string(s, chr(31)),
           |            (SELECT left_sym || chr(31) || right_sym FROM mg),
           |            (SELECT left_sym || right_sym FROM mg)),
           |    chr(31)) AS s
           |  FROM sym
           |), p2 AS (
           |  SELECT s[i] AS left_sym, s[i + 1] AS right_sym, c
           |  FROM sym2, UNNEST(generate_series(1, len(s) - 1)) AS u(i)
           |  WHERE len(s) >= 2
           |)
           |SELECT left_sym, right_sym, CAST(SUM(c) AS BIGINT) AS pair_count
           |FROM p2 GROUP BY left_sym, right_sym""".stripMargin
      )
    ),

    // Exact-substring dedup core: longest verbatim token span per
    // candidate pair via positional 8-gram anchors + diagonal-run
    // (gaps-and-islands) measurement. The oracle recomputes the SAME
    // polynomial anchor hashes, so the gate is bit-exact even under
    // hash collisions. At sf0.01 the fixture's planted near-dups give
    // spans 23..93; one pair at 11 sits below minSpan=12 and pins the
    // HAVING.
    Q(
      "q_shared_span",
      (spark, dir) =>
        Dedup.sharedSpans(Q.t(spark, dir, "documents"), "doc_id", "text",
          k = 8, minSpan = 12, maxDocFreq = 16),
      Some(
        s"""WITH $SpanCtes
           |SELECT id_a, id_b, span_tokens FROM spans""".stripMargin
      )
    ),

    // The exact-substring dedup POLICY over the shared-span
    // measurement: drop the smaller document of any pair whose longest
    // verbatim span covers at least half its tokens (2·span ≥ min
    // tokens — integer arithmetic, no float threshold), tie → drop the
    // larger id. Survivors as (id, n_tokens). The victim set is
    // pair-output-sized and the corpus pays one anti-join.
    Q(
      "q_span_dedup",
      (spark, dir) =>
        Dedup.spanDedup(Q.t(spark, dir, "documents"), "doc_id", "text",
          k = 8, minSpan = 12, maxDocFreq = 16),
      Some(
        s"""WITH $SpanCtes, nt AS (
           |  SELECT doc_id AS id,
           |    CAST(len(regexp_split_to_array(text, '\\s+')) AS BIGINT) AS n_tokens
           |  FROM documents
           |), v AS (
           |  SELECT DISTINCT CASE WHEN na.n_tokens < nb.n_tokens THEN s.id_a
           |              WHEN nb.n_tokens < na.n_tokens THEN s.id_b
           |              ELSE GREATEST(s.id_a, s.id_b) END AS id
           |  FROM spans s
           |  JOIN nt na ON na.id = s.id_a
           |  JOIN nt nb ON nb.id = s.id_b
           |  WHERE 2 * s.span_tokens >= LEAST(na.n_tokens, nb.n_tokens)
           |)
           |SELECT id, n_tokens FROM nt WHERE id NOT IN (SELECT id FROM v)""".stripMargin
      )
    ),

    // Corpus tokenization with the trained vocabulary: apply TWO
    // learned merges to the dictionary, then tokenize every document —
    // per doc, its word count, subword count and OOV count under the
    // current segmentation (here n_oov pins to 0: the dictionary is
    // trained on the same corpus — the cross-corpus OOV fallback is
    // spec-pinned in VocabSpec). The corpus-sized stages are one
    // explode and one per-doc aggregation; the trained dictionary
    // (vocabulary-sized) joins in by broadcast, keyed on the surface
    // form rebuilt from the merged symbols (concatenation is
    // merge-invariant). Pure integer counts — bit-exact.
    Q(
      "q_bpe_encode",
      (spark, dir) => {
        val docs = Q.t(spark, dir, "documents")
        val dict = Vocab.mergedDict(docs, "text", iters = 2)
        Vocab.encode(docs, "doc_id", "text", dict)
      },
      Some(
        s"""$Dict2Ctes, lk AS (
           |  SELECT t, CAST(len(s) AS BIGINT) AS n_sub FROM s3
           |), wtok AS (
           |  SELECT doc_id, t FROM (
           |    SELECT doc_id, unnest(regexp_split_to_array(text, '\\s+')) AS t
           |    FROM documents) w0
           |  WHERE t <> ''
           |)
           |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
           |  CAST(SUM(COALESCE(n_sub, len(t))) AS BIGINT) AS n_subwords,
           |  CAST(COUNT(CASE WHEN n_sub IS NULL THEN 1 END) AS BIGINT) AS n_oov
           |FROM wtok LEFT JOIN lk USING (t)
           |GROUP BY doc_id""".stripMargin
      )
    ),

    // The REAL tokenizer artifact: the per-document token-id SEQUENCE
    // under the trained 2-merge dictionary — one row per emitted id,
    // (doc_id, pos, token_id), ids = 1-based lexicographic subword
    // ranks (0 reserved for <eos>). Lane-exploded like the MinHash /
    // int8 gates so the oracle hash covers every position. Corpus pays
    // one explode + one doc-keyed ranking window; the (surface form ×
    // symbol position × id) lookup stays vocabulary-sized and rides a
    // broadcast. Pure integer — bit-exact.
    Q(
      "q_bpe_ids",
      (spark, dir) => {
        val docs = Q.t(spark, dir, "documents")
        val dict = Vocab.mergedDict(docs, "text", iters = 2)
        val out = Vocab.encodeIds(docs, "doc_id", "text", dict)
        // the dictionary-side lookup must ride a broadcast — the corpus
        // never shuffles for the id join (typed-node gate assert)
        Q.requireBroadcastJoin(out)
        out
      },
      Some(
        s"""$IdCtes
           |SELECT doc_id,
           |  CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY p, q) AS BIGINT) AS pos,
           |  tid AS token_id
           |FROM wtok JOIN lkt ON wtok.tok = lkt.t""".stripMargin
      )
    ),

    // The tokenize→pack last mile with REAL ids: q_bpe_ids' id stream
    // binned by the HIERARCHICAL per-language prefix sum (packBins),
    // an <eos> (id 0) appended per document, packed per-language into
    // 2048-id bins by cumulative stream length (q_pack_sequences'
    // exclusive-prefix binning), emitted as the flat trainable stream
    // (lang, bin, seq_pos, token_id). Two corpus-sized window shuffles
    // (the doc-keyed ranking inside encodeIds, then the lang/bin
    // ranking); the dictionary side stays vocabulary-sized throughout.
    Q(
      "q_pack_ids",
      (spark, dir) => {
        val (stream, bins) = packedLineage(spark, dir)
        // seq_pos is arithmetic off the doc-level bins frame — the
        // former (lang, bin)-keyed row_number window re-shuffled and
        // re-sorted every token to recover it (guide §2.4)
        val out = stream.join(bins, "doc_id")
          .select(col("lang"), col("bin"), seqPosArith, col("token_id"))
        Q.requireBroadcastJoin(out)
        out
      },
      Some(
        s"""$IdCtes, e AS (
           |  SELECT doc_id, p, q, tid FROM wtok JOIN lkt ON wtok.tok = lkt.t
           |  UNION ALL
           |  SELECT doc_id, 2147483647 AS p, 0 AS q, CAST(0 AS BIGINT) AS tid
           |  FROM documents
           |), nn AS (
           |  SELECT doc_id, COUNT(*) AS n FROM e GROUP BY doc_id
           |), bb AS (
           |  SELECT doc_id, lang, CAST(FLOOR((cum - n) / 2048.0) AS BIGINT) AS bin
           |  FROM (
           |    SELECT nn.doc_id, d.lang, nn.n,
           |      SUM(nn.n) OVER (PARTITION BY d.lang ORDER BY nn.doc_id
           |                      ROWS UNBOUNDED PRECEDING) AS cum
           |    FROM nn JOIN documents d USING (doc_id)) t0
           |)
           |SELECT lang, bin,
           |  CAST(ROW_NUMBER() OVER (PARTITION BY lang, bin
           |                          ORDER BY e.doc_id, p, q) AS BIGINT) AS seq_pos,
           |  tid AS token_id
           |FROM e JOIN bb USING (doc_id)""".stripMargin
      )
    ),

    // The packed stream's ATTENTION-BOUNDARY map: per (lang, bin,
    // doc_id), the document's first/last seq_pos inside its bin and
    // its id count — the index a trainer consumes to reset attention
    // (and loss masking) at document starts within a packed sequence.
    // Binning assigns whole documents (exclusive-prefix rule), so each
    // doc owns one contiguous [start_pos, end_pos] span; the map is
    // the same chain as q_pack_ids collapsed by one group-by, sharing
    // the IdCtes verbatim so the boundaries cannot drift from the
    // stream they index.
    Q(
      "q_pack_boundaries",
      (spark, dir) => {
        val (stream, bins) = packedLineage(spark, dir)
        // whole-doc binning makes the boundary map a PROJECTION of the
        // doc-level bins frame: start = doc_off + 1, end = doc_off +
        // __n, n_ids = __n — the token stream is never joined, never
        // re-shuffled, never re-ranked (the former shape paid the
        // (lang, bin) window Exchange + Sort plus a token-sized
        // group-by to aggregate back to exactly these doc rows)
        val out = bins
          .select(col("lang"), col("bin"), col("doc_id"),
            (col("doc_off") + lit(1L)).as("start_pos"),
            (col("doc_off") + col("__n")).as("end_pos"),
            col("__n").as("n_ids"))
        Q.requireBroadcastJoin(out)
        out
      },
      Some(
        s"""$IdCtes, e AS (
           |  SELECT doc_id, p, q, tid FROM wtok JOIN lkt ON wtok.tok = lkt.t
           |  UNION ALL
           |  SELECT doc_id, 2147483647 AS p, 0 AS q, CAST(0 AS BIGINT) AS tid
           |  FROM documents
           |), nn AS (
           |  SELECT doc_id, COUNT(*) AS n FROM e GROUP BY doc_id
           |), bb AS (
           |  SELECT doc_id, lang, CAST(FLOOR((cum - n) / 2048.0) AS BIGINT) AS bin
           |  FROM (
           |    SELECT nn.doc_id, d.lang, nn.n,
           |      SUM(nn.n) OVER (PARTITION BY d.lang ORDER BY nn.doc_id
           |                      ROWS UNBOUNDED PRECEDING) AS cum
           |    FROM nn JOIN documents d USING (doc_id)) t0
           |), st AS (
           |  SELECT lang, bin, e.doc_id,
           |    CAST(ROW_NUMBER() OVER (PARTITION BY lang, bin
           |                            ORDER BY e.doc_id, p, q) AS BIGINT) AS seq_pos
           |  FROM e JOIN bb USING (doc_id)
           |)
           |SELECT lang, bin, doc_id,
           |  CAST(MIN(seq_pos) AS BIGINT) AS start_pos,
           |  CAST(MAX(seq_pos) AS BIGINT) AS end_pos,
           |  CAST(COUNT(*) AS BIGINT) AS n_ids
           |FROM st GROUP BY lang, bin, doc_id""".stripMargin
      )
    ),

    // The packed shard PAYLOAD as a contiguous byte stream: each
    // (lang, bin) 2048-id sequence serialized to fixed-width 16-bit
    // words (hex-projected for the gate — ids stay < 2^16 by vocab
    // construction), the GPT-2-style .bin artifact a trainer memory-
    // maps. One ordered fold per bin on top of the gated pack chain;
    // the oracle re-serializes via string_agg over the same ordering.
    Q(
      "q_pack_blob",
      (spark, dir) => {
        val (stream, bins) = packedLineage(spark, dir)
        // arithmetic seq_pos (see q_pack_ids): the blob's one remaining
        // token-sized shuffle is the (lang, bin) collect_list
        // aggregation itself — the pre-sorting window Exchange + Sort
        // is gone, the in-row array_sort below orders the payload
        val out = stream.join(bins, "doc_id")
          .withColumn("seq_pos", seqPosArith)
          .groupBy(col("lang"), col("bin"))
          .agg(
            count(lit(1)).as("n_ids"),
            array_join(
              transform(
                array_sort(collect_list(struct(
                  col("seq_pos"),
                  format_string("%04x", col("token_id")).as("h")))),
                x => x("h")),
              "").as("blob_hex"))
        Q.requireBroadcastJoin(out)
        out
      },
      Some(
        s"""$IdCtes, e AS (
           |  SELECT doc_id, p, q, tid FROM wtok JOIN lkt ON wtok.tok = lkt.t
           |  UNION ALL
           |  SELECT doc_id, 2147483647 AS p, 0 AS q, CAST(0 AS BIGINT) AS tid
           |  FROM documents
           |), nn AS (
           |  SELECT doc_id, COUNT(*) AS n FROM e GROUP BY doc_id
           |), bb AS (
           |  SELECT doc_id, lang, CAST(FLOOR((cum - n) / 2048.0) AS BIGINT) AS bin
           |  FROM (
           |    SELECT nn.doc_id, d.lang, nn.n,
           |      SUM(nn.n) OVER (PARTITION BY d.lang ORDER BY nn.doc_id
           |                      ROWS UNBOUNDED PRECEDING) AS cum
           |    FROM nn JOIN documents d USING (doc_id)) t0
           |), st AS (
           |  SELECT lang, bin, tid,
           |    CAST(ROW_NUMBER() OVER (PARTITION BY lang, bin
           |                            ORDER BY e.doc_id, p, q) AS BIGINT) AS seq_pos
           |  FROM e JOIN bb USING (doc_id)
           |)
           |SELECT lang, bin, CAST(COUNT(*) AS BIGINT) AS n_ids,
           |  string_agg(printf('%04x', tid), '' ORDER BY seq_pos) AS blob_hex
           |FROM st GROUP BY lang, bin""".stripMargin
      )
    ),

    // Tokenizer EVALUATION: per-language fertility (subwords per word)
    // under the trained dictionary — the standard multilingual-equity
    // metric (a language with high fertility pays more sequence
    // positions per word, the imbalance UniMax/temperature mixing then
    // corrects). Integer sums per language + ONE double division, so
    // the ratio is engine-exact; OOV words count their character
    // fallback, per encode's contract.
    Q(
      "q_tokenizer_fertility",
      (spark, dir) => {
        val docs = Q.t(spark, dir, "documents")
        val dict = Vocab.mergedDict(docs, "text", iters = 2)
        val enc = Vocab.encode(docs, "doc_id", "text", dict)
        enc
          .join(docs.select(col("doc_id"), col("lang")), "doc_id")
          .groupBy(col("lang"))
          .agg(
            sum(col("n_words")).as("n_words"),
            sum(col("n_subwords")).as("n_subwords"),
            sum(col("n_oov")).as("n_oov"))
          .withColumn("fertility",
            col("n_subwords").cast("double") / col("n_words").cast("double"))
      },
      Some(
        s"""$Dict2Ctes, lk AS (
           |  SELECT t, CAST(len(s) AS BIGINT) AS n_sub FROM s3
           |), wtok AS (
           |  SELECT doc_id, t FROM (
           |    SELECT doc_id, unnest(regexp_split_to_array(text, '\\s+')) AS t
           |    FROM documents) w0
           |  WHERE t <> ''
           |), agg AS (
           |  SELECT d.lang,
           |    CAST(COUNT(*) AS BIGINT) AS n_words,
           |    CAST(SUM(COALESCE(n_sub, len(t))) AS BIGINT) AS n_subwords,
           |    CAST(COUNT(CASE WHEN n_sub IS NULL THEN 1 END) AS BIGINT) AS n_oov
           |  FROM wtok LEFT JOIN lk USING (t)
           |  JOIN documents d USING (doc_id)
           |  GROUP BY d.lang
           |)
           |SELECT lang, n_words, n_subwords, n_oov,
           |  CAST(n_subwords AS DOUBLE) / CAST(n_words AS DOUBLE) AS fertility
           |FROM agg""".stripMargin
      )
    ),

    // BPE's SECOND artifact: the ordered merge-rule list (merges.txt)
    // — what an external tokenizer needs to re-apply the training
    // segmentation to NEW text (the (subword, id) table alone cannot
    // segment unseen words). The oracle re-derives both ranks from the
    // shared trained-dictionary chain (mg, mg2), so the rules cannot
    // drift from the dictionary the other gates encode under.
    Q(
      "q_merges_export",
      (spark, dir) =>
        Vocab.mergeRules(Q.t(spark, dir, "documents"), "text", iters = 2),
      Some(
        s"""$Dict2Ctes
           |SELECT CAST(1 AS BIGINT) AS merge_rank, left_sym, right_sym FROM mg
           |UNION ALL
           |SELECT CAST(2 AS BIGINT) AS merge_rank, left_sym, right_sym FROM mg2""".stripMargin
      )
    ),

    // The tokenizer ARTIFACT itself: the (subword, id) vocabulary table
    // under the trained 2-merge dictionary — what a training run ships
    // alongside the packed id streams so they stay decodable. Ids are
    // the same 1-based lexicographic ranks q_bpe_ids/q_pack_ids encode
    // with (0 = <eos>), pinned here directly rather than transitively.
    Q(
      "q_vocab_export",
      (spark, dir) => {
        val dict = Vocab.mergedDict(Q.t(spark, dir, "documents"), "text", iters = 2)
        Vocab.subwordIds(dict)
      },
      Some(
        s"""$IdCtes
           |SELECT sym, tid FROM tid""".stripMargin
      )
    ),

    // The tokenize→budget→shard flagship with REAL ids: per-doc subword
    // counts under the trained dictionary drive the token-budget
    // admission (3000 subwords per shard, hash-routed — each shard's
    // running-sum window sorts only its own slice), the kept docs are
    // re-encoded to id sequences, and the artifact lands
    // partitionBy(shard) so each data-parallel trainer opens exactly
    // its shard's files — REQUIREd to prune at the file index, the
    // q_training_export discipline, then hash-checked on the full
    // read-back. Every stage reuses an already-gated chain (encode,
    // tokenBudgetSample, encodeIds), composed.
    Q(
      "q_ids_export",
      (spark, dir) => {
        val docs = Q.t(spark, dir, "documents")
        val dict = Vocab.mergedDict(docs, "text", iters = 2)
        val counts = Vocab.encode(docs, "doc_id", "text", dict)
          .select(col("doc_id"), col("n_subwords"))
        val kept = Sampling.tokenBudgetSample(
          counts, "doc_id", "n_subwords", shards = 8, budgetPerShard = 3000L)
        val ids = Vocab.encodeIds(
          docs.join(kept.select("doc_id"), "doc_id"), "doc_id", "text", dict)
        val out = ids.join(kept.select(col("doc_id"), col("shard")), "doc_id")
        Q.requireBroadcastJoin(out)
        val scratch = Q.scratch("idsexp")
        out.write.mode("overwrite").partitionBy("shard").parquet(scratch)
        val back = spark.read.parquet(scratch)
        Q.requirePartitionFilter(back.filter(col("shard") === 3), "shard")
        back.select(col("doc_id"), col("pos"), col("token_id"),
          col("shard").cast("long").as("shard"))
      },
      Some {
        val pm = s"(doc_id % ${Sampling.P} + ${Sampling.P}) % ${Sampling.P}"
        val shardExpr = s"($pm * ${Sampling.A} + ${Sampling.B}) % ${Sampling.P} % 8"
        val orderExpr = s"($pm * 2246822519 + 604171) % ${Sampling.P}"
        s"""$IdCtes, nsub AS (
           |  SELECT doc_id, CAST(SUM(n_sub) AS BIGINT) AS n_subwords
           |  FROM wtok JOIN (SELECT t, CAST(len(s) AS BIGINT) AS n_sub FROM s3) lk2
           |    ON wtok.tok = lk2.t
           |  GROUP BY doc_id
           |), kept AS (
           |  SELECT doc_id, shard FROM (
           |    SELECT doc_id, $shardExpr AS shard,
           |      CAST(SUM(n_subwords) OVER (
           |        PARTITION BY $shardExpr
           |        ORDER BY $orderExpr ASC, doc_id ASC
           |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
           |    FROM nsub) t
           |  WHERE cum <= 3000
           |)
           |SELECT e.doc_id,
           |  CAST(ROW_NUMBER() OVER (PARTITION BY e.doc_id ORDER BY p, q) AS BIGINT) AS pos,
           |  tid AS token_id, shard
           |FROM (SELECT doc_id, p, q, tid FROM wtok JOIN lkt ON wtok.tok = lkt.t) e
           |JOIN kept USING (doc_id)""".stripMargin
      }
    ),

    // Temperature-based mixture allocation: per-language budget shares
    // at α = 1/2 over a 100k-document budget. sqrt is IEEE-correctly-
    // rounded in both engines; the normalizer is an ordered fold in
    // lang order; allocations floor.
    Q(
      "q_temperature_mix",
      (spark, dir) =>
        Sampling.temperatureAlloc(
          Q.t(spark, dir, "documents").select(col("doc_id"), col("lang")),
          "lang", budget = 100000L),
      Some(
        """WITH c AS (
          |  SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang
          |), z AS (
          |  SELECT list_reduce(
          |    list_prepend(CAST(0.0 AS DOUBLE),
          |      (SELECT list(sqrt(CAST(n AS DOUBLE)) ORDER BY lang) FROM c)),
          |    (a, b) -> a + b) AS z
          |)
          |SELECT lang, n,
          |  CAST(FLOOR(100000.0 * sqrt(CAST(n AS DOUBLE)) / z) AS BIGINT) AS alloc
          |FROM c, z""".stripMargin
      )
    ),

    // UniMax budget allocation: cap each language at 2 epochs over its
    // character mass, water-fill the rest uniformly. Pure integer
    // prefix-sum arithmetic over the |langs|-sized decision table (the
    // corpus pays one partial-agg scan) — bit-exact. At sf0.01 the
    // 250k budget caps the four small languages at capacity and level-
    // limits en; at sf0.1 the same budget level-limits every language
    // uniformly — both regimes of the closed form are exercised.
    Q(
      "q_unimax_mix",
      (spark, dir) =>
        Sampling.unimaxAlloc(
          Q.t(spark, dir, "documents").select(col("lang"), col("n_chars")),
          "lang", "n_chars", budget = 250000L, maxEpochs = 2),
      Some(
        """WITH c AS (
          |  SELECT lang, CAST(SUM(n_chars) AS BIGINT) AS n,
          |         CAST(SUM(n_chars) * 2 AS BIGINT) AS capacity
          |  FROM documents GROUP BY lang
          |), r AS (
          |  SELECT lang, n, capacity,
          |    ROW_NUMBER() OVER (ORDER BY capacity, lang) AS rk,
          |    COALESCE(SUM(capacity) OVER (ORDER BY capacity, lang
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pfx,
          |    COUNT(*) OVER () AS gg
          |  FROM c
          |), l AS (
          |  SELECT *, CAST(FLOOR((250000 - pfx) / (gg - rk + 1)) AS BIGINT) AS lvl
          |  FROM r
          |), lv AS (
          |  SELECT arg_min(lvl, rk) AS level FROM l WHERE capacity >= lvl
          |)
          |SELECT lang, n, capacity,
          |  LEAST(capacity, COALESCE(level, capacity)) AS alloc
          |FROM l, lv""".stripMargin
      )
    ),

    // Cross-corpus id emission with character fallback: the dictionary
    // trains on the EVEN documents only, then encodes the FULL corpus —
    // odd documents' unseen words emit one id per character (the BPE
    // base vocabulary) instead of silently vanishing, lifting
    // encodeIds' covering-dictionary precondition. Same plan plus one
    // anti-join + char explode of the OOV remainder; the one corpus
    // shuffle is still the doc-keyed position ranking.
    Q(
      "q_bpe_ids_oov",
      (spark, dir) => {
        val docs = Q.t(spark, dir, "documents")
        val dict = Vocab.mergedDict(docs.filter(col("doc_id") % 2 === 0), "text", iters = 2)
        val out = Vocab.encodeIdsFallback(docs, "doc_id", "text", dict)
        Q.requireBroadcastJoin(out)
        out
      },
      Some(
        s"""${idCtesFrom("(SELECT text FROM documents WHERE doc_id % 2 = 0)", withAlphabet = true)},
           |hits AS (
           |  SELECT doc_id, p, q, tid FROM wtok JOIN lkt ON wtok.tok = lkt.t
           |), oovc AS (
           |  SELECT doc_id, p, i AS q, cs[i] AS sym FROM (
           |    SELECT doc_id, p, str_split(tok, '') AS cs FROM wtok
           |    WHERE tok NOT IN (SELECT DISTINCT t FROM lkt)
           |  ) o, UNNEST(generate_series(1, len(cs))) AS u(i)
           |), oovids AS (
           |  SELECT doc_id, p, q, tid FROM oovc JOIN tid USING (sym)
           |), merged AS (
           |  SELECT * FROM hits UNION ALL SELECT * FROM oovids
           |)
           |SELECT doc_id,
           |  CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY p, q) AS BIGINT) AS pos,
           |  tid AS token_id
           |FROM merged""".stripMargin
      )
    ),

    // Close the UniMax loop: the water-filled per-language CHARACTER
    // budgets drive an exact prefix selection — rows admit in
    // deterministic hash order while the running character sum stays
    // within the language's allocation. Decision table broadcasts; the
    // corpus pays one lang-keyed window shuffle. Pure integers.
    Q(
      "q_unimax_sample",
      (spark, dir) => {
        val docs = Q.t(spark, dir, "documents")
          .select(col("doc_id"), col("lang"), col("n_chars"))
        val quota = Sampling
          .unimaxAlloc(docs, "lang", "n_chars", budget = 250000L, maxEpochs = 2)
          .select(col("lang"), col("alloc"))
        Sampling.budgetedQuotaSample(docs, "lang", "doc_id", "n_chars", quota)
      },
      Some {
        val pm = s"(doc_id % ${Sampling.P} + ${Sampling.P}) % ${Sampling.P}"
        s"""WITH c AS (
           |  SELECT lang, CAST(SUM(n_chars) AS BIGINT) AS n,
           |         CAST(SUM(n_chars) * 2 AS BIGINT) AS capacity
           |  FROM documents GROUP BY lang
           |), r AS (
           |  SELECT lang, n, capacity,
           |    ROW_NUMBER() OVER (ORDER BY capacity, lang) AS rk,
           |    COALESCE(SUM(capacity) OVER (ORDER BY capacity, lang
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pfx,
           |    COUNT(*) OVER () AS gg
           |  FROM c
           |), l AS (
           |  SELECT *, CAST(FLOOR((250000 - pfx) / (gg - rk + 1)) AS BIGINT) AS lvl
           |  FROM r
           |), lv AS (
           |  SELECT arg_min(lvl, rk) AS level FROM l WHERE capacity >= lvl
           |), q AS (
           |  SELECT lang, LEAST(capacity, COALESCE(level, capacity)) AS alloc
           |  FROM l, lv
           |), cum AS (
           |  SELECT doc_id, lang, n_chars, alloc,
           |    CAST(SUM(CAST(n_chars AS BIGINT)) OVER (
           |      PARTITION BY lang
           |      ORDER BY ($pm * 2246822519 + 604171) % ${Sampling.P} ASC, doc_id ASC
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cs
           |  FROM documents JOIN q USING (lang)
           |)
           |SELECT doc_id, lang, n_chars FROM cum WHERE cs <= alloc""".stripMargin
      }
    ),

    // The tokenizer's end-to-end integrity check: decode(encode(docs))
    // must reproduce each document's whitespace-stripped text — the
    // round trip holds only if encodeIds covers every word, maps each
    // to the right subword surface forms, and carries positions in
    // exact document order. The oracle is deliberately INDEPENDENT of
    // the id chain: just strip the whitespace — any defect anywhere in
    // dictionary training, id assignment, position ranking, or decode
    // ordering hash-mismatches. Corpus cost: encodeIds' explode + one
    // doc-keyed window, then decode's one doc-keyed aggregation.
    Q(
      "q_ids_roundtrip",
      (spark, dir) => {
        val docs = Q.t(spark, dir, "documents")
        val dict = Vocab.mergedDict(docs, "text", iters = 2)
        Vocab.decodeIds(
          Vocab.encodeIds(docs, "doc_id", "text", dict), "doc_id", dict)
      },
      Some(
        """SELECT doc_id, regexp_replace(text, '\s+', '', 'g') AS text_nospace
          |FROM documents
          |WHERE regexp_replace(text, '\s+', '', 'g') <> ''""".stripMargin
      )
    ),

    // BYTE-LEVEL fallback round trip — the GPT-2-style guarantee: the
    // dictionary is trained on the PLAIN corpus, then every document
    // is suffixed with words full of astral-plane codepoints (emoji,
    // U+1D11E) the training alphabet has never seen. Character-level
    // fallback would drop them (no id); the byte page encodes their
    // exact UTF-8 bytes, so decode(encode(x)) == strip-whitespace(x)
    // holds for ANY input — the oracle is id-chain-independent (plain
    // regexp strip of the same suffixed text), so only a lossless
    // encode→decode pipeline through both the subword AND byte paths
    // can match it.
    Q(
      "q_bpe_ids_bytes",
      (spark, dir) => {
        val docs = Q.t(spark, dir, "documents")
        val suffixed = docs.select(col("doc_id"),
          concat(col("text"), lit(" zzé😀🚀x𝄞 😺")).as("text"))
        val dict = Vocab.mergedDict(docs, "text", iters = 2)
        Vocab.decodeIdsBytes(
          Vocab.encodeIdsBytes(suffixed, "doc_id", "text", dict), "doc_id", dict)
      },
      Some(
        """SELECT doc_id,
          |  regexp_replace(text || ' zzé😀🚀x𝄞 😺', '\s+', '', 'g') AS text_nospace
          |FROM documents""".stripMargin
      )
    ),

    // UNIGRAM-LM SEEDING (SentencePiece-style, Kudo 2018) — the other
    // tokenizer family real models train with: the candidate
    // vocabulary is every single character (the coverage floor) plus
    // the top-N frequent substrings (length ≤ 3, overlapping
    // occurrences, weighted by word frequency), ranked (count desc,
    // piece asc). Pure integer counts — bit-exact; the oracle
    // re-derives every substring count from the word-bag formula.
    Q(
      "q_unigram_seed",
      (spark, dir) => {
        val out = graft.operators.Unigram.seed(
          unigramDocs(spark, dir), "text", maxLen = 3, topN = 3)
        Q.requireMaxShuffles(out, 4)
        out
      },
      Some(
        s"""WITH $UnigramCtes
           |SELECT piece, CAST(count AS BIGINT) AS count, is_char FROM uvoc""".stripMargin
      )
    ),

    // UNIGRAM-LM EM (one Viterbi/hard-EM step) — expected counts under
    // the seed model: each word re-segments by maximizing
    // Σ ilog(count_i) − m·ilog(T) with ilog the FIXED-POINT shared-ln-
    // table read floor(ln(c)·2^20 + 0.5) (the exact-integer PageRank
    // discipline applied to EM), ties to the minimal split bitmask.
    // The oracle ENUMERATES every segmentation of every word with the
    // identical fixed-point scores — re-derivation, not assertion.
    // Unused pieces keep an explicit 0 so pruning can see them.
    Q(
      "q_unigram_em",
      (spark, dir) => {
        val docs = unigramDocs(spark, dir)
        val out = graft.operators.Unigram.emStep(
          graft.operators.Unigram.wordCounts(docs, "text"),
          graft.operators.Unigram.seed(docs, "text", maxLen = 3, topN = 3))
        Q.requireMaxShuffles(out, 8)
        out
      },
      Some(
        s"""WITH $UnigramCtes
           |SELECT piece, count FROM unewc""".stripMargin
      )
    ),

    // UNIGRAM-LM EM, ITERATION TWO — the chain property that makes EM
    // an algorithm rather than a single pass: iteration 1's counts
    // feed back as the model (zero-count pieces are DEAD — no ln row
    // exists for 0 — and drop from segmentation, the vocabTable
    // screen), and the oracle runs its enumeration a second time over
    // the re-derived model. Same fixed-point discipline end to end.
    Q(
      "q_unigram_iter2",
      (spark, dir) => {
        val docs = unigramDocs(spark, dir)
        val words = graft.operators.Unigram.wordCounts(docs, "text")
        val out = graft.operators.Unigram.emStep(
          words,
          graft.operators.Unigram.emStep(
            words,
            graft.operators.Unigram.seed(docs, "text", maxLen = 3, topN = 3)))
        Q.requireMaxShuffles(out, 12)
        out
      },
      Some(
        s"""WITH $UnigramCtes,
           |$UnigramIter2Ctes
           |SELECT piece, count FROM unewc2""".stripMargin
      )
    ),

    // UNIGRAM-LM PRUNE-TO-TARGET — the published shrink step: single
    // characters always survive (coverage floor); multi-char pieces
    // rank by the EM counts (desc, piece asc) and the top `target`
    // stay. Continues the q_unigram_em chain end to end.
    Q(
      "q_unigram_prune",
      (spark, dir) => {
        val docs = unigramDocs(spark, dir)
        val out = graft.operators.Unigram.prune(
          graft.operators.Unigram.emStep(
            graft.operators.Unigram.wordCounts(docs, "text"),
            graft.operators.Unigram.seed(docs, "text", maxLen = 3, topN = 3)),
          target = 2)
        Q.requireMaxShuffles(out, 9)
        out
      },
      Some(
        s"""WITH $UnigramCtes
           |SELECT piece, count, is_char FROM (
           |  SELECT piece, count, length(piece) = 1 AS is_char,
           |    ROW_NUMBER() OVER (PARTITION BY length(piece) = 1
           |      ORDER BY count DESC, piece ASC) AS rn
           |  FROM unewc)
           |WHERE is_char OR rn <= 2""".stripMargin
      )
    ),

    // UNIGRAM-LM ENCODING — the tokenizer doing its job: every corpus
    // word segments to its Viterbi pieces under the seed model (the
    // same fixed-point scores + minimal-bitmask tie-break), emitted as
    // the '|'-joined pieces with their count. Map-only over the word
    // frame plus the bounded vocabulary broadcast.
    Q(
      "q_unigram_encode",
      (spark, dir) => {
        val docs = unigramDocs(spark, dir)
        val out = graft.operators.Unigram.encodeWords(
          graft.operators.Unigram.wordCounts(docs, "text"),
          graft.operators.Unigram.seed(docs, "text", maxLen = 3, topN = 3))
        Q.requireMaxShuffles(out, 4)
        out
      },
      Some(
        s"""WITH $UnigramCtes
           |SELECT b.word, CAST(b.freq AS BIGINT) AS freq,
           |  (SELECT string_agg(p.piece, '|' ORDER BY p.start)
           |   FROM usegp p WHERE p.word = b.word AND p.mask = b.mask) AS seg,
           |  CAST((SELECT COUNT(*)
           |        FROM usegp p WHERE p.word = b.word AND p.mask = b.mask) AS INT)
           |    AS n_pieces
           |FROM ubest b""".stripMargin
      )
    ),

    // UNIGRAM VOCABULARY EXPORT — the (piece, tid, count) file a
    // SentencePiece consumer loads: 1-based lexicographic (binary)
    // piece ranks, the SAME id discipline as the BPE side's
    // subwordIds, so both tokenizer families feed one pack/export
    // chain. The ranking window runs over the BOUNDED vocabulary
    // (topN + alphabet), never the corpus.
    Q(
      "q_unigram_vocab",
      (spark, dir) => {
        val out = graft.operators.Unigram.pieceIds(
          graft.operators.Unigram.seed(
            unigramDocs(spark, dir), "text", maxLen = 3, topN = 3))
        Q.requireMaxShuffles(out, 7)
        out
      },
      Some(
        s"""WITH $UnigramCtes
           |SELECT piece,
           |  CAST(ROW_NUMBER() OVER (ORDER BY piece) AS BIGINT) AS tid,
           |  CAST(count AS BIGINT) AS count
           |FROM uvoc""".stripMargin
      )
    ),

    // UNIGRAM ID EMISSION — the unigram family's real tokenizer
    // output, at parity with q_bpe_ids: per-document (doc_id, pos,
    // token_id) streams under the seed model — Viterbi pieces in word
    // × piece order, ids the lexicographic piece ranks. The bounded
    // vocab broadcasts (collected at gate construction); the one plan
    // shuffle is the doc-keyed position ranking. The oracle re-derives
    // every id from its own segmentation enumeration.
    Q(
      "q_unigram_ids",
      (spark, dir) => {
        val out = graft.operators.Unigram.encodeIds(
          unigramDocsKeyed(spark, dir), "doc_id", "text",
          graft.operators.Unigram.seed(
            unigramDocs(spark, dir), "text", maxLen = 3, topN = 3),
          maxLen = 3)
        Q.requireMaxShuffles(out, 1)
        out
      },
      Some(
        s"""WITH $UnigramCtes,
           |$UnigramIdCtes
           |SELECT w.k AS doc_id,
           |  CAST(ROW_NUMBER() OVER (PARTITION BY w.k ORDER BY w.p, s.start)
           |    AS BIGINT) AS pos,
           |  t.tid AS token_id
           |FROM wseq w
           |JOIN ubest b ON b.word = w.word
           |JOIN usegp s ON s.word = b.word AND s.mask = b.mask
           |JOIN pids t ON t.piece = s.piece""".stripMargin
      )
    ),

    // UNIGRAM → PACK — the tokenize→pack last mile under the unigram
    // model, sharing q_pack_ids' chain verbatim: the id stream (plus a
    // per-doc <eos>, id 0) bins by the hierarchical per-language
    // prefix sum (packBins) into 2048-id bins and emits the flat
    // trainable stream (lang, bin, seq_pos, token_id). Documents carry
    // 64 repetitions of the word bag so the per-language cumulative
    // stream PROVABLY crosses the bin width — both languages land docs
    // in bin 1, the binning decides rather than rubber-stamps.
    Q(
      "q_unigram_pack",
      (spark, dir) => {
        val docs = unigramDocsKeyed(spark, dir)
          .withColumn("lang",
            when(col("doc_id") % 2 === 0, "en").otherwise("de"))
          .withColumn("text", concat_ws(" ", array_repeat(col("text"), 64)))
        val ids = graft.operators.Unigram.encodeIds(
          docs, "doc_id", "text",
          graft.operators.Unigram.seed(
            unigramDocs(spark, dir), "text", maxLen = 3, topN = 3),
          maxLen = 3)
        val stream = ids.unionByName(
          docs.select(col("doc_id"), lit(Int.MaxValue.toLong).as("pos"),
            lit(0L).as("token_id")))
        // arithmetic seq_pos off the doc-level bins frame, exactly the
        // q_pack_ids shape (Unigram.encodeIds emits the same dense
        // per-doc pos with the <eos> riding Int.MaxValue)
        val out = stream.join(packBinsFull(stream, docs), "doc_id")
          .select(col("lang"), col("bin"), seqPosArith, col("token_id"))
        Q.requireBroadcastJoin(out)
        out
      },
      Some(
        s"""WITH $UnigramCtes,
           |$UnigramIdCtes,
           |wseq64 AS (
           |  SELECT w.k, r.i * 4 + w.p AS p, w.word
           |  FROM wseq w, UNNEST(generate_series(0, 63)) AS r(i)),
           |e AS (
           |  SELECT w.k AS doc_id, w.p, s.start AS q, t.tid
           |  FROM wseq64 w
           |  JOIN ubest b ON b.word = w.word
           |  JOIN usegp s ON s.word = b.word AND s.mask = b.mask
           |  JOIN pids t ON t.piece = s.piece
           |  UNION ALL
           |  SELECT k, 2147483647, 0, CAST(0 AS BIGINT) FROM un),
           |lng AS (
           |  SELECT k AS doc_id,
           |    CASE WHEN k % 2 = 0 THEN 'en' ELSE 'de' END AS lang FROM un),
           |nn AS (SELECT doc_id, COUNT(*) AS n FROM e GROUP BY doc_id),
           |bb AS (
           |  SELECT doc_id, lang, CAST(FLOOR((cum - n) / 2048.0) AS BIGINT) AS bin
           |  FROM (
           |    SELECT nn.doc_id, d.lang, nn.n,
           |      SUM(nn.n) OVER (PARTITION BY d.lang ORDER BY nn.doc_id
           |                      ROWS UNBOUNDED PRECEDING) AS cum
           |    FROM nn JOIN lng d USING (doc_id)) t0)
           |SELECT lang, bin,
           |  CAST(ROW_NUMBER() OVER (PARTITION BY lang, bin
           |                          ORDER BY e.doc_id, p, q) AS BIGINT) AS seq_pos,
           |  tid AS token_id
           |FROM e JOIN bb USING (doc_id)""".stripMargin
      )
    ),

    // UNIGRAM ROUND TRIP — the end-to-end integrity check at parity
    // with q_ids_roundtrip: decode(encode(docs)) reassembles each
    // document's whitespace-stripped text from its id stream, which
    // holds only if segmentation covered every word, ids mapped to the
    // right pieces, and positions carried exact order. The oracle is
    // id-chain-INDEPENDENT (a plain strip of the fixture text), so
    // only a lossless pipeline can match it.
    Q(
      "q_unigram_roundtrip",
      (spark, dir) => {
        val model = graft.operators.Unigram.seed(
          unigramDocs(spark, dir), "text", maxLen = 3, topN = 3)
        val out = graft.operators.Unigram.decodeIds(
          graft.operators.Unigram.encodeIds(
            unigramDocsKeyed(spark, dir), "doc_id", "text", model, maxLen = 3),
          "doc_id", model)
        // the CORPUS crosses the wire twice (the encode position
        // window + the decode doc rollup); the other five exchanges in
        // the plan are all on the VOCAB side (seed counts + the piece
        // ranking), bounded by topN + alphabet — shuffles of a frame
        // that fits a broadcast
        Q.requireMaxShuffles(out, 7)
        Q.requireBroadcastJoin(out)
        out
      },
      Some(
        """WITH un AS (SELECT CAST(n_nationkey AS BIGINT) AS k FROM nation)
          |SELECT k AS doc_id,
          |  'ababc' || CASE WHEN k % 2 = 0 THEN 'ab' ELSE 'cb' END || 'b'
          |    AS text_nospace
          |FROM un""".stripMargin
      )
    ),

    // UNIGRAM PIPELINE CAPSTONE — the whole family composed end to
    // end: corpus → word counts → seed → EM × 2 → prune-to-target →
    // id emission, every stage the SAME operator (and the oracle the
    // SAME CTE chain) as its standalone gate, so the composition
    // cannot drift from the parts. The oracle re-runs its segmentation
    // enumeration a THIRD time under the pruned model (zero-count
    // pieces dead, chars floored, top-2 multi-char survivors) and
    // assigns ids over the pruned piece space.
    Q(
      "q_unigram_pipeline",
      (spark, dir) => {
        val U = graft.operators.Unigram
        val docs = unigramDocsKeyed(spark, dir)
        val bag = unigramDocs(spark, dir)
        val words = U.wordCounts(bag, "text")
        val vocab = U.prune(
          U.emStep(words,
            U.emStep(words, U.seed(bag, "text", maxLen = 3, topN = 3))),
          target = 2)
        val out = U.encodeIds(docs, "doc_id", "text", vocab, maxLen = 3)
        Q.requireMaxShuffles(out, 1)
        out
      },
      Some(
        s"""WITH $UnigramCtes,
           |$UnigramIter2Ctes,
           |$UnigramIdCtes,
           |uvocp AS (
           |  SELECT piece, count, length(piece) = 1 AS is_char,
           |    ROW_NUMBER() OVER (PARTITION BY length(piece) = 1
           |      ORDER BY count DESC, piece ASC) AS rn
           |  FROM unewc2),
           |upruned AS (SELECT piece, count FROM uvocp WHERE is_char OR rn <= 2),
           |uvoc3 AS (SELECT piece, count FROM upruned WHERE count > 0),
           |utot3 AS (SELECT CAST(SUM(count) AS BIGINT) AS t FROM uvoc3),
           |uscored3 AS (
           |  SELECT p.word, p.freq, p.mask,
           |    COUNT(*) AS m,
           |    SUM(CASE WHEN v.count IS NULL THEN 1 ELSE 0 END) AS missing,
           |    SUM(CASE WHEN v.count IS NOT NULL
           |        THEN CAST(floor(l[v.count] * 1048576.0e0 + 0.5e0) AS BIGINT) END) AS psum
           |  FROM usegp p LEFT JOIN uvoc3 v USING (piece) CROSS JOIN lnt
           |  GROUP BY p.word, p.freq, p.mask),
           |ubest3 AS (
           |  SELECT word, freq, mask FROM (
           |    SELECT word, freq, mask, ROW_NUMBER() OVER (
           |      PARTITION BY word
           |      ORDER BY psum - m * CAST(floor(l[t] * 1048576.0e0 + 0.5e0) AS BIGINT) DESC,
           |               mask ASC) AS rn
           |    FROM uscored3 CROSS JOIN utot3 CROSS JOIN lnt
           |    WHERE missing = 0) WHERE rn = 1),
           |pids3 AS (
           |  SELECT piece, CAST(ROW_NUMBER() OVER (ORDER BY piece) AS BIGINT) AS tid
           |  FROM upruned)
           |SELECT w.k AS doc_id,
           |  CAST(ROW_NUMBER() OVER (PARTITION BY w.k ORDER BY w.p, s.start)
           |    AS BIGINT) AS pos,
           |  t.tid AS token_id
           |FROM wseq w
           |JOIN ubest3 b ON b.word = w.word
           |JOIN usegp s ON s.word = b.word AND s.mask = b.mask
           |JOIN pids3 t ON t.piece = s.piece""".stripMargin
      )
    )
  )
}
