package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for LLM training-data pipelines, ordered by
  * cost: exact (hash group-by), n-gram Jaccard over shared-shingle
  * candidates, MinHash+LSH (the 100 TB path), and SimHash.
  *
  * Scale notes:
  *   - Exact dedup is one shuffle on a 64-hex digest — at 100 TB, group
  *     on the digest, never on the document text (shuffle bytes ∝ key
  *     size).
  *   - All-pairs similarity is quadratic and never run directly; both
  *     fuzzy variants generate candidates first (shared shingle / shared
  *     LSH bucket), so the join key distributes and only near-candidates
  *     meet. Hot shingles are capped (`MaxShingleFreq`) — the classic
  *     stop-shingle guard that keeps the candidate join skew-free.
  *   - All hashes are deterministic integer arithmetic (no engine-private
  *     hash functions), so results are reproducible and oracle-checkable.
  */
object Dedup {

  // ---------------------------------------------------------------- exact

  /** Exact dedup: canonical row per distinct text = min id. Returns
    * (digest, canonical_id, n_copies).
    */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .groupBy(sha2(col(textCol), 256).as("digest"))
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("n_copies"))

  /** Keep one row per distinct text (first by id). */
  def dropExactDuplicates(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val canon = exactGroups(docs, idCol, textCol)
      .select(col("canonical_id").as(idCol))
    docs.join(canon, Seq(idCol), "left_semi")
  }

  /** Canonical text for normalization-aware exact dedup: trimmed,
    * lower-cased, internal whitespace runs collapsed to one space.
    * The practical "exact" notion — crawled copies of the same page
    * routinely differ only in case and whitespace, which byte-exact
    * digests treat as distinct documents. Purely map-side.
    */
  def normalizeText(c: Column): Column =
    // collapse BEFORE trim: trim strips only spaces, so a trailing tab
    // must first become a space to be stripped
    lower(trim(regexp_replace(c, "\\s+", " ")))

  /** [[exactGroups]] over the NORMALIZED text: one row per distinct
    * normalized form with its first-id canonical and copy count. Same
    * single digest-keyed partial-agg shuffle — the normalization adds
    * only map-side work, so the 100 TB cost is identical to byte-exact
    * grouping.
    */
  def normalizedGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .groupBy(sha2(normalizeText(col(textCol)), 256).as("digest"))
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("n_copies"))

  /** The 32-byte BINARY digest of a text column — the join/index key
    * incremental dedup stores and shuffles. `sha2` alone returns
    * 64-char hex (2× the bytes); unhex packs it back to the raw 32.
    * [[exactGroups]] keeps hex for its user-facing output; everything
    * that persists or joins digests uses this.
    */
  private def binaryDigest(textCol: String): Column =
    unhex(sha2(col(textCol), 256))

  /** Fail fast on a digest index persisted by the pre-round-7 format
    * (64-char hex STRING keys): a string-vs-binary equi-join never
    * matches after the implicit cast, so every duplicate would pass the
    * screen with no error. Index-format break migration: one pass of
    * `SELECT unhex(digest) AS digest` over the old index.
    */
  private[graft] def requireBinaryDigestIndex(index: DataFrame, op: String): Unit =
    require(
      index.schema("digest").dataType == org.apache.spark.sql.types.BinaryType,
      s"$op: digest index key must be BINARY (32-byte unhex(sha2)); found " +
        s"${index.schema("digest").dataType.simpleString} — a hex-string index " +
        "from the old format matches nothing; migrate with SELECT unhex(digest) AS digest")

  /** The persistable side of incremental exact dedup: one digest row per
    * distinct text. 32-byte binary rows — the index a 100 TB corpus
    * keeps so nightly deltas never re-read the corpus
    * ([[dedupDeltaExact]]); append each delta's surviving digests to
    * keep it current.
    */
  def digestIndex(docs: DataFrame, textCol: String): DataFrame =
    docs.select(binaryDigest(textCol).as("digest")).distinct()

  /** Incremental exact dedup — the corpus-maintenance twin of
    * [[Similarity.appendToIndex]]: screen a DELTA batch against a
    * persisted [[digestIndex]] without touching the corpus itself.
    * Survivors are the delta's within-batch first occurrences (min id
    * per digest) whose digest is not already indexed; because the
    * digest is a pure function of the text, this equals the delta-side
    * survivors of re-running [[dropExactDuplicates]] on corpus ∪ delta
    * (when corpus ids precede delta ids) — pinned by DedupSpec and the
    * q_dedup_incremental gate.
    *
    * Cost ∝ delta size + one digest-keyed join against the index: the
    * delta shuffles twice ((digest) agg, (id) semi join) and the index
    * join is a digest equi-join — co-partitioned after one shuffle of
    * 32-byte keys, broadcastable while the index is small. The corpus
    * text is never re-read, which is the entire point at 100 TB.
    */
  def dedupDeltaExact(
      delta: DataFrame,
      idCol: String,
      textCol: String,
      index: DataFrame
  ): DataFrame = {
    requireBinaryDigestIndex(index, "dedupDeltaExact")
    val canon = delta
      .groupBy(binaryDigest(textCol).as("digest"))
      .agg(min(col(idCol)).as(idCol))
      .join(index, Seq("digest"), "left_anti")
      .select(col(idCol))
    delta.join(canon, Seq(idCol), "left_semi")
  }

  /** Purge deleted CONTENT from a persisted [[digestIndex]] — the
    * takedown twin of the append lifecycle: drop the digests of the
    * deleted texts so re-submissions of removed content are no longer
    * screened out. One anti-join on the 32-byte key; the delete batch
    * rides the broadcast side.
    *
    * Semantics note: the digest index stores CONTENT identity, not doc
    * identity — purging a digest whose text also lives in a surviving
    * document un-indexes that survivor too (its text would re-enter as
    * novel on the next delta). When deletes are id-scoped rather than
    * content-scoped, first anti-join the delete ids against the corpus
    * to find texts with no surviving owner, and purge only those.
    */
  def purgeDigests(index: DataFrame, deletedDocs: DataFrame, textCol: String): DataFrame = {
    requireBinaryDigestIndex(index, "purgeDigests")
    index.join(
      broadcast(deletedDocs.select(binaryDigest(textCol).as("digest"))),
      Seq("digest"), "left_anti")
  }

  /** Purge deleted docs from a persisted signature index
    * ([[minhashSignatures]] output) — the near-dup member of the
    * takedown family. Signatures are per-DOC state, so this is cleanly
    * id-scoped (no shared-content subtlety like [[purgeDigests]]):
    * one anti-join, delete batch broadcast, and near-dups of the
    * removed doc re-enter as novel on the next screen.
    */
  def purgeSignatures(index: DataFrame, deletes: DataFrame, idCol: String): DataFrame =
    index.join(broadcast(deletes.select(col(idCol).as("id"))), Seq("id"), "left_anti")

  /** Incremental NEAR-dup screening — the MinHash analog of
    * [[dedupDeltaExact]]: screen a delta batch against a PERSISTED
    * signature index (the (id, signature) output of
    * [[minhashSignatures]] — k·8 bytes per corpus doc, the only state
    * near-dup maintenance needs; the corpus text is never re-read).
    * A delta doc is dropped when it shares an LSH band with an indexed
    * doc AND the full-signature agreement estimates Jaccard ≥
    * `threshold`. Survivors keep all delta columns.
    *
    * Plan: delta signatures are one map-side codegen pass; both sides
    * explode `bands` tiny (band, value) rows and meet in ONE equi-join
    * on the band key — only signatures shuffle. Within-delta near-dups
    * are a separate concern by design (screen semantics): compose with
    * [[minhashLshPairs]] over the delta when needed. Threshold note:
    * est_jaccard is an exact rational (agreeing lanes / k), so
    * comparisons against representable thresholds (16/32 = 0.5) are
    * deterministic across engines.
    */
  def neardupDeltaScreen(
      delta: DataFrame,
      idCol: String,
      textCol: String,
      index: DataFrame,
      n: Int = 3,
      k: Int = 32,
      bands: Int = 8,
      threshold: Double = 0.5
  ): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    val rows = k / bands
    def banded(sigs: DataFrame, idAs: String, sigAs: String) =
      sigs.select(col("id").as(idAs), col("signature").as(sigAs),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => slice(col("signature"), b * lit(rows) + lit(1), lit(rows))))
          .as(Seq("band", "band_val")))
    val cand = banded(minhashSignatures(delta, idCol, textCol, n, k), "did", "dsig")
      .join(banded(index, "cid", "csig"), Seq("band", "band_val"))
      .select(col("did"), col("dsig"), col("cid"), col("csig"))
      .distinct()
    val dropped = cand
      .withColumn("n_eq",
        size(filter(zip_with(col("dsig"), col("csig"), (x, y) => x === y), e => e)))
      .filter(col("n_eq").cast("double") / lit(k.toDouble) >= threshold)
      .select(col("did").as(idCol))
      .distinct()
    delta.join(dropped, Seq(idCol), "left_anti")
  }

  /** Passage-level dedup: chunk every document into `window`-token
    * passages at `stride` steps, fingerprint each passage
    * ([[TextAnalysis.fingerprint]] rolling hash), and keep the first
    * occurrence of each distinct passage — first = smallest
    * (doc id, chunk id). The sub-document twin of [[exactGroups]]:
    * catches documents that share paragraphs/sections without being
    * full-text duplicates (quote farms, mirrored sections, templated
    * pages). Returns surviving (id, chunk_id, phash) rows.
    *
    * One shuffle keyed by passage hash, and only (hash, id, chunk_id)
    * tuples ride it — passage text never leaves the map side; the
    * min-struct argmin partial-aggregates.
    */
  def dedupPassages(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      window: Int,
      stride: Int
  ): DataFrame =
    docs
      .select(
        col(idCol).as("id"),
        posexplode(TextAnalysis.chunkTokens(col(textCol), window, stride))
          .as(Seq("chunk_id", "chunk_text")))
      .select(col("id"), col("chunk_id"),
        TextAnalysis.fingerprint(col("chunk_text")).as("phash"))
      .groupBy(col("phash"))
      .agg(min(struct(col("id"), col("chunk_id"))).as("keep"))
      .select(col("keep.id").as("id"), col("keep.chunk_id").as("chunk_id"),
        col("phash"))

  /** Version dedup: keep exactly one row per key — the first under
    * `orderCols` (pass `desc` ordering for "latest wins", the standard
    * re-crawl / re-ingest policy). Include a unique tie-break column so
    * the survivor is deterministic.
    *
    * One shuffle on the key; ranking state is a single counter, but a
    * window partition is one task: every row of a key sorts inside that
    * key's task. Right when per-key version counts are bounded (the
    * re-crawl case). For a genuinely hot key, or when only max(order)
    * is needed, prefer a max_by-style aggregation, which gets map-side
    * partials.
    */
  def keepLatest(df: DataFrame, keyCols: Seq[String], orderCols: Seq[Column]): DataFrame = {
    // collision-free rank column name
    val rn = Iterator.iterate("__rn")(_ + "_").dropWhile(df.columns.contains).next()
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(orderCols: _*)
    df.withColumn(rn, row_number().over(w))
      .filter(col(rn) === 1)
      .drop(rn)
  }

  /** The production dedup order: collapse exact duplicates FIRST, then
    * find fuzzy pairs among canonical documents only.
    *
    * Fuzzy candidate generation is quadratic within a bucket, so raw
    * exact duplicates (the most common kind at crawl scale) multiply
    * candidate work by copies² per document. Collapsing them first makes
    * fuzzy cost a function of *distinct* content: the 8×-replicated
    * corpus probe drops from ~90 s back to the 1× cost. Copy counts stay
    * available from [[exactGroups]].
    */
  def nearDupPairsCollapsed(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      threshold: Double
  ): DataFrame =
    jaccardPairs(dropExactDuplicates(docs, idCol, textCol),
      idCol, textCol, n, threshold)

  /** [[nearDupPairsCollapsed]] for the asymmetric measure: exact-collapse
    * first, then containment pairs among canonical documents — the
    * production order for subset-duplication screening (exact copies
    * are mutual containment-1.0 pairs, so the raw pairing is copies²
    * per document; collapsed, cost tracks distinct content).
    */
  def containmentPairsCollapsed(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      threshold: Double
  ): DataFrame =
    containmentPairs(dropExactDuplicates(docs, idCol, textCol),
      idCol, textCol, n, threshold)

  /** Exact-substring dedup core (Lee et al., "Deduplicating Training
    * Data Makes Language Models Better"): for every candidate document
    * pair, the longest token span shared VERBATIM — the statistic that
    * catches copied passages which survive document-level near-dup
    * screens. Returns (id_a, id_b, span_tokens) for pairs sharing at
    * least `minSpan` consecutive tokens.
    *
    * Method: positional k-gram anchors. Every k-token window is hashed
    * ([[shingleHashes]]'s polynomial family, position kept); anchors
    * join on the hash, and a run of matches along one diagonal
    * (pos_a − pos_b constant, positions consecutive) witnesses a shared
    * span of run + k − 1 tokens. Runs are measured with the
    * gaps-and-islands window trick: within (pair, diagonal), ordered by
    * pos_a, `pos_a − row_number()` is constant exactly on consecutive
    * stretches. All arithmetic is integer, so the result is
    * engine-exact.
    *
    * Scale shape: the anchor join is one shuffle on the k-gram hash.
    * Anchors whose hash appears in more than `maxDocFreq` documents are
    * dropped BEFORE the join (broadcast anti-join against the hot set)
    * — boilerplate k-grams pair everything with everything and carry no
    * span signal; a true long span loses only its boilerplate-interior
    * anchors and is still witnessed by its rarer ones. Run measurement
    * shuffles only the surviving matched anchor pairs, partitioned by
    * (pair, diagonal) — output-sized, not corpus-sized.
    */
  def sharedSpans(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8,
      minSpan: Int = 12,
      maxDocFreq: Int = 16
  ): DataFrame = {
    // pinned and filled up front: the anchor frame feeds the hot-set
    // aggregation AND the self-join — un-materialized, the regex-split
    // + k-gram hash pass over the full text ran once per consumer
    // (guide §2.4), and left for the first consumer to fill, the
    // consumers' concurrent tasks queue on each block instead of
    // splitting the pass; the pinned frame is three scalars per anchor
    // position
    val anchors = Guard.pin(docs
      .select(col(idCol).as("id"), graft.functions.GraftFunctions
        .ngramHashes(col(textCol), k, StrHashMult, StrHashMod).as("shs"))
      .select(col("id"), posexplode(col("shs")).as(Seq("pos", "sh"))))
    anchors.count(): Unit
    val hot = anchors
      .groupBy(col("sh"))
      .agg(countDistinct(col("id")).as("df"))
      .filter(col("df") > maxDocFreq)
      .select(col("sh"))
    val cold = anchors.join(broadcast(hot), Seq("sh"), "left_anti")
    val matches = cold.as("a")
      .join(cold.as("b"),
        col("a.sh") === col("b.sh") && col("a.id") < col("b.id"))
      .select(
        col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.pos").as("pa"), (col("a.pos") - col("b.pos")).as("d"))
    // Within (pair, diagonal) pos_a is unique (pos_b is pinned by the
    // diagonal), so the window order is total and the islands exact.
    val w = Window.partitionBy(col("id_a"), col("id_b"), col("d")).orderBy(col("pa"))
    matches
      .withColumn("grp", col("pa") - row_number().over(w))
      .groupBy(col("id_a"), col("id_b"), col("d"), col("grp"))
      .agg((count(lit(1)) + lit(k - 1)).as("span"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(max(col("span")).as("span_tokens"))
      .filter(col("span_tokens") >= minSpan)
  }

  /** Exact-substring dedup POLICY over [[sharedSpans]] (the decision
    * half of Lee et al.'s deduplicate-substrings): for every pair whose
    * longest shared verbatim span covers at least HALF of the smaller
    * document's tokens, drop that smaller document (tie → drop the
    * larger id, so the keep choice is deterministic). Survivors are
    * returned as (id, n_tokens). The half-coverage test is pure integer
    * arithmetic (2·span ≥ min(n_a, n_b)) — no float threshold to drift.
    *
    * Plan shape: [[sharedSpans]]'s output-sized pair frame joins token
    * counts (map-side computed) twice, reduces to a DISTINCT victim
    * set — pair-output-sized, in practice tiny — and anti-joins the
    * corpus once. Nothing corpus-sized shuffles beyond the anchor join
    * already inside sharedSpans.
    */
  def spanDedup(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8,
      minSpan: Int = 12,
      maxDocFreq: Int = 16
  ): DataFrame = {
    val nt = docs.select(col(idCol).as("id"),
      graft.operators.TextAnalysis.tokenCount(col(textCol)).cast("long").as("n_tokens"))
    val victims = sharedSpans(docs, idCol, textCol, k, minSpan, maxDocFreq)
      .join(nt.select(col("id").as("id_a"), col("n_tokens").as("na")), "id_a")
      .join(nt.select(col("id").as("id_b"), col("n_tokens").as("nb")), "id_b")
      .filter(col("span_tokens") * 2 >= least(col("na"), col("nb")))
      .select(
        when(col("na") < col("nb"), col("id_a"))
          .when(col("nb") < col("na"), col("id_b"))
          .otherwise(greatest(col("id_a"), col("id_b"))).as("id"))
      .distinct()
    nt.join(victims, Seq("id"), "left_anti")
  }

  // ------------------------------------------------------------- shingles

  /** Token n-gram shingles (distinct), as strings. Declarative
    * reference formulation; the hot path hashes shingles directly via
    * [[shingleHashes]] without materializing the strings.
    */
  def shingles(text: Column, n: Int): Column = {
    val toks = split(text, "\\s+")
    when(size(toks) >= n,
      array_distinct(
        transform(
          sequence(lit(0), size(toks) - lit(n)),
          i => concat_ws(" ", slice(toks, i + lit(1), lit(n)))
        )
      )
    ).otherwise(array())
  }

  /** Distinct hashes of all token n-gram shingles, computed in one
    * codegen pass ([[graft.functions.NgramPolyHash]]) — no shingle
    * strings, no higher-order functions. Equals
    * `array_distinct(transform(shingles(text, n), strHash))` (pinned in
    * FunctionsSpec).
    */
  def shingleHashes(text: Column, n: Int): Column =
    array_distinct(graft.functions.GraftFunctions
      .ngramHashes(text, n, StrHashMult, StrHashMod))

  /** Deterministic polynomial hash of a string — engine-portable (pure
    * integer arithmetic over code points). Modulus and multiplier are
    * sized so h·mult + 0x10FFFF never exceeds a signed 64-bit long:
    * engines that check overflow (DuckDB) and engines that wrap (JVM)
    * then agree bit-for-bit.
    *
    * Runs as the native codegen'd [[graft.functions.StrPolyHash]];
    * [[strHashFold]] is the declarative twin it is pinned against.
    */
  val StrHashMult = 131L
  val StrHashMod = 1000000007L
  private[graft] def strHash(c: Column): Column =
    graft.functions.GraftFunctions.polyHash(c, StrHashMult, StrHashMod)

  /** Higher-order-function formulation of [[strHash]] (slow path, kept
    * as the semantic reference for the equivalence spec).
    */
  private[graft] def strHashFold(c: Column): Column =
    aggregate(
      filter(split(c, ""), ch => ch =!= ""),
      lit(0L),
      (h, ch) => (h * lit(StrHashMult) + ascii(ch)) % lit(StrHashMod)
    )

  /** Candidate-pair guard: shingles occurring in more than this many docs
    * are dropped from candidate generation (they pair everything with
    * everything — pure skew, no signal).
    */
  val MaxShingleFreq = 1000

  /** Emit every within-bucket id pair (id_a < id_b) from a
    * (bucketCols..., sorted ids array) grouping — the shared
    * candidate-generation kernel: group once on the bucket key, cap
    * bucket size (hot-bucket guard), explode the C(f,2) pairs in place.
    * One shuffle total; no self-join, so upstream pipelines run once
    * instead of twice, and no per-key window pass.
    */
  /** Generic over the element type: emits (a, b) pairs of whatever the
    * sorted `ids` array holds — bare ids or (id, payload) structs.
    */
  private[operators] def bucketPairsRaw(grouped: DataFrame, maxBucket: Int): DataFrame =
    grouped
      .filter(size(col("ids")).between(2, maxBucket))
      .select(explode(flatten(transform(col("ids"), (x, i) =>
        transform(slice(col("ids"), i + lit(2), size(col("ids"))),
          y => struct(x.as("a"), y.as("b")))))).as("p"))
      .select(col("p.a"), col("p.b"))

  private[operators] def bucketPairs(grouped: DataFrame, maxBucket: Int): DataFrame =
    bucketPairsRaw(grouped, maxBucket)
      .select(col("a").as("id_a"), col("b").as("id_b"))

  /** Near-duplicate pairs by n-gram Jaccard similarity over shared-
    * shingle candidates. Returns (id_a, id_b, n_a, n_b, n_common,
    * jaccard) with id_a < id_b.
    *
    * Hot-shingle semantics: shingles in more than [[MaxShingleFreq]]
    * docs are excluded from `n_common` (never from the `n_a`/`n_b`
    * denominators), so for pairs sharing hot shingles the reported
    * jaccard is a conservative lower bound — the price of keeping
    * candidate generation skew-free. The DuckDB oracle mirrors this
    * exactly.
    *
    * Plan shape: one map-side pass computes each doc's shingle-hash
    * array AND its size; both ride the exploded rows into the bucket
    * aggregation as (id, n_sh) structs, so pair rows emerge carrying
    * their denominators — no sizes join, no second evaluation of the
    * shingle pipeline, two shuffles total (bucket groupBy + pair
    * groupBy).
    */
  def jaccardPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      threshold: Double
  ): DataFrame =
    sharedShingleCounts(docs, idCol, textCol, n)
      .withColumn(
        "jaccard",
        col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common")).cast("double")
      )
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "n_a", "n_b", "n_common", "jaccard")

  /** Containment near-dup pairs: |A∩B| / min(|A|, |B|) over the same
    * shared-shingle candidates — the asymmetric measure that catches
    * SUBSET duplication (one document quoted or embedded inside a
    * larger one), which symmetric Jaccard structurally misses: a
    * 100-shingle doc fully contained in a 1000-shingle doc scores
    * jaccard 0.1 but containment 1.0. Same plan shape and hot-shingle
    * semantics as [[jaccardPairs]] (two shuffles; hot shingles excluded
    * from n_common only, so containment is a conservative lower bound
    * on hot-shingle pairs).
    */
  def containmentPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      threshold: Double
  ): DataFrame =
    sharedShingleCounts(docs, idCol, textCol, n)
      .withColumn(
        "containment",
        col("n_common").cast("double") / least(col("n_a"), col("n_b")).cast("double")
      )
      .filter(col("containment") >= threshold)
      .select("id_a", "id_b", "n_a", "n_b", "n_common", "containment")

  /** The shared candidate core of [[jaccardPairs]]/[[containmentPairs]]:
    * (id_a, id_b, n_a, n_b, n_common) for every shared-shingle pair,
    * id_a < id_b. One map-side pass computes each doc's shingle-hash
    * array AND its size; both ride the exploded rows into the bucket
    * aggregation as (id, n_sh) structs, so pair rows emerge carrying
    * their denominators — no sizes join, no second evaluation of the
    * shingle pipeline, two shuffles total (bucket groupBy + pair
    * groupBy).
    */
  private def sharedShingleCounts(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int
  ): DataFrame = {
    val exploded = docs
      .select(col(idCol).as("id"), shingleHashes(col(textCol), n).as("shs"))
      .select(col("id"), size(col("shs")).cast("long").as("n_sh"),
        explode(col("shs")).as("sh"))

    // bucket size == shingle doc-frequency, so the size cap IS the
    // hot-shingle guard; struct sort orders by id -> id_a < id_b
    val buckets = exploded
      .groupBy(col("sh"))
      .agg(sort_array(collect_list(struct(col("id"), col("n_sh")))).as("ids"))

    bucketPairsRaw(buckets, MaxShingleFreq)
      .select(
        col("a.id").as("id_a"), col("a.n_sh").as("n_a"),
        col("b.id").as("id_b"), col("b.n_sh").as("n_b"))
      .groupBy(col("id_a"), col("id_b"), col("n_a"), col("n_b"))
      .agg(count(lit(1)).as("n_common"))
  }

  /** Near-duplicate clusters: connected components over the Jaccard
    * near-dup pair graph, labeled by each component's smallest doc id.
    * Returns (id, cluster) for every input doc (singletons keep their
    * own id).
    *
    * Min-label propagation: each iteration every node takes the minimum
    * of its own label and its neighbors' labels; converges in
    * O(component diameter) rounds — near-dup clusters are shallow, so
    * 2-4 rounds in practice. Each round is one join + one aggregation on
    * (edge, label) pairs; lineage is truncated per round ([[Guard.pin]])
    * so plans don't grow unboundedly, and each round's predecessor is
    * unpinned once the round has filled. The driver loop only compares
    * counts — no row data ever reaches the driver.
    */
  def nearDupClusters(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      threshold: Double
  ): DataFrame = {
    val pairs = jaccardPairs(docs, idCol, textCol, n, threshold)
      .select(col("id_a"), col("id_b"))
    val edges = Guard.pin(pairs
      .union(pairs.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
      .toDF("u", "v"))

    // Propagate min-labels over the near-dup subgraph ONLY: at crawl
    // scale the overwhelming majority of documents touch no near-dup
    // edge, so iterating over |V(edges)| instead of |docs| shrinks
    // every iteration's join from corpus-sized to dup-graph-sized.
    // Isolated docs rejoin as their own singleton cluster at the end.
    var labels = Guard.pin(edges.select(col("u").as("id")).distinct()
      .select(col("id"), col("id").as("cluster")))
    // The pinned label frame's size estimate is its derivation's (a
    // product over joins), not its rows, so Catalyst would
    // sort-merge-join every round against it (2 Exchanges + 2 Sorts
    // per join, as in Graph's loops). The frame is |V(dup
    // subgraph)|-bounded; hint the broadcast while the ACTUAL vertex
    // count (the action that fills the pinned frame) stays under the
    // cap, shuffle-join past it — results identical either way.
    val bc = Guard.broadcastIfSmall(labels.count())
    var changed = 1L
    while (changed > 0) {
      // carry the old label through the aggregation so convergence is
      // read off the same materialized result — no second join/count job
      val next = Guard.pin(edges
        .join(bc(labels), edges("v") === labels("id"))
        .groupBy(col("u")).agg(min(col("cluster")).as("nb_min"))
        .join(bc(labels), col("u") === labels("id"))
        .select(col("id"),
          least(col("cluster"), col("nb_min")).as("cluster"),
          (col("nb_min") < col("cluster")).as("moved")))
      changed = next.filter(col("moved")).count()
      Guard.unpin(labels)
      labels = next.select(col("id"), col("cluster"))
    }
    Guard.unpin(edges)
    docs.select(col(idCol).as("id"))
      .join(bc(labels.withColumnRenamed("id", "lid")), col("id") === col("lid"), "left")
      .select(col("id"), coalesce(col("cluster"), col("id")).as("cluster"))
  }

  /** Materialized near-dup dedup: keep each cluster's canonical
    * (smallest-id) document — the end-to-end "dedup the corpus" step a
    * training pipeline actually ships. Cluster-exact (transitively
    * closed): a chain a~b~c keeps only a.
    */
  def dropNearDupClusterMembers(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      threshold: Double
  ): DataFrame = {
    val canon = nearDupClusters(docs, idCol, textCol, n, threshold)
      .filter(col("cluster") === col("id"))
      .select(col("id").as(idCol))
    docs.join(canon, Seq(idCol), "left_semi")
  }

  /** QUALITY-canonical near-dup dedup: keep one representative per
    * cluster chosen by a quality column (highest wins, id tie-break)
    * instead of smallest-id — what a curation pipeline actually wants:
    * when five near-copies of a page exist, ship the best-scored one,
    * not the one that happened to crawl first. Output: (cluster, id,
    * the quality column) for each surviving representative.
    *
    * One window over cluster-grouped rows picks the argmax; cluster
    * label propagation ([[nearDupClusters]]) confines its joins to the
    * dup subgraph, so the added cost over min-id dedup is one shuffle
    * of (id, cluster, quality) triples.
    */
  def canonicalByQuality(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      qualityCol: String,
      n: Int,
      threshold: Double
  ): DataFrame = {
    val clusters = nearDupClusters(docs, idCol, textCol, n, threshold)
    val w = Window.partitionBy(col("cluster"))
      .orderBy(col(qualityCol).desc, col("id").asc)
    docs.select(col(idCol).as("id"), col(qualityCol))
      .join(clusters, Seq("id"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("cluster"), col("id"), col(qualityCol))
  }

  // -------------------------------------------------------------- minhash

  /** MinHash parameters: k independent permutations h_i(x) = (a_i·x + b_i)
    * mod p over shingle hashes, banded for LSH. Fixed constants →
    * reproducible across runs and engines. p and the a_i stay below 2^31
    * so a_i·x never overflows a signed 64-bit long.
    */
  val MinhashP = 1000000007L
  def hashA(i: Int): Long = (2654435761L + 40503L * i) % MinhashP
  def hashB(i: Int): Long = (2246822519L + 604171L * i) % MinhashP

  /** MinHash signatures: one row per doc, `signature` = array of k mins.
    *
    * Entirely map-side — one codegen pass computes the shingle hashes
    * and the k permutation minima per document
    * ([[graft.functions.MinhashSignature]]); no explode, no shuffle.
    * Docs with fewer than n tokens have no shingles and are dropped,
    * like the exploded formulation ([[minhashSignaturesAgg]], the
    * pinned declarative twin).
    */
  def minhashSignatures(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      k: Int
  ): DataFrame =
    docs
      .select(
        col(idCol).as("id"),
        graft.functions.GraftFunctions.minhashSig(
          graft.functions.GraftFunctions
            .ngramHashes(col(textCol), n, StrHashMult, StrHashMod),
          (0 until k).map(hashA), (0 until k).map(hashB), MinhashP
        ).as("signature"))
      .filter(col("signature").isNotNull)

  /** Explode + k-min-aggregate formulation of [[minhashSignatures]]
    * (slow path, kept as the semantic reference for the equivalence
    * spec).
    */
  private[graft] def minhashSignaturesAgg(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      k: Int
  ): DataFrame = {
    val sh = docs
      .select(col(idCol).as("id"), explode(shingles(col(textCol), n)).as("shingle"))
      .select(col("id"), strHashFold(col("shingle")).as("sh"))
    val minExprs = (0 until k).map { i =>
      min((col("sh") % lit(MinhashP) * lit(hashA(i)) + lit(hashB(i))) % lit(MinhashP))
        .as(s"h$i")
    }
    sh.groupBy(col("id"))
      .agg(minExprs.head, minExprs.tail: _*)
      .select(col("id"), array((0 until k).map(i => col(s"h$i")): _*).as("signature"))
  }

  /** Merge MinHash signatures by elementwise min — THE sketch property
    * that makes MinHash distributable and incremental: the min of two
    * docs' signatures IS the signature of the union of their shingle
    * sets (each lane is a min over a permutation — min distributes over
    * set union), so per-shard / per-batch / per-group sketches combine
    * into exact corpus-level sketches without revisiting any text.
    * DedupSpec pins the property against the explode-and-min-the-union
    * formulation. Output: one (groupCol, sigCol) row per group.
    *
    * Plan: k (lane, v) rows per input signature through one
    * partial-aggregated shuffle — mins combine map-side, so reducer
    * state is k longs per group regardless of group size.
    */
  def mergeSignatures(
      sigs: DataFrame,
      groupCol: String,
      sigCol: String = "signature"
  ): DataFrame =
    sigs
      .select(col(groupCol), posexplode(col(sigCol)).as(Seq("lane", "v")))
      .groupBy(col(groupCol), col("lane"))
      .agg(min(col("v")).as("v"))
      .groupBy(col(groupCol))
      .agg(transform(sort_array(collect_list(struct(col("lane"), col("v")))),
        s => s("v")).as(sigCol))

  /** Estimated Jaccard overlap between GROUPS from their merged
    * signatures ([[mergeSignatures]]) — e.g. content overlap between
    * crawl sources or corpus snapshots, estimated from k·8 bytes per
    * group instead of a cross-corpus shingle join. Groups are few by
    * construction, so the pair join is a broadcast of sketch rows.
    * Output: (group_a, group_b, n_eq, est_jaccard) with group_a <
    * group_b; est_jaccard = agreeing lanes / k.
    */
  def signatureOverlap(
      merged: DataFrame,
      groupCol: String,
      sigCol: String = "signature"
  ): DataFrame = {
    val a = merged.select(col(groupCol).as("group_a"), col(sigCol).as("sig_a"))
    val b = merged.select(col(groupCol).as("group_b"), col(sigCol).as("sig_b"))
    a.join(broadcast(b), col("group_a") < col("group_b"))
      .select(col("group_a"), col("group_b"),
        aggregate(
          zip_with(col("sig_a"), col("sig_b"),
            (x, y) => when(x === y, 1L).otherwise(0L)),
          lit(0L), (acc, v) => acc + v).as("n_eq"),
        size(col("sig_a")).as("__k"))
      .select(col("group_a"), col("group_b"), col("n_eq"),
        (col("n_eq").cast("double") / col("__k").cast("double")).as("est_jaccard"))
  }

  /** MinHash+LSH candidate pairs: band the k-wide signature into
    * `bands` bands of k/bands rows; docs sharing any full band land in
    * the same bucket; bucket join yields candidates; estimated Jaccard =
    * fraction of agreeing signature positions. Returns
    * (id_a, id_b, est_jaccard).
    *
    * The 100 TB path: signatures are ~k·8 bytes/doc regardless of doc
    * size, the bucket join shuffles only (band_hash → id), and buckets
    * are naturally small for non-duplicate data.
    */
  def minhashLshPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      k: Int = 32,
      bands: Int = 8,
      threshold: Double = 0.5,
      maxBucket: Int = Int.MaxValue
  ): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    val rows = k / bands
    val sigs = minhashSignatures(docs, idCol, textCol, n, k)

    val banded = sigs.select(
      col("id"),
      col("signature"),
      posexplode(
        array((0 until bands).map(b =>
          slice(col("signature"), b * rows + 1, rows)): _*)
      ).as(Seq("band", "band_sig"))
    )

    // shuffle a compact (band, hash) key, not the long[] itself; a
    // 64-bit hash collision between different band signatures can only
    // ADD candidates, and the exact shared-band filter below removes
    // every such false positive — candidate semantics are exactly
    // "some band equal", independent of the hash
    val bucketed = banded.select(
      col("id"), col("band"), xxhash64(col("band_sig")).as("bucket"))

    // group per bucket, explode candidate pairs, then attach the two
    // signatures back via equi-joins on id (compact keys; the candidate
    // set is tiny relative to the corpus). `maxBucket` caps degenerate
    // buckets (thousands of mutual near-dups) when the quadratic
    // within-bucket blowup matters more than completeness.
    val cand = bucketPairs(
      bucketed.groupBy(col("band"), col("bucket"))
        .agg(sort_array(collect_set(col("id"))).as("ids")),
      maxBucket)
      .distinct()

    // exact shared-band check over the joined signatures: cheap on the
    // tiny candidate set, and it makes hash-bucket collisions harmless
    val sharesBand = (0 until bands)
      .map(b => slice(col("sig_a"), b * rows + 1, rows) ===
        slice(col("sig_b"), b * rows + 1, rows))
      .reduce(_ || _)

    cand
      .join(sigs.select(col("id").as("id_a"), col("signature").as("sig_a")), Seq("id_a"))
      .join(sigs.select(col("id").as("id_b"), col("signature").as("sig_b")), Seq("id_b"))
      .filter(sharesBand)
      .withColumn(
        "est_jaccard",
        size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y), e => e))
          .cast("double") / lit(k.toDouble)
      )
      .filter(col("est_jaccard") >= threshold)
      .select("id_a", "id_b", "est_jaccard")
  }

  // -------------------------------------------------------------- simhash

  /** 64-bit SimHash over XXH64 token hashes: bit j of the result is set
    * when the sum over tokens of ±1 (sign of token-hash bit j) is
    * positive. Full-width token hashes make every simhash bit carry
    * signal — the 16-bit-block candidate scheme in [[simhashPairs]]
    * depends on that.
    *
    * Computed by the one-pass codegen'd [[graft.functions.SimHash64]] —
    * a pure map-side expression: no token explode, no aggregation, no
    * shuffle. At 100 TB this makes signature computation scan-bound.
    * [[simhashAgg]] is the declarative twin it is pinned against.
    */
  def simhash(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(
      col(idCol).as("id"),
      graft.functions.GraftFunctions.simhash64(col(textCol)).as("simhash"))

  /** Explode + 64-conditional-sums formulation of [[simhash]] (slow
    * path, kept as the semantic reference for the equivalence spec).
    */
  private[graft] def simhashAgg(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = docs.select(
      col(idCol).as("id"),
      explode(split(col(textCol), "\\s+")).as("tok")
    )
    val withHash = toks.select(col("id"), xxhash64(col("tok")).as("th"))
    val bitSums = (0 until 64).map { j =>
      sum(when(shiftright(col("th"), j) % 2 =!= 0, 1).otherwise(-1)).as(s"b$j")
    }
    val bits = withHash.groupBy(col("id")).agg(bitSums.head, bitSums.tail: _*)
    val value = (0 until 64)
      .map(j => when(col(s"b$j") > 0, lit(1L << j)).otherwise(0L))
      .reduce(_ + _)
    bits.select(col("id"), value.as("simhash"))
  }

  /** Near-dup pairs by SimHash hamming distance ≤ maxDist, candidates
    * from matching 16-bit blocks (pigeonhole: ≤3 differing bits ⇒ at
    * least one of 4 blocks identical).
    */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String, maxDist: Int = 3): DataFrame = {
    val sh = simhash(docs, idCol, textCol)
    // mask, don't %: Spark % keeps the dividend's sign, so a negative
    // simhash (bit 63 set) would put block 0 in [-65535, 0] and miss
    // qualifying pairs whose low 16 bits agree
    val blocked = sh.select(
      col("id"),
      posexplode(array((0 until 4).map(b =>
        shiftrightunsigned(col("simhash"), b * 16).bitwiseAND(lit(65535L))): _*))
        .as(Seq("block", "block_val"))
    )
    val cand = bucketPairs(
      blocked.groupBy(col("block"), col("block_val"))
        .agg(sort_array(collect_set(col("id"))).as("ids")),
      Int.MaxValue)
      .distinct()
    cand
      .join(sh.select(col("id").as("id_a"), col("simhash").as("sh_a")), Seq("id_a"))
      .join(sh.select(col("id").as("id_b"), col("simhash").as("sh_b")), Seq("id_b"))
      .withColumn("dist", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("dist") <= maxDist)
      .select("id_a", "id_b", "dist")
  }
}
