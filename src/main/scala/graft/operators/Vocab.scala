package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Byte-pair-encoding vocabulary induction — the tokenizer-training
  * side of a training-data pipeline (Sennrich et al., "Neural Machine
  * Translation of Rare Words with Subword Units"). One BPE merge step
  * is: count every adjacent symbol pair across the corpus (weighted by
  * word frequency) and join the most frequent pair into a new symbol.
  *
  * Scale shape: the ONLY corpus-sized stage is the word-frequency
  * dictionary — one scan with map-side partial aggregation into
  * (token, count), the classic word-count shuffle. Every stage after
  * that (symbol split, pair expansion, pair aggregation, the argmax
  * merge choice) operates on the DISTINCT-token dictionary, which is
  * vocabulary-sized — millions of rows at web scale, not trillions —
  * so iterating merges never rescans the corpus. The argmax plans as
  * `TakeOrderedAndProject` (per-partition top-1, no global sort).
  */
object Vocab {

  /** (token, count) word-frequency dictionary: one corpus scan,
    * partial-agg shuffle on the token. Java `split` with its default
    * -1 limit emits a trailing "" on boundary matches — filtered, as
    * the corpus's other tokenizers do.
    */
  def tokenCounts(docs: DataFrame, textCol: String): DataFrame =
    docs
      .select(explode(split(col(textCol), "\\s+")).as("t"))
      .filter(col("t") =!= "")
      .groupBy(col("t"))
      .agg(count(lit(1)).as("c"))

  /** The dictionary with each token's current symbol sequence: starts
    * as the character split (the BPE base vocabulary). `(c, s)` rows.
    */
  def symbols(docs: DataFrame, textCol: String): DataFrame =
    tokenCounts(docs, textCol)
      .select(col("c"), filter(split(col("t"), ""), ch => ch =!= "").as("s"))

  /** Adjacent symbol-pair statistics over a `(c, s)` dictionary:
    * each adjacent symbol pair weighted by the token's corpus count.
    * Single-symbol tokens contribute nothing.
    *
    * The pair array is materialized as a named column in its own
    * projection and exploded in the NEXT one: ExtractGenerator strips
    * struct-field aliases from lambdas that share a projection with a
    * generator.
    */
  def pairStats(dict: DataFrame): DataFrame = {
    // The pair expression must be TOTAL: a `filter(size >= 2)` above the
    // projection is not enough, because optimizer reordering around the
    // generator can evaluate the projection on unfiltered rows — and
    // `sequence(1, size - 1)` on a 1-symbol row is the DESCENDING [1, 0],
    // whose element_at(s, 2) throws. The `when` guard makes short rows
    // an empty pair array, which the explode then drops.
    val paired = dict
      .select(
        col("c"),
        when(size(col("s")) >= 2,
          transform(
            sequence(lit(1), size(col("s")) - 1),
            i =>
              struct(
                element_at(col("s"), i).as("left_sym"),
                element_at(col("s"), i + 1).as("right_sym"))
          )).otherwise(array().cast("array<struct<left_sym:string,right_sym:string>>"))
          .as("pairs"))
    paired
      .select(col("c"), explode(col("pairs")).as("p"))
      .groupBy(col("p.left_sym").as("left_sym"), col("p.right_sym").as("right_sym"))
      .agg(sum(col("c")).as("pair_count"))
  }

  /** Pair statistics straight from the corpus (first BPE iteration). */
  def pairCounts(docs: DataFrame, textCol: String): DataFrame =
    pairStats(symbols(docs, textCol))

  /** The merge decision: the single most frequent pair, ties broken
    * lexicographically so the choice is deterministic across runs and
    * engines. `orderBy().limit(1)` plans `TakeOrderedAndProject` —
    * each partition forwards its own best row; nothing global sorts.
    */
  def topMerge(pairs: DataFrame): DataFrame =
    pairs
      .orderBy(col("pair_count").desc, col("left_sym").asc, col("right_sym").asc)
      .limit(1)

  /** US (unit separator, U+001F) — joins symbol sequences into one
    * string so a merge can run as a plain `replace`; never occurs in
    * corpus text.
    */
  private val Sep = "\u001F"

  /** Apply one merge to every token's symbol sequence. The `(left,
    * right)` pair — a one-row DataFrame from [[topMerge]] — broadcasts;
    * the merge itself is the non-regex `replace` on the separator-
    * joined symbol string, whose non-overlapping left-to-right
    * semantics (identical in every engine) are exactly BPE's greedy
    * merge: in `a a a` with merge (a, a), the first two symbols join
    * and the third survives.
    *
    * This is why BPE training fits Spark: each iteration is one
    * broadcast + one map over the vocabulary-sized dictionary — the
    * corpus is never rescanned after the initial word count.
    */
  def applyMerge(dict: DataFrame, merge: DataFrame): DataFrame =
    dict
      .crossJoin(broadcast(merge.select(col("left_sym"), col("right_sym"))))
      .select(
        col("c"),
        split(
          call_function("replace",
            concat_ws(Sep, col("s")),
            concat(col("left_sym"), lit(Sep), col("right_sym")),
            concat(col("left_sym"), col("right_sym"))),
          Sep).as("s"))

  /** The dictionary after `iters` LEARNED merges: each iteration picks
    * [[topMerge]] over the current pair statistics and applies it. The
    * corpus is scanned exactly once (the initial word count); every
    * iteration after that touches only the vocabulary-sized dictionary,
    * so the loop cost is iters × (one broadcast + one dictionary map +
    * one dictionary-sized partial-agg shuffle) regardless of corpus
    * size — the property that makes BPE training viable at 100 TB.
    *
    * For `iters` ≥ 1 the returned frame is pinned ([[Guard.pin]]) and
    * materialized: downstream consumers never re-trigger the corpus
    * word count, and its blocks are freed once it is unreachable.
    */
  def mergedDict(docs: DataFrame, textCol: String, iters: Int): DataFrame = {
    var dict = symbols(docs, textCol)
    if (iters <= 0) return dict
    // Pin the dictionary once per iteration: without it, Spark's lazy
    // lineage re-runs the corpus-sized word-count shuffle for EVERY
    // pairStats/applyMerge/encode use downstream — measured 12x
    // superlinear at a x16 corpus. The pinned frame is
    // vocabulary-sized (the whole point of BPE-on-Spark), so the
    // count() that fills it is a bounded dictionary action, not a
    // corpus action; each iteration's parent is unpinned once its
    // child has filled.
    dict = Guard.pin(dict)
    var i = 0
    while (i < iters) {
      val next = Guard.pin(applyMerge(dict, topMerge(pairStats(dict))))
      next.count(): Unit
      Guard.unpin(dict)
      dict = next
      i += 1
    }
    dict
  }

  /** The ordered merge-rule list — BPE's SECOND artifact (the
    * `merges.txt` next to the vocabulary): rank i is the pair the i-th
    * training iteration merged. Shipping the rules is what lets an
    * external tokenizer re-apply the exact training segmentation to
    * NEW text; the (subword, id) table alone cannot segment unseen
    * words. Same training loop as [[mergedDict]] (pin-per-iteration,
    * corpus scanned once); each rule is one bounded 1-row
    * driver read per iteration — decision-table discipline.
    */
  def mergeRules(docs: DataFrame, textCol: String, iters: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    var dict = Guard.pin(symbols(docs, textCol))
    val rules = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String)]
    var i = 0
    while (i < iters) {
      val m = topMerge(pairStats(dict))
      val r = m.select(col("left_sym"), col("right_sym")).head()
      rules += (((i + 1).toLong, r.getString(0), r.getString(1)))
      val next = Guard.pin(applyMerge(dict, m))
      next.count(): Unit
      Guard.unpin(dict)
      dict = next
      i += 1
    }
    Guard.unpin(dict)
    rules.toSeq.toDF("merge_rank", "left_sym", "right_sym")
  }

  /** Tokenize the corpus with a trained dictionary: per document, the
    * word count, the subword count under the dictionary's current
    * segmentation, and the out-of-vocabulary word count. A merged
    * token's surface form is the concatenation of its symbols (merges
    * only ever join adjacent symbols), so the dictionary join key is
    * rebuilt with `concat_ws("", s)` — no separate token column needs
    * to ride through the merge loop.
    *
    * OOV policy (encoding a corpus the dictionary wasn't trained on, or
    * a dictionary trained on a sample): a word absent from the
    * dictionary falls back to CHARACTER segmentation — its subword
    * count is its character count, BPE's base vocabulary — and is
    * counted in `n_oov`. `n_words` is therefore the true word count,
    * never silently the in-vocabulary word count.
    *
    * Scale shape: one corpus-sized explode (map-side) + one left
    * equi-join against the vocabulary-sized dictionary (broadcast here;
    * swap to a shuffle join past ~a few GB of vocabulary) + one per-doc
    * partial aggregation. The corpus never sorts and never carries
    * arrays — only (id, token) pairs.
    */
  def encode(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      dict: DataFrame
  ): DataFrame = {
    val lookup = dict
      .select(
        concat_ws("", col("s")).as("__tok"),
        size(col("s")).cast("long").as("n_sub"))
      // distinct-token dictionary: one row per surface form by
      // construction (tokenCounts groups by the token)
    docs
      .select(col(idCol), explode(split(col(textCol), "\\s+")).as("__tok"))
      .filter(col("__tok") =!= "")
      .join(broadcast(lookup), Seq("__tok"), "left")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_words"),
        sum(coalesce(col("n_sub"), length(col("__tok")).cast("long")))
          .as("n_subwords"),
        count(when(col("n_sub").isNull, lit(1))).as("n_oov"))
  }

  /** Subword-id vocabulary for a trained dictionary: every distinct
    * subword symbol with its dense deterministic id — the 1-based
    * lexicographic rank among distinct symbols. Id 0 is RESERVED for
    * the `<eos>` document separator downstream packers emit.
    *
    * The ranking window is global but runs over the DISTINCT-SYMBOL
    * set (base characters + one new symbol per merge — vocabulary-
    * sized by construction), never the corpus; at a multi-million-entry
    * vocabulary swap the single-partition window for a sorted
    * zipWithIndex.
    */
  def subwordIds(dict: DataFrame): DataFrame =
    dict
      .select(explode(col("s")).as("sym"))
      .distinct()
      .withColumn("tid",
        row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy(col("sym")))
          .cast("long"))

  /** The REAL tokenizer output — the per-document token-id sequence
    * under the trained dictionary, emitted one row per id:
    * (id, pos, token_id) with `pos` the 1-based position in the
    * document's id stream and `token_id` the [[subwordIds]] rank of the
    * emitted subword. Deterministic: word order × within-word symbol
    * order, ids by lexicographic symbol rank.
    *
    * Precondition: a COVERING dictionary (trained on this corpus, or
    * one whose surface forms cover it) — words absent from the
    * dictionary are dropped here, because an id stream has no
    * honest fallback for unknown SYMBOLS (use [[encode]]'s n_oov to
    * audit coverage first).
    *
    * Scale shape: the dictionary side (surface form × symbol position ×
    * id — still vocabulary-sized) broadcasts; the corpus pays one
    * map-side explode and ONE doc-keyed window shuffle for the position
    * ranking. Nothing corpus-sized sorts globally.
    */
  def encodeIds(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      dict: DataFrame
  ): DataFrame = {
    val ids = subwordIds(dict).withColumnRenamed("sym", "__sym")
    val lookup = dict
      .select(
        concat_ws("", col("s")).as("__tok"),
        posexplode(col("s")).as(Seq("__q", "__sym")))
      .join(ids, "__sym")
      .select(col("__tok"), col("__q"), col("tid"))
    val words = docs
      .select(col(idCol),
        posexplode(split(col(textCol), "\\s+")).as(Seq("__p", "__tok")))
      .filter(col("__tok") =!= "")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol))
      .orderBy(col("__p").asc, col("__q").asc)
    words
      .join(broadcast(lookup), "__tok")
      .withColumn("pos", row_number().over(w).cast("long"))
      .select(col(idCol), col("pos"), col("tid").as("token_id"))
  }

  /** [[subwordIds]] over the TRUE BPE vocabulary — the training
    * alphabet UNION the merge-product symbols. A base character can be
    * merged away from every final segmentation (e.g. after (a,a)→aa no
    * token segments through a lone `a`), which drops it from
    * [[subwordIds]]'s id space; real BPE vocabularies always retain
    * the alphabet so fallback segmentation stays encodable. Ranks
    * coincide with [[subwordIds]] whenever no character was fully
    * merged away (the common case for natural corpora).
    */
  def subwordIdsWithAlphabet(dict: DataFrame): DataFrame =
    dict
      .select(explode(col("s")).as("sym"))
      .unionByName(dict.select(
        explode(filter(split(concat_ws("", col("s")), ""), ch => ch =!= ""))
          .as("sym")))
      .distinct()
      .withColumn("tid",
        row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy(col("sym")))
          .cast("long"))

  /** [[encodeIds]] with CHARACTER FALLBACK for out-of-vocabulary
    * words — the alphabet-level analogue of real BPE's byte fallback,
    * lifting [[encodeIds]]'s covering-dictionary precondition: a word
    * whose surface form is absent from the dictionary emits one id per
    * CHARACTER. Ids come from [[subwordIdsWithAlphabet]] (alphabet +
    * merge products), so every training-corpus character is encodable
    * even when merges removed it from all final segmentations. Only
    * characters outside the training corpus's alphabet are dropped
    * (they have no id — audit coverage with [[encode]]'s `n_oov`
    * first; a production system would extend the id space with a byte
    * page).
    *
    * Scale shape: ONE pass over the word stream — the dictionary side
    * pre-aggregates to (surface form → ordered piece list) so the
    * corpus pays a single broadcast join and a single generator
    * (guide §2.3: never evaluate the corpus-sized explode twice when a
    * per-key decision can ride the broadcast). OOV words explode to
    * their characters in the same generator (tid carried null) and
    * resolve through one more broadcast left join against the
    * alphabet-extended id table; hit rows carry a null symbol, which
    * never matches, so their broadcast-resolved tid stays untouched.
    * The one corpus-keyed shuffle remains the doc-keyed position
    * ranking. Emitted (pos, token_id) values are bit-identical to the
    * former hit/anti-join double-scan formulation (pinned in
    * VocabSpec).
    */
  def encodeIdsFallback(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      dict: DataFrame
  ): DataFrame = {
    val ids = subwordIdsWithAlphabet(dict).withColumnRenamed("sym", "__sym")
    val lookup = dict
      .select(
        concat_ws("", col("s")).as("__tok"),
        posexplode(col("s")).as(Seq("__q", "__sym")))
      .join(ids, "__sym")
      .select(col("__tok"), col("__q"), col("tid"))
    // vocabulary-sized: one row per surface form with its ordered
    // (q, tid) piece list; __sym rides null so post-explode rows from
    // the hit path skip the char-id join below
    val lookupAgg = lookup
      .groupBy(col("__tok"))
      .agg(sort_array(collect_list(struct(
        col("__q"), col("tid"), lit(null).cast("string").as("__sym"))))
        .as("__pieces"))
    val words = docs
      .select(col(idCol),
        posexplode(split(col(textCol), "\\s+")).as(Seq("__p", "__tok")))
      .filter(col("__tok") =!= "")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol))
      .orderBy(col("__p").asc, col("__q").asc)
    words
      .join(broadcast(lookupAgg), Seq("__tok"), "left")
      .select(col(idCol), col("__p"),
        explode(coalesce(col("__pieces"),
          transform(filter(split(col("__tok"), ""), ch => ch =!= ""),
            (ch, i) => struct(
              i.as("__q"), lit(null).cast("long").as("tid"), ch.as("__sym")))))
          .as("__pc"))
      .select(col(idCol), col("__p"),
        col("__pc.__q").as("__q"), col("__pc.tid").as("tid"),
        col("__pc.__sym").as("__sym"))
      .join(broadcast(ids.withColumnRenamed("tid", "__ctid")), Seq("__sym"), "left")
      .withColumn("__tid", coalesce(col("tid"), col("__ctid")))
      // chars outside the training alphabet have no id — dropped, the
      // documented contract (the former inner char-id join did the same)
      .filter(col("__tid").isNotNull)
      .withColumn("pos", row_number().over(w).cast("long"))
      .select(col(idCol), col("pos"), col("__tid").as("token_id"))
  }

  /** The byte page's id floor: byte b encodes as `ByteIdBase + b`
    * (256 reserved ids), far above any realistic subword-rank space —
    * real tokenizers pin their 256 byte tokens at fixed positions the
    * same way (GPT-2's byte-level fallback). [[encodeIdsBytes]] guards
    * that the trained vocabulary stays below the floor.
    */
  val ByteIdBase: Long = 1000000L

  /** [[encodeIdsFallback]] upgraded to BYTE-LEVEL fallback — the
    * GPT-2-style guarantee real pipelines need: a word absent from the
    * dictionary emits one id per UTF-8 BYTE (`ByteIdBase + b`), so the
    * round trip holds for ANY input — including characters outside the
    * training alphabet, non-BMP/astral codepoints, and emoji — with
    * nothing ever dropped. The byte page also sidesteps the surrogate
    * hazard entirely: words are encoded to UTF-8 as whole strings, so
    * astral pairs are never split.
    *
    * Scale shape: ONE pass over the word stream — the dictionary side
    * pre-aggregates to (surface form → ordered piece list) riding a
    * single broadcast join; an OOV word's byte-page ids are computed
    * map-side INSIDE the same generator (pure built-ins: `encode` →
    * per-byte `substring`/`hex`/`conv` — no UDF, evaluated only on
    * miss rows via coalesce's lazy second arm), so the corpus-sized
    * explode and the anti-join double scan of the former formulation
    * are gone (guide §2.3). The one corpus-keyed shuffle remains the
    * doc-keyed position ranking. Emitted values are bit-identical to
    * the two-scan formulation (pinned in VocabSpec).
    */
  def encodeIdsBytes(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      dict: DataFrame
  ): DataFrame = {
    val ids = subwordIdsWithAlphabet(dict).withColumnRenamed("sym", "__sym")
    // vocabulary-sized action (the dictionary is already materialized
    // under mergedDict's pin): ids must stay below the byte page
    val nSyms = ids.count()
    require(nSyms < ByteIdBase,
      s"Vocab.encodeIdsBytes: $nSyms subword ids collide with the byte page at $ByteIdBase")
    val lookup = dict
      .select(
        concat_ws("", col("s")).as("__tok"),
        posexplode(col("s")).as(Seq("__q", "__sym")))
      .join(ids, "__sym")
      .select(col("__tok"), col("__q"), col("tid"))
    val lookupAgg = lookup
      .groupBy(col("__tok"))
      .agg(sort_array(collect_list(struct(col("__q"), col("tid")))).as("__pieces"))
    val words = docs
      .select(col(idCol),
        posexplode(split(col(textCol), "\\s+")).as(Seq("__p", "__tok")))
      .filter(col("__tok") =!= "")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol))
      .orderBy(col("__p").asc, col("__q").asc)
    words
      .join(broadcast(lookupAgg), Seq("__tok"), "left")
      .select(col(idCol), col("__p"),
        explode(coalesce(col("__pieces"), expr(
          s"transform(sequence(1, length(encode(__tok, 'UTF-8'))), i -> " +
            s"struct(CAST(i - 1 AS INT) AS __q, " +
            s"CAST(conv(hex(substring(encode(__tok, 'UTF-8'), i, 1)), 16, 10) AS BIGINT)" +
            s" + ${ByteIdBase}L AS tid))")))
          .as("__pc"))
      .select(col(idCol), col("__p"),
        col("__pc.__q").as("__q"), col("__pc.tid").as("tid"))
      .withColumn("pos", row_number().over(w).cast("long"))
      .select(col(idCol), col("pos"), col("tid").as("token_id"))
  }

  /** Inverse of [[encodeIdsBytes]]: subword ids resolve through the
    * alphabet-extended vocabulary, byte-page ids (≥ [[ByteIdBase]])
    * resolve to their raw byte. Every piece carries as HEX (a lone
    * byte of a multi-byte character is not a valid string, so pieces
    * cannot concatenate as text), the per-doc hex stream concatenates
    * in position order, and ONE `unhex` + UTF-8 decode recovers the
    * exact original bytes — which is what makes the round trip exact
    * for astral-plane input.
    *
    * Scale shape: vocabulary broadcast + one doc-keyed aggregation,
    * as [[decodeIds]].
    */
  def decodeIdsBytes(ids: DataFrame, idCol: String, dict: DataFrame): DataFrame = {
    val vocab = subwordIdsWithAlphabet(dict)
      .select(col("tid").as("token_id"),
        hex(org.apache.spark.sql.functions.encode(col("sym"), "UTF-8")).as("__vhex"))
    ids
      .join(broadcast(vocab), Seq("token_id"), "left")
      .withColumn("__piece", coalesce(col("__vhex"),
        lpad(hex(col("token_id") - lit(ByteIdBase)), 2, "0")))
      .groupBy(col(idCol))
      .agg(
        decode(
          unhex(concat_ws(
            "",
            transform(
              array_sort(collect_list(struct(col("pos"), col("__piece")))),
              x => x.getField("__piece")))),
          "UTF-8").as("text_nospace"))
  }

  /** Inverse of [[encodeIds]] under the same dictionary — reassemble
    * each document's whitespace-stripped text from its token-id stream.
    * The round trip `decodeIds(encodeIds(docs)) == strip-spaces(docs)`
    * is the tokenizer's end-to-end integrity check: it holds only if
    * the emitted ids cover every word, map to the right surface forms,
    * and carry positions in exact document order.
    *
    * @param ids (idCol, pos, token_id) rows as [[encodeIds]] emits
    * @return (idCol, text_nospace) — one row per document that has at
    *         least one id
    *
    * Scale shape: the (token_id → symbol) vocabulary broadcasts; the
    * corpus pays one doc-keyed aggregation (collect each doc's
    * (pos, sym) pairs, sort in-row, concat). Per-doc state is the
    * document's own id stream — the same order of memory the document
    * text itself takes.
    */
  def decodeIds(ids: DataFrame, idCol: String, dict: DataFrame): DataFrame = {
    val vocab = subwordIds(dict).withColumnRenamed("tid", "token_id")
    ids
      .join(broadcast(vocab), "token_id")
      .groupBy(col(idCol))
      .agg(
        concat_ws(
          "",
          transform(
            array_sort(collect_list(struct(col("pos"), col("sym")))),
            x => x.getField("sym"))).as("text_nospace"))
  }
}
