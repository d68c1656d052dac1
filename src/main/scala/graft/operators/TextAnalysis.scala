package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for LLM training-data pipelines: token
  * counting, quality scoring, language ID, and document fingerprinting.
  *
  * Everything here is a pure column expression built from
  * `org.apache.spark.sql.functions` — fully codegen'd, no UDFs, no
  * shuffles. At 100 TB these run as map-only stages inside whole-stage
  * codegen over the parquet scan, so throughput is scan-bound.
  */
object TextAnalysis {

  /** Tokens on whitespace runs. */
  def tokens(text: Column): Column = split(text, "\\s+")

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** A BPE-ish proxy token count: words and punctuation marks counted
    * separately (the usual pre-tokenizer regex shape).
    */
  def subwordCount(text: Column): Column =
    size(filter(split(text, "[^A-Za-z0-9']+"), c => c =!= "")) +
      size(filter(split(text, "[A-Za-z0-9'\\s]+"), c => c =!= ""))

  /** Punctuation character count (fixed class, engine-portable). */
  def punctCount(text: Column): Column =
    length(text) - length(regexp_replace(text, "[.,!?;:]", ""))

  /** Count of tokens in a fixed stopword set. */
  def stopwordCount(text: Column, stopwords: Seq[String] = DefaultStopwords): Column =
    size(filter(tokens(text), t => t.isin(stopwords: _*)))

  val DefaultStopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in")

  /** Per-script character counts — the routing signal a multilingual
    * pipeline branches on before language ID (script is cheap and
    * near-infallible; language within a script needs the model):
    * Latin letters, ASCII digits, CJK unified ideographs, and the
    * remainder. Counted by the length-difference regex trick (all
    * codegen'd builtins, engine-portable `\x{...}` class syntax —
    * Java regex and RE2 agree on it); `length` counts codepoints in
    * both engines, so the arithmetic is cross-engine exact. Pure
    * map-side expressions.
    */
  def latinCount(text: Column): Column =
    length(text) - length(regexp_replace(text, "[A-Za-z]", ""))

  def digitCount(text: Column): Column =
    length(text) - length(regexp_replace(text, "[0-9]", ""))

  def cjkCount(text: Column): Column =
    length(text) - length(regexp_replace(text, "[\\x{4e00}-\\x{9fff}]", ""))

  /** Dominant script class of a document: the largest of latin / cjk /
    * digit / other (ties break in that fixed order), 'empty' for
    * zero-length text. The branch decision itself — a CASE over the
    * four counts, map-side.
    */
  def dominantScript(text: Column): Column = {
    val lat = latinCount(text)
    val cjk = cjkCount(text)
    val dig = digitCount(text)
    val oth = length(text) - lat - cjk - dig
    when(length(text) === 0, "empty")
      .when(lat >= cjk && lat >= dig && lat >= oth, "latin")
      .when(cjk >= dig && cjk >= oth, "cjk")
      .when(dig >= oth, "digit")
      .otherwise("other")
  }

  /** Linear quality-classifier logit in milli-units — model-based
    * filtering (the fastText-style linear filter that follows the
    * heuristic [[qualityScore]] pre-filter in a curation pipeline),
    * distilled to exact arithmetic: integer milli-weights over the
    * integer quality features make the logit pure Int64 — bit-exact in
    * any engine and overflow-safe (features are document-sized). One
    * map-side expression; the keep decision is `logit_milli >= 0`.
    */
  def classifierLogitMilli(
      text: Column,
      wTok: Long = 5L,
      wStop: Long = 50L,
      wPunct: Long = -40L,
      wChar: Long = 1L,
      biasMilli: Long = -800L
  ): Column =
    tokenCount(text).cast("long") * lit(wTok) +
      stopwordCount(text).cast("long") * lit(wStop) +
      punctCount(text).cast("long") * lit(wPunct) +
      length(text).cast("long") * lit(wChar) +
      lit(biasMilli)

  /** Heuristic quality score in [0,1]: length-normalized with stopword
    * and punctuation ratio terms (the usual cheap pre-filter before
    * model-based scoring). Single double division per term keeps the
    * value deterministic across engines.
    */
  def qualityScore(text: Column): Column = {
    val nTok = tokenCount(text).cast("double")
    val stopRatio = stopwordCount(text).cast("double") / nTok
    val punctRatio = punctCount(text).cast("double") / length(text).cast("double")
    val lengthTerm = least(nTok / lit(64.0), lit(1.0))
    // weights: long-enough docs with some stopwords and little
    // punctuation score high
    lengthTerm * lit(0.5) + least(stopRatio * lit(4.0), lit(1.0)) * lit(0.4) +
      (lit(1.0) - least(punctRatio * lit(10.0), lit(1.0))) * lit(0.1)
  }

  /** Language-ID by marker-token counting (classic n-gram/stopword
    * heuristic, deterministic). Ties resolve to the lexicographically
    * smallest language code.
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "das", "und"),
    "en" -> Seq("the", "a", "and"),
    "es" -> Seq("el", "la", "los"),
    "fr" -> Seq("le", "un", "les"),
    "zh" -> Seq("的", "是", "了")
  )

  def langScores(text: Column): Seq[(String, Column)] =
    LangMarkers.map { case (lang, markers) =>
      lang -> size(filter(tokens(text), t => t.isin(markers: _*)))
    }

  /** One-pass codegen kernel ([[graft.functions.LangId]]); the
    * declarative fold ([[langIdFold]]) expands to an expression tree
    * that re-splits the text ~40× per row and falls out of codegen.
    */
  def langId(text: Column): Column =
    graft.functions.GraftFunctions.langId(
      text, LangMarkers.map(_._1), LangMarkers.map(_._2))

  /** Declarative argmax fold — the semantic reference the kernel is
    * pinned against (smallest-code tie-break via strictly-greater
    * replace over alphabetically ordered languages).
    */
  private[graft] def langIdFold(text: Column): Column = {
    val scores = langScores(text)
    scores.tail.foldLeft((scores.head._2, lit(scores.head._1))) {
      case ((bestScore, bestLang), (lang, s)) =>
        (when(s > bestScore, s).otherwise(bestScore),
          when(s > bestScore, lit(lang)).otherwise(bestLang))
    }._2
  }

  /** Rolling polynomial fingerprint of the whole document:
    * h = (h * 31 + codepoint) mod 1e9+7, over every character. Stable
    * across engines (pure integer arithmetic) — the cheap exact-dup /
    * shard-routing key. Runs as the codegen'd
    * [[graft.functions.StrPolyHash]] kernel (same fold semantics).
    */
  val FingerprintMod = 1000000007L

  def fingerprint(text: Column): Column =
    graft.functions.GraftFunctions.polyHash(text, 31L, FingerprintMod)

  /** Overlapping context-window chunks: token windows of `window`
    * tokens at `stride`-token steps — the standard chunking ahead of an
    * embedding model. Documents at most `window` tokens long yield one
    * chunk; the final chunk may be short. Pure per-row expression (no
    * shuffle); the explode multiplies rows by ~n_tok/stride.
    *
    * Returns an array of chunk strings; pair with `posexplode` for
    * (chunk_id, chunk_text) rows.
    */
  def chunkTokens(text: Column, window: Int, stride: Int): Column = {
    require(stride > 0 && stride <= window,
      s"chunkTokens: need 0 < stride <= window, got stride=$stride window=$window" +
        " (stride > window would emit empty phantom chunks)")
    val toks = tokens(text)
    val n = size(toks)
    // index of the last chunk: ceil((n - window)/stride) via exact
    // double floor (token counts are far below 2^53)
    val lastChunk = when(n > window,
      floor((n - lit(window) + lit(stride - 1)).cast("double") / lit(stride.toDouble))
        .cast("int")).otherwise(0)
    transform(
      sequence(lit(0), lastChunk),
      i => array_join(slice(toks, i * stride + 1, lit(window)), " "))
  }

  /** Duplicate-token fraction: 1 − distinct/total over whitespace
    * tokens — the cheapest repetition signal (Gopher-style "rep"
    * quality filters, adapted to token granularity). 0.0 for empty
    * docs. Pure map-side expression; the division is one deterministic
    * double op (int/int), so it is oracle-exact.
    */
  def dupTokenFrac(text: Column): Column = {
    val toks = tokens(text)
    val n = size(toks)
    when(n === 0, lit(0.0))
      .otherwise(lit(1.0) - size(array_distinct(toks)).cast("double") / n.cast("double"))
  }

  /** Duplicate n-gram fraction: 1 − distinct/total over token n-grams —
    * catches looping/boilerplate passages that token-level dedup misses
    * (e.g. "a b a b a b" has no hot token but every bigram repeats).
    * Docs with fewer than n tokens score 0.0. Map-side; the n-gram
    * array is built by index (sequence guarded against Spark's
    * descending-sequence-for-negative-bounds quirk).
    */
  def dupNgramFrac(text: Column, n: Int): Column = {
    require(n >= 2, s"dupNgramFrac: need n >= 2, got $n")
    val toks = tokens(text)
    val total = size(toks) - lit(n - 1)
    val grams = transform(
      sequence(lit(1), total),
      i => array_join(slice(toks, i, lit(n)), " "))
    when(size(toks) < n, lit(0.0))
      .otherwise(lit(1.0) - size(array_distinct(grams)).cast("double") / total.cast("double"))
  }

  /** Redact email-like and simple phone-like spans — the PII scrub
    * pass a corpus pipeline runs before anything ships. Patterns stay
    * within the regex subset Java and RE2 interpret identically
    * (character classes, bounded counts, word boundaries), so the
    * redaction is engine-portable. Map-side regexp_replace chain
    * (replaces ALL matches in both engines).
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\b\\d{3}-\\d{3}-\\d{4}\\b"

  def redactPii(
      text: Column,
      emailToken: String = "<EMAIL>",
      phoneToken: String = "<PHONE>"
  ): Column =
    regexp_replace(regexp_replace(text, lit(EmailRe), lit(emailToken)),
      lit(PhoneRe), lit(phoneToken))

  /** Adjacent token bigrams as (w1, w2) structs — n-gram LM counts,
    * collocation mining, contamination screens. Map-side expression;
    * a doc with t tokens yields t−1 bigrams.
    */
  def bigrams(text: Column): Column = {
    val toks = tokens(text)
    zip_with(
      slice(toks, lit(1), greatest(size(toks) - 1, lit(0))),
      slice(toks, lit(2), greatest(size(toks) - 1, lit(0))),
      (a, b) => struct(a.as("w1"), b.as("w2")))
  }

  /** Corpus bigram counts: (w1, w2, n) for bigrams occurring at least
    * `minCount` times. One explode + one partial-agg shuffle — the
    * n-gram-count shape that scales to any corpus (counts combine
    * map-side; no token list ever materializes per group).
    */
  def bigramCounts(docs: DataFrame, textCol: String, minCount: Long): DataFrame =
    docs
      .select(explode(bigrams(col(textCol))).as("bg"))
      .groupBy(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= minCount)

  /** ln(k) for k = 1..LnTableSize, baked once from StrictMath.log
    * (fdlibm — bit-identical on every platform, unlike Math.log's
    * hardware intrinsic). The Spark expression and the generated DuckDB
    * oracle SQL both read THIS table, so cross-engine float equality
    * holds by construction. (No runtime log implementation can be
    * trusted across engines: measured StrictMath-vs-libm drift is ~2%
    * of integer inputs and ~7% of ratio inputs; even Math.log-vs-libm
    * drifts on 4 of the first 200k integers.)
    */
  val LnTableSize: Int = graft.functions.GraftMath.LnTabSize
  val LnTable: IndexedSeq[Double] =
    scala.collection.immutable.ArraySeq.unsafeWrapArray(
      graft.functions.GraftMath.LnTab)

  /** ln of a positive integer column via the shared table (exact within
    * 1..LnTableSize); beyond the table falls back to StrictMath.log —
    * bit-identical to the former Spark-`log` fallback (same StrictMath
    * call), the out-of-gate domain where cross-engine bit equality is
    * best-effort. Runs as the native [[graft.functions.LnInt]]
    * expression, which references the table as a process-global static
    * instead of the former 16384-element plan LITERAL — that literal
    * made canonicalization/equality O(table) on every plan carrying it
    * (the q_doremi_iter2 round-boundary comment records 13-27 s burned
    * that way) and bloated task binaries.
    */
  def lnInt(k: Column): Column =
    graft.functions.GraftFunctions.lnInt(k.cast("long"))

  /** Shannon entropy (nats) of the character distribution of a document
    * — the classic gibberish/compressibility screen (low entropy =
    * repeated characters, high = random noise; natural text sits in a
    * band). H = ln n − (Σ_c k_c·ln k_c)/n with every ln an INTEGER-
    * argument read from the shared [[LnTable]], so the value is
    * bit-exact against the table-embedding oracle. Runs as the one-pass
    * codegen kernel [[graft.functions.CharEntropy]]; the declarative
    * fold ([[charEntropyFold]]) is the pinned semantic reference but
    * re-scans the char array once per distinct character, interpreted.
    */
  def charEntropy(text: Column): Column =
    graft.functions.GraftFunctions.charEntropy(text)

  /** Declarative twin of [[charEntropy]] — the fold the kernel is
    * pinned against (sorted distinct chars, k·ln k left-fold, table ln).
    */
  private[graft] def charEntropyFold(text: Column): Column = {
    val chars = split(text, "")
    val contrib = (c: Column) => {
      val k = size(filter(chars, x => x === c))
      k.cast("double") * lnInt(k)
    }
    when(length(text) === 0, lit(0.0))
      .otherwise(
        lnInt(size(chars)) - aggregate(
          sort_array(array_distinct(chars)),
          lit(0.0),
          (acc, c) => acc + contrib(c)) / size(chars).cast("double"))
  }

  /** Boilerplate token n-grams: n-grams appearing in at least `minDocs`
    * DISTINCT documents — the cross-document repetition signal used to
    * strip navigation/footer text before training. Output:
    * (gram, n_docs).
    *
    * Scale shape: per-doc grams are distinct'd map-side (inside the
    * expression, before the explode), so the single shuffle carries one
    * row per (doc, distinct gram); the count partial-aggregates. No
    * document text rides the shuffle — only the gram strings.
    */
  def boilerplateGrams(docs: DataFrame, textCol: String, n: Int, minDocs: Long): DataFrame = {
    require(n >= 2, s"boilerplateGrams: need n >= 2, got $n")
    docs
      .select(explode(
        graft.functions.GraftFunctions.distinctNgrams(col(textCol), n)).as("gram"))
      .groupBy(col("gram"))
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
  }

  /** Declarative twin of the [[boilerplateGrams]] gram builder — the
    * higher-order-function formulation the one-pass kernel
    * ([[graft.functions.DistinctNgrams]]) is pinned against.
    */
  private[graft] def distinctNgramsFold(text: Column, n: Int): Column = {
    val toks = tokens(text)
    // guard: sequence(1, 0) would yield a DESCENDING [1, 0] in Spark,
    // so short docs must map to an empty gram array explicitly
    when(size(toks) < n, array().cast("array<string>"))
      .otherwise(array_distinct(transform(
        sequence(lit(1), size(toks) - lit(n - 1)),
        i => array_join(slice(toks, i, lit(n)), " "))))
  }

  /** Bigram-conditional surprisal per document — the KenLM-style
    * perplexity-proxy one order above [[unigramSurprisal]]: a document
    * whose ADJACENT TOKEN PAIRS are globally rare (even when each token
    * is common) scores high — the incoherent-text signal unigram models
    * miss. The fully-pinned components: (id, n_bigrams, nll2_tab) with
    *
    *   nll2_tab = Σ_{doc's distinct (w1,w2)} tf·(lnInt(c1(w1)) − lnInt(c2(w1,w2)))
    *
    * where c2 = corpus occurrences of the pair and c1 = corpus
    * occurrences of w1 as a bigram prefix — i.e. Σ tf·(−ln P(w2|w1))
    * under the MLE bigram model, ≥ 0, higher = more surprising. Every ln is a
    * [[LnTable]] read — zero runtime logs, bit-exact cross-engine
    * while corpus counts stay ≤ [[LnTableSize]] (beyond the table the
    * fallback is best-effort, same contract as [[lnInt]]); the per-doc
    * sum folds over pairs in sorted order.
    *
    * Plan: two partial-agg shuffles (per-doc pair counts, corpus pair
    * counts), a pair-keyed join; c1 derives from c2 by one more partial
    * agg on the prefix — never a second scan of the corpus.
    */
  def bigramSurprisal(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tf = docs
      .select(col(idCol).as("id"), explode(bigrams(col(textCol))).as("bg"))
      .groupBy(col("id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .agg(count(lit(1)).as("tf"))
    val c2 = tf.groupBy(col("w1"), col("w2")).agg(sum(col("tf")).as("n2"))
    val c1 = c2.groupBy(col("w1")).agg(sum(col("n2")).as("n1"))
    tf.join(c2, Seq("w1", "w2")).join(c1, Seq("w1"))
      .select(col("id"), col("w1"), col("w2"), col("tf"),
        (col("tf").cast("double") * (lnInt(col("n1")) - lnInt(col("n2")))).as("c"))
      .groupBy(col("id"))
      .agg(
        sort_array(collect_list(struct(col("w1"), col("w2"), col("c")))).as("cs"),
        sum(col("tf")).as("n_bigrams"))
      .select(
        col("id"), col("n_bigrams"),
        aggregate(col("cs"), lit(0.0), (acc, x) => acc + x("c")).as("nll2_tab"))
  }

  /** Corpus-unigram surprisal per document (a perplexity proxy: docs
    * whose tokens are globally rare score high) as fully-PINNED
    * components: (id, n_tokens, nll_tab) with nll_tab = Σ_terms tf·lnInt(count(term)),
    * folded in term order. Every ln reads the shared integer table, so
    * both columns are bit-exact across engines for ANY fixture — no
    * runtime log anywhere (the cross-engine ln-drift surface is zero;
    * see the LnTable notes on [[lnInt]]). The full score derives as
    * nll = n_tokens·ln(NN) − nll_tab with NN = Σ n_tokens (its one
    * runtime ln stays with the consumer); gates compare THESE columns.
    */
  def unigramSurprisal(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tf = docs
      .select(col(idCol).as("id"), explode(tokens(col(textCol))).as("term"))
      .groupBy(col("id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val tc = tf.groupBy(col("term")).agg(sum(col("tf")).as("n"))
    tf.join(tc, "term")
      .select(
        col("id"), col("term"), col("tf"),
        (col("tf").cast("double") * lnInt(col("n"))).as("c"))
      .groupBy(col("id"))
      .agg(
        sort_array(collect_list(struct(col("term"), col("c")))).as("cs"),
        sum(col("tf")).as("n_tokens"))
      .select(
        col("id"), col("n_tokens"),
        aggregate(col("cs"), lit(0.0), (acc, x) => acc + x("c")).as("nll_tab"))
  }

  /** Okapi BM25 document scores for a fixed query-term set — the
    * retrieval-ranking step past [[tfidf]] (and the lexical half of a
    * hybrid lexical+vector retriever next to [[Similarity.ivfTopKWith]]).
    * Output: (id, bm25) for every document containing at least one
    * query term.
    *
    *   bm25(d) = Σ_{t ∈ q} idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))
    *
    * with the Lucene IDF variant idf = ln(1 + (N−df+0.5)/(df+0.5)) —
    * always non-negative (classic Okapi goes negative for df > N/2,
    * which on small vocabularies is every term). The ratio telescopes
    * to (2N+2)/(2df+1), so idf = lnInt(2N+2) − lnInt(2df+1): every log
    * is an integer-table read ([[LnTable]] — the cross-engine runtime-ln
    * drift surface is zero), tf/df/dl/N are exact longs, avgdl is one
    * deterministic double division, and the per-document sum folds over
    * terms in sorted order — the whole score is bit-exact across
    * engines for N ≤ (LnTableSize−2)/2.
    *
    * Plan shape: the term filter runs map-side BEFORE any aggregation
    * (only query-term hits shuffle — at 100 TB the (id, term) partial
    * agg carries a few rows per document, not the corpus's token
    * stream); df and the corpus stats are broadcast back; document
    * length dl comes from the same map-side tokenization, no second
    * scan or join.
    */
  def bm25(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      queryTerms: Seq[String],
      k1: Double = 1.2,
      b: Double = 0.75
  ): DataFrame = {
    require(queryTerms.nonEmpty, "bm25: queryTerms must be non-empty")
    val base = docs
      .select(col(idCol).as("id"), tokens(col(textCol)).as("toks"))
      .select(col("id"), size(col("toks")).cast("long").as("dl"), col("toks"))
    val stats = base.agg(count(lit(1)).as("__n"), sum(col("dl")).as("__tot"))
    val tf = base
      .select(col("id"), col("dl"), explode(col("toks")).as("term"))
      .filter(col("term").isin(queryTerms: _*))
      .groupBy(col("id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df_ = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val avgdl = col("__tot").cast("double") / col("__n").cast("double")
    val idf = lnInt(lit(2L) * col("__n") + lit(2L)) -
      lnInt(lit(2L) * col("df") + lit(1L))
    val c = idf * (col("tf").cast("double") * (lit(k1) + lit(1.0))) /
      (col("tf").cast("double") +
        lit(k1) * (lit(1.0) - lit(b) + lit(b) * (col("dl").cast("double") / avgdl)))
    tf.join(broadcast(df_), "term")
      .crossJoin(broadcast(stats))
      .select(col("id"), col("term"), c.as("c"))
      .groupBy(col("id"))
      .agg(sort_array(collect_list(struct(col("term"), col("c")))).as("cs"))
      .select(col("id"),
        aggregate(col("cs"), lit(0.0), (acc, x) => acc + x("c")).as("bm25"))
  }

  /** TF-IDF terms per document: (doc id, term, tf, df, tfidf) with
    * tfidf = tf · ln(N / df). Two shuffles — term-per-doc counts, then
    * document frequencies — both partial-aggregated; N arrives as a
    * broadcast scalar (no driver-side action). Term noise is trimmed
    * with `minTf` before the df join, which also caps the join's
    * left side.
    *
    * Determinism: tf and df are exact longs; the double chain
    * (N/df → ln → ·tf) is a fixed op order, and `ln` agrees
    * bit-for-bit between the JVM and DuckDB on this domain (small
    * integer ratios) — pinned by the oracle gate.
    */
  /** HTML → text extraction — the FIRST step of a web-corpus pipeline
    * (C4/RefinedWeb shape): drop `<script>`/`<style>` blocks and HTML
    * comments wholesale, strip remaining tags, decode the common
    * entities (`&amp;` LAST, so `&amp;lt;` correctly yields the
    * literal `&lt;` rather than double-decoding), and collapse
    * whitespace runs. Pure `regexp_replace` chain — codegen'd,
    * map-only, scan-bound at 100 TB; every pattern avoids
    * backreferences so it runs identically under Java regex and RE2.
    */
  def stripHtml(html: Column): Column = {
    val noScript = regexp_replace(html, "(?is)<script[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript, "(?is)<style[^>]*>.*?</style>", " ")
    val noComment = regexp_replace(noStyle, "(?s)<!--.*?-->", " ")
    val noTags = regexp_replace(noComment, "(?s)<[^>]+>", " ")
    val decoded = Seq(
      "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&"
    ).foldLeft(noTags) { case (c, (e, r)) => regexp_replace(c, e, r) }
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  /** Two-level public suffixes the registrable-domain heuristic knows
    * about — the common ccTLD second-level registries. A production
    * deployment swaps in the full Mozilla Public Suffix List (a data
    * file, same logic).
    */
  val TwoLevelSuffixes: Seq[String] = Seq(
    "co.uk", "org.uk", "ac.uk", "gov.uk", "com.au", "net.au", "org.au",
    "co.jp", "ne.jp", "or.jp", "com.br", "co.in", "co.nz", "com.cn", "com.mx")

  /** Registrable domain ("eTLD+1") of a hostname: the last two labels,
    * or three when the trailing pair is a known two-level public
    * suffix — the key URL-level curation groups by (per-domain caps,
    * blocklists, provenance stats). Pure array expressions, map-side.
    */
  def registrableDomain(host: Column): Column = {
    val parts = split(host, "\\.")
    val n = size(parts)
    val last2 = concat_ws(".", element_at(parts, -2), element_at(parts, -1))
    val last3 = concat_ws(".",
      element_at(parts, -3), element_at(parts, -2), element_at(parts, -1))
    when(n <= 2, host)
      .when(array_contains(lit(TwoLevelSuffixes.toArray), last2) && n >= 3, last3)
      .otherwise(last2)
  }

  def tfidf(docs: DataFrame, idCol: String, textCol: String, minTf: Long = 1): DataFrame = {
    val n = docs.select(count(lit(1)).as("__n"))
    val tf = docs
      .select(col(idCol).as("id"), explode(tokens(col(textCol))).as("term"))
      .groupBy(col("id"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .filter(col("tf") >= minTf)
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    tf.join(df, "term")
      .crossJoin(broadcast(n))
      .select(
        col("id"), col("term"), col("tf"), col("df"),
        (col("tf").cast("double") *
          log(col("__n").cast("double") / col("df").cast("double"))).as("tfidf"))
  }
}
