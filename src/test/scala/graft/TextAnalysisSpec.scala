package graft

import org.apache.spark.sql.functions._

import graft.operators.TextAnalysis

/** Text-analysis expression semantics on known strings. */
class TextAnalysisSpec extends SparkSpec {

  import spark.implicits._

  private def one(text: String) = Seq(text).toDF("text")

  test("token and subword counts") {
    val r = one("the cat, sat. on the mat!")
      .select(
        TextAnalysis.tokenCount(col("text")).as("n_tok"),
        TextAnalysis.subwordCount(col("text")).as("n_sub"),
        TextAnalysis.punctCount(col("text")).as("n_punct")
      ).head()
    assert(r.getAs[Int]("n_tok") == 6)
    // 6 words + 3 punctuation marks (, . !)
    assert(r.getAs[Int]("n_sub") == 9)
    assert(r.getAs[Int]("n_punct") == 3)
  }

  test("classifierLogitMilli: hand-computed Int64 logit") {
    // "the cat, sat. on the mat!": n_tok=6, n_stop=2 (the ×2; "on" is
    // not in the set), n_punct=3, n_chars=25
    // logit_milli = 6*5 + 2*50 + 3*(-40) + 25*1 - 800 = -765
    val lm = one("the cat, sat. on the mat!")
      .select(TextAnalysis.classifierLogitMilli(col("text")).as("lm"))
      .as[Long].head()
    assert(lm == -765L)
  }

  test("stopword count uses the fixed set") {
    val n = one("the cat and the dog of war")
      .select(TextAnalysis.stopwordCount(col("text")).as("n")).head().getAs[Int]("n")
    assert(n == 4) // the, and, the, of
  }

  test("quality score stays in [0,1] over the fixture corpus") {
    val bounds = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(TextAnalysis.qualityScore(col("text")).as("q"))
      .agg(min(col("q")), max(col("q"))).head()
    assert(bounds.getDouble(0) >= 0.0 && bounds.getDouble(1) <= 1.0)
  }

  test("language ID picks the language with the most marker tokens") {
    val r = Seq(
      "the cat and a dog walked over the hill",
      "el perro y la casa de los gatos",
      "le chien et un chat dans les arbres",
      "der Hund und das Haus und der Baum"
    ).toDF("text")
      .select(TextAnalysis.langId(col("text")).as("lang"))
      .as[String].collect()
    assert(r.sameElements(Array("en", "es", "fr", "de")))
  }

  test("fingerprint matches hand-computed rolling hash") {
    // h("ab") = (0*31 + 97)*31 + 98 mod p = 3105
    val fp = one("ab").select(TextAnalysis.fingerprint(col("text")).as("fp"))
      .head().getAs[Long]("fp")
    assert(fp == 97L * 31 + 98)
  }

  test("fingerprint is injective enough on the fixture corpus (no false collisions)") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val agg = d.select(
      countDistinct(col("text")).as("texts"),
      countDistinct(TextAnalysis.fingerprint(col("text"))).as("fps")
    ).head()
    assert(agg.getAs[Long]("texts") == agg.getAs[Long]("fps"))
  }

  test("bigrams: t tokens yield t-1 adjacent pairs; short docs yield none") {
    val rows = Seq("a b c d", "solo", "x y").toDF("text")
      .select(TextAnalysis.bigrams(col("text")).as("bg"))
      .collect()
      .map(_.getSeq[org.apache.spark.sql.Row](0).map(r => (r.getString(0), r.getString(1))))
    assert(rows(0) == Seq(("a", "b"), ("b", "c"), ("c", "d")))
    assert(rows(1).isEmpty)
    assert(rows(2) == Seq(("x", "y")))
  }

  test("bigramCounts aggregates across docs with the min-count floor") {
    val docs = Seq("to be or not to be", "to be is to do", "do be do").toDF("text")
    val counts = TextAnalysis.bigramCounts(docs, "text", minCount = 2L)
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    assert(counts(("to", "be")) == 3L)
    assert(!counts.contains(("or", "not"))) // count 1 < floor
  }

  test("bm25 matches the hand-computed Lucene-IDF formula on a tiny corpus") {
    import spark.implicits._
    val docs = Seq((1L, "a b a"), (2L, "b c")).toDF("doc_id", "text")
    val got = TextAnalysis.bm25(docs, "doc_id", "text", Seq("a", "b"))
      .as[(Long, Double)].collect().toMap

    // N=2, avgdl=2.5; idf = ln(2N+2) - ln(2df+1) from the shared table
    def ln(k: Int) = TextAnalysis.LnTable(k - 1)
    def term(tf: Long, df: Long, dl: Long): Double =
      (ln(2 * 2 + 2) - ln(2 * df.toInt + 1)) * (tf.toDouble * (1.2 + 1.0)) /
        (tf.toDouble + 1.2 * (1.0 - 0.75 + 0.75 * (dl.toDouble / (5.0 / 2.0))))
    val d1 = term(tf = 2, df = 1, dl = 3) + term(tf = 1, df = 2, dl = 3) // a + b
    val d2 = term(tf = 1, df = 2, dl = 2) // b only
    assert(math.abs(got(1L) - d1) < 1e-12, s"${got(1L)} vs $d1")
    assert(math.abs(got(2L) - d2) < 1e-12, s"${got(2L)} vs $d2")
    // more query-term mass -> higher rank; doc without any term absent
    assert(got(1L) > got(2L) && got.size == 2)
  }

  test("tfidf: rare terms outscore ubiquitous ones; df/tf exact") {
    val docs = Seq(
      (1L, "apple apple banana common"),
      (2L, "banana banana cherry common"),
      (3L, "cherry cherry durian common")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.tfidf(docs, "doc_id", "text", minTf = 1L)
      .collect()
      .map(r => (r.getLong(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    // 'common' appears in all 3 docs: idf = ln(1) = 0
    assert(out((1L, "common")) == ((1L, 3L, 0.0)))
    // 'apple' tf=2 df=1: tfidf = 2·ln(3)
    val (tf, df, s) = out((1L, "apple"))
    assert(tf == 2L && df == 1L && math.abs(s - 2.0 * math.log(3.0)) < 1e-12)
  }

  test("repetition fractions on crafted strings") {
    def fracs(text: String): (Double, Double) = {
      val r = one(text).select(
        TextAnalysis.dupTokenFrac(col("text")).as("dt"),
        TextAnalysis.dupNgramFrac(col("text"), 2).as("dg")).head()
      (r.getAs[Double]("dt"), r.getAs[Double]("dg"))
    }
    // all distinct: no repetition at either granularity
    assert(fracs("a b c d") == ((0.0, 0.0)))
    // "a b a b a b": every token repeats (2 distinct of 6) and every
    // bigram repeats (2 distinct of 5) — the case token-dedup misses
    val (dt, dg) = fracs("a b a b a b")
    assert(math.abs(dt - (1.0 - 2.0 / 6.0)) < 1e-15)
    assert(math.abs(dg - (1.0 - 2.0 / 5.0)) < 1e-15)
    // shorter than n: defined as 0
    assert(fracs("solo")._2 == 0.0)
    // filter composes both thresholds
    val docs = Seq("a b c d e f g h", "x x x x x x x x").toDF("text")
    val kept = docs
      .filter(TextAnalysis.dupTokenFrac(col("text")) <= 0.5 &&
        TextAnalysis.dupNgramFrac(col("text"), 2) <= 0.5)
      .collect().map(_.getString(0))
    assert(kept.toSeq == Seq("a b c d e f g h"))
  }

  test("PII redaction replaces every email and phone span") {
    val out = one("mail a.b+c@ex-1.org then 555-010-4242 or d@e.io end")
      .select(TextAnalysis.redactPii(col("text")).as("t")).head().getString(0)
    assert(out == "mail <EMAIL> then <PHONE> or <EMAIL> end", out)
    // non-matches survive: bare @, short TLD, 3-3-3 digits
    val keep = "a@b c@d.x 12-345-678"
    val out2 = one(keep).select(TextAnalysis.redactPii(col("text")).as("t")).head().getString(0)
    assert(out2 == keep, out2)
  }

  test("script counts and dominant script over real multibyte text") {
    import spark.implicits._
    def profile(s: String) = Seq(s).toDF("text").select(
      TextAnalysis.latinCount(col("text")).as("lat"),
      TextAnalysis.digitCount(col("text")).as("dig"),
      TextAnalysis.cjkCount(col("text")).as("cjk"),
      TextAnalysis.dominantScript(col("text")).as("script")
    ).head()
    val mixed = profile("ab中文cd7!")
    assert(mixed.getAs[Int]("lat") == 4)
    assert(mixed.getAs[Int]("dig") == 1)
    assert(mixed.getAs[Int]("cjk") == 2)
    assert(mixed.getAs[String]("script") == "latin")
    assert(profile("一丁丂z").getAs[String]("script") == "cjk")
    assert(profile("12345a").getAs[String]("script") == "digit")
    assert(profile("").getAs[String]("script") == "empty")
    assert(profile("!!!").getAs[String]("script") == "other")
    // boundary codepoints of the CJK unified block
    assert(profile("一鿿").getAs[Int]("cjk") == 2)
    assert(profile("䷿ꀀ").getAs[Int]("cjk") == 0)
  }

  test("stripHtml: blocks dropped wholesale, tags stripped, entities decoded in order") {
    import spark.implicits._
    def strip(s: String): String =
      Seq(s).toDF("h")
        .select(graft.operators.TextAnalysis.stripHtml(col("h")).as("t"))
        .head().getString(0)
    assert(strip("<p>hello  <b>world</b></p>") == "hello world")
    // script/style bodies vanish even when they contain < and >
    assert(strip("<script>if (1 < 2) { x() }</script>after") == "after")
    assert(strip("<style>p > a { c: 1 }</style>text") == "text")
    assert(strip("a<!-- <b>dropped</b> -->b") == "a b")
    // &amp; decodes LAST: &amp;lt; is the literal string "&lt;"
    assert(strip("&amp;lt; &lt;x&gt; &quot;q&quot; &#39;s&#39;&nbsp;!") ==
      "&lt; <x> \"q\" 's' !")
    assert(strip("  <div>  </div>  ") == "")
  }

  test("registrableDomain: eTLD+1 with two-level public suffixes") {
    import spark.implicits._
    def dom(h: String): String =
      Seq(h).toDF("h")
        .select(graft.operators.TextAnalysis.registrableDomain(col("h")).as("d"))
        .head().getString(0)
    assert(dom("www.example.com") == "example.com")
    assert(dom("a.b.c.example.org") == "example.org")
    assert(dom("www.example.co.uk") == "example.co.uk")
    assert(dom("sub.shop.example.com.au") == "example.com.au")
    assert(dom("example.com") == "example.com")
    assert(dom("localhost") == "localhost")
    // a bare two-level suffix is returned as-is (n <= 2 short-circuits
    // before the suffix branch can ask for a missing third label)
    assert(dom("co.uk") == "co.uk")
  }
}
