package graft

import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions
import graft.operators.Dedup

/** The native codegen kernels must be bitwise-equal to the declarative
  * (higher-order-function) formulations they replaced — checked over the
  * real fixture corpus, not toy strings.
  */
class FunctionsSpec extends SparkSpec {

  import spark.implicits._

  private lazy val docs =
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

  test("StrPolyHash equals the aggregate/split fold on the fixture corpus") {
    val mismatches = docs
      .select(
        Dedup.strHash(col("text")).as("fast"),
        Dedup.strHashFold(col("text")).as("slow"))
      .filter(col("fast") =!= col("slow"))
      .count()
    assert(mismatches == 0)
  }

  test("StrPolyHash handles empties and non-ASCII code points") {
    val r = Seq("", "a", "héllo wörld", "的是了 mixed 文本").toDF("s")
      .select(
        GraftFunctions.polyHash(col("s"), 131L, 1000000007L).as("fast"),
        Dedup.strHashFold(col("s")).as("slow"))
      .collect()
    r.foreach(row => assert(row.getLong(0) == row.getLong(1), row.toString))
    assert(r.head.getLong(0) == 0L) // empty string
  }

  test("NgramPolyHash equals string shingles + fold hash on the fixture corpus") {
    val mismatches = docs
      .select(
        array_sort(Dedup.shingleHashes(col("text"), 3)).as("fast"),
        array_sort(array_distinct(
          transform(Dedup.shingles(col("text"), 3), s => Dedup.strHashFold(s)))).as("slow"))
      .filter(col("fast") =!= col("slow"))
      .count()
    assert(mismatches == 0)
  }

  test("NgramPolyHash: fewer than n tokens yields an empty array") {
    val r = Seq("one two", "", "a b c").toDF("text")
      .select(size(Dedup.shingleHashes(col("text"), 3)).as("n"))
      .as[Int].collect()
    assert(r.sameElements(Array(0, 0, 1)))
  }

  test("MinhashSignature equals the explode + k-min-aggregate formulation") {
    val fast = Dedup.minhashSignatures(docs, "doc_id", "text", n = 3, k = 16)
    val slow = Dedup.minhashSignaturesAgg(docs, "doc_id", "text", n = 3, k = 16)
    assert(fast.count() == slow.count())
    val diff = fast.as("f").join(slow.as("s"), "id")
      .filter(col("f.signature") =!= col("s.signature"))
      .count()
    assert(diff == 0)
  }

  test("LangId kernel equals the declarative argmax fold on the fixture corpus") {
    import graft.operators.TextAnalysis
    val mismatches = docs
      .select(
        TextAnalysis.langId(col("text")).as("fast"),
        TextAnalysis.langIdFold(col("text")).as("slow"))
      .filter(col("fast") =!= col("slow"))
      .count()
    assert(mismatches == 0)
  }

  test("SimHash64 equals the explode + 64-aggregate formulation") {
    val fast = Dedup.simhash(docs, "doc_id", "text")
    val slow = Dedup.simhashAgg(docs, "doc_id", "text")
    val diff = fast.as("f").join(slow.as("s"), "id")
      .filter(col("f.simhash") =!= col("s.simhash"))
      .count()
    assert(diff == 0)
  }

  test("ArrayDotFloat equals the zip_with/aggregate fold on embeddings") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .limit(100)
    val hofDot = {
      // the declarative formulation the kernel replaced
      val pairs = emb.select(col("embedding").as("a"))
        .crossJoin(emb.limit(5).select(col("embedding").as("b")))
      pairs.select(
        GraftFunctions.dotF(col("a"), col("b")).as("fast"),
        aggregate(zip_with(col("a"), col("b"),
            (x, y) => x.cast("double") * y.cast("double")),
          lit(0.0), (acc, v) => acc + v).as("slow"))
    }
    val bad = hofDot.filter(col("fast") =!= col("slow")).count()
    assert(bad == 0)
  }

  test("expressions eval standalone") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import graft.functions.{SimHash64, StrPolyHash}
    // h("ab") = (0·131 + 97)·131 + 98
    assert(StrPolyHash(Literal("ab"), 131L, 1000000007L).eval() ==
      97L * 131 + 98)
    assert(StrPolyHash(Literal(""), 131L, 1000000007L).eval() == 0L)
    // single token with hash h -> simhash == h (every set bit wins 1-0,
    // every clear bit loses 0-1)
    val h = org.apache.spark.sql.catalyst.expressions.XXH64
      .hashUTF8String(org.apache.spark.unsafe.types.UTF8String.fromString("ab"), 42L)
    assert(SimHash64(Literal("ab")).eval() == h)
  }

  test("GunzipUtf8: round trip, corrupt-payload NULL, bomb guard") {
    import graft.functions.{GraftFunctions, GraftMath}
    def gz(s: String): Array[Byte] = graft.operators.Multimodal.syntheticGzipText(s)
    val texts = Seq("hello gz world", "", "UTF-8: é 😀 𝄞", "x" * 100000)
    import spark.implicits._
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, gz(t)) }
      .toDF("id", "payload")
    val got = df.select(col("id"), GraftFunctions.gunzip(col("payload")).as("t"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    texts.zipWithIndex.foreach { case (t, i) => assert(got(i.toLong) == t, s"row $i") }
    // corrupt forms all yield NULL, never throw: bad magic, truncation
    // mid-deflate, and a flipped CRC byte
    val good = gz("the payload the payload")
    val badMagic = good.clone(); badMagic(0) = 0x00
    val cut = java.util.Arrays.copyOf(good, good.length - 9)
    val badCrc = good.clone()
    badCrc(good.length - 5) = (badCrc(good.length - 5) ^ 0x01).toByte
    val bads = Seq(badMagic, cut, badCrc, Array[Byte](), Array[Byte](31, -117))
    val nulls = bads.zipWithIndex.map { case (b, i) => (i.toLong, b) }
      .toDF("id", "payload")
      .select(GraftFunctions.gunzip(col("payload")).as("t"))
      .collect().map(_.isNullAt(0))
    assert(nulls.forall(identity), "corrupt gzip must decode to NULL")
    // decompression-bomb guard: a member inflating past the bound is NULL
    val bomb = gz("y" * (GraftMath.MaxGunzipBytes + 1))
    assert(GraftMath.gunzipUtf8(bomb) == null)
    // a member whose CONTENT is not valid UTF-8 (a gzipped binary
    // payload inflates fine) is malformed under the text contract: NULL
    val binBos = new java.io.ByteArrayOutputStream()
    val bg = new java.util.zip.GZIPOutputStream(binBos)
    bg.write(Array[Byte](0xC3.toByte, 0x28, 0x00, 0xFF.toByte)); bg.close()
    assert(GraftMath.gunzipUtf8(binBos.toByteArray) == null)
    // CONCATENATED members decode as their concatenation — the real
    // .warc.gz layout (one member per record); boundaries need not
    // align with anything
    val multi = gz("first member ") ++ gz("second ") ++ gz("third")
    assert(GraftMath.gunzipUtf8(multi).toString == "first member second third")
    // truncation INSIDE a later member still yields NULL for the whole
    // blob (all-or-nothing under the one-column contract)
    val tornTail = gz("first member ") ++ gz("second ").dropRight(6)
    assert(GraftMath.gunzipUtf8(tornTail) == null)
  }

  test("NfcNormalize agrees with the standard on composed/decomposed/singleton forms") {
    import graft.functions.GraftFunctions
    import spark.implicits._
    val cases = Seq(
      "é" -> "é", // combining acute composes
      "Å" -> "Å", // combining ring composes
      "Å" -> "Å", // ANGSTROM SIGN singleton
      "ga゙" -> "ga゙", // no composition for a + voiced mark
      "q̣̇" -> "q̣̇", // canonical reordering (ccc 220 < 230)
      "already plain" -> "already plain",
      "" -> "")
    val got = cases.map(_._1).zipWithIndex.map { case (s, i) => (i.toLong, s) }
      .toDF("id", "s")
      .select(col("id"), GraftFunctions.nfc(col("s")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    cases.zipWithIndex.foreach { case ((in, want), i) =>
      assert(got(i.toLong) == want,
        s"NFC(${in.map(c => f"\\u${c.toInt}%04X").mkString}) mismatch")
    }
  }

  test("UrlCanonicalize: RFC 3986 normalization cases and the NULL degrade contract") {
    import graft.functions.GraftMath
    import org.apache.spark.unsafe.types.UTF8String
    def canon(s: String): String =
      Option(GraftMath.canonicalizeUrl(UTF8String.fromString(s)))
        .map(_.toString).orNull
    // case + default port + fragment
    assert(canon("HTTP://ExAmPle.COM:80/A/b#frag") == "http://example.com/A/b")
    assert(canon("https://example.com:443/") == "https://example.com/")
    // non-default ports survive; path case is preserved
    assert(canon("https://example.com:8443/Path") == "https://example.com:8443/Path")
    // dot segments (§5.2.4), incl. popping past root
    assert(canon("http://h.com/a/./b/../c") == "http://h.com/a/c")
    assert(canon("http://h.com/../../x") == "http://h.com/x")
    assert(canon("http://h.com/a/b/..") == "http://h.com/a/")
    assert(canon("HTTP://A.COM:80/x/../y") == "http://a.com/y")
    // percent normalization (§6.2.2.2): unreserved decodes, the rest
    // uppercases, malformed escapes pass through; query included
    assert(canon("http://h.com/%7Euser/%2fx?q=%41%zz") == "http://h.com/~user/%2Fx?q=A%zz")
    // empty path -> "/", userinfo preserved
    assert(canon("http://h.com") == "http://h.com/")
    assert(canon("http://u:p@H.com/x") == "http://u:p@h.com/x")
    // out of contract -> null: scheme-less, non-http(s), empty or
    // bracketed host, junk port
    assert(canon("example.com/x") == null)
    assert(canon("ftp://example.com/x") == null)
    assert(canon("mailto:x@y.z") == null)
    assert(canon("http:///x") == null)
    assert(canon("http://[::1]/x") == null)
    assert(canon("http://h.com:8a/x") == null)
    // ports are bounded untrusted input: overflow-length and
    // out-of-range values degrade (no NumberFormatException escapes),
    // Unicode digit classes are rejected, leading zeros normalize
    assert(canon("http://h.com:99999999999999999999/x") == null)
    assert(canon("http://h.com:65536/x") == null)
    assert(canon("http://h.com:８１/x") == null) // fullwidth 81
    assert(canon("http://h.com:0081/x") == "http://h.com:81/x")
    assert(canon("http://h.com:0080/x") == "http://h.com/x")
    assert(canon("http://h.com:65535/x") == "http://h.com:65535/x")
    // idempotent on its own output
    val once = canon("HTTP://WWW.X.COM:80/a/./b/../c/%7Eu?q=%41#f")
    assert(canon(once) == once)
  }
}
