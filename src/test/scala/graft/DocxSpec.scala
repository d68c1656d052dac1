package graft

import graft.operators.{Cfb, Docx}

/** DOCX text extraction: paragraph/run walk, explicit whitespace
  * elements, part-name exclusion, degrades, torn-part prefix.
  */
class DocxSpec extends SparkSpec {

  test("paragraphs round-trip through the fixture writer; runs concatenate") {
    val b = Docx.docx(Seq(
      Seq("Hello ", "world"),           // two runs, one paragraph
      Seq.empty,                        // empty paragraph keeps its slot
      Seq("a\tb"),                      // explicit tab element
      Seq("line1\nline2"),              // explicit break element
      Seq("A & B < C")))                // entity escaping round-trips
    val d = Docx.read(b)
    assert(d.stage == "ok")
    assert(d.paragraphs == Seq("Hello world", "", "a\tb", "line1\nline2", "A & B < C"))
  }

  test("header/footer parts never surface; instrText/delText excluded by name") {
    val d = Docx.read(Docx.docx(Seq(Seq("body text"))))
    assert(d.stage == "ok" && !d.paragraphs.mkString.contains("HEADER"))
    // field instructions and tracked deletions hold text in OTHER
    // element names: the name-boundary match must not pick them up
    val xml = "<w:body><w:p><w:r><w:instrText>PAGEREF _Toc1</w:instrText>" +
      "<w:delText>deleted words</w:delText><w:t>kept</w:t></w:r></w:p></w:body>"
    assert(Docx.paragraphs(xml) == Seq("kept"))
    // w:t never matches w:tbl/w:tc; table-cell paragraphs surface in order
    val tbl = "<w:body><w:p><w:r><w:t>before</w:t></w:r></w:p>" +
      "<w:tbl><w:tr><w:tc><w:p><w:r><w:t>cell</w:t></w:r></w:p></w:tc></w:tr></w:tbl>" +
      "<w:p><w:r><w:t>after</w:t></w:r></w:p></w:body>"
    assert(Docx.paragraphs(tbl) == Seq("before", "cell", "after"))
  }

  test("degrades: junk -> zip, CFB signature -> encrypted, no main part -> part") {
    assert(Docx.read("junk bytes".getBytes("UTF-8")).stage == "zip")
    assert(Docx.read(null).stage == "zip")
    assert(Docx.read(Cfb.encryptedOoxmlFixture(7L)).stage == "encrypted")
    // a NON-encrypted OLE container (legacy binary, junk CFB) is now
    // the countable cfb route, not a false encrypted verdict
    assert(Docx.read(Docx.encryptedFixture(7L)).stage == "cfb")
    val noMain = graft.operators.ZipShard.zip(
      Seq(("word/other.xml", "<w:p/>".getBytes("UTF-8"))), deflate = false)
    assert(Docx.read(noMain).stage == "part")
  }

  test("torn part keeps completed paragraphs, drops the incomplete tail") {
    val whole = "<w:body><w:p><w:r><w:t>one</w:t></w:r></w:p>" +
      "<w:p><w:r><w:t>two</w:t></w:r></w:p></w:body>"
    assert(Docx.paragraphs(whole) == Seq("one", "two"))
    // torn inside the second paragraph's run: that paragraph drops whole
    assert(Docx.paragraphs(whole.substring(0, whole.indexOf("two") + 2)) == Seq("one"))
    // torn inside a tag
    assert(Docx.paragraphs("<w:p><w:r><w:t>x</w:t></w:r></w:p><w:p") == Seq("x"))
    // budget caps hold
    assert(Docx.paragraphs(whole, maxParagraphs = 1) == Seq("one"))
  }

  test("textRows: distributed walk map-only; mixed outcomes coexist; paragraphs in order") {
    import spark.implicits._
    val df = Seq(
      (1L, Docx.docx(Seq(Seq("alpha"), Seq("beta")))),
      (2L, "junk".getBytes("UTF-8")),
      (3L, graft.operators.Cfb.encryptedOoxmlFixture(3L))).toDF("media_id", "payload")
    val t = Docx.textRows(df, "media_id", "payload")
    graft.queries.Q.requireNoShuffle(t)
    val rows = t.collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getString(3)))
    assert(rows.toSet == Set(
      (1L, "ok", 2, "alpha\nbeta"), (2L, "zip", 0, null), (3L, "encrypted", 0, null)))
    assert(Docx.read(Docx.docx(Seq(Seq("alpha"), Seq("beta")))).paragraphs ==
      Seq("alpha", "beta"))
  }

  test("adversarial: truncation and bit flips never throw") {
    val b = Docx.docx(Seq(Seq("some text here"), Seq("more\tprose")))
    (0 until b.length by 7).foreach { cut =>
      Docx.read(java.util.Arrays.copyOfRange(b, 0, cut)) // must not throw
    }
    (0 until b.length by 11).foreach { i =>
      val m = b.clone(); m(i) = (m(i) ^ 0x55).toByte
      Docx.read(m) // must not throw
    }
  }
}
