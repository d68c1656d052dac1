package graft

import graft.operators.Odt

/** ODT text extraction: text-node collection inside text:p/text:h,
  * explicit whitespace elements, note/annotation exclusion, degrades.
  */
class OdtSpec extends SparkSpec {

  test("paragraphs round-trip; tab/line-break/spaces elements expand") {
    val d = Odt.read(Odt.odt(Seq("Hello world", "a\tb", "x\ny")))
    assert(d.stage == "ok")
    assert(d.paragraphs == Seq("Hello world", "a\tb", "x\ny", "tail end"))
    // <text:s text:c="3"/> expands to exactly n spaces; default 1
    assert(Odt.paragraphs("<text:p>a<text:s text:c=\"3\"/>b</text:p>") == Seq("a   b"))
    assert(Odt.paragraphs("<text:p>a<text:s/>b</text:p>") == Seq("a b"))
    // headings are prose lines; entities decode at emit
    assert(Odt.paragraphs("<text:h text:outline-level=\"1\">T &amp; U</text:h>") ==
      Seq("T & U"))
  }

  test("footnote and annotation subtrees never surface, nested paragraphs included") {
    val d = Odt.read(Odt.odt(Seq("visible")))
    assert(!d.paragraphs.mkString.contains("FOOTNOTE"))
    assert(d.paragraphs.last == "tail end")
    val xml = "<text:p>a<office:annotation><text:p>reviewer says</text:p>" +
      "</office:annotation>b</text:p>"
    assert(Odt.paragraphs(xml) == Seq("ab"))
    // text:note boundary: text:note-body inside counts into the SAME
    // exclusion depth only via its note parent
    val nested = "<text:p>x<text:note><text:note-body><text:p>n1</text:p>" +
      "<text:p>n2</text:p></text:note-body></text:note>y</text:p>"
    assert(Odt.paragraphs(nested) == Seq("xy"))
  }

  test("degrades: junk -> zip, declared encryption -> encrypted, no content -> part") {
    assert(Odt.read("junk".getBytes("UTF-8")).stage == "zip")
    assert(Odt.read(null).stage == "zip")
    assert(Odt.read(Odt.odt(Seq("x"), encrypted = true)).stage == "encrypted")
    val noContent = graft.operators.ZipShard.zip(
      Seq(("styles.xml", "<x/>".getBytes("UTF-8"))), deflate = false)
    assert(Odt.read(noContent).stage == "part")
  }

  test("torn part keeps completed paragraphs; budgets hold") {
    val whole = "<text:p>one</text:p><text:p>two</text:p>"
    assert(Odt.paragraphs(whole) == Seq("one", "two"))
    assert(Odt.paragraphs(whole.substring(0, whole.indexOf("two") + 2)) == Seq("one"))
    assert(Odt.paragraphs(whole, maxParagraphs = 1) == Seq("one"))
  }

  test("textRows: distributed walk map-only; mixed outcomes coexist") {
    import spark.implicits._
    val df = Seq(
      (1L, Odt.odt(Seq("alpha", "beta"))),
      (2L, "junk".getBytes("UTF-8")),
      (3L, Odt.odt(Seq("x"), encrypted = true))).toDF("media_id", "payload")
    val t = Odt.textRows(df, "media_id", "payload")
    graft.queries.Q.requireNoShuffle(t)
    assert(t.collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getString(3))).toSet ==
      Set((1L, "ok", 3, "alpha\nbeta\ntail end"),
        (2L, "zip", 0, null), (3L, "encrypted", 0, null)))
  }

  test("ODF subtypes route on the mimetype member; odp/ods extract through the shared walk") {
    import graft.operators.{Office, ZipShard}
    assert(Office.routeOne(Odt.odt(Seq("x")))._1 == "odt")
    assert(Office.routeOne(Odt.ods(Seq(Seq("a", "b"))))._1 == "ods")
    assert(Office.routeOne(Odt.odp(Seq(Seq("s"))))._1 == "odp")
    // a mimetype-less content.xml zip stays the lenient odt route
    val bare = ZipShard.zip(Seq(
      ("content.xml", "<office:body/>".getBytes("UTF-8"))), deflate = false)
    assert(Office.routeOne(bare)._1 == "odt")
    // ODP: page text surfaces, speaker notes never do
    val p = Odt.read(Odt.odp(Seq(Seq("Title", "point one"), Seq("End"))))
    assert(p.stage == "ok" && p.paragraphs == Seq("Title", "point one", "End"))
    assert(!p.paragraphs.mkString.contains("SPEAKER"))
    // ODS: cell display text in row-major order
    val s = Odt.read(Odt.ods(Seq(Seq("Name", "Qty"), Seq("widget", "42"))))
    assert(s.stage == "ok" && s.paragraphs == Seq("Name", "Qty", "widget", "42"))
  }

  test("adversarial: truncation and bit flips never throw") {
    val b = Odt.odt(Seq("some document text", "more"))
    (0 until b.length by 7).foreach(cut =>
      Odt.read(java.util.Arrays.copyOfRange(b, 0, cut)))
    (0 until b.length by 11).foreach { i =>
      val m = b.clone(); m(i) = (m(i) ^ 0x5A).toByte
      Odt.read(m)
    }
  }
}
