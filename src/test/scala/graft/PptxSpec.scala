package graft

import graft.operators.Pptx
import graft.operators.Cfb

/** PPTX slide-text extraction: DrawingML runs on the shared OOXML
  * paragraph scanner, part-number ordering, notes exclusion, degrades.
  */
class PptxSpec extends SparkSpec {

  test("slides round-trip; order is by part NUMBER, not archive position") {
    // the fixture stores slides in REVERSE archive order on purpose
    val d = Pptx.read(Pptx.pptx(Seq(
      Seq("Title One", "bullet a"),
      Seq("Second slide", "line1\nline2"),
      Seq("Third"))))
    assert(d.stage == "ok")
    assert(d.slides.map(_._1) == Seq(1, 2, 3))
    assert(d.slides.map(_._3) == Seq(
      Seq("Title One", "bullet a"),
      Seq("Second slide", "line1\nline2"),
      Seq("Third")))
  }

  test("notes/masters never surface; a:t boundary-checked against a:tab") {
    val d = Pptx.read(Pptx.pptx(Seq(Seq("visible"))))
    assert(!d.slides.flatMap(_._3).mkString.contains("NOTES"))
    // the DrawingML walk shares the boundary-checked scanner
    val ps = graft.operators.Docx.paragraphs(
      "<a:p><a:r><a:t>x</a:t></a:r><a:tbl>no</a:tbl></a:p>", prefix = "a")
    assert(ps == Seq("x"))
  }

  test("degrades: junk -> zip, CFB -> encrypted, slide-less zip -> part") {
    assert(Pptx.read("junk".getBytes("UTF-8")).stage == "zip")
    assert(Pptx.read(null).stage == "zip")
    assert(Pptx.read(Cfb.encryptedOoxmlFixture(9L)).stage == "encrypted")
    val noSlides = graft.operators.ZipShard.zip(
      Seq(("ppt/presentation.xml", "<p:presentation/>".getBytes("UTF-8"))), deflate = false)
    assert(Pptx.read(noSlides).stage == "part")
  }

  test("textRows: distributed walk map-only; mixed outcomes coexist; slides in order") {
    import spark.implicits._
    val df = Seq(
      (1L, Pptx.pptx(Seq(Seq("alpha"), Seq("beta", "gamma")))),
      (2L, "junk".getBytes("UTF-8"))).toDF("media_id", "payload")
    val t = Pptx.textRows(df, "media_id", "payload")
    graft.queries.Q.requireNoShuffle(t)
    assert(t.collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getString(3))).toSet ==
      Set((1L, "ok", 2, "alpha\nbeta\ngamma"), (2L, "zip", 0, null)))
    assert(Pptx.read(Pptx.pptx(Seq(Seq("alpha"), Seq("beta", "gamma")))).slides
      .map { case (no, _, ps) => (no, ps) } == Seq((1, Seq("alpha")), (2, Seq("beta", "gamma"))))
  }

  test("adversarial: truncation and bit flips never throw") {
    val b = Pptx.pptx(Seq(Seq("some deck text")))
    (0 until b.length by 7).foreach { cut =>
      Pptx.read(java.util.Arrays.copyOfRange(b, 0, cut))
    }
    (0 until b.length by 11).foreach { i =>
      val m = b.clone(); m(i) = (m(i) ^ 0x33).toByte
      Pptx.read(m)
    }
  }

  test("office triage: content-based routing, one unified frame") {
    import spark.implicits._
    import graft.operators.{Docx, Odt, Office, Pptx}
    assert(Office.routeOne(Docx.docx(Seq(Seq("x"))))._1 == "docx")
    assert(Office.routeOne(Pptx.pptx(Seq(Seq("x"))))._1 == "pptx")
    assert(Office.routeOne(Odt.odt(Seq("x")))._1 == "odt")
    assert(Office.routeOne(Cfb.encryptedOoxmlFixture(1L))._1 == "encrypted")
    assert(Office.routeOne("{\\rtf1 x}".getBytes("UTF-8"))._1 == "rtf")
    assert(Office.routeOne("junk".getBytes("UTF-8"))._1 == "unknown")
    assert(Office.routeOne(null)._1 == "unknown")
    // a zip that is none of the three kinds routes as bare 'zip'
    assert(Office.routeOne(graft.operators.ZipShard.zip(
      Seq(("readme.txt", "hi".getBytes("UTF-8"))), deflate = false))._1 == "zip")
    val df = Seq(
      (1L, Docx.docx(Seq(Seq("w")))),
      (2L, Pptx.pptx(Seq(Seq("s1"), Seq("s2")))),
      (3L, Odt.odt(Seq("o"))),
      (4L, "junk".getBytes("UTF-8"))).toDF("media_id", "payload")
    val out = Office.routedText(df, "media_id", "payload")
    graft.queries.Q.requireNoShuffle(out)
    assert(out.collect().map(r =>
      (r.getLong(0), r.getString(1), r.getInt(2), r.getString(3))).toSet == Set(
      (1L, "docx", 1, "w"),
      (2L, "pptx", 2, "s1\ns2"),
      (3L, "odt", 2, "o\ntail end"),
      (4L, "unknown", 0, null)))
  }
}
