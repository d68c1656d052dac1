package graft

import graft.operators.Epub

/** EPUB composition: container → OPF → spine order, missing-chapter
  * NULLs, degrade stages, path normalization, name boundaries, and
  * adversarial no-throw over the zip layer.
  */
class EpubSpec extends SparkSpec {

  private def ch(i: Int): (String, String) =
    (s"ch$i.xhtml", s"<html><body><h1>Ch $i</h1><p>prose $i</p></body></html>")

  test("spine order wins over manifest/archive order; chapters round-trip") {
    // archive and manifest hold ch0..ch2, spine is as given
    val book = Epub.epub(Seq(ch(0), ch(1), ch(2)))
    val d = Epub.read(book)
    assert(d.stage == "ok")
    assert(d.chapters.map(_._2) == Seq("ch0.xhtml", "ch1.xhtml", "ch2.xhtml"))
    assert(d.chapters.forall(_._3 != null))
    assert(d.chapters(1)._3.contains("prose 1"))
  }

  test("missing chapter files and dangling idrefs keep NULL rows — never reorder") {
    val d = Epub.read(Epub.epub(Seq(ch(0), ch(1), ch(2)), missing = Set("ch1.xhtml")))
    assert(d.stage == "ok")
    assert(d.chapters.map(c => (c._1, c._3 == null)) == Seq((0, false), (1, true), (2, false)))
  }

  test("degrade stages: junk zip, missing container, missing opf, empty spine") {
    assert(Epub.read("junk".getBytes("UTF-8")).stage == "zip")
    assert(Epub.read(null).stage == "zip")
    // a zip that is not an epub at all
    assert(Epub.read(graft.operators.ZipShard.zip(
      Seq(("a.txt", "x".getBytes("UTF-8"))))).stage == "container")
    // container pointing at an absent OPF
    val noOpf = graft.operators.ZipShard.zip(Seq(
      ("META-INF/container.xml",
        """<container><rootfiles><rootfile full-path="gone.opf"/></rootfiles></container>"""
          .getBytes("UTF-8"))))
    assert(Epub.read(noOpf).stage == "opf")
    // an OPF with no spine entries
    val emptySpine = graft.operators.ZipShard.zip(Seq(
      ("META-INF/container.xml",
        """<container><rootfiles><rootfile full-path="c.opf"/></rootfiles></container>"""
          .getBytes("UTF-8")),
      ("c.opf", "<package><manifest></manifest><spine></spine></package>".getBytes("UTF-8"))))
    assert(Epub.read(emptySpine).stage == "opf")
  }

  test("name boundaries and ../ resolution: <itemref> is not <item>; hrefs normalize") {
    // OPF in a subdirectory with an href climbing out of it
    val book = graft.operators.ZipShard.zip(Seq(
      ("META-INF/container.xml",
        """<container><rootfiles><rootfile full-path="OEBPS/pkg/content.opf"/></rootfiles></container>"""
          .getBytes("UTF-8")),
      ("OEBPS/pkg/content.opf",
        ("""<package><manifest><item id="a" href="../text/one.xhtml"/></manifest>""" +
          """<spine><itemref idref="a"/></spine></package>""").getBytes("UTF-8")),
      ("OEBPS/text/one.xhtml", "<p>climbed</p>".getBytes("UTF-8"))))
    val d = Epub.read(book)
    assert(d.stage == "ok" && d.chapters.head._3 == "<p>climbed</p>")
  }

  test("distributed view: chapterRows map-only; mixed outcomes") {
    import spark.implicits._
    val book = Epub.epub(Seq(ch(0), ch(1)))
    val junk = "junk".getBytes("UTF-8")
    val df = Seq((1L, book), (2L, junk)).toDF("media_id", "payload")
    val cr = Epub.chapterRows(df, "media_id", "payload")
    graft.queries.Q.requireNoShuffle(cr)
    assert(cr.count() == 2) // the degraded book emits no chapters
    val (ok, bad) = (Epub.read(book), Epub.read(junk))
    assert((ok.stage, ok.chapters.length, bad.stage, bad.chapters.length) == ("ok", 2, "zip", 0))
  }

  test("adversarial: truncation never throws (the zip layer's contract carries)") {
    val book = Epub.epub(Seq(ch(0), ch(1)))
    for (cut <- 0 to book.length by 17)
      Epub.read(java.util.Arrays.copyOfRange(book, 0, cut))
  }
}
