package graft

import graft.operators.{Cfb, Doc, Docx, Msg, Office, Xls}

/** CFB container walk + legacy Word 97 (.doc) text extraction: the
  * sector machine (FAT/DIFAT/directory/mini stream), FIB flags, piece
  * table with mixed cp1252/UTF-16 pieces, main-range clipping,
  * degrades, and the triage routing.
  */
class DocSpec extends SparkSpec {

  test("cfb: writer round-trips through the parser; mini and regular streams") {
    val small = "small stream payload".getBytes("UTF-8")
    val big = Array.tabulate(5000)(i => (i % 251).toByte) // > mini cutoff
    val parsed = Cfb.parse(Cfb.cfb(Seq(("Tiny", small), ("Big", big)))).get
    assert(parsed.streams("Tiny").toSeq == small.toSeq)
    assert(parsed.streams("Big").toSeq == big.toSeq)
    assert(parsed.entries.exists(_.typ == 5))
    // malformed: junk behind the magic, truncation, bit flips — None
    assert(Cfb.parse(Docx.encryptedFixture(3L)).isEmpty)
    assert(Cfb.parse("no magic".getBytes("UTF-8")).isEmpty)
    val whole = Cfb.cfb(Seq(("S", small)))
    (1 until whole.length by 97).foreach { n =>
      Cfb.parse(whole.take(n)): Unit // never throws
    }
    val flip = whole.clone
    flip(520) = (flip(520) ^ 0x41).toByte // inside the FAT
    Cfb.parse(flip): Unit
  }

  test("doc: piece table with cp1252 + UTF-16 pieces; footnote range clipped") {
    val d = Doc.read(Doc.doc(Seq("Hello legacy", "tab\there", "line\nbreak")))
    assert(d.stage == "ok")
    // embedded \n became the 0x0B manual break inside one paragraph
    assert(d.paragraphs == Seq("Hello legacy", "tab\there", "line\nbreak"))
    // the poison footnote text past ccpText never surfaces
    assert(!d.paragraphs.mkString.contains("FOOTNOTE"))
    // the hyperlink field wrapping paragraph 1 is transparent: its
    // instruction part (the HYPERLINK command) never leaks into prose
    assert(!d.paragraphs.mkString.contains("HYPERLINK"))
  }

  test("doc degrades: encrypted FIB, junk CFB, non-Word OLE, junk bytes") {
    assert(Doc.read(Doc.doc(Seq("x"), encrypted = true)).stage == "encrypted")
    assert(Doc.read(Docx.encryptedFixture(9L)).stage == "cfb")
    assert(Doc.read("junk".getBytes("UTF-8")).stage == "cfb")
    // an OLE container without a WordDocument stream (an xls, say)
    val other = Cfb.cfb(Seq(("Workbook", "not word".getBytes("UTF-8"))))
    assert(Doc.read(other).stage == "part")
    // a WordDocument stream with a wrong FIB magic
    val badFib = Cfb.cfb(Seq(("WordDocument", new Array[Byte](2048))))
    assert(Doc.read(badFib).stage == "fib")
    // an encrypted-OOXML shell is 'encrypted', not a .doc
    assert(Doc.read(Cfb.encryptedOoxmlFixture(4L)).stage == "encrypted")
  }

  test("doc: Prc entries before the Pcdt skip; malformed Clx degrades as clx") {
    // splice a Prc (0x01 + 2-byte count + grpprl payload) ahead of the
    // Pcdt inside the table stream, re-pointing fcClx — real Word
    // files carry property modifiers there
    val base = Doc.doc(Seq("piece table", "with properties"))
    val parsed = Cfb.parse(base).get
    val clx = parsed.streams("0Table")
    val prc = Array[Byte](0x01, 4, 0) ++ Array[Byte](9, 9, 9, 9)
    val wd = parsed.streams("WordDocument").clone
    // lcbClx at 0x01A6 grows by the Prc's length (fcClx stays 0)
    val lcb = clx.length + prc.length
    (0 until 4).foreach(i => wd(0x01A6 + i) = ((lcb >> (8 * i)) & 0xFF).toByte)
    val spliced = Cfb.cfb(Seq(("WordDocument", wd), ("0Table", prc ++ clx)))
    val d = Doc.read(spliced)
    assert(d.stage == "ok" && d.paragraphs == Seq("piece table", "with properties"))
    // a Clx that is neither Prc nor Pcdt degrades countably
    val junk = Cfb.cfb(Seq(("WordDocument", wd),
      ("0Table", Array.fill[Byte](lcb)(0x7F))))
    assert(Doc.read(junk).stage == "clx")
  }

  test("doc adversarial: truncation and bit flips never throw") {
    val whole = Doc.doc(Seq("alpha", "beta gamma"))
    (1 until whole.length by 113).foreach { n =>
      Doc.read(whole.take(n)): Unit
    }
    (0 until whole.length by 61).foreach { i =>
      val flip = whole.clone
      flip(i) = (flip(i) ^ 0x55).toByte
      Doc.read(flip): Unit
    }
  }

  test("review finding: a 2^31 piece span degrades clx, never wraps negative") {
    // craft a piece table whose single piece declares a CP span past
    // 2^31: before the clamp, `.toInt` wrapped negative, slipped the
    // bounds check and threw StringIndexOutOfBounds inside the task
    def w16(b: Array[Byte], off: Int, v: Int): Unit = {
      b(off) = (v & 0xFF).toByte; b(off + 1) = ((v >> 8) & 0xFF).toByte
    }
    def w32(b: Array[Byte], off: Int, v: Long): Unit =
      (0 until 4).foreach(i => b(off + i) = ((v >> (8 * i)) & 0xFF).toByte)
    val wd = new Array[Byte](2048)
    w16(wd, 0, 0xA5EC)
    w16(wd, 2, 0x00C1)
    w32(wd, 0x4C, 0x90000000L) // ccpText: a 2.4G-char main range
    val lcbPlc = 2 * 4 + 8 // one piece: 2 CPs + 1 PCD
    val clx = new Array[Byte](1 + 4 + lcbPlc)
    clx(0) = 0x02
    w32(clx, 1, lcbPlc.toLong)
    w32(clx, 5, 0L)
    w32(clx, 9, 0x90000000L) // cpEnd: span = 0x90000000 > maxChars
    w32(clx, 13 + 2, (1472L * 2) | 0x40000000L) // PCD fc: compressed, offset 1472
    w32(wd, 0x01A2, 0L)
    w32(wd, 0x01A6, clx.length.toLong)
    val d = Doc.read(Cfb.cfb(Seq(("WordDocument", wd), ("0Table", clx))))
    assert(d.stage == "clx" && d.paragraphs.isEmpty)
  }

  test("review finding: >64 siblings per directory level walk path-qualified") {
    // the fixture writer chains siblings degenerately, so 70 root-level
    // attachment storages exceed the old 64-hop depth guard — the walk
    // must stay path-qualified (storage census intact), not fall back
    // to the flat first-wins namespace
    val b = Msg.msg("wide", "w", "body", Seq.empty, attachments = 70)
    val d = Msg.read(b)
    assert(d.stage == "ok" && d.n_attachments == 70)
    val doc = Cfb.parse(b).get
    assert(doc.streams.contains(
      "__attach_version1.0_#00000045/__substg1.0_37010102"))
    // deep STORAGE nesting (the axis the depth guard is for) still
    // fails closed: 70 nested storages exceed the 64-level cap and the
    // walk falls back to the flat namespace rather than recursing away
    val deepPath = (0 until 70).map(i => f"s$i%02d").mkString("/") + "/leaf"
    val deep = Cfb.parse(Cfb.cfb(Seq((deepPath, "x".getBytes("UTF-8"))))).get
    assert(deep.streams.contains("leaf")) // flat fallback: bare name
  }

  test("office triage routes CFB: doc extracts, encrypted holds, other OLE quarantines") {
    assert(Office.routeOne(Doc.doc(Seq("legacy")))._1 == "doc")
    assert(Office.routeOne(Doc.doc(Seq("x"), encrypted = true))._1 == "encrypted")
    assert(Office.routeOne(Cfb.encryptedOoxmlFixture(1L))._1 == "encrypted")
    assert(Office.routeOne(Docx.encryptedFixture(1L))._1 == "cfb")
    // sibling legacy binaries route to their OWN readers now
    assert(Office.routeOne(Xls.xls(Seq((1, Seq(("s", "cell"))))))._1 == "xls")
    assert(Office.routeOne(Cfb.cfb(Seq(("SomeOther", "x".getBytes("UTF-8")))))._1 == "cfb")
  }

  test("textRows: distributed walk map-only; mixed outcomes coexist") {
    import spark.implicits._
    val df = Seq(
      (1L, Doc.doc(Seq("alpha", "beta"))),
      (2L, Doc.doc(Seq("x"), encrypted = true)),
      (3L, "junk".getBytes("UTF-8"))).toDF("media_id", "payload")
    val t = Doc.textRows(df, "media_id", "payload")
    graft.queries.Q.requireNoShuffle(t)
    assert(t.collect().map(r =>
      (r.getLong(0), r.getString(1), r.getInt(2), r.getString(3))).toSet == Set(
      (1L, "ok", 2, "alpha\nbeta"),
      (2L, "encrypted", 0, null),
      (3L, "cfb", 0, null)))
  }
}
