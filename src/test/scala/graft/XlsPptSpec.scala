package graft

import graft.operators.{Cfb, Office, Ppt, Xls, Xlsx}

/** Legacy Excel 97 (BIFF8) and PowerPoint 97 extraction: SST with
  * CONTINUE spills, cell record forms, record-atom text walks, notes
  * exclusion, degrades, and the triage routing.
  */
class XlsPptSpec extends SparkSpec {

  private val grid = Seq(
    (1, Seq(("s", "Name"), ("s", "Qty"))),
    (2, Seq(("l", "widget"), ("n", "42"))),
    (3, Seq(("n", "3.5"), ("s", "Name"))))

  test("xls: SST refs, inline labels, RK and Number cells emit row-major") {
    Seq(false, true).foreach { split =>
      val d = Xls.read(Xls.xls(grid, split = split))
      assert(d.stage == "ok", s"split=$split")
      assert(d.cells.map(c => (c.row, c.col, c.value)) == Seq(
        (1, 1, "Name"), (1, 2, "Qty"),
        (2, 1, "widget"), (2, 2, "42"),
        (3, 1, "3.5"), (3, 2, "Name")), s"split=$split")
    }
    // wide chars ride the UTF-16 SST form (every 2nd string is fHigh)
    val wide = Xls.read(Xls.xls(Seq((1, Seq(("s", "a"), ("s", "π≈3"))))))
    assert(wide.cells.map(_.value) == Seq("a", "π≈3"))
    // negative RK integers and the grid-text flatten
    val neg = Xls.read(Xls.xls(Seq((1, Seq(("n", "-7"), ("n", "2.25"))))))
    assert(neg.cells.map(_.value) == Seq("-7", "2.25"))
    // an all-small-int row ships as ONE MulRk run record
    val mul = Xls.read(Xls.xls(Seq(
      (1, Seq(("n", "5"), ("n", "-9"), ("n", "12"))),
      (2, Seq(("l", "label"), ("n", "2.5"))))))
    assert(mul.cells.map(c => (c.row, c.col, c.value)) == Seq(
      (1, 1, "5"), (1, 2, "-9"), (1, 3, "12"),
      (2, 1, "label"), (2, 2, "2.5")))
    // formula cells: the cached STRING result rides the following
    // String record, the cached numeric result rides inline
    val fml = Xls.read(Xls.xls(Seq(
      (1, Seq(("fs", "computed text"), ("f", "7"), ("f", "1.25"))))))
    assert(fml.cells.map(c => (c.col, c.value)) == Seq(
      (1, "computed text"), (2, "7"), (3, "1.25")))
    assert(Xls.gridText(Xls.read(Xls.xls(grid)).cells) ==
      "Name\tQty\nwidget\t42\n3.5\tName")
  }

  test("xls degrades: FilePass, junk CFB, non-Excel OLE, junk bytes") {
    assert(Xls.read(Xls.xls(grid, encrypted = true)).stage == "encrypted")
    assert(Xls.read("junk".getBytes("UTF-8")).stage == "cfb")
    assert(Xls.read(Cfb.cfb(Seq(("Other", "x".getBytes("UTF-8"))))).stage == "part")
    assert(Xls.read(Cfb.cfb(Seq(("Book", "old".getBytes("UTF-8"))))).stage == "biff")
    assert(Xls.read(Cfb.encryptedOoxmlFixture(2L)).stage == "encrypted")
    // adversarial: truncation and bit flips never throw
    val whole = Xls.xls(grid, split = true)
    (1 until whole.length by 131).foreach(n => Xls.read(whole.take(n)): Unit)
    (0 until whole.length by 89).foreach { i =>
      val flip = whole.clone
      flip(i) = (flip(i) ^ 0x5C).toByte
      Xls.read(flip): Unit
    }
  }

  test("ppt: both text-atom widths extract; notes never surface; degrades hold") {
    val d = Ppt.read(Ppt.ppt(Seq(Seq("Title deck", "point π"), Seq("End"))))
    assert(d.stage == "ok")
    assert(d.paragraphs == Seq("Title deck", "point π", "End"))
    assert(!d.paragraphs.mkString.contains("SPEAKER"))
    assert(Ppt.read(Ppt.ppt(Seq(Seq("x")), encrypted = true)).stage == "encrypted")
    assert(Ppt.read("junk".getBytes("UTF-8")).stage == "cfb")
    assert(Ppt.read(Cfb.cfb(Seq(("Other", "x".getBytes("UTF-8"))))).stage == "part")
    val whole = Ppt.ppt(Seq(Seq("alpha", "beta gamma")))
    (1 until whole.length by 113).foreach(n => Ppt.read(whole.take(n)): Unit)
    (0 until whole.length by 71).foreach { i =>
      val flip = whole.clone
      flip(i) = (flip(i) ^ 0x1D).toByte
      Ppt.read(flip): Unit
    }
  }

  test("xls date rendering: XF/Format/Date1904 records drive the shared classifier") {
    val d = Xls.read(Xls.xls(Seq(
      (1, Seq(("s", "Dates"), ("f14", "40000"))),
      (2, Seq(("f20", "0.5"), ("f22", "40000.75"), ("f164", "40001"))),
      (3, Seq(("f14", "60"), ("f14", "7"), ("f14", "61")))), // styled MulRk run
      customFmts = Seq((164, "dd/mm/yyyy"))))
    assert(d.stage == "ok")
    assert(d.cells.map(c => (c.row, c.col, c.value)) == Seq(
      (1, 1, "Dates"), (1, 2, "2009-07-06"),
      (2, 1, "12:00:00"), (2, 2, "2009-07-06 18:00:00"), (2, 3, "2009-07-07"),
      (3, 1, "60"), (3, 2, "1900-01-07"), (3, 3, "1900-03-01")))
    // 1904 epoch: a date and a raw cell packed into ONE MulRk record
    val d4 = Xls.read(Xls.xls(Seq(
      (1, Seq(("f14", "100"), ("n", "9")))), date1904 = true))
    assert(d4.cells.map(_.value) == Seq("1904-04-10", "9"))
    // a formula's cached numeric result renders under its cell format
    val df = Xls.read(Xls.xls(Seq((1, Seq(("f14", "40000"), ("f", "2.5"))))))
    assert(df.cells.map(_.value) == Seq("2009-07-06", "2.5"))
  }

  test("biff5: codepage-driven labels, shared numeric layouts, date formats") {
    val d = Xls.read(Xls.xls(Seq(
      (1, Seq(("l", "vieux café"), ("n", "42"))),
      (2, Seq(("n", "1"), ("n", "7"), ("n", "-3"))), // MulRk run
      (3, Seq(("n", "2.5"), ("l", "fin")))),
      biff5 = true))
    assert(d.stage == "ok")
    assert(d.cells.map(c => (c.row, c.col, c.value)) == Seq(
      (1, 1, "vieux café"), (1, 2, "42"),
      (2, 1, "1"), (2, 2, "7"), (2, 3, "-3"),
      (3, 1, "2.5"), (3, 2, "fin")))
    // the CODEPAGE record drives the 8-bit decode: the same bytes mean
    // different text under cp1251
    val cyr = Xls.read(Xls.xls(Seq((1, Seq(("l", "привет")))),
      biff5 = true, codepage = 1251))
    assert(cyr.cells.map(_.value) == Seq("привет"))
    // BIFF5 Format records (1-byte cch) + XF drive the shared renderer
    val dd = Xls.read(Xls.xls(Seq((1, Seq(("f14", "40000"), ("f164", "40001")))),
      biff5 = true, customFmts = Seq((164, "dd/mm/yyyy"))))
    assert(dd.cells.map(_.value) == Seq("2009-07-06", "2009-07-07"))
    // FilePass keeps the honest degrade in the BIFF5 shell too
    assert(Xls.read(Xls.xls(Seq((1, Seq(("l", "x")))),
      biff5 = true, encrypted = true)).stage == "encrypted")
    // pre-BIFF5 (a BIFF2 BOF) degrades biff; so does junk behind 'Book'
    assert(Xls.read(Cfb.cfb(Seq(("Book",
      Array[Byte](0x09, 0x00, 0x04, 0x00, 0x00, 0x00, 0x10, 0x00))))).stage == "biff")
    // adversarial: truncation/bit flips over the biff5 shape never throw
    val whole = Xls.xls(Seq((1, Seq(("l", "adversarial"), ("n", "3")))), biff5 = true)
    (1 until whole.length by 97).foreach(n => Xls.read(whole.take(n)): Unit)
    (0 until whole.length by 61).foreach { i =>
      val flip = whole.clone
      flip(i) = (flip(i) ^ 0x2B).toByte
      Xls.read(flip): Unit
    }
  }

  test("review finding: deeply nested .ppt containers degrade, never overflow") {
    // a crafted stream of deeply nested 8-byte container headers used
    // to recurse once per level — at the millions of levels a 64 MB
    // stream admits, StackOverflowError escapes NonFatal and kills the
    // task. The depth guard pins recursion at 64 frames REGARDLESS of
    // nesting (levels past it ignore whole, the torn-tail discipline);
    // 6000 levels is the deepest the one-FAT-sector fixture writer
    // holds and already exceeds the guard 90-fold.
    val depth = 6000
    val atom = {
      val body = "shallow\r".getBytes("ISO-8859-1")
      val b = new java.io.ByteArrayOutputStream()
      b.write(0); b.write(0); b.write(0xA8); b.write(0x0F) // TextBytesAtom
      b.write(body.length); b.write(0); b.write(0); b.write(0)
      b.write(body)
      b.toByteArray
    }
    val total = 8 * depth + atom.length
    val stream = new Array[Byte](total)
    (0 until depth).foreach { i =>
      val off = 8 * i
      val len = total - off - 8
      stream(off) = 0x0F // container version nibble
      stream(off + 2) = 0xEE.toByte; stream(off + 3) = 0x03 // Slide container
      (0 until 4).foreach(j => stream(off + 4 + j) = ((len >> (8 * j)) & 0xFF).toByte)
    }
    System.arraycopy(atom, 0, stream, 8 * depth, atom.length)
    val d = Ppt.read(Cfb.cfb(Seq(("PowerPoint Document", stream))))
    assert(d.stage == "ok" && d.paragraphs.isEmpty) // atom sits below the guard
    // the same shape with the atom INSIDE the guard still yields
    val shallow = {
      var inner = atom
      (0 until 10).foreach { _ =>
        val b = new java.io.ByteArrayOutputStream()
        b.write(0x0F); b.write(0); b.write(0xEE); b.write(0x03)
        (0 until 4).foreach(j => b.write((inner.length >> (8 * j)) & 0xFF))
        b.write(inner)
        inner = b.toByteArray
      }
      inner
    }
    assert(Ppt.read(Cfb.cfb(Seq(("PowerPoint Document", shallow))))
      .paragraphs == Seq("shallow"))
  }

  test("triage routes xls/ppt; distributed rows map-only; streams match batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    assert(Office.routeOne(Xls.xls(grid))._1 == "xls")
    assert(Office.routeOne(Ppt.ppt(Seq(Seq("s"))))._1 == "ppt")
    val blobs = Seq(
      (1L, Xls.xls(Seq((1, Seq(("s", "cell"), ("n", "7")))))),
      (2L, Ppt.ppt(Seq(Seq("old deck")))),
      (3L, Xls.xls(grid, encrypted = true)))
    val batchDf = Office.routedText(blobs.toDF("media_id", "payload"),
      "media_id", "payload")
    graft.queries.Q.requireNoShuffle(batchDf)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getLong(0), r.getString(1), r.getInt(2), r.getString(3))).toSet
    val batch = rows(batchDf)
    assert(batch == Set(
      (1L, "xls", 2, "cell\t7"),
      (2L, "ppt", 1, "old deck"),
      (3L, "encrypted", 0, null)))
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Array[Byte])]
    val q = Office.routedText(in.toDF().toDF("media_id", "payload"),
      "media_id", "payload")
      .writeStream.format("memory").queryName("xp_route_out")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append()).start()
    try {
      in.addData(blobs: _*); q.processAllAvailable()
      assert(rows(spark.table("xp_route_out")) == batch)
    } finally q.stop()
    // cellRows distributed
    val cells = Xls.cellRows(blobs.take(1).toDF("media_id", "payload"),
      "media_id", "payload")
    graft.queries.Q.requireNoShuffle(cells)
    assert(cells.collect().map(r =>
      (r.getInt(2), r.getInt(3), r.getString(4))).toSet ==
      Set((1, 1, "cell"), (1, 2, "7")))
    // Xlsx.Cell is the shared cell shape across both grid readers
    assert(Xls.read(Xls.xls(grid)).cells.head.isInstanceOf[Xlsx.Cell])
  }
}
