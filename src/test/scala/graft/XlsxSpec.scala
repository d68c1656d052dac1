package graft

import graft.operators.Xlsx

/** XLSX shared-strings extraction on the shared OOXML walk. */
class XlsxSpec extends SparkSpec {

  test("shared strings round-trip; rich runs concatenate; si boundary-checked") {
    val d = Xlsx.read(Xlsx.xlsx(Seq("Name", "Quarterly report", "A & B")))
    assert(d.stage == "ok")
    // item 1 was written as two rich runs: concatenation must restore it
    assert(d.strings == Seq("Name", "Quarterly report", "A & B"))
    // a numbers-only workbook (no sharedStrings part) is ok with zero strings
    val numbers = Xlsx.read(Xlsx.xlsx(Seq("x"), withSharedStrings = false))
    assert(numbers.stage == "ok" && numbers.strings.isEmpty)
  }

  test("review finding: phonetic rPh runs never surface in the prose") {
    // furigana annotations carry <t> text that is NOT the cell's prose
    val sst = "<sst><si><r><t>東京</t></r>" +
      "<rPh sb=\"0\" eb=\"2\"><t>トウキョウ</t></rPh>" +
      "<phoneticPr fontId=\"1\"/></si>" +
      "<si><t>plain</t></si></sst>"
    val none = 0.toChar.toString
    val cleaned = Xlsx.stripSubtrees(sst, "rPh")
    assert(graft.operators.Docx.paragraphsTags(cleaned, "si", "t", none, none, none) ==
      Seq("東京", "plain"))
    // boundary: rPh must not eat a hypothetical rPhX tag
    assert(Xlsx.stripSubtrees("<rPhX><t>keep</t></rPhX>", "rPh") ==
      "<rPhX><t>keep</t></rPhX>")
    // self-closed and torn forms degrade cleanly
    assert(Xlsx.stripSubtrees("a<rPh/>b", "rPh") == "ab")
    assert(Xlsx.stripSubtrees("a<rPh sb=\"0\">torn", "rPh") == "a")
  }

  test("degrades: junk -> zip, CFB -> encrypted, no workbook -> part") {
    assert(Xlsx.read("junk".getBytes("UTF-8")).stage == "zip")
    assert(Xlsx.read(null).stage == "zip")
    assert(Xlsx.read(graft.operators.Cfb.encryptedOoxmlFixture(4L)).stage == "encrypted")
    val noWb = graft.operators.ZipShard.zip(
      Seq(("xl/styles.xml", "<x/>".getBytes("UTF-8"))), deflate = false)
    assert(Xlsx.read(noWb).stage == "part")
  }

  test("office triage routes xlsx; textRows map-only") {
    import spark.implicits._
    assert(graft.operators.Office.routeOne(Xlsx.xlsx(Seq("x")))._1 == "xlsx")
    val df = Seq(
      (1L, Xlsx.xlsx(Seq("alpha", "beta"))),
      (2L, "junk".getBytes("UTF-8"))).toDF("media_id", "payload")
    val t = Xlsx.textRows(df, "media_id", "payload")
    graft.queries.Q.requireNoShuffle(t)
    assert(t.collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getString(3))).toSet ==
      Set((1L, "ok", 2, "alpha\nbeta"), (2L, "zip", 0, null)))
    val routed = graft.operators.Office.routedText(df, "media_id", "payload")
    assert(routed.collect().map(r => (r.getLong(0), r.getString(1), r.getString(3))).toSet ==
      Set((1L, "xlsx", "alpha\nbeta"), (2L, "unknown", null)))
  }

  test("sheet grid: cell forms resolve; rows emit by reference, not storage order") {
    // the fixture STORES rows reversed; shared / inline / number mix
    val b = Xlsx.xlsxGrid(Seq(
      (1, Seq(("s", "Name"), ("s", "Qty"))),
      (2, Seq(("is", "widget"), ("n", "42"))),
      (3, Seq(("n", "3.5"), ("s", "Name")))))
    val g = Xlsx.readGrid(b)
    assert(g.stage == "ok")
    assert(g.cells.map(c => (c.row, c.col, c.value)) == Seq(
      (1, 1, "Name"), (1, 2, "Qty"),
      (2, 1, "widget"), (2, 2, "42"),
      (3, 1, "3.5"), (3, 2, "Name")))
    // grid text: cells tab-joined per row, rows newline-joined
    val (stage, nc, text) = Xlsx.gridText(graft.operators.ZipShard.entries(b))
    assert(stage == "ok" && nc == 6)
    assert(text == "Name\tQty\nwidget\t42\n3.5\tName")
    // a strings-only package falls back to the string-table view
    val legacy = Xlsx.xlsx(Seq("alpha", "beta"))
    val (ls, ln, lt) = Xlsx.gridText(graft.operators.ZipShard.entries(legacy))
    assert(ls == "ok" && ln == 2 && lt == "alpha\nbeta")
    // a shared-string index past the table: document-level degrade
    val badSheet =
      """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
        |<sheetData><row r="1"><c r="A1" t="s"><v>9</v></c></row></sheetData></worksheet>""".stripMargin
    val bad = graft.operators.ZipShard.zip(Seq(
      ("xl/workbook.xml", "<workbook/>".getBytes("UTF-8")),
      ("xl/worksheets/sheet1.xml", badSheet.getBytes("UTF-8"))), deflate = false)
    assert(Xlsx.readGrid(bad).stage == "strings")
    // column letters
    assert(Xlsx.colOf("A1") == 1 && Xlsx.colOf("Z9") == 26 && Xlsx.colOf("AA3") == 27)
  }

  test("grid: multiple worksheet parts emit in part-number order") {
    def sheet(cell: String) =
      (s"""<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">""" +
        s"""<sheetData><row r="1"><c r="A1" t="inlineStr"><is><t>$cell</t></is></c></row>""" +
        "</sheetData></worksheet>").getBytes("UTF-8")
    // stored out of order: sheet2 before sheet1
    val b = graft.operators.ZipShard.zip(Seq(
      ("xl/workbook.xml", "<workbook/>".getBytes("UTF-8")),
      ("xl/worksheets/sheet2.xml", sheet("second")),
      ("xl/worksheets/sheet1.xml", sheet("first"))), deflate = false)
    val g = Xlsx.readGrid(b)
    assert(g.cells.map(c => (c.sheet, c.value)) == Seq((1, "first"), (2, "second")))
  }

  test("grid: attribute-less rows/cells continue after their predecessor") {
    // streaming-writer shorthand: no r attributes anywhere
    val sheet =
      """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
        |<sheetData><row><c t="inlineStr"><is><t>a</t></is></c><c><v>7</v></c></row>
        |<row><c t="inlineStr"><is><t>b</t></is></c></row></sheetData></worksheet>""".stripMargin
    val b = graft.operators.ZipShard.zip(Seq(
      ("xl/workbook.xml", "<workbook/>".getBytes("UTF-8")),
      ("xl/worksheets/sheet1.xml", sheet.getBytes("UTF-8"))), deflate = false)
    val g = Xlsx.readGrid(b)
    assert(g.cells.map(c => (c.row, c.col, c.value)) ==
      Seq((1, 1, "a"), (1, 2, "7"), (2, 1, "b")))
  }

  test("cellRows distributed; grid adversarial never throws") {
    import spark.implicits._
    val ok = Xlsx.xlsxGrid(Seq((1, Seq(("is", "x"), ("n", "1")))))
    val df = Seq((1L, ok), (2L, "junk".getBytes("UTF-8"))).toDF("media_id", "payload")
    val cells = Xlsx.cellRows(df, "media_id", "payload")
    graft.queries.Q.requireNoShuffle(cells)
    assert(cells.collect().map(r =>
      (r.getLong(0), r.getInt(2), r.getInt(3), r.getString(4))).toSet ==
      Set((1L, 1, 1, "x"), (1L, 1, 2, "1")))
    assert(Xlsx.gridText(graft.operators.ZipShard.entries(ok)) == (("ok", 2, "x\t1")))
    (0 until ok.length by 13).foreach(cut =>
      Xlsx.readGrid(java.util.Arrays.copyOfRange(ok, 0, cut)))
    (0 until ok.length by 17).foreach { i =>
      val m = ok.clone(); m(i) = (m(i) ^ 0x33).toByte
      Xlsx.readGrid(m)
    }
  }

  test("date rendering: builtin/custom classes, leap bug, 1904, phantom 60") {
    // classifier primitives
    assert(Xlsx.builtinClass(14) == ((true, false)))
    assert(Xlsx.builtinClass(20) == ((false, true)))
    assert(Xlsx.builtinClass(22) == ((true, true)))
    assert(Xlsx.builtinClass(4) == ((false, false)))
    assert(Xlsx.customClass("dd/mm/yyyy") == ((true, false)))
    assert(Xlsx.customClass("h:mm AM/PM") == ((false, true)))
    assert(Xlsx.customClass("yyyy-mm-dd h:mm") == ((true, true)))
    assert(Xlsx.customClass("mmm") == ((true, false))) // bare m = month
    assert(Xlsx.customClass("mm:ss") == ((false, true))) // time-claimed m
    assert(Xlsx.customClass("\"day\" 0.0") == ((false, false))) // quoted d
    assert(Xlsx.customClass("[h]\\d0") == ((false, false))) // bracket+escape
    // serial math: the published 1900 epoch split around the leap bug
    assert(Xlsx.renderSerial("1", true, false, false) == "1900-01-01")
    assert(Xlsx.renderSerial("59", true, false, false) == "1900-02-28")
    assert(Xlsx.renderSerial("60", true, false, false) == "60") // phantom
    assert(Xlsx.renderSerial("61", true, false, false) == "1900-03-01")
    assert(Xlsx.renderSerial("40000.75", true, true, false) ==
      "2009-07-06 18:00:00")
    assert(Xlsx.renderSerial("0.5", false, true, false) == "12:00:00")
    assert(Xlsx.renderSerial("0", true, false, true) == "1904-01-01")
    assert(Xlsx.renderSerial("-3", true, false, false) == "-3") // out of range
    assert(Xlsx.renderSerial("junk", true, false, false) == "junk")
    // end to end: styled cells render, unstyled keep raw serials
    val g = Xlsx.readGrid(Xlsx.xlsxGrid(Seq(
      (1, Seq(("f14", "40000"), ("f164", "40001"), ("n", "40000")))),
      customFmts = Seq((164, "dd/mm/yyyy"))))
    assert(g.stage == "ok")
    assert(g.cells.map(_.value) == Seq("2009-07-06", "2009-07-07", "40000"))
    val g4 = Xlsx.readGrid(Xlsx.xlsxGrid(Seq(
      (1, Seq(("f14", "100")))), date1904 = true))
    assert(g4.cells.map(_.value) == Seq("1904-04-10"))
  }

  test("adversarial: truncation and bit flips never throw") {
    val b = Xlsx.xlsx(Seq("spreadsheet text here"))
    (0 until b.length by 7).foreach(cut =>
      Xlsx.read(java.util.Arrays.copyOfRange(b, 0, cut)))
    (0 until b.length by 11).foreach { i =>
      val m = b.clone(); m(i) = (m(i) ^ 0x66).toByte
      Xlsx.read(m)
    }
  }
}
