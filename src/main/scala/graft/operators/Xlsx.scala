package graft.operators

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.DataFrame

/** XLSX (ECMA-376 SpreadsheetML) shared-strings extraction — the text
  * a spreadsheet actually carries lives centralized in
  * `xl/sharedStrings.xml` as `<si>` items of `<t>` runs (plain or
  * rich `<r><t>…</t></r>` — runs concatenate, same grammar as the
  * other OOXML bodies, so the SHARED walk runs it with `si`/`t`
  * spellings). Cell grids reference these by index; for a text corpus
  * the string table IS the prose surface.
  *
  * Degrades per the office-family contract: junk → `zip`; CFB →
  * `encrypted`; a zip without `xl/workbook.xml` → `part`. A workbook
  * WITHOUT a sharedStrings part is valid (numbers-only) and is `ok`
  * with zero strings. Map-only. Reference scope: the reference
  * ingests line JSON only (`App.java:136-162`).
  */
object Xlsx {

  final case class XlsxDoc(stage: String, strings: Seq[String])

  def read(bytes: Array[Byte]): XlsxDoc = {
    if (bytes == null) return XlsxDoc("zip", Seq.empty)
    if (Cfb.isCfb(bytes)) return XlsxDoc(Docx.cfbStage(bytes), Seq.empty)
    val es = ZipShard.entries(bytes)
    if (es.isEmpty) return XlsxDoc("zip", Seq.empty)
    readEntries(es)
  }

  /** The walk over an already-opened archive (the one-walk triage
    * path — see [[Docx.readEntries]]).
    */
  private[operators] def readEntries(es: Seq[ZipShard.ZipEntry]): XlsxDoc = {
    val byName = es.map(e => e.name -> e.data).toMap
    if (!byName.contains("xl/workbook.xml")) return XlsxDoc("part", Seq.empty)
    byName.get("xl/sharedStrings.xml") match {
      case None => XlsxDoc("ok", Seq.empty) // numbers-only workbook
      case Some(d) =>
        // si/t ride the shared walk; SpreadsheetML strings carry no
        // tab/br elements, so those slots get a sentinel no real tag
        // name can start with. PHONETIC runs (<rPh>, the furigana
        // Japanese workbooks attach) hold <t> text that is NOT the
        // cell's prose — their subtrees strip before the walk.
        val none = 0.toChar.toString
        XlsxDoc("ok", Docx.paragraphsTags(stripSubtrees(new String(d, UTF_8), "rPh"),
          "si", "t", none, none, none))
    }
  }

  /** Remove every `<tag …>…</tag>` subtree (boundary-checked name;
    * self-closed forms drop too). Phonetic-run exclusion — rPh does
    * not nest in published files; a torn subtree drops to end (the
    * completed-prefix discipline).
    */
  private[graft] def stripSubtrees(xml: String, tag: String): String = {
    val open = "<" + tag
    val close = "</" + tag + ">"
    if (!xml.contains(open)) return xml
    val sb = new java.lang.StringBuilder(xml.length)
    var i = 0
    while (i < xml.length) {
      val at = xml.indexOf(open, i)
      if (at < 0) { sb.append(xml, i, xml.length); i = xml.length }
      else {
        val after = at + open.length
        val bounded = after < xml.length && (xml.charAt(after) == '>' ||
          xml.charAt(after) == '/' || Character.isWhitespace(xml.charAt(after)))
        if (!bounded) { sb.append(xml, i, after); i = after }
        else {
          sb.append(xml, i, at): Unit
          val gt = xml.indexOf('>', at)
          if (gt < 0) i = xml.length // torn tag: subtree drops to end
          else if (xml.charAt(gt - 1) == '/') i = gt + 1 // self-closed
          else {
            val end = xml.indexOf(close, gt)
            i = if (end < 0) xml.length else end + close.length
          }
        }
      }
    }
    sb.toString
  }

  /** One grid cell: sheet part number, 1-based row and column, and the
    * cell's TEXT value (shared-string resolved, inline-string
    * concatenated, or the raw `<v>` lexical form for number/bool/
    * error/formula cells — the deterministic closed form; display
    * formatting is a renderer concern EXCEPT dates: a date cell's raw
    * serial is misleading corpus text, so date/time-formatted numeric
    * cells render ISO — see [[renderSerial]]).
    */
  final case class Cell(sheet: Int, row: Int, col: Int, value: String)

  // ---- date/number-format rendering (shared with the legacy [[Xls]]
  // reader — the two grids must agree on what a date looks like) ----

  /** The published built-in number-format table's date/time block
    * (ECMA-376 §18.8.30 / [MS-XLS] §2.4.126): ids 14–17 are dates,
    * 18–21 times, 22 date+time. Returns (hasDate, hasTime); all other
    * builtins render their raw lexical form.
    */
  private[graft] def builtinClass(id: Int): (Boolean, Boolean) =
    if (id >= 14 && id <= 17) (true, false)
    else if (id >= 18 && id <= 21) (false, true)
    else if (id == 22) (true, true)
    else (false, false)

  /** Date/time detection over a CUSTOM format code: `"quoted"` literal
    * runs, `[bracketed]` color/condition/elapsed sections and
    * backslash-escaped chars strip first; then `y`/`d` tokens mark a
    * date, `h`/`s` mark a time, and a bare `m` — the published
    * month-vs-minute ambiguity — counts as a MONTH only when no time
    * token claims it (Excel's own adjacency rule, closed-form).
    */
  private[graft] def customClass(code: String): (Boolean, Boolean) = {
    val sb = new java.lang.StringBuilder
    var i = 0
    var q = false
    var br = false
    while (i < code.length) {
      val c = code.charAt(i)
      if (q) { if (c == '"') q = false }
      else if (br) { if (c == ']') br = false }
      else c match {
        case '"' => q = true
        case '[' => br = true
        case '\\' => i += 1 // the escaped char is a literal
        case _ => sb.append(Character.toLowerCase(c)): Unit
      }
      i += 1
    }
    val s = sb.toString
    val hasDate = s.indexOf('y') >= 0 || s.indexOf('d') >= 0
    val hasTime = s.indexOf('h') >= 0 || s.indexOf('s') >= 0
    (hasDate || (!hasTime && s.indexOf('m') >= 0), hasTime)
  }

  /** Render a date/time-formatted serial ISO: `yyyy-MM-dd`,
    * `HH:MM:SS`, or both space-joined. Deterministic closed form —
    * one IEEE parse, integer day/second math, proleptic-Gregorian day
    * arithmetic (what DuckDB's `DATE + INTEGER` also computes, so the
    * oracle re-derives the same string). The 1900 system keeps the
    * published epoch split around Excel's leap-year bug: serial 1 =
    * 1900-01-01 (epoch 1899-12-31 below 60), serial 61 = 1900-03-01
    * (epoch 1899-12-30 above), and the PHANTOM serial 60 — the
    * nonexistent 1900-02-29 — renders its raw lexical form, countable,
    * as do serial 0, negatives and serials past 9999-12-31. The 1904
    * system is a flat `1904-01-01 + days`. Seconds round half-up from
    * the day fraction; a round-up past midnight carries into the day.
    */
  private[graft] def renderSerial(raw: String, hasDate: Boolean,
      hasTime: Boolean, date1904: Boolean): String = {
    if (!hasDate && !hasTime) return raw
    val d = raw.trim.toDoubleOption.getOrElse(return raw)
    if (d < 0.0 || d >= 2958466.0) return raw
    var days = math.floor(d).toLong
    var secs = math.floor((d - days) * 86400.0 + 0.5).toLong
    if (secs >= 86400) { days += 1; secs = 0 }
    if (!date1904 && hasDate && (days == 60 || days == 0)) return raw
    val epoch =
      if (date1904) java.time.LocalDate.of(1904, 1, 1)
      else if (days <= 59) java.time.LocalDate.of(1899, 12, 31)
      else java.time.LocalDate.of(1899, 12, 30)
    val date = epoch.plusDays(days)
    val ds = f"${date.getYear}%04d-${date.getMonthValue}%02d-${date.getDayOfMonth}%02d"
    val ts = f"${secs / 3600}%02d:${(secs % 3600) / 60}%02d:${secs % 60}%02d"
    if (hasDate && hasTime) ds + " " + ts else if (hasDate) ds else ts
  }

  /** A workbook's style surface: per-cellXf number-format id, custom
    * format codes by id, and the 1904-epoch flag.
    */
  private[operators] final case class Styles(xfFmt: IndexedSeq[Int],
      custom: Map[Int, String], date1904: Boolean) {
    /** Render a numeric cell's raw lexical value under cellXf `s`. */
    def render(raw: String, s: Int): String = {
      if (s < 0 || s >= xfFmt.length) return raw
      val id = xfFmt(s)
      val (hasDate, hasTime) =
        custom.get(id).map(customClass).getOrElse(builtinClass(id))
      renderSerial(raw, hasDate, hasTime, date1904)
    }
  }

  /** Parse `xl/styles.xml` (cellXfs → numFmtId order, custom numFmts)
    * + the workbook's `date1904` flag. Absent/malformed parts yield
    * the empty style surface — raw rendering, never a guess.
    */
  private def parseStyles(byName: Map[String, Array[Byte]]): Styles = {
    val date1904 = byName.get("xl/workbook.xml").exists { d =>
      val xml = new String(d, UTF_8)
      val at = xml.indexOf("<workbookPr")
      at >= 0 && {
        val gt = xml.indexOf('>', at)
        gt >= 0 && (Option(XmlDump.attrValue(xml.substring(at + 1, gt), "date1904"))
          .exists(v => v == "1" || v == "true"))
      }
    }
    val xfs = Vector.newBuilder[Int]
    val custom = Map.newBuilder[Int, String]
    byName.get("xl/styles.xml").foreach { d =>
      val xml = new String(d, UTF_8)
      var inCellXfs = false
      var i = 0
      var going = true
      while (going && i < xml.length) {
        val lt = xml.indexOf('<', i)
        if (lt < 0) going = false
        else {
          val gt = xml.indexOf('>', lt)
          if (gt < 0) going = false // torn tag: completed styles keep
          else {
            val tag = xml.substring(lt + 1, gt)
            i = gt + 1
            if (tag.startsWith("cellXfs")) inCellXfs = true
            else if (tag.startsWith("/cellXfs")) inCellXfs = false
            else if (tag.startsWith("numFmt") && !tag.startsWith("numFmts")) {
              for {
                id <- Option(XmlDump.attrValue(tag, "numFmtId")).flatMap(_.toIntOption)
                code <- Option(XmlDump.attrValue(tag, "formatCode"))
              } custom += id -> XmlDump.decodeEntities(code)
            } else if (inCellXfs && tag.startsWith("xf") &&
              (tag.length == 2 || tag.charAt(2) == ' ' || tag.charAt(2) == '/'))
              xfs += Option(XmlDump.attrValue(tag, "numFmtId"))
                .flatMap(_.toIntOption).getOrElse(0)
          }
        }
      }
    }
    Styles(xfs.result(), custom.result(), date1904)
  }

  final case class XlsxGrid(stage: String, cells: Seq[Cell])

  private val SheetName = "^xl/worksheets/sheet([0-9]+)\\.xml$".r

  /** Column letters of an A1 reference → 1-based column index
    * (`A`→1, `Z`→26, `AA`→27). Zero when the reference has no letters.
    */
  private[graft] def colOf(ref: String): Int = {
    var c = 0
    var i = 0
    while (i < ref.length && ref.charAt(i) >= 'A' && ref.charAt(i) <= 'Z') {
      c = c * 26 + (ref.charAt(i) - 'A' + 1)
      i += 1
    }
    c
  }

  /** SHEET-GRID walk — the text a worksheet's cell grid actually
    * carries, which [[read]]'s string-table view misses whole for
    * inline-string cells (streaming writers), number/formula values,
    * and row order: walk `xl/worksheets/sheetN.xml` parts in part
    * order, resolve each `<c>`:
    *
    *   - `t="s"` → sharedStrings\[v\] (the central table, rich runs
    *     already concatenated);
    *   - `t="inlineStr"` → the `<is>` subtree's `<t>` runs,
    *     concatenated (same grammar as an `<si>` item);
    *   - everything else (number, `t="str"` formula result, `t="b"`,
    *     `t="e"`) → the raw `<v>` lexical form;
    *
    * in ROW order: `r` attributes are authoritative where present
    * (files legally store rows/cells out of order), and an attribute-
    * less row/cell continues after its predecessor (the streaming-
    * writer shorthand, ECMA-376 §18.3.1.73). Cells with no value
    * never emit. A shared-string index past the table degrades the
    * DOCUMENT (`strings` — an inconsistent package, never a guess).
    */
  private[operators] def gridEntries(es: Seq[ZipShard.ZipEntry],
      maxCells: Int = 1 << 20): XlsxGrid = {
    val byName = es.map(e => e.name -> e.data).toMap
    if (!byName.contains("xl/workbook.xml")) return XlsxGrid("part", Seq.empty)
    val shared: IndexedSeq[String] = byName.get("xl/sharedStrings.xml") match {
      case None => IndexedSeq.empty
      case Some(d) =>
        val none = 0.toChar.toString
        Docx.paragraphsTags(stripSubtrees(new String(d, UTF_8), "rPh"),
          "si", "t", none, none, none).toIndexedSeq
    }
    val styles = parseStyles(byName)
    val sheets = es.flatMap(e => e.name match {
      case SheetName(n) => Some((n.toInt, e.data))
      case _ => None
    }).sortBy(_._1)
    val out = Vector.newBuilder[Cell]
    var n = 0
    sheets.foreach { case (sheetNo, data) =>
      val xml = new String(data, UTF_8)
      var rowNo = 0
      var colNo = 0
      var i = 0
      var going = true
      // collected cells of the CURRENT sheet, sorted at the end: the r
      // attributes are authoritative, and files legally store rows out
      // of order — the emit order is always (row, col)
      val cells = scala.collection.mutable.ArrayBuffer[Cell]()
      while (going && i < xml.length && n < maxCells) {
        val lt = xml.indexOf('<', i)
        if (lt < 0) going = false
        else {
          val gt = xml.indexOf('>', lt)
          if (gt < 0) going = false // torn tag: completed cells keep
          else {
            val tag = xml.substring(lt + 1, gt)
            i = gt + 1
            if (tag.startsWith("row") && (tag.length == 3 ||
              tag.charAt(3) == ' ' || tag.charAt(3) == '/')) {
              rowNo = Option(XmlDump.attrValue(tag, "r")).flatMap(_.toIntOption)
                .getOrElse(rowNo + 1)
              colNo = 0
            } else if (tag.startsWith("c") && (tag.length == 1 ||
              tag.charAt(1) == ' ' || tag.charAt(1) == '/')) {
              val selfClose = tag.endsWith("/")
              colNo = Option(XmlDump.attrValue(tag, "r")).map(colOf)
                .filter(_ > 0).getOrElse(colNo + 1)
              val t = Option(XmlDump.attrValue(tag, "t")).getOrElse("n")
              val styleIdx = Option(XmlDump.attrValue(tag, "s"))
                .flatMap(_.toIntOption).getOrElse(-1)
              if (!selfClose) {
                // the cell's subtree runs to </c>; read <v> or <is>
                val close = xml.indexOf("</c>", i)
                val sub = if (close < 0) "" else xml.substring(i, close)
                if (close >= 0) i = close + 4
                else going = false // torn cell drops, prior cells keep
                val value: String =
                  if (t == "inlineStr") {
                    val none = 0.toChar.toString
                    Docx.paragraphsTags("<si>" + sub + "</si>",
                      "si", "t", none, none, none).headOption.orNull
                  } else {
                    val vo = sub.indexOf("<v>")
                    val vc = sub.indexOf("</v>")
                    if (vo < 0 || vc < vo) null
                    else {
                      val raw = XmlDump.decodeEntities(sub.substring(vo + 3, vc))
                      if (t == "s") {
                        val idx = raw.trim.toIntOption.getOrElse(-1)
                        if (idx < 0 || idx >= shared.length)
                          return XlsxGrid("strings", Seq.empty)
                        shared(idx)
                      } else if (t == "n") styles.render(raw, styleIdx)
                      else raw
                    }
                  }
                if (value != null && going) {
                  cells += Cell(sheetNo, if (rowNo == 0) 1 else rowNo, colNo, value)
                  n += 1
                }
              }
            }
          }
        }
      }
      out ++= cells.sortBy(c => (c.row, c.col))
    }
    XlsxGrid("ok", out.result())
  }

  def readGrid(bytes: Array[Byte]): XlsxGrid = {
    if (bytes == null) return XlsxGrid("zip", Seq.empty)
    if (Cfb.isCfb(bytes)) return XlsxGrid(Docx.cfbStage(bytes), Seq.empty)
    val es = ZipShard.entries(bytes)
    if (es.isEmpty) return XlsxGrid("zip", Seq.empty)
    gridEntries(es)
  }

  /** One row per grid CELL: (media_id, sheet_no, row_no, col_no,
    * value), row-major per sheet. Degraded documents emit nothing here
    * ([[textRows]] carries the countable stage).
    * Map-only.
    */
  def cellRows(df: DataFrame, idCol: String, binCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(df(idCol).cast("long"), df(binCol))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, b) =>
        readGrid(b).cells.map(c => (id, c.sheet, c.row, c.col, c.value))
      }
      .toDF(idCol, "sheet_no", "row_no", "col_no", "value")
  }

  /** The grid flattened to PROSE — what the curation pipeline feeds
    * on: per row, cells joined by TAB; rows by NEWLINE; sheets
    * concatenated in part order. A workbook with worksheet parts but
    * no textual cells yields "" (countable, distinct from a decode
    * NULL). Falls back to the shared-strings view when no worksheet
    * part exists (a strings-only package — the pre-grid surface).
    */
  private[graft] def gridText(es: Seq[ZipShard.ZipEntry]): (String, Int, String) = {
    if (!es.exists(e => SheetName.findFirstIn(e.name).isDefined)) {
      val d = readEntries(es)
      return (d.stage, d.strings.length,
        if (d.stage == "ok") d.strings.mkString("\n") else null)
    }
    val g = gridEntries(es)
    if (g.stage != "ok") return (g.stage, 0, null)
    val sb = new java.lang.StringBuilder
    var lastKey = (-1, -1)
    g.cells.foreach { c =>
      if (lastKey._1 >= 0)
        sb.append(if ((c.sheet, c.row) == lastKey) '\t' else '\n'): Unit
      sb.append(c.value): Unit
      lastKey = (c.sheet, c.row)
    }
    ("ok", g.cells.length, sb.toString)
  }

  /** One row per document: (media_id, stage, n_strings, text) — the
    * office-family shape (`text` = strings joined by NEWLINE).
    * Map-only.
    */
  def textRows(df: DataFrame, idCol: String, binCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(df(idCol).cast("long"), df(binCol))
      .as[(Long, Array[Byte])]
      .map { case (id, b) =>
        val d = read(b)
        (id, d.stage, d.strings.length,
          if (d.stage == "ok") d.strings.mkString("\n") else null)
      }
      .toDF(idCol, "stage", "n_strings", "text")
  }

  // ---- fixture writer (tests + gates only) ----

  private def xmlEscape(s: String): String =
    s.flatMap {
      case '&' => "&amp;"
      case '<' => "&lt;"
      case '>' => "&gt;"
      case c => c.toString
    }

  /** Minimal valid xlsx: content types, workbook, and a sharedStrings
    * part over `strings` — every SECOND item written in the rich-run
    * form (split at midpoint) to prove run concatenation.
    */
  def xlsx(strings: Seq[String], withSharedStrings: Boolean = true): Array[Byte] = {
    val contentTypes =
      """<?xml version="1.0"?>
        |<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
        |  <Default Extension="xml" ContentType="application/xml"/>
        |</Types>""".stripMargin
    val workbook =
      """<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
        |  <sheets><sheet name="Sheet1" sheetId="1"/></sheets>
        |</workbook>""".stripMargin
    val sis = strings.zipWithIndex.map { case (s, i) =>
      if (i % 2 == 1 && s.length >= 2) {
        val mid = s.length / 2
        s"<si><r><rPr/><t xml:space=\"preserve\">${xmlEscape(s.substring(0, mid))}</t></r>" +
          s"<r><t xml:space=\"preserve\">${xmlEscape(s.substring(mid))}</t></r></si>"
      } else s"<si><t xml:space=\"preserve\">${xmlEscape(s)}</t></si>"
    }.mkString
    val shared =
      s"""<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="${strings.length}">$sis</sst>"""
    ZipShard.zip(Seq(
      ("[Content_Types].xml", contentTypes.getBytes(UTF_8)),
      ("xl/workbook.xml", workbook.getBytes(UTF_8))) ++
      (if (withSharedStrings) Seq(("xl/sharedStrings.xml", shared.getBytes(UTF_8)))
      else Seq.empty), deflate = false)
  }

  /** 1-based column index → A1 letters (`1`→A, `27`→AA). */
  private def colRef(c: Int): String = {
    var n = c
    val sb = new java.lang.StringBuilder
    while (n > 0) {
      sb.insert(0, ('A' + (n - 1) % 26).toChar): Unit
      n = (n - 1) / 26
    }
    sb.toString
  }

  /** Minimal GRID xlsx: workbook, a sharedStrings table over the `s`
    * cells, and one worksheet whose rows are STORED in reverse order
    * with explicit `r` references — proving the reader emits by
    * reference, not storage order. Each row is (rowNo, cells), each
    * cell (kind, text) with kind `s` (shared-string ref), `is`
    * (inline string), `n` (raw number value) or `f<id>` (a number
    * cell styled with numFmtId `id` — cellXfs entries synthesize in
    * first-use order; `customFmts` declares custom codes; `date1904`
    * flags the workbook's epoch).
    */
  def xlsxGrid(rows: Seq[(Int, Seq[(String, String)])],
      customFmts: Seq[(Int, String)] = Nil,
      date1904: Boolean = false): Array[Byte] = {
    val contentTypes =
      """<?xml version="1.0"?>
        |<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
        |  <Default Extension="xml" ContentType="application/xml"/>
        |</Types>""".stripMargin
    val workbook =
      s"""<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
         |  ${if (date1904) "<workbookPr date1904=\"1\"/>" else ""}
         |  <sheets><sheet name="Sheet1" sheetId="1"/></sheets>
         |</workbook>""".stripMargin
    val sharedList = rows.flatMap(_._2).collect { case ("s", v) => v }.distinct
    val sharedIdx = sharedList.zipWithIndex.toMap
    // cellXfs: xf 0 is the general format; styled kinds get one xf per
    // distinct numFmtId in first-use order
    val fmtIds = rows.flatMap(_._2).collect {
      case (k, _) if k.startsWith("f") && k.drop(1).forall(_.isDigit) => k.drop(1).toInt
    }.distinct
    val xfOf = fmtIds.zipWithIndex.map { case (id, i) => id -> (i + 1) }.toMap
    val rowsXml = rows.reverse.map { case (rn, cells) =>
      val cx = cells.zipWithIndex.map { case ((kind, v), ci) =>
        val ref = colRef(ci + 1) + rn
        kind match {
          case "s" => s"""<c r="$ref" t="s"><v>${sharedIdx(v)}</v></c>"""
          case "is" =>
            s"""<c r="$ref" t="inlineStr"><is><t xml:space="preserve">${xmlEscape(v)}</t></is></c>"""
          case k if xfOf.contains(k.drop(1).toIntOption.getOrElse(-1)) && k.startsWith("f") =>
            s"""<c r="$ref" s="${xfOf(k.drop(1).toInt)}"><v>${xmlEscape(v)}</v></c>"""
          case _ => s"""<c r="$ref"><v>${xmlEscape(v)}</v></c>"""
        }
      }.mkString
      s"""<row r="$rn" spans="1:${cells.length}">$cx</row>"""
    }.mkString
    val sheet =
      s"""<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
         |<sheetData>$rowsXml</sheetData></worksheet>""".stripMargin
    val sis = sharedList.map(s =>
      s"""<si><t xml:space="preserve">${xmlEscape(s)}</t></si>""").mkString
    val shared =
      s"""<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="${sharedList.length}">$sis</sst>"""
    val stylesXml =
      if (fmtIds.isEmpty && customFmts.isEmpty) None
      else {
        val nf = customFmts.map { case (id, code) =>
          s"""<numFmt numFmtId="$id" formatCode="${xmlEscape(code)}"/>"""
        }.mkString
        val xfs = "<xf numFmtId=\"0\"/>" +
          fmtIds.map(id => s"""<xf numFmtId="$id" applyNumberFormat="1"/>""").mkString
        Some(
          s"""<styleSheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
             |<numFmts count="${customFmts.length}">$nf</numFmts>
             |<cellXfs count="${fmtIds.length + 1}">$xfs</cellXfs>
             |</styleSheet>""".stripMargin)
      }
    ZipShard.zip(Seq(
      ("[Content_Types].xml", contentTypes.getBytes(UTF_8)),
      ("xl/workbook.xml", workbook.getBytes(UTF_8))) ++
      (if (sharedList.nonEmpty)
        Seq(("xl/sharedStrings.xml", shared.getBytes(UTF_8))) else Seq.empty) ++
      stylesXml.map(s => ("xl/styles.xml", s.getBytes(UTF_8))).toSeq ++
      Seq(("xl/worksheets/sheet1.xml", sheet.getBytes(UTF_8))), deflate = false)
  }
}
