package graft.operators

import org.apache.spark.sql.DataFrame

/** Legacy Excel 97–2003 `.xls` ([MS-XLS], BIFF8) text extraction —
  * the third leg of the CFB family: the `Workbook` stream is a run of
  * RECORDS (type and length little-endian, 2 bytes each); the shared
  * string table lives in the `SST` record (0x00FC, spilling into
  * `CONTINUE` records with a RE-STATED compression flag at every
  * spill boundary — the format's one genuinely tricky rule), and cell
  * text arrives as `LabelSst` (0x00FD, an SST index), inline `Label`
  * (0x0204), `Number` (0x0203, IEEE double), `RK` (0x027E, the packed
  * 30-bit form), and `BoolErr` (0x0205) records inside worksheet
  * substreams (`BOF` dt=0x0010 opens one; sheet ordinal counts them).
  *
  * Emit order is row-major per sheet regardless of record order (the
  * [[Xlsx]] grid discipline; XLS rows/cols are 0-based on disk →
  * 1-based here). Number rendering is the deterministic closed form:
  * integral doubles print as longs, others via JVM double syntax.
  *
  * BIFF5 (`Book` streams, BOF version 0x0500 — the pre-unicode
  * format) walks too: 8-bit Labels and Format codes decode in the
  * CODEPAGE record's encoding; RK/Number/MulRk/BoolErr/Formula share
  * the BIFF8 layouts.
  *
  * Degrades, countable: not a parseable CFB → `cfb`; no
  * `Workbook`/`Book` stream → `part`; a pre-BIFF5 `Book` (BIFF2–4's
  * short-form records) → `biff`; `FilePass` (0x002F) → `encrypted`,
  * never a guessed decrypt; a malformed SST → `strings`.
  * A torn record tail drops, completed cells keep. Map-only.
  * Reference scope: the reference ingests line JSON only
  * (`App.java:136-162`).
  */
object Xls {

  import Bytes.{le16, le32, le64, leBytes}

  final case class XlsDoc(stage: String, cells: Seq[Xlsx.Cell])

  private val RBofT = 0x0809
  private val REof = 0x000A
  private val RSst = 0x00FC
  private val RContinue = 0x003C
  private val RFilePass = 0x002F
  private val RLabelSst = 0x00FD
  private val RLabel = 0x0204
  private val RNumber = 0x0203
  private val RRk = 0x027E
  private val RMulRk = 0x00BD
  private val RBoolErr = 0x0205
  private val RFormula = 0x0006
  private val RString = 0x0207
  private val RFormat = 0x041E
  private val RXf = 0x00E0
  private val RDate1904 = 0x0022
  private val RCodepage = 0x0042

  /** The CODEPAGE record's encoding as a JVM charset: the Windows
    * family (1250–1258) and the OEM/IBM DOS pages the oldest real
    * workbooks carry; 1200 (UTF-16, the BIFF8 marker value) and
    * anything the JVM lacks fall back to latin-1 — a readable
    * approximation, never a throw.
    */
  private def codepageCharset(cp: Int): java.nio.charset.Charset =
    try {
      if (cp >= 1250 && cp <= 1258) java.nio.charset.Charset.forName(s"windows-$cp")
      else if (cp == 10000) java.nio.charset.Charset.forName("MacRoman")
      else if (cp < 1000) java.nio.charset.Charset.forName(s"IBM$cp")
      else java.nio.charset.StandardCharsets.ISO_8859_1
    } catch {
      case _: Exception => java.nio.charset.StandardCharsets.ISO_8859_1
    }

  /** Cursor over the SST record's payload plus its CONTINUE spills.
    * Scalar fields read across chunk boundaries transparently;
    * CHARACTER runs re-read the compression flag at each boundary
    * (§2.5.293 — the stated rule this cursor exists for).
    */
  private final class SstCursor(chunks: IndexedSeq[Array[Byte]]) {
    private var ci = 0
    private var off = 0
    private def ensure(): Boolean = {
      while (ci < chunks.length && off >= chunks(ci).length) { ci += 1; off = 0 }
      ci < chunks.length
    }
    def r8(): Int = {
      if (!ensure()) throw new IllegalStateException("sst eof")
      val v = chunks(ci)(off) & 0xFF
      off += 1
      v
    }
    def r16(): Int = r8() | (r8() << 8)
    def r32(): Long = r16().toLong | (r16().toLong << 16)
    def skip(n: Long): Unit = (0L until n).foreach(_ => r8(): Unit)
    /** Read `cch` characters starting under `fHigh0`. Whenever the
      * run ENTERS a new chunk (including when the header ended flush
      * with a chunk boundary and the first char lands in the spill), a
      * fresh flags byte restates the width — §2.5.293's rule.
      */
    def chars(cch: Int, fHigh0: Boolean): String = {
      val sb = new java.lang.StringBuilder(cch)
      var remaining = cch
      var fHigh = fHigh0
      var curCi = ci // the chunk the header ended in
      while (remaining > 0) {
        if (!ensure()) throw new IllegalStateException("sst eof")
        if (ci != curCi) { // spill boundary: the width restates
          fHigh = (r8() & 1) != 0
          curCi = ci
        }
        val bytesPer = if (fHigh) 2 else 1
        val avail = (chunks(ci).length - off) / bytesPer
        if (avail == 0) throw new IllegalStateException("sst torn char")
        val n = math.min(remaining, avail)
        if (fHigh) sb.append(new String(chunks(ci), off, n * 2,
          java.nio.charset.StandardCharsets.UTF_16LE)): Unit
        else sb.append(new String(chunks(ci), off, n,
          java.nio.charset.StandardCharsets.ISO_8859_1)): Unit
        off += n * bytesPer
        remaining -= n
      }
      sb.toString
    }
  }

  /** Parse the SST payload chunks into the unique-string table. */
  private def parseSst(chunks: IndexedSeq[Array[Byte]]): Option[IndexedSeq[String]] =
    try {
      val c = new SstCursor(chunks)
      c.skip(4) // cstTotal
      val unique = c.r32()
      if (unique < 0 || unique > (1 << 22)) return None
      val out = Vector.newBuilder[String]
      (0L until unique).foreach { _ =>
        val cch = c.r16()
        val flags = c.r8()
        val fHigh = (flags & 0x01) != 0
        val fExt = (flags & 0x04) != 0
        val fRich = (flags & 0x08) != 0
        val cRun = if (fRich) c.r16() else 0
        val cbExt = if (fExt) c.r32() else 0L
        out += c.chars(cch, fHigh)
        c.skip(4L * cRun)
        c.skip(cbExt)
      }
      Some(out.result())
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Deterministic number rendering: integral doubles as longs. */
  private def num2str(d: Double): String =
    if (d == math.rint(d) && math.abs(d) < 9.007199254740992e15) d.toLong.toString
    else d.toString

  private def rkValue(rk: Long): Double = {
    val base =
      if ((rk & 2) != 0) (rk.toInt >> 2).toDouble // 30-bit signed int
      else java.lang.Double.longBitsToDouble((rk & 0xFFFFFFFCL) << 32)
    if ((rk & 1) != 0) base / 100.0 else base
  }

  /** Extract from an already-parsed container (the one-walk triage
    * path). A `Workbook` stream walks as BIFF8; a `Book` stream — the
    * pre-97 name — walks as BIFF5 when its BOF says so (version
    * 0x0500: 8-bit CODEPAGE-decoded Labels, no SST), as BIFF8 when a
    * writer put a 0x0600 stream under the old name, and degrades
    * `biff` for anything earlier (BIFF2–4's short-form records are
    * out of subset).
    */
  private[operators] def readCfb(doc: Cfb.CfbDoc, maxCells: Int = 1 << 20): XlsDoc = {
    var biff5 = false
    val wb = doc.streams.get("Workbook").orElse {
      doc.streams.get("Book").map { b =>
        if (b.length < 6 || le16(b, 0) != RBofT) return XlsDoc("biff", Seq.empty)
        le16(b, 4) match {
          case 0x0500 => biff5 = true
          case 0x0600 => ()
          case _ => return XlsDoc("biff", Seq.empty)
        }
        b
      }
    }.getOrElse(return XlsDoc("part", Seq.empty))

    // pass 1: record run — SST chunks, FilePass, cells per substream
    var sstChunks = Vector.empty[Array[Byte]]
    var inSst = false
    var sheet = 0
    var pendingFormulaStr: (Int, Int, Int) = null // Formula awaiting its String
    val raw = scala.collection.mutable.ArrayBuffer[(Int, Int, Int, String)]()
    val pendingSst = scala.collection.mutable.ArrayBuffer[(Int, Int, Int, Long)]()
    // number-format surface (globals substream, before any cell):
    // XF records in order carry ifmt at payload offset 2; Format
    // records carry custom codes; Date1904 flips the epoch. Numeric
    // cells render through the SAME date classifier as [[Xlsx]] — the
    // two grids must agree on what a date looks like.
    val xfs = scala.collection.mutable.ArrayBuffer[Int]()
    val fmtCodes = scala.collection.mutable.HashMap[Int, String]()
    var date1904 = false
    // BIFF5's 8-bit strings decode in the CODEPAGE record's encoding
    // (cp1252 absent one — the format's own default)
    var cp5: java.nio.charset.Charset =
      java.nio.charset.Charset.forName("windows-1252")
    def fmtNum(d: Double, ixfe: Int): String = {
      val rawStr = num2str(d)
      if (ixfe < 0 || ixfe >= xfs.length) rawStr
      else {
        val id = xfs(ixfe)
        val (hasDate, hasTime) =
          fmtCodes.get(id).map(Xlsx.customClass).getOrElse(Xlsx.builtinClass(id))
        Xlsx.renderSerial(rawStr, hasDate, hasTime, date1904)
      }
    }
    var i = 0
    var n = 0
    while (i + 4 <= wb.length && n < maxCells) {
      val typ = le16(wb, i)
      val len = le16(wb, i + 2)
      val end = i + 4 + len
      if (end > wb.length) i = wb.length // torn tail drops
      else {
        typ match {
          case RFilePass => return XlsDoc("encrypted", Seq.empty)
          case RBofT =>
            if (len >= 4 && le16(wb, i + 4 + 2) == 0x0010) sheet += 1
            inSst = false
          case RSst =>
            sstChunks = Vector(java.util.Arrays.copyOfRange(wb, i + 4, end))
            inSst = true
          case RContinue =>
            if (inSst) sstChunks :+= java.util.Arrays.copyOfRange(wb, i + 4, end)
          case RLabelSst if len >= 10 && sheet > 0 =>
            pendingSst += ((sheet, le16(wb, i + 4) + 1, le16(wb, i + 6) + 1,
              le32(wb, i + 10)))
            n += 1
            inSst = false
          case RLabel if len >= 9 && sheet > 0 =>
            // BIFF8: XLUnicodeString (cch, flags byte, chars);
            // BIFF5: cch then raw 8-bit chars in the CODEPAGE encoding
            val cch = le16(wb, i + 10)
            val s: String =
              if (biff5) {
                if (i + 12 + cch <= end) new String(wb, i + 12, cch, cp5) else null
              } else {
                val fHigh = (wb(i + 12) & 1) != 0
                val need = cch * (if (fHigh) 2 else 1)
                if (i + 13 + need <= end) {
                  if (fHigh) new String(wb, i + 13, need,
                    java.nio.charset.StandardCharsets.UTF_16LE)
                  else new String(wb, i + 13, need,
                    java.nio.charset.StandardCharsets.ISO_8859_1)
                } else null
              }
            if (s != null) {
              raw += ((sheet, le16(wb, i + 4) + 1, le16(wb, i + 6) + 1, s))
              n += 1
            }
            inSst = false
          case RNumber if len >= 14 && sheet > 0 =>
            val bits = le64(wb, i + 10)
            raw += ((sheet, le16(wb, i + 4) + 1, le16(wb, i + 6) + 1,
              fmtNum(java.lang.Double.longBitsToDouble(bits), le16(wb, i + 8))))
            n += 1
            inSst = false
          case RRk if len >= 10 && sheet > 0 =>
            raw += ((sheet, le16(wb, i + 4) + 1, le16(wb, i + 6) + 1,
              fmtNum(rkValue(le32(wb, i + 10)), le16(wb, i + 8))))
            n += 1
            inSst = false
          case RMulRk if len >= 12 && (len - 6) % 6 == 0 && sheet > 0 =>
            // a run of RK cells in one record (row, colFirst,
            // (ixfe+rk)×n, colLast) — what real writers emit for
            // numeric row spans
            val row = le16(wb, i + 4) + 1
            val colFirst = le16(wb, i + 6) + 1
            val cnt = (len - 6) / 6
            (0 until cnt).foreach { j =>
              raw += ((sheet, row, colFirst + j,
                fmtNum(rkValue(le32(wb, i + 8 + 6 * j + 2)), le16(wb, i + 8 + 6 * j))))
              n += 1
            }
            inSst = false
          case RBoolErr if len >= 8 && sheet > 0 =>
            if ((wb(i + 4 + 7) & 0xFF) == 0) { // fError=0: a boolean
              raw += ((sheet, le16(wb, i + 4) + 1, le16(wb, i + 6) + 1,
                if (wb(i + 4 + 6) != 0) "TRUE" else "FALSE"))
              n += 1
            }
            inSst = false
          case RFormula if len >= 14 && sheet > 0 =>
            // the CACHED result rides the record (§2.4.127): a plain
            // IEEE double, or the FF FF-tagged special — type 0 defers
            // to the FOLLOWING String record, 1 is a bool, 2 an error
            val row = le16(wb, i + 4) + 1
            val c0 = le16(wb, i + 6) + 1
            if (le16(wb, i + 10 + 6) == 0xFFFF) {
              (wb(i + 10) & 0xFF) match {
                case 0 => pendingFormulaStr = (sheet, row, c0) // String follows
                case 1 =>
                  raw += ((sheet, row, c0, if (wb(i + 12) != 0) "TRUE" else "FALSE"))
                  n += 1
                case _ => () // error results carry no text
              }
            } else {
              val bits = le64(wb, i + 10)
              raw += ((sheet, row, c0,
                fmtNum(java.lang.Double.longBitsToDouble(bits), le16(wb, i + 8))))
              n += 1
            }
            inSst = false
          case RString if len >= 3 && pendingFormulaStr != null =>
            val cch = le16(wb, i + 4)
            val s: String =
              if (biff5) {
                if (i + 6 + cch <= end) new String(wb, i + 6, cch, cp5) else null
              } else {
                val fHigh = (wb(i + 6) & 1) != 0
                val need = cch * (if (fHigh) 2 else 1)
                if (i + 7 + need <= end) {
                  if (fHigh) new String(wb, i + 7, need,
                    java.nio.charset.StandardCharsets.UTF_16LE)
                  else new String(wb, i + 7, need,
                    java.nio.charset.StandardCharsets.ISO_8859_1)
                } else null
              }
            if (s != null) {
              val (sh, r0, c0) = pendingFormulaStr
              raw += ((sh, r0, c0, s))
              n += 1
            }
            pendingFormulaStr = null
            inSst = false
          case RXf if len >= 4 =>
            xfs += le16(wb, i + 4 + 2) // ifmt at XF payload offset 2
            inSst = false
          case RFormat if len >= 5 =>
            // BIFF8: ifmt + an XLUnicodeString (cch 2, flags, chars);
            // BIFF5: ifmt + a 1-byte cch + 8-bit chars
            val ifmt = le16(wb, i + 4)
            if (biff5) {
              val cch = wb(i + 6) & 0xFF
              if (i + 7 + cch <= end)
                fmtCodes(ifmt) = new String(wb, i + 7, cch, cp5)
            } else {
              val cch = le16(wb, i + 6)
              val fHigh = (wb(i + 8) & 1) != 0
              val need = cch * (if (fHigh) 2 else 1)
              if (i + 9 + need <= end) {
                fmtCodes(ifmt) =
                  if (fHigh) new String(wb, i + 9, need,
                    java.nio.charset.StandardCharsets.UTF_16LE)
                  else new String(wb, i + 9, need,
                    java.nio.charset.StandardCharsets.ISO_8859_1)
              }
            }
            inSst = false
          case RDate1904 if len >= 2 =>
            date1904 = le16(wb, i + 4) != 0
            inSst = false
          case RCodepage if len >= 2 =>
            cp5 = codepageCharset(le16(wb, i + 4))
            inSst = false
          case REof => inSst = false
          case _ => inSst = false
        }
        i = end
      }
    }

    // pass 2: resolve SST references through the parsed table
    val resolved: Seq[(Int, Int, Int, String)] =
      if (pendingSst.isEmpty) Seq.empty
      else parseSst(sstChunks) match {
        case None => return XlsDoc("strings", Seq.empty)
        case Some(table) =>
          pendingSst.toSeq.map { case (s, r, c, isst) =>
            if (isst < 0 || isst >= table.length)
              return XlsDoc("strings", Seq.empty)
            (s, r, c, table(isst.toInt))
          }
      }
    val cells = (raw.toSeq ++ resolved)
      .sortBy(t => (t._1, t._2, t._3))
      .map(t => Xlsx.Cell(t._1, t._2, t._3, t._4))
    XlsDoc("ok", cells)
  }

  def read(bytes: Array[Byte]): XlsDoc =
    Cfb.parse(bytes) match {
      case None => XlsDoc("cfb", Seq.empty)
      case Some(doc) =>
        if (Cfb.isEncryptedOoxml(doc)) XlsDoc("encrypted", Seq.empty)
        else readCfb(doc)
    }

  /** The grid flattened to PROSE — per row, cells tab-joined; rows
    * newline-joined; sheets concatenated (the [[Xlsx.gridText]]
    * contract, shared flatten discipline).
    */
  private[graft] def gridText(cells: Seq[Xlsx.Cell]): String = {
    val sb = new java.lang.StringBuilder
    var last = (-1, -1)
    cells.foreach { c =>
      if (last._1 >= 0) sb.append(if ((c.sheet, c.row) == last) '\t' else '\n'): Unit
      sb.append(c.value): Unit
      last = (c.sheet, c.row)
    }
    sb.toString
  }

  /** One row per grid cell: (media_id, sheet_no, row_no, col_no,
    * value). Map-only.
    */
  def cellRows(df: DataFrame, idCol: String, binCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(df(idCol).cast("long"), df(binCol))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, b) =>
        val d = if (b == null || !Cfb.isCfb(b)) XlsDoc("cfb", Seq.empty) else read(b)
        d.cells.map(c => (id, c.sheet, c.row, c.col, c.value))
      }
      .toDF(idCol, "sheet_no", "row_no", "col_no", "value")
  }

  /** One row per document: (media_id, stage, n_cells, text). Map-only. */
  def textRows(df: DataFrame, idCol: String, binCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(df(idCol).cast("long"), df(binCol))
      .as[(Long, Array[Byte])]
      .map { case (id, b) =>
        val d = if (b == null || !Cfb.isCfb(b)) XlsDoc("cfb", Seq.empty) else read(b)
        (id, d.stage, d.cells.length,
          if (d.stage == "ok") gridText(d.cells) else null)
      }
      .toDF(idCol, "stage", "n_cells", "text")
  }

  // ---- fixture writer (tests + gates only) ----

  private def rec(typ: Int, payload: Array[Byte]): Array[Byte] = {
    val b = new java.io.ByteArrayOutputStream()
    b.write(typ & 0xFF); b.write((typ >> 8) & 0xFF)
    b.write(payload.length & 0xFF); b.write((payload.length >> 8) & 0xFF)
    b.write(payload)
    b.toByteArray
  }

  private def bof(dt: Int, vers: Int): Array[Byte] =
    rec(RBofT, leBytes(vers, 2) ++ leBytes(dt, 2) ++ new Array[Byte](12))

  /** Minimal valid BIFF8 .xls: globals substream (BOF + SST + EOF) and
    * one worksheet substream whose rows are STORED out of order,
    * mixing LabelSst / inline Label / Number / RK cells. Each row of
    * `rows` is (rowNo, cells), each cell (kind, text) with kind `s`
    * (SST ref), `l` (inline label), `n` (number, RK when integral
    * small) or `f<id>` (a number styled with format id `id` — XF
    * records synthesize in first-use order; `customFmts` writes
    * Format records; `date1904` plants the epoch record). `split =
    * true` spills the SST into a CONTINUE mid-string with the
    * re-stated flags byte — the boundary rule the reader must honor.
    * `encrypted = true` plants a FilePass record instead. `biff5 =
    * true` writes the pre-97 form: a `Book` stream with BOF version
    * 0x0500, a CODEPAGE record (`codepage`), 8-bit Labels with no
    * flags byte, 1-byte-cch Format codes — and no SST (`s` kinds are
    * a fixture error there).
    */
  def xls(rows: Seq[(Int, Seq[(String, String)])],
      split: Boolean = false, encrypted: Boolean = false,
      customFmts: Seq[(Int, String)] = Nil,
      date1904: Boolean = false,
      biff5: Boolean = false, codepage: Int = 1252): Array[Byte] = {
    val streamName = if (biff5) "Book" else "Workbook"
    val vers = if (biff5) 0x0500 else 0x0600
    val cs = codepageCharset(codepage)
    require(!biff5 || !rows.exists(_._2.exists(_._1 == "s")),
      "BIFF5 has no SST: use inline 'l' labels")
    val stream = new java.io.ByteArrayOutputStream()
    stream.write(bof(0x0005, vers))
    if (encrypted) {
      stream.write(rec(RFilePass, new Array[Byte](6)))
      stream.write(rec(REof, Array.empty))
      return Cfb.cfb(Seq((streamName, stream.toByteArray)))
    }
    if (biff5) stream.write(rec(RCodepage, leBytes(codepage, 2)))
    // style surface (globals, before the SST): Date1904, Format
    // records for custom codes, and an XF table — XF 0 general plus
    // one XF per distinct styled format id in first-use order
    def isStyled(k: String): Boolean =
      k.length > 1 && k.charAt(0) == 'f' && k.drop(1).forall(_.isDigit)
    val fmtIds = rows.flatMap(_._2).collect {
      case (k, _) if isStyled(k) => k.drop(1).toInt
    }.distinct
    val xfOf = fmtIds.zipWithIndex.map { case (id, j) => id -> (j + 1) }.toMap
    if (date1904) stream.write(rec(RDate1904, leBytes(1, 2)))
    customFmts.foreach { case (id, code) =>
      if (biff5)
        stream.write(rec(RFormat, leBytes(id, 2) ++
          Array[Byte](code.length.toByte) ++ code.getBytes(cs)))
      else
        stream.write(rec(RFormat, leBytes(id, 2) ++ leBytes(code.length, 2) ++
          Array[Byte](0) ++
          code.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)))
    }
    if (fmtIds.nonEmpty) (0 +: fmtIds).foreach { id =>
      val xf = new Array[Byte](20)
      xf(2) = (id & 0xFF).toByte; xf(3) = ((id >> 8) & 0xFF).toByte
      stream.write(rec(RXf, xf))
    }
    val sstStrings = rows.flatMap(_._2).collect { case ("s", v) => v }.distinct
    val sstIdx = sstStrings.zipWithIndex.toMap
    if (sstStrings.nonEmpty) {
      // every second string writes UTF-16 (fHigh) to exercise both widths
      def strBytes(s: String, hi: Boolean): Array[Byte] =
        leBytes(s.length, 2) ++ Array[Byte](if (hi) 1 else 0) ++
          (if (hi) s.getBytes(java.nio.charset.StandardCharsets.UTF_16LE)
          else s.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
      val header = leBytes(sstStrings.length.toLong, 4) ++ leBytes(sstStrings.length.toLong, 4)
      if (split && sstStrings.head.length >= 2) {
        // spill the FIRST string mid-characters: SST carries its header
        // + first char; CONTINUE re-states the flags byte for the rest
        val s0 = sstStrings.head
        val part1 = header ++ leBytes(s0.length, 2) ++ Array[Byte](0) ++
          s0.substring(0, 1).getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
        val part2 = Array[Byte](0) ++
          s0.substring(1).getBytes(java.nio.charset.StandardCharsets.ISO_8859_1) ++
          sstStrings.drop(1).zipWithIndex.flatMap { case (s, j) =>
            strBytes(s, (j + 1) % 2 == 1)
          }
        stream.write(rec(RSst, part1))
        stream.write(rec(RContinue, part2))
      } else {
        val body = header ++ sstStrings.zipWithIndex.flatMap { case (s, j) =>
          strBytes(s, j % 2 == 1)
        }
        stream.write(rec(RSst, body))
      }
    }
    stream.write(rec(REof, Array.empty))
    stream.write(bof(0x0010, vers))
    rows.reverse.foreach { case (rn, cells) =>
      // a row of ≥2 all-small-integer cells (styled included — MulRk
      // carries a per-cell ixfe) ships as ONE MulRk record (the run
      // form real writers emit); everything else per-cell
      val allSmallInts = cells.length >= 2 && cells.forall { case (k, v) =>
        (k == "n" || isStyled(k)) && v.toDoubleOption.exists(d =>
          d == d.toLong.toDouble && math.abs(d.toLong) < (1L << 29))
      }
      if (allSmallInts) {
        val body = leBytes(rn - 1, 2) ++ leBytes(0, 2) ++
          cells.flatMap { case (k, v) =>
            leBytes(if (isStyled(k)) xfOf(k.drop(1).toInt) else 0, 2) ++
              leBytes((v.toDouble.toLong << 2) | 2L, 4)
          } ++ leBytes(cells.length - 1, 2)
        stream.write(rec(RMulRk, body))
      } else cells.zipWithIndex.foreach { case ((kind, v), ci) =>
        val ixfe = if (isStyled(kind)) xfOf(kind.drop(1).toInt) else 0
        val head = leBytes(rn - 1, 2) ++ leBytes(ci, 2) ++ leBytes(ixfe, 2)
        kind match {
          case "s" =>
            stream.write(rec(RLabelSst, head ++ leBytes(sstIdx(v).toLong, 4)))
          case "l" =>
            if (biff5) {
              val vb = v.getBytes(cs)
              stream.write(rec(RLabel, head ++ leBytes(vb.length, 2) ++ vb))
            } else
              stream.write(rec(RLabel, head ++ leBytes(v.length, 2) ++ Array[Byte](0) ++
                v.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)))
          case "f" => // formula, cached NUMERIC result inline
            val bits = java.lang.Double.doubleToLongBits(v.toDouble)
            stream.write(rec(RFormula, head ++
              leBytes(bits, 8) ++
              leBytes(0, 2) ++ leBytes(0L, 4) ++ leBytes(0, 2))) // flags, chn, empty rgce
          case "fs" => // formula, cached STRING result in a String record
            stream.write(rec(RFormula, head ++
              Array[Byte](0, 0, 0, 0, 0, 0, 0xFF.toByte, 0xFF.toByte) ++
              leBytes(0, 2) ++ leBytes(0L, 4) ++ leBytes(0, 2)))
            stream.write(rec(RString, leBytes(v.length, 2) ++ Array[Byte](0) ++
              v.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)))
          case _ =>
            val d = v.toDouble
            val asInt = d.toLong
            if (d == asInt.toDouble && math.abs(asInt) < (1L << 29))
              stream.write(rec(RRk, head ++ leBytes((asInt << 2) | 2L, 4)))
            else {
              val bits = java.lang.Double.doubleToLongBits(d)
              stream.write(rec(RNumber, head ++ leBytes(bits, 8)))
            }
        }
      }
    }
    stream.write(rec(REof, Array.empty))
    Cfb.cfb(Seq((streamName, stream.toByteArray)))
  }
}
