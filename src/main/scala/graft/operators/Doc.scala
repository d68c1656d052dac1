package graft.operators

import org.apache.spark.sql.DataFrame

/** Legacy Word 97–2003 `.doc` ([MS-DOC]) text extraction — the
  * highest-volume CFB payload in real document dumps, previously
  * binned whole as `encrypted` on the container magic. The published
  * decode: the `WordDocument` stream opens with the FIB (magic
  * 0xA5EC); its flags say whether the file is REALLY encrypted
  * (fEncrypted/fObfuscated — those keep degrading, never a guessed
  * decrypt) and which table stream (`0Table`/`1Table`) holds the Clx;
  * the Clx's Pcdt carries the PIECE TABLE (PlcPcd) mapping character
  * positions to file offsets, each piece either 8-bit cp1252
  * (fCompressed, offset fc/2) or UTF-16LE (offset fc). Only the main
  * document range (`ccpText`) surfaces — footnote/header/annotation
  * text follows it in CP space and is excluded by the count, the
  * header-part exclusion in address form.
  *
  * Paragraph model: pieces concatenate in CP order; `\r` (and the
  * table cell/row mark 0x07) end a paragraph, 0x0B (the manual line
  * break) becomes NEWLINE inside one, TAB keeps, every other control
  * char below 0x20 drops. FIELDS (§2.8.25): 0x13 opens the field's
  * INSTRUCTION part (the `HYPERLINK "…"` command — not prose, it
  * suppresses whole), 0x14 switches to the visible RESULT part, 0x15
  * closes; fields nest (a TOC holds hyperlinks), and a char surfaces
  * only when every enclosing field sits in its result part. Paragraph
  * marks stay structural regardless (fields legally span paragraphs).
  * A final paragraph mark TERMINATES (no empty trailing paragraph —
  * Word always stores one).
  *
  * Degrades, all countable: not a parseable CFB → `cfb`; a CFB
  * without a `WordDocument` stream (an .xls/.ppt/other OLE) → `part`;
  * fEncrypted (XOR obfuscation included) → `encrypted`; a bad FIB
  * magic → `fib`; a malformed/out-of-range piece table → `clx`.
  * Map-only over (media_id, payload). Reference scope: the reference
  * ingests line JSON only (`App.java:136-162`).
  */
object Doc {

  import Bytes.{le16, le32, putLe}

  final case class DocText(stage: String, paragraphs: Seq[String])

  /** FIB flag bits at offset 0x0A. */
  private val FEncrypted = 0x0100
  private val FWhichTblStm = 0x0200

  /** Is this `WordDocument` stream's FIB flagged encrypted? The
    * routing peek [[Office.routedText]] uses so a locked .doc classifies
    * `encrypted` (not `doc`) without running the piece table.
    */
  private[operators] def fibEncrypted(wd: Array[Byte]): Boolean =
    wd.length >= 12 && le16(wd, 0) == 0xA5EC && (le16(wd, 0x0A) & FEncrypted) != 0

  /** Extract from an already-parsed container (the one-walk triage
    * path — [[read]] wraps it for standalone use).
    */
  private[operators] def readCfb(doc: Cfb.CfbDoc, maxChars: Int = 16 << 20): DocText = {
    val wd = doc.streams.getOrElse("WordDocument", return DocText("part", Seq.empty))
    if (wd.length < 0x01AA) return DocText("fib", Seq.empty)
    if (le16(wd, 0) != 0xA5EC) return DocText("fib", Seq.empty)
    val flags = le16(wd, 0x0A)
    if ((flags & FEncrypted) != 0) return DocText("encrypted", Seq.empty)
    val ccpText = le32(wd, 0x4C)
    val fcClx = le32(wd, 0x01A2)
    val lcbClx = le32(wd, 0x01A6)
    val tableName = if ((flags & FWhichTblStm) != 0) "1Table" else "0Table"
    val table = doc.streams.getOrElse(tableName, return DocText("clx", Seq.empty))
    if (fcClx + lcbClx > table.length || lcbClx < 5) return DocText("clx", Seq.empty)

    // the Clx: Prc entries (0x01 + 2-byte count + grpprl) precede the
    // Pcdt (0x02 + 4-byte lcb + PlcPcd)
    var i = fcClx.toInt
    val end = (fcClx + lcbClx).toInt
    while (i < end && table(i) == 0x01) {
      if (i + 3 > end) return DocText("clx", Seq.empty)
      i += 3 + le16(table, i + 1)
    }
    if (i + 5 > end || table(i) != 0x02) return DocText("clx", Seq.empty)
    val lcbPlc = le32(table, i + 1)
    i += 5
    if (i + lcbPlc > end || lcbPlc < 16 || (lcbPlc - 4) % 12 != 0)
      return DocText("clx", Seq.empty)
    val n = ((lcbPlc - 4) / 12).toInt
    val cps = (0 to n).map(k => le32(table, i + k * 4))
    val pcdOff = i + (n + 1) * 4
    if (!cps.sliding(2).forall(p => p(1) >= p(0))) return DocText("clx", Seq.empty)

    val sb = new java.lang.StringBuilder
    var k = 0
    while (k < n && sb.length < maxChars) {
      val cpStart = cps(k)
      val cpEnd = math.min(cps(k + 1), ccpText) // main document text only
      if (cpEnd > cpStart) {
        val fcRaw = le32(table, pcdOff + k * 8 + 2)
        val compressed = (fcRaw & 0x40000000L) != 0
        val fc = fcRaw & 0x3FFFFFFFL
        // the span is attacker-controlled u32 arithmetic (cps and
        // ccpText are only monotonicity-checked): a span past the char
        // cap would wrap `.toInt` negative, slip the bounds check and
        // throw inside `new String` — degrade instead of truncating
        val span = cpEnd - cpStart
        if (span > maxChars) return DocText("clx", Seq.empty)
        val count = span.toInt
        if (compressed) {
          val off = (fc / 2).toInt
          if (off + count > wd.length) return DocText("clx", Seq.empty)
          sb.append(new String(wd, off, count,
            java.nio.charset.Charset.forName("windows-1252"))): Unit
        } else {
          val off = fc.toInt
          if (off + 2L * count > wd.length) return DocText("clx", Seq.empty)
          sb.append(new String(wd, off, 2 * count,
            java.nio.charset.StandardCharsets.UTF_16LE)): Unit
        }
      }
      k += 1
    }

    // paragraph assembly under the stated control-char + field rules
    val out = Vector.newBuilder[String]
    val para = new java.lang.StringBuilder
    var sawFinalMark = false
    var fieldStack = List.empty[Boolean] // true = in the instruction part
    val text = sb.toString
    var j = 0
    while (j < text.length) {
      val c = text.charAt(j)
      if (c == '\r' || c == 0x07) { // structural: fields notwithstanding
        out += para.toString; para.setLength(0)
        sawFinalMark = j == text.length - 1
      }
      else if (c == 0x13) fieldStack = true :: fieldStack
      else if (c == 0x14) fieldStack = fieldStack match {
        case _ :: t => false :: t
        case Nil => Nil // stray separator: ignore
      }
      else if (c == 0x15) fieldStack = fieldStack.drop(1)
      else if (!fieldStack.contains(true)) {
        if (c == 0x0B) para.append('\n'): Unit
        else if (c == '\t' || c >= 0x20) para.append(c): Unit
        // other control chars (anchors, deleted marks) drop
      }
      j += 1
    }
    if (!sawFinalMark && para.length > 0) out += para.toString
    DocText("ok", out.result())
  }

  def read(bytes: Array[Byte]): DocText =
    Cfb.parse(bytes) match {
      case None => DocText("cfb", Seq.empty)
      case Some(doc) =>
        if (Cfb.isEncryptedOoxml(doc)) DocText("encrypted", Seq.empty)
        else readCfb(doc)
    }

  /** One row per document: (media_id, stage, n_paragraphs, text) —
    * the office-family shape. Map-only.
    */
  def textRows(df: DataFrame, idCol: String, binCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(df(idCol).cast("long"), df(binCol))
      .as[(Long, Array[Byte])]
      .map { case (id, b) =>
        val d = if (b == null || !Cfb.isCfb(b)) DocText("cfb", Seq.empty) else read(b)
        (id, d.stage, d.paragraphs.length,
          if (d.stage == "ok") d.paragraphs.mkString("\n") else null)
      }
      .toDF(idCol, "stage", "n_paragraphs", "text")
  }

  // ---- fixture writer (tests + gates only) ----

  /** Minimal valid .doc: a CFB ([[Cfb.cfb]]) holding a `WordDocument`
    * stream (FIB + text) and a `0Table` stream (Clx with a Pcdt).
    * The text (each paragraph `\r`-terminated; embedded `\n` becomes
    * the 0x0B line break) splits into TWO pieces at the midpoint —
    * the first stored 8-bit cp1252 when its chars allow, the second
    * UTF-16LE — so the gate exercises the piece machinery, not just a
    * flat read. `ccpText` covers exactly this text; a poison FOOTNOTE
    * range rides after it in CP space to prove the main-range clip,
    * and the first paragraph wraps in a HYPERLINK field whose
    * instruction text must never surface. `encrypted = true` sets
    * fEncrypted over junk — classification without a decrypt.
    */
  def doc(paras: Seq[String], encrypted: Boolean = false): Array[Byte] = {
    if (encrypted) {
      val fib = new Array[Byte](1472)
      putLe(fib, 0, 0xA5EC, 2)
      putLe(fib, 2, 0x00C1, 2)
      putLe(fib, 0x0A, FEncrypted, 2)
      return Cfb.cfb(Seq(("WordDocument", fib), ("0Table", new Array[Byte](64))))
    }
    // the FIRST paragraph always wraps in a HYPERLINK field whose
    // instruction part is poison: a correct reader extracts exactly
    // `paras` (the field is transparent), a naive one leaks the
    // command text into the prose
    val main = paras.zipWithIndex.map { case (p, idx) =>
      val body = p.replace("\n", 0x0B.toChar.toString)
      (if (idx == 0 && body.nonEmpty)
        s"${0x13.toChar}HYPERLINK \"http://fixture.invalid/f\" ${0x14.toChar}$body${0x15.toChar}"
      else body) + "\r"
    }.mkString
    val poison = "FOOTNOTE MUST NOT SURFACE\r"
    val text = main + poison
    val split = main.length / 2
    val piece1 = text.substring(0, split)
    val piece2 = text.substring(split)
    val p1Compressed = piece1.forall(c => c.toInt < 0x100)

    val fibLen = 1472
    val p1Bytes =
      if (p1Compressed) piece1.getBytes(java.nio.charset.Charset.forName("windows-1252"))
      else piece1.getBytes(java.nio.charset.StandardCharsets.UTF_16LE)
    val p2Bytes = piece2.getBytes(java.nio.charset.StandardCharsets.UTF_16LE)
    val wd = new Array[Byte](fibLen + p1Bytes.length + p2Bytes.length)
    putLe(wd, 0, 0xA5EC, 2) // wIdent
    putLe(wd, 2, 0x00C1, 2) // nFib: Word 97
    putLe(wd, 0x0A, 0, 2) // flags: 0Table, not encrypted
    putLe(wd, 32, 14, 2) // csw
    putLe(wd, 62, 22, 2) // cslw
    putLe(wd, 0x4C, main.length.toLong, 4) // ccpText: the MAIN range only
    putLe(wd, 152, 0x5D, 2) // cbRgFcLcb (Word 97)
    System.arraycopy(p1Bytes, 0, wd, fibLen, p1Bytes.length)
    System.arraycopy(p2Bytes, 0, wd, fibLen + p1Bytes.length, p2Bytes.length)

    // piece table: CPs [0, split, text.length], PCDs with fc encoding
    val lcbPlc = 3 * 4 + 2 * 8
    val clx = new Array[Byte](1 + 4 + lcbPlc)
    clx(0) = 0x02
    putLe(clx, 1, lcbPlc.toLong, 4)
    putLe(clx, 5, 0L, 4)
    putLe(clx, 9, split.toLong, 4)
    putLe(clx, 13, text.length.toLong, 4)
    val fc1 =
      if (p1Compressed) (fibLen.toLong * 2) | 0x40000000L
      else fibLen.toLong
    val fc2 = (fibLen + p1Bytes.length).toLong
    putLe(clx, 17 + 2, fc1, 4) // PCD 1: fc at +2
    putLe(clx, 25 + 2, fc2, 4) // PCD 2
    putLe(wd, 0x01A2, 0L, 4) // fcClx: Clx at table stream offset 0
    putLe(wd, 0x01A6, clx.length.toLong, 4) // lcbClx
    Cfb.cfb(Seq(("WordDocument", wd), ("0Table", clx)))
  }
}
