package graft.operators

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.DataFrame

/** PDF text extraction — the last major real-world corpus source next
  * to crawl archives ([[Warc]]), published dumps ([[XmlDump]]) and
  * dataset shards ([[TarShard]]): papers, reports and books arrive as
  * PDF, and a curation pipeline needs their prose in the same corpus
  * frame. Pure-JVM, hand-rolled against the PUBLISHED spec
  * (ISO 32000-1, the freely published PDF 1.7 reference), covering the
  * honest subset a lenient batch reader can defend:
  *
  *   - BOTH cross-reference forms, following the `/Prev` chain so
  *     incremental updates resolve newest-first (the PDF flavor of the
  *     dump merge's newest-revision-wins): classic `xref` … `trailer`
  *     tables AND the PDF 1.5+ cross-reference STREAMS (`/W` field
  *     widths, `/Index` subsections, TIFF/PNG predictors, type-2
  *     entries resolving through `/Type /ObjStm` object streams,
  *     hybrid `/XRefStm` pointers) — what PDFs in the wild actually
  *     carry since 2006;
  *   - the object grammar: dicts, arrays, names (with `#xx` escapes),
  *     literal strings (octal escapes, nested parens, line
  *     continuations, CR/CRLF → LF), hex strings, indirect refs,
  *     streams with indirect `/Length` and an `endstream` rescue scan;
  *   - `FlateDecode` via the JDK's zlib (`java.util.zip.Inflater` —
  *     the same platform primitive the PNG path leans on), bounded by
  *     a bomb cap;
  *   - the page tree (inherited `/Resources`) and the text-showing
  *     content operators: `Tj` `TJ` `'` `"` with `Td`/`TD`/`T*`/`Tm`
  *     line structure, `Tf` font selection;
  *   - the three simple-font byte encodings from Annex D:
  *     WinAnsiEncoding, MacRomanEncoding and StandardEncoding
  *     (the default when a Type1 font declares none);
  *   - CID-keyed Type0 fonts in the DOMINANT modern form: /Encoding
  *     /Identity-H (2-byte codes) with an embedded /ToUnicode CMap
  *     (`bfchar`/`bfrange` per §9.10.3) — what most PDFs produced
  *     after ~2010 actually ship.
  *
  * Everything outside that subset degrades to the family's visible
  * NULL with a counted stage, never a guess: encrypted files
  * (`encrypted` — strings/streams are ciphertext), Type0 fonts with
  * any OTHER CMap arrangement or no ToUnicode at all (`cid_font` —
  * a glyph stream without its map is unreadable), non-flate
  * filters and out-of-shape predictors (`filter`), `/Differences` and
  * unknown encodings (`encoding` — glyph-name maps are out of scope),
  * a startxref landing on neither table form (`xref`), torn/hostile
  * bytes (`parse`), text over budget (`budget`).
  * The extraction itself is map-only over (media_id, payload) rows —
  * at 100 TB the first exchange belongs to the consumer.
  *
  * Line structure rule (deterministic so oracles re-derive it):
  * `Td`/`TD` with a non-zero ty, `T*`, `Tm`, `'`, `"` and page
  * boundaries mark a pending line break, emitted lazily before the
  * next shown string; a `TJ` kerning adjustment below -100 (thousandths
  * of text space — a word gap, not a kern) becomes one space.
  *
  * Reference scope: the reference engine parses line JSON only
  * (`App.java:136-162`); PDF ingest is north-star surface for the
  * corpus path.
  */
object Pdf {

  // ---- Annex D simple-font encodings (byte → char; NUL = undefined) ----

  /** WinAnsiEncoding: Latin-1 with the 0x80–0x9F Windows window. */
  val WinAnsi: Array[Char] = {
    val t = new Array[Char](256)
    var i = 32
    while (i < 127) { t(i) = i.toChar; i += 1 }
    // '.' marks the window's five UNDEFINED codes, zeroed below
    val win = "€.‚ƒ„…†‡ˆ‰Š‹Œ.Ž." +
      ".‘’“”•–—˜™š›œ.žŸ"
    i = 0
    while (i < 32) { t(0x80 + i) = win.charAt(i); i += 1 }
    Seq(0x81, 0x8D, 0x8F, 0x90, 0x9D).foreach(c => t(c) = 0.toChar)
    i = 0xA0
    while (i <= 0xFF) { t(i) = i.toChar; i += 1 }
    t
  }

  /** MacRomanEncoding (PDF Annex D's table — 0xDB is `currency`, the
    * pre-euro slot; 0xF0, the Apple logo, maps to its conventional
    * private-use point U+F8FF).
    */
  val MacRoman: Array[Char] = {
    val t = new Array[Char](256)
    var i = 32
    while (i < 127) { t(i) = i.toChar; i += 1 }
    val high =
      "ÄÅÇÉÑÖÜáàâäãåçéè" + // 0x80
        "êëíìîïñóòôöõúùûü" + // 0x90
        "†°¢£§•¶ß®©™´¨≠ÆØ" + // 0xA0
        "∞±≤≥¥µ∂∑∏π∫ªºΩæø" + // 0xB0
        "¿¡¬√ƒ≈∆«»… ÀÃÕŒœ" + // 0xC0 (0xCA nbsp)
        "–—“”‘’÷◊ÿŸ⁄¤‹›ﬁﬂ" + // 0xD0 (0xDB currency)
        "‡·‚„‰ÂÊÁËÈÍÎÏÌÓÔ" + // 0xE0
        "ÒÚÛÙıˆ˜¯˘˙˚¸˝˛ˇ" // 0xF0 (Apple logo = PUA)
    i = 0
    while (i < 128) { t(0x80 + i) = high.charAt(i); i += 1 }
    t
  }

  /** Adobe StandardEncoding — the builtin default of the standard Type1
    * fonts: ASCII except typographic quotes at 0x27/0x60, plus the
    * published punctuation/accent/ligature upper half.
    */
  val Standard: Array[Char] = {
    val t = new Array[Char](256)
    var i = 32
    while (i < 127) { t(i) = i.toChar; i += 1 }
    t(0x27) = '’' // quoteright
    t(0x60) = '‘' // quoteleft
    val pairs = Seq(
      0xA1 -> '¡', 0xA2 -> '¢', 0xA3 -> '£', 0xA4 -> '⁄',
      0xA5 -> '¥', 0xA6 -> 'ƒ', 0xA7 -> '§', 0xA8 -> '¤',
      0xA9 -> '\'', 0xAA -> '“', 0xAB -> '«', 0xAC -> '‹',
      0xAD -> '›', 0xAE -> 'ﬁ', 0xAF -> 'ﬂ',
      0xB1 -> '–', 0xB2 -> '†', 0xB3 -> '‡', 0xB4 -> '·',
      0xB6 -> '¶', 0xB7 -> '•', 0xB8 -> '‚', 0xB9 -> '„',
      0xBA -> '”', 0xBB -> '»', 0xBC -> '…', 0xBD -> '‰',
      0xBF -> '¿',
      0xC1 -> '`', 0xC2 -> '´', 0xC3 -> 'ˆ', 0xC4 -> '˜',
      0xC5 -> '¯', 0xC6 -> '˘', 0xC7 -> '˙', 0xC8 -> '¨',
      0xCA -> '˚', 0xCB -> '¸', 0xCD -> '˝', 0xCE -> '˛',
      0xCF -> 'ˇ', 0xD0 -> '—',
      0xE1 -> 'Æ', 0xE3 -> 'ª', 0xE8 -> 'Ł', 0xE9 -> 'Ø',
      0xEA -> 'Œ', 0xEB -> 'º',
      0xF1 -> 'æ', 0xF5 -> 'ı', 0xF8 -> 'ł', 0xF9 -> 'ø',
      0xFA -> 'œ', 0xFB -> 'ß')
    pairs.foreach { case (c, ch) => t(c) = ch }
    t
  }

  // ---- object model ----

  sealed trait PVal
  case object PNull extends PVal
  final case class PBool(b: Boolean) extends PVal
  final case class PNum(d: Double) extends PVal
  final case class PName(s: String) extends PVal
  final case class PStr(bytes: Array[Byte]) extends PVal
  final case class PArr(xs: Vector[PVal]) extends PVal
  final case class PDict(m: Map[String, PVal]) extends PVal
  final case class PRef(num: Int, gen: Int) extends PVal
  final case class PStream(dict: PDict, raw: Array[Byte]) extends PVal

  /** Thrown internally on malformed syntax; always caught at the
    * extraction boundary and surfaced as the `parse` stage.
    */
  private final class Malformed(msg: String) extends Exception(msg)

  private def isWs(c: Int): Boolean =
    c == ' ' || c == '\n' || c == '\r' || c == '\t' || c == '\f' || c == 0
  private def isDelim(c: Int): Boolean =
    c == '(' || c == ')' || c == '<' || c == '>' || c == '[' || c == ']' ||
      c == '{' || c == '}' || c == '/' || c == '%'

  /** Byte-level lexer/parser over the whole file (objects) or one
    * content stream (operators). `allowRefs = false` in content
    * streams, where `R` is never an indirect reference.
    */
  private final class P(val b: Array[Byte], var pos: Int, val allowRefs: Boolean) {
    def peek: Int = if (pos < b.length) b(pos) & 0xFF else -1
    private def at(i: Int): Int = if (i < b.length) b(i) & 0xFF else -1

    def skipWs(): Unit = {
      var going = true
      while (going) {
        while (pos < b.length && isWs(b(pos) & 0xFF)) pos += 1
        if (peek == '%') { // comment to EOL
          while (pos < b.length && b(pos) != '\n' && b(pos) != '\r') pos += 1
        } else going = false
      }
    }

    /** Run of regular (non-ws, non-delimiter) bytes — keywords and
      * content operators (which may include `'`, `"`, `*`).
      */
    def keyword(): String = {
      skipWs()
      val start = pos
      if (peek == '\'' || peek == '"') { pos += 1; return new String(b, start, 1, StandardCharsets.US_ASCII) }
      while (pos < b.length && !isWs(b(pos) & 0xFF) && !isDelim(b(pos) & 0xFF)) pos += 1
      if (pos == start) throw new Malformed(s"keyword expected at $start")
      new String(b, start, pos - start, StandardCharsets.US_ASCII)
    }

    /** True + consume when the next token is exactly `kw`. */
    def tryKeyword(kw: String): Boolean = {
      skipWs()
      val save = pos
      try { if (keyword() == kw) true else { pos = save; false } }
      catch { case _: Malformed => pos = save; false }
    }

    def int(): Int = { val v = number(); if (v != Math.rint(v)) throw new Malformed("int expected"); v.toInt }
    def long(): Long = { val v = number(); if (v != Math.rint(v)) throw new Malformed("int expected"); v.toLong }

    private var lastWasInt = false
    def number(): Double = {
      skipWs()
      val start = pos
      if (peek == '+' || peek == '-') pos += 1
      var digits = false
      var dot = false
      while (pos < b.length && ((b(pos) >= '0' && b(pos) <= '9') || b(pos) == '.')) {
        if (b(pos) == '.') dot = true else digits = true
        pos += 1
      }
      if (!digits && !dot) throw new Malformed(s"number expected at $start")
      lastWasInt = !dot
      // "1.2.3"-style junk throws NumberFormatException — surface it as
      // Malformed so lookahead restores cleanly instead of failing the doc
      try java.lang.Double.parseDouble(new String(b, start, pos - start, StandardCharsets.US_ASCII))
      catch { case _: NumberFormatException => throw new Malformed("junk number") }
    }

    def name(): String = {
      skipWs()
      if (peek != '/') throw new Malformed(s"name expected at $pos")
      pos += 1
      val sb = new java.lang.StringBuilder()
      while (pos < b.length && !isWs(b(pos) & 0xFF) && !isDelim(b(pos) & 0xFF)) {
        if (b(pos) == '#' && pos + 2 < b.length) {
          val hv = Character.digit(b(pos + 1), 16) * 16 + Character.digit(b(pos + 2), 16)
          if (hv >= 0) { sb.append(hv.toChar); pos += 3 }
          else { sb.append(b(pos).toChar); pos += 1 }
        } else { sb.append((b(pos) & 0xFF).toChar); pos += 1 }
      }
      sb.toString
    }

    /** Literal string `(...)`: nested balanced parens, the eight
      * escapes, 1-3 digit octal, backslash-EOL continuation, bare
      * CR/CRLF normalized to LF.
      */
    def literalString(): Array[Byte] = {
      if (peek != '(') throw new Malformed("string expected")
      pos += 1
      val out = new ByteArrayOutputStream()
      var depth = 1
      while (depth > 0) {
        if (pos >= b.length) throw new Malformed("torn string")
        val c = b(pos) & 0xFF
        pos += 1
        c match {
          case '(' => depth += 1; out.write('(')
          case ')' => depth -= 1; if (depth > 0) out.write(')')
          case '\\' =>
            if (pos >= b.length) throw new Malformed("torn escape")
            val e = b(pos) & 0xFF
            pos += 1
            e match {
              case 'n' => out.write('\n')
              case 'r' => out.write('\r')
              case 't' => out.write('\t')
              case 'b' => out.write('\b')
              case 'f' => out.write('\f')
              case '(' => out.write('(')
              case ')' => out.write(')')
              case '\\' => out.write('\\')
              case '\r' => if (peek == '\n') pos += 1 // continuation
              case '\n' => // continuation
              case d if d >= '0' && d <= '7' =>
                var v = d - '0'
                var k = 0
                while (k < 2 && pos < b.length && b(pos) >= '0' && b(pos) <= '7') {
                  v = v * 8 + (b(pos) - '0'); pos += 1; k += 1
                }
                out.write(v & 0xFF)
              case other => out.write(other) // spec: stray backslash ignored
            }
          case '\r' =>
            if (peek == '\n') pos += 1
            out.write('\n') // EOL inside a string reads as LF
          case other => out.write(other)
        }
      }
      out.toByteArray
    }

    /** Hex string `<...>`: whitespace ignored, odd final digit padded
      * with zero; junk hex is malformed.
      */
    def hexString(): Array[Byte] = {
      if (peek != '<') throw new Malformed("hex string expected")
      pos += 1
      val out = new ByteArrayOutputStream()
      var hi = -1
      var done = false
      while (!done) {
        if (pos >= b.length) throw new Malformed("torn hex string")
        val c = b(pos) & 0xFF
        pos += 1
        if (c == '>') {
          if (hi >= 0) out.write(hi * 16)
          done = true
        } else if (!isWs(c)) {
          val d = Character.digit(c, 16)
          if (d < 0) throw new Malformed("junk hex digit")
          if (hi < 0) hi = d else { out.write(hi * 16 + d); hi = -1 }
        }
      }
      out.toByteArray
    }

    /** One object value (never consumes a trailing `stream` keyword). */
    def value(depth: Int): PVal = {
      if (depth > 64) throw new Malformed("nesting bomb")
      skipWs()
      peek match {
        case -1 => throw new Malformed("eof")
        case '(' => PStr(literalString())
        case '/' => PName(name())
        case '[' =>
          pos += 1
          val xs = Vector.newBuilder[PVal]
          skipWs()
          while (peek != ']') { xs += value(depth + 1); skipWs() }
          pos += 1
          PArr(xs.result())
        case '<' =>
          if (at(pos + 1) == '<') {
            pos += 2
            val m = Map.newBuilder[String, PVal]
            skipWs()
            while (!(peek == '>' && at(pos + 1) == '>')) {
              val k = name()
              m += k -> value(depth + 1)
              skipWs()
            }
            pos += 2
            PDict(m.result())
          } else PStr(hexString())
        case c if c == '+' || c == '-' || c == '.' || (c >= '0' && c <= '9') =>
          val v = number()
          if (allowRefs && lastWasInt && v >= 0) {
            // lookahead for "gen R"
            val save = pos
            try {
              val g = number()
              if (lastWasInt && g >= 0 && tryKeyword("R")) PRef(v.toInt, g.toInt)
              else { pos = save; PNum(v) }
            } catch { case _: Malformed => pos = save; PNum(v) }
          } else PNum(v)
        case _ =>
          keyword() match {
            case "true" => PBool(true)
            case "false" => PBool(false)
            case "null" => PNull
            case other => throw new Malformed(s"unexpected token '$other'")
          }
      }
    }
  }

  // ---- cross-reference tables ----

  /** Last `startxref` offset in the file, or -1. */
  private def lastStartxref(bytes: Array[Byte]): Long = {
    val needle = "startxref".getBytes(StandardCharsets.US_ASCII)
    var i = bytes.length - needle.length
    while (i >= 0) {
      var j = 0
      while (j < needle.length && bytes(i + j) == needle(j)) j += 1
      if (j == needle.length) {
        val p = new P(bytes, i + needle.length, allowRefs = false)
        return try p.long() catch { case _: Malformed => -1L }
      }
      i -= 1
    }
    -1L
  }

  /** One cross-reference entry: a direct byte offset, or (PDF 1.5+
    * type-2) a slot inside an object stream (`objStm >= 0`).
    */
  private final case class XEntry(offset: Long, objStm: Int, idx: Int)

  /** Parse `N G obj <value> [stream …]` at a byte offset. `lenOf`
    * resolves the stream's /Length (a [[Doc]] follows refs; the
    * xref-chain walker, which has no xref yet, accepts only DIRECT
    * ints — exactly what §7.5.8 requires of an xref stream's own
    * dict). The `endstream` rescue covers a lying /Length either way.
    */
  private def objAt(bytes: Array[Byte], off: Int, lenOf: PVal => Long): (Int, PVal) = {
    val p = new P(bytes, off, allowRefs = true)
    val n = p.int()
    p.int() // gen
    if (!p.tryKeyword("obj")) throw new Malformed("obj expected")
    val v = p.value(0)
    val out = v match {
      case d: PDict if p.tryKeyword("stream") =>
        // EOL after 'stream': CRLF or LF
        if (p.peek == '\r') p.pos += 1
        if (p.peek == '\n') p.pos += 1
        val dataStart = p.pos
        val len = lenOf(d.m.getOrElse("Length", PNull))
        val end =
          if (len >= 0 && dataStart + len <= bytes.length &&
            hasKeywordNear(bytes, (dataStart + len).toInt, "endstream")) dataStart + len
          else rescueEndstream(bytes, dataStart) // lenient: scan
        if (end < dataStart) throw new Malformed("torn stream")
        PStream(d, java.util.Arrays.copyOfRange(bytes, dataStart, end.toInt))
      case other => other
    }
    (n, out)
  }

  /** Follow the cross-reference chain from the last `startxref`:
    * newest-first, `/Prev` adding only unseen objects — the
    * incremental-update contract. BOTH table forms walk: the classic
    * `xref` keyword table, and the PDF 1.5+ cross-reference STREAM
    * (`/Type /XRef`: /W field widths, /Index subsections, type-1
    * direct and type-2 in-object-stream entries), plus the hybrid
    * `/XRefStm` pointer a classic trailer may carry. Null when the
    * offset lands on neither — visible as the `xref` stage.
    */
  private def readXrefChain(bytes: Array[Byte], start: Long)
      : (Map[Int, XEntry], PDict, Boolean) = {
    val map = scala.collection.mutable.HashMap[Int, XEntry]()
    var trailer0: PDict = null
    var encrypted = false
    var cur = start
    var hops = 0

    def directLen(v: PVal): Long = v match {
      case PNum(x) if x >= 0 => x.toLong
      case _ => -1L
    }

    def addStreamEntries(ps: PStream): Unit = {
      val dict = ps.dict
      val data = decodeStream(ps, identity, Bytes.MaxOut) match {
        case Right(d) => d
        case Left(_) => throw new Malformed("xref stream filter")
      }
      val ws = dict.m.get("W") match {
        case Some(PArr(xs)) if xs.length == 3 => xs.map {
          case PNum(x) if x >= 0 && x <= 8 => x.toInt
          case _ => throw new Malformed("junk /W")
        }
        case _ => throw new Malformed("missing /W")
      }
      val size = dict.m.get("Size") match {
        case Some(PNum(x)) if x >= 0 => x.toLong
        case _ => throw new Malformed("missing /Size")
      }
      val index: Seq[(Long, Long)] = dict.m.get("Index") match {
        case Some(PArr(xs)) if xs.length % 2 == 0 =>
          xs.grouped(2).map {
            case Vector(PNum(a), PNum(b)) => (a.toLong, b.toLong)
            case _ => throw new Malformed("junk /Index")
          }.toSeq
        case None => Seq((0L, size))
        case _ => throw new Malformed("junk /Index")
      }
      val rw = ws.sum
      if (rw <= 0) throw new Malformed("zero-width /W")
      var pos = 0
      def field(w: Int): Long = {
        var v = 0L
        var i = 0
        while (i < w) { v = (v << 8) | (data(pos) & 0xFF); pos += 1; i += 1 }
        v
      }
      index.foreach { case (first, count) =>
        if (count < 0 || count > (1 << 22)) throw new Malformed("xref bomb")
        var i = 0L
        while (i < count) {
          if (pos + rw > data.length) throw new Malformed("torn xref stream")
          val t = if (ws(0) == 0) 1L else field(ws(0)) // default type 1 per spec
          val f2 = field(ws(1))
          val f3 = field(ws(2))
          val num = (first + i).toInt
          if (!map.contains(num)) {
            if (t == 1) map(num) = XEntry(f2, -1, 0)
            else if (t == 2) map(num) = XEntry(-1L, f2.toInt, f3.toInt)
            // type 0 (free) and unknown future types add nothing
          }
          i += 1
        }
      }
    }

    while (cur >= 0 && cur < bytes.length && hops < 32) {
      val p = new P(bytes, cur.toInt, allowRefs = true)
      var trailer: PDict = null
      if (p.tryKeyword("xref")) {
        var inSections = true
        while (inSections) {
          if (p.tryKeyword("trailer")) inSections = false
          else {
            val first = p.int()
            val count = p.int()
            if (count < 0 || count > (1 << 22)) throw new Malformed("xref bomb")
            var i = 0
            while (i < count) {
              val off = p.long()
              p.int() // generation — single-generation contract
              val kind = p.keyword()
              if (kind == "n" && !map.contains(first + i)) map((first + i)) = XEntry(off, -1, 0)
              else if (kind != "n" && kind != "f") throw new Malformed("junk xref entry")
              i += 1
            }
          }
        }
        trailer = p.value(0) match {
          case d: PDict => d
          case _ => throw new Malformed("trailer dict expected")
        }
        // hybrid-reference file: the classic trailer points at an xref
        // STREAM carrying the type-2 entries (§7.5.8.4)
        trailer.m.get("XRefStm") match {
          case Some(PNum(x)) if x >= 0 && x < bytes.length =>
            objAt(bytes, x.toInt, directLen)._2 match {
              case s: PStream if s.dict.m.get("Type").contains(PName("XRef")) =>
                addStreamEntries(s)
              case _ => () // lenient: a junk hybrid pointer adds nothing
            }
          case _ => ()
        }
      } else {
        // PDF 1.5+: the cross-reference table IS a stream object
        val v = try objAt(bytes, cur.toInt, directLen)._2
        catch { case _: Malformed => return null }
        v match {
          case s: PStream if s.dict.m.get("Type").contains(PName("XRef")) =>
            addStreamEntries(s)
            trailer = s.dict
          case _ => return null
        }
      }
      if (trailer0 == null) trailer0 = trailer
      if (trailer.m.contains("Encrypt")) encrypted = true
      cur = trailer.m.get("Prev") match {
        case Some(PNum(d)) => d.toLong
        case _ => -1L
      }
      hops += 1
    }
    if (trailer0 == null) null else (map.toMap, trailer0, encrypted)
  }

  // ---- document: object load + resolve ----

  private final class Doc(bytes: Array[Byte], xref: Map[Int, XEntry]) {
    private val cache = scala.collection.mutable.HashMap[Int, PVal]()
    // set ONCE, after the /Encrypt dict resolves and the EMPTY user
    // password verifies (setupCrypt): top-level objects loaded from
    // then on decrypt their strings and stream bytes under their
    // object number. Objects cached before (the /Encrypt dict itself,
    // whose strings the spec leaves unencrypted) stay as parsed.
    var crypt: Option[PdfCrypt.FileKey] = None

    /** Walk one just-parsed TOP-LEVEL object, decrypting strings and
      * stream payloads (§7.6.2 applies them per indirect object;
      * objects INSIDE object streams are not separately encrypted —
      * the container stream already decrypted on load). Single-
      * generation contract: gen 0, matching the xref walk.
      */
    private def decryptVal(v: PVal, num: Int, fk: PdfCrypt.FileKey): PVal = v match {
      case PStr(b) => PStr(PdfCrypt.decrypt(fk, num, 0, b)
        .getOrElse(throw new Malformed("string decrypt")))
      case PArr(xs) => PArr(xs.map(decryptVal(_, num, fk)))
      case PDict(m) => PDict(m.map { case (k, vv) => k -> decryptVal(vv, num, fk) })
      case s: PStream =>
        // cross-reference streams are never encrypted — and they were
        // consumed raw by the pre-key xref walk anyway; skip defensively
        if (s.dict.m.get("Type").contains(PName("XRef"))) s
        else PStream(
          decryptVal(s.dict, num, fk).asInstanceOf[PDict],
          PdfCrypt.decrypt(fk, num, 0, s.raw)
            .getOrElse(throw new Malformed("stream decrypt")))
      case other => other
    }
    // parsed object streams: (decoded payload, (num, off) pairs, /First)
    private val stmCache =
      scala.collection.mutable.HashMap[Int, (Array[Byte], Seq[(Int, Int)], Int)]()

    // NOT getOrElseUpdate: loading an object can recurse into obj()
    // (an indirect /Length, the enclosing ObjStm), and reentrant
    // getOrElseUpdate on a mutable map is undefined behavior
    def obj(num: Int, depth: Int): PVal = cache.get(num) match {
      case Some(v) => v
      case None =>
        val v = load(num, depth)
        cache(num) = v
        v
    }

    /** Decode + index one `/Type /ObjStm` container (cached — every
      * compressed object in it shares the one inflate).
      */
    private def objStm(stmNum: Int, depth: Int): (Array[Byte], Seq[(Int, Int)], Int) =
      stmCache.get(stmNum) match {
        case Some(v) => v
        case None =>
          val v = obj(stmNum, depth) match {
            case s: PStream if s.dict.m.get("Type").contains(PName("ObjStm")) =>
              val nObjs = resolve(s.dict.m.getOrElse("N", PNull), depth) match {
                case PNum(x) if x >= 0 && x <= (1 << 20) => x.toInt
                case _ => throw new Malformed("junk ObjStm /N")
              }
              val first = resolve(s.dict.m.getOrElse("First", PNull), depth) match {
                case PNum(x) if x >= 0 => x.toInt
                case _ => throw new Malformed("junk ObjStm /First")
              }
              val payload = decodeStream(s, resolve(_, depth), Bytes.MaxOut) match {
                case Right(d) => d
                case Left(_) => throw new Malformed("ObjStm filter")
              }
              val hp = new P(payload, 0, allowRefs = false)
              val pairs = (0 until nObjs).map(_ => (hp.int(), hp.int()))
              (payload, pairs, first)
            case _ => throw new Malformed("not an ObjStm")
          }
          stmCache(stmNum) = v
          v
      }

    private def load(num: Int, depth: Int): PVal = {
      if (depth > 16) throw new Malformed("resolve cycle")
      xref.get(num) match {
        case None => PNull
        case Some(e) if e.objStm >= 0 => // type-2: inside an object stream
          val (payload, pairs, first) = objStm(e.objStm, depth + 1)
          if (e.idx < 0 || e.idx >= pairs.length) throw new Malformed("ObjStm slot")
          val (n, off) = pairs(e.idx)
          if (n != num) throw new Malformed("ObjStm num mismatch")
          if (first.toLong + off > payload.length || off < 0)
            throw new Malformed("ObjStm offset")
          val p = new P(payload, first + off, allowRefs = true)
          p.value(0) // compressed objects are bare values, never streams
        case Some(e) if e.offset < 0 || e.offset >= bytes.length => PNull
        case Some(e) =>
          val (n, v) = objAt(bytes, e.offset.toInt, lv =>
            resolve(lv, depth + 1) match {
              case PNum(x) if x >= 0 => x.toLong
              case _ => -1L
            })
          if (n != num) throw new Malformed(s"object $num not at its offset")
          crypt match {
            case Some(fk) => decryptVal(v, num, fk)
            case None => v
          }
      }
    }

    def resolve(v: PVal, depth: Int = 0): PVal = v match {
      case PRef(n, _) =>
        if (depth > 16) throw new Malformed("resolve cycle")
        resolve(obj(n, depth + 1), depth + 1)
      case other => other
    }
  }

  /** `endstream` within a small whitespace window of `at`. */
  private def hasKeywordNear(bytes: Array[Byte], at: Int, kw: String): Boolean = {
    var i = at
    val lim = math.min(bytes.length, at + 4)
    while (i < lim && isWs(bytes(i) & 0xFF)) i += 1
    val kb = kw.getBytes(StandardCharsets.US_ASCII)
    if (i + kb.length > bytes.length) return false
    var j = 0
    while (j < kb.length && bytes(i + j) == kb(j)) j += 1
    j == kb.length
  }

  /** Rescue for a wrong `/Length`: first `endstream` after `from`,
    * one trailing EOL trimmed. -1 when absent.
    */
  private def rescueEndstream(bytes: Array[Byte], from: Int): Long = {
    val needle = "endstream".getBytes(StandardCharsets.US_ASCII)
    var i = from
    while (i + needle.length <= bytes.length) {
      var j = 0
      while (j < needle.length && bytes(i + j) == needle(j)) j += 1
      if (j == needle.length) {
        var end = i
        if (end > from && bytes(end - 1) == '\n') end -= 1
        if (end > from && bytes(end - 1) == '\r') end -= 1
        return end.toLong
      }
      i += 1
    }
    -1L
  }

  // ---- filters ----

  /** Zlib inflate bounded by a bomb cap; trailing bytes after the
    * deflate stream are tolerated (writers pad) but corruption is not.
    */
  private def inflate(data: Array[Byte], maxOut: Int): Array[Byte] = {
    val inflated = Bytes.inflate(data, 0, data.length, raw = false, maxOut)
    if (inflated == null) null else inflated._1
  }

  /** Undo a /Predictor over 8-bit single-component data: TIFF
    * horizontal differencing (2) and the PNG row filters (10-15 —
    * None/Sub/Up/Average/Paeth at bpp = 1, the same unfilter math the
    * PNG decoder runs). Null on anything outside that shape — a wrong
    * predictor guess would silently shear every row.
    */
  private def applyPredictor(data: Array[Byte], parms: PDict,
      resolve: PVal => PVal): Array[Byte] = {
    def num(k: String, dflt: Long): Long = resolve(parms.m.getOrElse(k, PNull)) match {
      case PNum(x) => x.toLong
      case PNull => dflt
      case _ => -1L
    }
    val pred = num("Predictor", 1)
    if (pred <= 1) return data
    val columns = num("Columns", 1)
    if (num("Colors", 1) != 1 || num("BitsPerComponent", 8) != 8 ||
      columns <= 0 || columns > (1 << 20)) return null
    val c = columns.toInt
    if (pred == 2) { // TIFF: in-row horizontal differencing
      val out = data.clone()
      var r = 0
      while (r + c <= out.length) {
        var i = 1
        while (i < c) { out(r + i) = (out(r + i) + out(r + i - 1)).toByte; i += 1 }
        r += c
      }
      out
    } else if (pred >= 10 && pred <= 15) { // PNG: per-row filter byte
      val rowLen = c + 1
      if (data.length % rowLen != 0) return null
      val rows = data.length / rowLen
      val out = new Array[Byte](rows * c)
      var r = 0
      while (r < rows) {
        val ft = data(r * rowLen) & 0xFF
        var i = 0
        while (i < c) {
          val raw = data(r * rowLen + 1 + i) & 0xFF
          val left = if (i > 0) out(r * c + i - 1) & 0xFF else 0
          val up = if (r > 0) out((r - 1) * c + i) & 0xFF else 0
          val ul = if (r > 0 && i > 0) out((r - 1) * c + i - 1) & 0xFF else 0
          val rec = ft match {
            case 0 => raw
            case 1 => raw + left
            case 2 => raw + up
            case 3 => raw + (left + up) / 2
            case 4 =>
              val p0 = left + up - ul
              val pa = math.abs(p0 - left)
              val pb = math.abs(p0 - up)
              val pc = math.abs(p0 - ul)
              raw + (if (pa <= pb && pa <= pc) left else if (pb <= pc) up else ul)
            case _ => return null
          }
          out(r * c + i) = (rec & 0xFF).toByte
          i += 1
        }
        r += 1
      }
      out
    } else null
  }

  /** Stream bytes → decoded bytes, or the degrade stage. Identity and
    * FlateDecode, then the published predictors (xref streams ship
    * PNG-Up-predicted almost universally); every other filter degrades
    * visibly. `resolve` follows indirect Filter/Parms values (identity
    * in the xref-chain walker, where the spec requires direct ones).
    */
  private def decodeStream(ps: PStream, resolve: PVal => PVal,
      maxOut: Int): Either[String, Array[Byte]] = {
    val raw = resolve(ps.dict.m.getOrElse("Filter", PNull)) match {
      case PNull => ps.raw
      case PName("FlateDecode") => inflate(ps.raw, maxOut)
      case PArr(xs) if xs.isEmpty => ps.raw
      case PArr(xs) if xs == Vector(PName("FlateDecode")) => inflate(ps.raw, maxOut)
      case _ => return Left("filter")
    }
    if (raw == null) return Left("filter")
    resolve(ps.dict.m.getOrElse("DecodeParms", ps.dict.m.getOrElse("DP", PNull))) match {
      case PNull => Right(raw)
      case d: PDict =>
        val out = applyPredictor(raw, d, resolve)
        if (out == null) Left("filter") else Right(out)
      case _ => Left("filter")
    }
  }

  // ---- page tree ----

  /** Ordered leaf pages with their EFFECTIVE font resources
    * (`/Resources` inherits down the tree per §7.7.3.4).
    */
  private def collectPages(doc: Doc, trailer: PDict): Either[String, Vector[(PDict, PDict)]] = {
    val root = doc.resolve(trailer.m.getOrElse("Root", PNull)) match {
      case d: PDict => d
      case _ => return Left("parse")
    }
    val top = doc.resolve(root.m.getOrElse("Pages", PNull)) match {
      case d: PDict => d
      case _ => return Left("parse")
    }
    val out = Vector.newBuilder[(PDict, PDict)]
    var n = 0
    def fontsOf(res: PVal): PDict = doc.resolve(res) match {
      case d: PDict => doc.resolve(d.m.getOrElse("Font", PNull)) match {
        case f: PDict => f
        case _ => PDict(Map.empty)
      }
      case _ => PDict(Map.empty)
    }
    def walk(node: PDict, inheritedRes: PVal, depth: Int): Unit = {
      if (depth > 64) throw new Malformed("page tree bomb")
      val res = node.m.getOrElse("Resources", inheritedRes)
      doc.resolve(node.m.getOrElse("Kids", PNull)) match {
        case PArr(kids) =>
          kids.foreach { k =>
            doc.resolve(k) match {
              case kd: PDict =>
                n += 1
                if (n > 65536) throw new Malformed("page bomb")
                walk(kd, res, depth + 1)
              case _ => ()
            }
          }
        case _ =>
          if (node.m.get("Type").contains(PName("Page")) || node.m.contains("Contents"))
            out += ((node, fontsOf(res)))
      }
    }
    walk(top, PNull, 0)
    Right(out.result())
  }

  /** The Adobe Glyph List subset a re-encoded simple font actually
    * references: every glyph NAME behind the three Annex D tables
    * (letters are their own names; digits and punctuation are spelled
    * out), the Latin-1 accents, the typographic set, and the published
    * `uniXXXX` convention. Enough to resolve the `/Differences` arrays
    * real Type1 re-encodings (TeX output, subset embeds) ship.
    */
  private val GlyphNames: Map[String, Char] = {
    val digits = Seq("zero", "one", "two", "three", "four", "five", "six",
      "seven", "eight", "nine").zipWithIndex.map { case (n, i) => n -> ('0' + i).toChar }
    val ascii = Seq(
      "space" -> 0x20, "exclam" -> 0x21, "quotedbl" -> 0x22, "numbersign" -> 0x23,
      "dollar" -> 0x24, "percent" -> 0x25, "ampersand" -> 0x26, "quotesingle" -> 0x27,
      "parenleft" -> 0x28, "parenright" -> 0x29, "asterisk" -> 0x2A, "plus" -> 0x2B,
      "comma" -> 0x2C, "hyphen" -> 0x2D, "period" -> 0x2E, "slash" -> 0x2F,
      "colon" -> 0x3A, "semicolon" -> 0x3B, "less" -> 0x3C, "equal" -> 0x3D,
      "greater" -> 0x3E, "question" -> 0x3F, "at" -> 0x40, "bracketleft" -> 0x5B,
      "backslash" -> 0x5C, "bracketright" -> 0x5D, "asciicircum" -> 0x5E,
      "underscore" -> 0x5F, "grave" -> 0x60, "braceleft" -> 0x7B, "bar" -> 0x7C,
      "braceright" -> 0x7D, "asciitilde" -> 0x7E)
    val typographic = Seq(
      "quoteleft" -> 0x2018, "quoteright" -> 0x2019, "quotedblleft" -> 0x201C,
      "quotedblright" -> 0x201D, "quotesinglbase" -> 0x201A, "quotedblbase" -> 0x201E,
      "endash" -> 0x2013, "emdash" -> 0x2014, "bullet" -> 0x2022, "ellipsis" -> 0x2026,
      "dagger" -> 0x2020, "daggerdbl" -> 0x2021, "perthousand" -> 0x2030,
      "guilsinglleft" -> 0x2039, "guilsinglright" -> 0x203A, "fi" -> 0xFB01,
      "fl" -> 0xFB02, "Euro" -> 0x20AC, "trademark" -> 0x2122, "florin" -> 0x192,
      "fraction" -> 0x2044, "minus" -> 0x2212, "lozenge" -> 0x25CA,
      "circumflex" -> 0x2C6, "caron" -> 0x2C7, "breve" -> 0x2D8, "dotaccent" -> 0x2D9,
      "ring" -> 0x2DA, "ogonek" -> 0x2DB, "tilde" -> 0x2DC, "hungarumlaut" -> 0x2DD)
    val latin1 = Seq(
      "exclamdown" -> 0xA1, "cent" -> 0xA2, "sterling" -> 0xA3, "currency" -> 0xA4,
      "yen" -> 0xA5, "brokenbar" -> 0xA6, "section" -> 0xA7, "dieresis" -> 0xA8,
      "copyright" -> 0xA9, "ordfeminine" -> 0xAA, "guillemotleft" -> 0xAB,
      "logicalnot" -> 0xAC, "registered" -> 0xAE, "macron" -> 0xAF, "degree" -> 0xB0,
      "plusminus" -> 0xB1, "twosuperior" -> 0xB2, "threesuperior" -> 0xB3,
      "acute" -> 0xB4, "mu" -> 0xB5, "paragraph" -> 0xB6, "periodcentered" -> 0xB7,
      "cedilla" -> 0xB8, "onesuperior" -> 0xB9, "ordmasculine" -> 0xBA,
      "guillemotright" -> 0xBB, "onequarter" -> 0xBC, "onehalf" -> 0xBD,
      "threequarters" -> 0xBE, "questiondown" -> 0xBF,
      "Agrave" -> 0xC0, "Aacute" -> 0xC1, "Acircumflex" -> 0xC2, "Atilde" -> 0xC3,
      "Adieresis" -> 0xC4, "Aring" -> 0xC5, "AE" -> 0xC6, "Ccedilla" -> 0xC7,
      "Egrave" -> 0xC8, "Eacute" -> 0xC9, "Ecircumflex" -> 0xCA, "Edieresis" -> 0xCB,
      "Igrave" -> 0xCC, "Iacute" -> 0xCD, "Icircumflex" -> 0xCE, "Idieresis" -> 0xCF,
      "Eth" -> 0xD0, "Ntilde" -> 0xD1, "Ograve" -> 0xD2, "Oacute" -> 0xD3,
      "Ocircumflex" -> 0xD4, "Otilde" -> 0xD5, "Odieresis" -> 0xD6, "multiply" -> 0xD7,
      "Oslash" -> 0xD8, "Ugrave" -> 0xD9, "Uacute" -> 0xDA, "Ucircumflex" -> 0xDB,
      "Udieresis" -> 0xDC, "Yacute" -> 0xDD, "Thorn" -> 0xDE, "germandbls" -> 0xDF,
      "agrave" -> 0xE0, "aacute" -> 0xE1, "acircumflex" -> 0xE2, "atilde" -> 0xE3,
      "adieresis" -> 0xE4, "aring" -> 0xE5, "ae" -> 0xE6, "ccedilla" -> 0xE7,
      "egrave" -> 0xE8, "eacute" -> 0xE9, "ecircumflex" -> 0xEA, "edieresis" -> 0xEB,
      "igrave" -> 0xEC, "iacute" -> 0xED, "icircumflex" -> 0xEE, "idieresis" -> 0xEF,
      "eth" -> 0xF0, "ntilde" -> 0xF1, "ograve" -> 0xF2, "oacute" -> 0xF3,
      "ocircumflex" -> 0xF4, "otilde" -> 0xF5, "odieresis" -> 0xF6, "divide" -> 0xF7,
      "oslash" -> 0xF8, "ugrave" -> 0xF9, "uacute" -> 0xFA, "ucircumflex" -> 0xFB,
      "udieresis" -> 0xFC, "yacute" -> 0xFD, "thorn" -> 0xFE, "ydieresis" -> 0xFF,
      "Ydieresis" -> 0x178, "OE" -> 0x152, "oe" -> 0x153, "Scaron" -> 0x160,
      "scaron" -> 0x161, "Zcaron" -> 0x17D, "zcaron" -> 0x17E, "Lslash" -> 0x141,
      "lslash" -> 0x142, "dotlessi" -> 0x131)
    (digits ++ (ascii ++ typographic ++ latin1).map { case (n, c) => n -> c.toChar }).toMap
  }

  /** Glyph name → char: single ASCII letters are their own names, the
    * `uniXXXX`/`uXXXX` conventions map directly, everything else via
    * the table. 0 = unknown (the caller degrades — a guessed glyph
    * would silently substitute text).
    */
  private def glyphChar(name: String): Char = {
    if (name.length == 1) {
      val c = name.charAt(0)
      if ((c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z')) return c
    }
    if ((name.length == 7 && name.startsWith("uni")) ||
      (name.length == 5 && name.charAt(0) == 'u')) {
      val hexAt = if (name.length == 7) 3 else 1
      var v = 0
      var i = hexAt
      while (i < name.length) {
        val d = Character.digit(name.charAt(i), 16)
        if (d < 0) return GlyphNames.getOrElse(name, 0.toChar)
        v = v * 16 + d
        i += 1
      }
      if (v >= 0x20 && v < 0xD800) return v.toChar
    }
    GlyphNames.getOrElse(name, 0.toChar)
  }

  /** A font's decode machine: a SIMPLE byte→char table (the three
    * Annex D encodings, possibly /Differences-overlaid) or a CID map
    * (Identity-H 2-byte codes → UTF-16 text via the embedded
    * /ToUnicode CMap — the dominant post-2010 form).
    */
  private sealed trait FontDec
  private final case class SimpleDec(table: Array[Char]) extends FontDec
  private final case class CidDec(map: Map[Int, String]) extends FontDec

  /** Parse a /ToUnicode CMap's `bfchar`/`bfrange` sections into a
    * CID → text map; None when the CMap is outside the published
    * subset (src codes wider than 2 bytes, odd-length UTF-16 dst,
    * unbounded ranges) — the font then keeps degrading as `cid_font`,
    * never a guessed decode. Lenient about everything else in the
    * PostScript wrapper (the usual /CIDInit boilerplate is skipped,
    * not parsed).
    */
  private[graft] def parseToUnicode(s: String, maxEntries: Int = 65536): Option[Map[Int, String]] = {
    val out = scala.collection.mutable.HashMap[Int, String]()
    var i = 0
    def ws(): Unit = { while (i < s.length && s.charAt(i) <= ' ') i += 1 }
    // next <hex> token, or null at a non-hex token (section keyword / `[`)
    def hex(): Array[Byte] = {
      ws()
      if (i >= s.length || s.charAt(i) != '<') return null
      val e = s.indexOf('>', i + 1)
      if (e < 0) return null
      val body = s.substring(i + 1, e).filterNot(_ <= ' ')
      i = e + 1
      if (body.exists(c => Character.digit(c, 16) < 0)) return Array.emptyByteArray
      val padded = if (body.length % 2 == 1) body + "0" else body
      padded.grouped(2).map(h => Integer.parseInt(h, 16).toByte).toArray
    }
    def code(b: Array[Byte]): Int =
      if (b.length == 1) b(0) & 0xFF
      else Bytes.be16(b, 0)
    // STRICT decode: the default charset decoder substitutes U+FFFD
    // for malformed input (lone surrogates), which would smuggle a
    // guessed character into the text — report instead, degrading the
    // CMap whole (the family contract)
    def utf16(b: Array[Byte]): String =
      if (b.length % 2 != 0) null
      else
        try StandardCharsets.UTF_16BE.newDecoder()
          .onMalformedInput(java.nio.charset.CodingErrorAction.REPORT)
          .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPORT)
          .decode(java.nio.ByteBuffer.wrap(b)).toString
        catch { case _: java.nio.charset.CharacterCodingException => null }
    var going = true
    while (going) {
      val bc = s.indexOf("beginbfchar", i)
      val br = s.indexOf("beginbfrange", i)
      if (bc < 0 && br < 0) going = false
      else if (br < 0 || (bc >= 0 && bc < br)) {
        i = bc + "beginbfchar".length
        var inSec = true
        while (inSec) {
          val src = hex()
          if (src == null) inSec = false // endbfchar (or junk) ends the section
          else {
            val dst = hex()
            if (dst == null) return None // dangling src: malformed
            if (src.length < 1 || src.length > 2) return None
            val d = utf16(dst)
            if (d == null) return None
            out(code(src)) = d
            if (out.size > maxEntries) return None
          }
        }
        val end = s.indexOf("endbfchar", i)
        if (end < 0) return None
        i = end + "endbfchar".length
      } else {
        i = br + "beginbfrange".length
        var inSec = true
        while (inSec) {
          val lo = hex()
          if (lo == null) inSec = false
          else {
            val hi = hex()
            if (hi == null) return None
            if (lo.length < 1 || lo.length > 2 || hi.length != lo.length) return None
            val (l, h) = (code(lo), code(hi))
            if (h < l || h - l + 1 > maxEntries) return None
            ws()
            if (i < s.length && s.charAt(i) == '[') {
              i += 1
              var c = l
              while (c <= h) {
                val dst = hex()
                if (dst == null) return None
                val d = utf16(dst)
                if (d == null || d.isEmpty) return None
                out(c) = d
                c += 1
              }
              ws()
              if (i >= s.length || s.charAt(i) != ']') return None
              i += 1
            } else {
              val dst = hex()
              if (dst == null) return None
              val d = utf16(dst)
              if (d == null || d.isEmpty) return None
              // the LAST code unit increments across the range (§9.10.3).
              // The whole incremented span must stay valid UTF-16: a
              // range overflowing 0xFFFF or walking into the surrogate
              // block would wrap silently / emit lone surrogates — the
              // "never a guessed decode" contract keeps such CMaps in
              // the counted cid_font degrade instead. Low-surrogate
              // ends (a non-BMP dst) may increment only within the
              // low-surrogate block, and only behind a high surrogate.
              val lastU = d.charAt(d.length - 1).toInt
              val endU = lastU + (h - l)
              val okSpan =
                if (lastU >= 0xDC00 && lastU <= 0xDFFF)
                  endU <= 0xDFFF && d.length >= 2 &&
                    Character.isHighSurrogate(d.charAt(d.length - 2))
                else endU <= 0xFFFF && (lastU >= 0xE000 || endU < 0xD800)
              if (!okSpan) return None
              var c = l
              while (c <= h) {
                val off = c - l
                out(c) = d.substring(0, d.length - 1) +
                  (d.charAt(d.length - 1) + off).toChar
                c += 1
              }
            }
            if (out.size > maxEntries) return None
          }
        }
        val end = s.indexOf("endbfrange", i)
        if (end < 0) return None
        i = end + "endbfrange".length
      }
    }
    Some(out.toMap)
  }

  /** Font dict → its decode machine, or the degrade stage. A
    * `/Differences` array overlays the base table glyph by glyph
    * (code, names…) — an UNRESOLVABLE glyph name degrades the font
    * whole (`encoding`): substituting a guess would silently rewrite
    * text. A Type0 font decodes iff it is Identity-H (2-byte codes)
    * WITH an embedded /ToUnicode CMap in the published subset; every
    * other CMap arrangement keeps the counted `cid_font` degrade.
    */
  private def fontEncoding(doc: Doc, fd: PVal,
      maxStreamOut: Int): Either[String, FontDec] =
    doc.resolve(fd) match {
      case d: PDict =>
        if (d.m.get("Subtype").contains(PName("Type0"))) {
          doc.resolve(d.m.getOrElse("Encoding", PNull)) match {
            case PName("Identity-H") =>
              doc.resolve(d.m.getOrElse("ToUnicode", PNull)) match {
                case s: PStream =>
                  decodeStream(s, doc.resolve(_), maxStreamOut) match {
                    case Right(bytes) =>
                      parseToUnicode(new String(bytes, StandardCharsets.ISO_8859_1)) match {
                        case Some(m) => Right(CidDec(m))
                        case None => Left("cid_font")
                      }
                    case Left(_) => Left("cid_font")
                  }
                case _ => Left("cid_font") // no ToUnicode: nothing to decode with
              }
            case _ => Left("cid_font") // non-Identity-H CMaps stay degrades
          }
        }
        else doc.resolve(d.m.getOrElse("Encoding", PNull)) match {
          case PNull => Right(SimpleDec(Standard))
          case PName("WinAnsiEncoding") => Right(SimpleDec(WinAnsi))
          case PName("MacRomanEncoding") => Right(SimpleDec(MacRoman))
          case PName("StandardEncoding") => Right(SimpleDec(Standard))
          case e: PDict =>
            val base = e.m.get("BaseEncoding") match {
              case None => Standard
              case Some(PName("WinAnsiEncoding")) => WinAnsi
              case Some(PName("MacRomanEncoding")) => MacRoman
              case Some(PName("StandardEncoding")) => Standard
              case _ => return Left("encoding")
            }
            doc.resolve(e.m.getOrElse("Differences", PNull)) match {
              case PNull => Right(SimpleDec(base))
              case PArr(xs) =>
                val t = base.clone()
                var code = -1
                xs.foreach {
                  case PNum(c) if c >= 0 && c <= 255 => code = c.toInt
                  case PName(g) if code >= 0 =>
                    val ch = glyphChar(g)
                    if (ch == 0.toChar) return Left("encoding")
                    t(code) = ch
                    code += 1
                    if (code > 256) return Left("encoding")
                  case _ => return Left("encoding")
                }
                Right(SimpleDec(t))
              case _ => Left("encoding")
            }
          case _ => Left("encoding")
        }
      case _ => Left("encoding")
    }

  // ---- content-stream interpreter ----

  /** A `TJ` adjustment at or below this (thousandths of text space,
    * negated) is a word gap → one space; smaller magnitudes are kerning
    * and vanish. The fixture pins both sides of the threshold.
    */
  val WordGapThreshold: Double = -100.0

  private final class TextState(sb: java.lang.StringBuilder, maxTextLen: Int,
      fonts: Map[String, Either[String, FontDec]]) {
    private var enc: FontDec = SimpleDec(Standard)
    var pendingNewline = false

    /** Error stage, or null. */
    def show(bytes: Array[Byte]): String = {
      if (pendingNewline && sb.length() > 0) sb.append('\n')
      pendingNewline = false
      enc match {
        case SimpleDec(table) =>
          var i = 0
          while (i < bytes.length) {
            val c = table(bytes(i) & 0xFF)
            sb.append(if (c == 0.toChar) '�' else c)
            i += 1
          }
        case CidDec(map) =>
          // Identity-H: 2-byte big-endian codes; an unmapped code or a
          // torn trailing byte is the visible U+FFFD, like an undefined
          // simple-encoding slot
          var i = 0
          while (i + 1 < bytes.length) {
            val code = Bytes.be16(bytes, i)
            sb.append(map.getOrElse(code, "�"))
            i += 2
          }
          if (i < bytes.length) sb.append('�')
      }
      if (sb.length() > maxTextLen) "budget" else null
    }

    def selectFont(name: String): String = fonts.get(name) match {
      case Some(Right(t)) => enc = t; null
      case Some(Left(stage)) => stage
      case None => enc = SimpleDec(Standard); null // lenient: unknown name → builtin
    }
  }

  /** Run one page's content bytes through the text machine; error
    * stage or null. Operators outside the text set clear operands and
    * move on; inline images skip to `EI`.
    */
  private def runContent(content: Array[Byte], st: TextState): String = {
    val p = new P(content, 0, allowRefs = false)
    val ops = scala.collection.mutable.ArrayBuffer[PVal]()
    def num(i: Int): Double = ops.lift(ops.length - i) match {
      case Some(PNum(d)) => d
      case _ => 0.0
    }
    def str(i: Int): Array[Byte] = ops.lift(ops.length - i) match {
      case Some(PStr(b)) => b
      case _ => Array.emptyByteArray
    }
    var err: String = null
    while (err == null) {
      p.skipWs()
      val c = p.peek
      if (c == -1) return null
      else if (c == '(' || c == '/' || c == '[' || c == '<' ||
        c == '+' || c == '-' || c == '.' || (c >= '0' && c <= '9')) {
        try ops += p.value(0)
        catch { case _: Malformed => return "parse" }
      } else if (c == ']' || c == '>' || c == ')' || c == '{' || c == '}') {
        p.pos += 1 // stray delimiter: lenient skip
      } else {
        val op = try p.keyword() catch { case _: Malformed => return "parse" }
        op match {
          case "Tf" => err = st.selectFont(ops.lift(ops.length - 2) match {
            case Some(PName(n)) => n
            case _ => ""
          })
          case "Td" | "TD" => if (num(1) != 0.0) st.pendingNewline = true
          case "T*" | "Tm" => st.pendingNewline = true
          case "Tj" => err = st.show(str(1))
          case "'" => st.pendingNewline = true; err = st.show(str(1))
          case "\"" => st.pendingNewline = true; err = st.show(str(1))
          case "TJ" =>
            ops.lastOption match {
              case Some(PArr(xs)) =>
                var i = 0
                while (i < xs.length && err == null) {
                  xs(i) match {
                    case PStr(b) => err = st.show(b)
                    case PNum(d) if d <= WordGapThreshold =>
                      err = st.show(Array(' '.toByte))
                    case _ => ()
                  }
                  i += 1
                }
              case _ => ()
            }
          case "BI" => // inline image: skip to a whitespace-bounded EI
            var found = false
            while (!found && p.pos + 2 <= content.length) {
              if (content(p.pos) == 'E' && p.pos + 1 < content.length &&
                content(p.pos + 1) == 'I' &&
                (p.pos == 0 || isWs(content(p.pos - 1) & 0xFF)) &&
                (p.pos + 2 >= content.length || isWs(content(p.pos + 2) & 0xFF))) {
                p.pos += 2; found = true
              } else p.pos += 1
            }
            if (!found) return null // torn inline image ends the page
          case _ => ()
        }
        ops.clear()
      }
    }
    err
  }

  // ---- extraction ----

  /** One document's result: page count, extracted text (null on any
    * degrade) and the stage (`ok` or the first degrade hit).
    */
  final case class PdfDoc(n_pages: Int, text: String, stage: String)

  /** Whole-document text extraction — all-or-NULL with a counted
    * stage; never throws on hostile bytes. Map-only when lifted over
    * rows via [[textRows]].
    */
  def extractText(bytes: Array[Byte], maxTextLen: Int = 4 << 20,
      maxStreamOut: Int = Bytes.MaxOut): PdfDoc = {
    try {
      if (bytes == null || bytes.length < 16 ||
        !(bytes(0) == '%' && bytes(1) == 'P' && bytes(2) == 'D' && bytes(3) == 'F' && bytes(4) == '-'))
        return PdfDoc(0, null, "parse")
      val sx = lastStartxref(bytes)
      if (sx < 0 || sx >= bytes.length) return PdfDoc(0, null, "parse")
      val chain = readXrefChain(bytes, sx)
      if (chain == null) return PdfDoc(0, null, "xref")
      val (xref, trailer, encrypted) = chain
      val doc = new Doc(bytes, xref)
      if (encrypted) {
        // the standard security handler with an EMPTY user password
        // ("owner-password only" restrictions, the dominant real-world
        // encrypted PDF) verifies against /U BEFORE any byte decrypts;
        // on success extraction proceeds with per-object decryption,
        // on anything else the honest degrade holds
        val key = try setupCrypt(doc, trailer)
        catch { case scala.util.control.NonFatal(_) => None }
        key match {
          case Some(fk) => doc.crypt = Some(fk)
          case None =>
            // the stage must read 'encrypted' even when the page tree
            // rides an (encrypted, hence unreadable) object stream — so
            // the count is best-effort, never degrading to 'parse'
            val n = try collectPages(doc, trailer) match {
              case Right(ps) => ps.length
              case Left(_) => 0
            } catch { case scala.util.control.NonFatal(_) => 0 }
            return PdfDoc(n, null, "encrypted")
        }
      }
      collectPages(doc, trailer) match {
        case Left(stage) => PdfDoc(0, null, stage)
        case Right(pages) =>
          val sb = new java.lang.StringBuilder()
          var stage: String = null
          pages.foreach { case (page, fontDict) =>
            if (stage == null) {
              val fonts = fontDict.m.map { case (n, fv) =>
                n -> fontEncoding(doc, fv, maxStreamOut) }
              val st = new TextState(sb, maxTextLen, fonts)
              st.pendingNewline = true // pages are line-separated
              val parts: Vector[PVal] = doc.resolve(page.m.getOrElse("Contents", PNull)) match {
                case s: PStream => Vector(s)
                case PArr(xs) => xs.map(doc.resolve(_))
                case _ => Vector.empty
              }
              val content = new ByteArrayOutputStream()
              parts.foreach { part =>
                if (stage == null) part match {
                  case s: PStream => decodeStream(s, doc.resolve(_), maxStreamOut) match {
                    case Right(d) =>
                      if (content.size() > 0) content.write('\n')
                      content.write(d, 0, d.length)
                    case Left(sg) => stage = sg
                  }
                  case _ => ()
                }
              }
              if (stage == null) stage = runContent(content.toByteArray, st)
              // carry the page boundary into the next page
            }
          }
          if (stage != null) PdfDoc(pages.length, null, stage)
          else PdfDoc(pages.length, sb.toString, "ok")
      }
    } catch {
      case scala.util.control.NonFatal(_) => PdfDoc(0, null, "parse")
    }
  }

  /** Resolve the /Encrypt dict and verify the EMPTY user password
    * against /U (§7.6.3.4 Algorithm 6 via [[PdfCrypt.emptyUserKey]]).
    * The published subset: /Filter /Standard, V 1/2 (RC4) or V 4 with
    * /StdCF carrying /CFM /V2 or /AESV2 and both /StmF and /StrF
    * naming /StdCF, R 2/3/4. Everything else — V5/AES-256, exotic
    * crypt filters, a non-empty user password — returns None and the
    * file keeps its counted `encrypted` stage.
    */
  private def setupCrypt(doc: Doc, trailer: PDict): Option[PdfCrypt.FileKey] = {
    val enc = doc.resolve(trailer.m.getOrElse("Encrypt", PNull)) match {
      case d: PDict => d
      case _ => return None
    }
    if (!enc.m.get("Filter").contains(PName("Standard"))) return None
    def num(k: String, dflt: Long): Long = doc.resolve(enc.m.getOrElse(k, PNull)) match {
      case PNum(x) => x.toLong
      case _ => dflt
    }
    def str(k: String): Array[Byte] = doc.resolve(enc.m.getOrElse(k, PNull)) match {
      case PStr(b) => b
      case _ => return null
    }
    val v = num("V", 0)
    val r = num("R", -1)
    def stdCfm(expect: Set[String]): Option[String] = {
      val cf = doc.resolve(enc.m.getOrElse("CF", PNull)) match {
        case d: PDict => d
        case _ => return None
      }
      val std = doc.resolve(cf.m.getOrElse("StdCF", PNull)) match {
        case d: PDict => d
        case _ => return None
      }
      if (!enc.m.get("StmF").contains(PName("StdCF")) ||
        !enc.m.get("StrF").contains(PName("StdCF"))) return None
      std.m.get("CFM") match {
        case Some(PName(n)) if expect(n) => Some(n)
        case _ => None
      }
    }
    if (v == 5) {
      // AES-256: /U is hash ‖ salts, the file key unwraps from /UE
      if (r != 5 && r != 6) return None
      if (stdCfm(Set("AESV3")).isEmpty) return None
      val u5 = str("U")
      val ue = str("UE")
      if (u5 == null || ue == null) return None
      return PdfCrypt.emptyUserKeyV5(u5, ue, r.toInt)
    }
    if (r != 2 && r != 3 && r != 4) return None
    val aes: Boolean =
      if (v == 1 || v == 2) false
      else if (v == 4) stdCfm(Set("AESV2", "V2")) match {
        case Some("AESV2") => true
        case Some("V2") => false
        case _ => return None
      } else return None
    val keyLen = if (v == 1) 5 else (num("Length", 40) / 8).toInt
    val o = str("O")
    val u = str("U")
    if (o == null || u == null) return None
    val p = num("P", 0).toInt
    val id0: Array[Byte] = trailer.m.get("ID").map(doc.resolve(_)) match {
      case Some(PArr(xs)) if xs.nonEmpty => doc.resolve(xs.head) match {
        case PStr(b) => b
        case _ => Array.empty
      }
      case _ => Array.empty
    }
    val encMeta = doc.resolve(enc.m.getOrElse("EncryptMetadata", PNull)) match {
      case PBool(b) => b
      case _ => true
    }
    PdfCrypt.emptyUserKey(o, u, p, id0, r.toInt, keyLen, aes, encMeta)
  }

  /** PDFDocEncoding (Annex D Table D.2) — what an /Info text string
    * WITHOUT a UTF-16 BOM means: Latin-1 with the typographic set in
    * 0x80–0x9F and the euro at 0xA0's neighbor block. Only the decode
    * direction is needed (fixtures write through the inverse).
    */
  private val PdfDocHigh: Array[Char] = Array(
    '•', '†', '‡', '…', '—', '–', 'ƒ', '⁄',
    '‹', '›', '−', '‰', '„', '“', '”', '‘',
    '’', '‚', '™', 'ﬁ', 'ﬂ', 'Ł', 'Œ', 'Š',
    'Ÿ', 'Ž', 'ı', 'ł', 'œ', 'š', 'ž', 0.toChar)

  /** Table D.2's 0x18–0x1F block: the spacing accents (breve, caron,
    * circumflex, dot above, double acute, ogonek, ring above, tilde).
    */
  private val PdfDocAccents: Array[Char] = Array(
    '˘', 'ˇ', 'ˆ', '˙', '˝', '˛', '˚', '˜')

  /** One PDF TEXT STRING (§7.9.2.2): UTF-16BE when it leads with the
    * FE FF BOM, PDFDocEncoding otherwise. Undefined slots (0x7F, 0x9F,
    * 0xAD) → U+FFFD.
    */
  private[graft] def decodeTextString(bytes: Array[Byte]): String = {
    if (bytes == null) return null
    if (bytes.length >= 2 && (bytes(0) & 0xFF) == 0xFE && (bytes(1) & 0xFF) == 0xFF)
      return new String(bytes, 2, bytes.length - 2, StandardCharsets.UTF_16BE)
    val sb = new java.lang.StringBuilder(bytes.length)
    bytes.foreach { b0 =>
      val b = b0 & 0xFF
      val c =
        if (b >= 0x18 && b <= 0x1F) PdfDocAccents(b - 0x18)
        else if (b == 0x7F || b == 0xAD) 0.toChar // undefined per Table D.2
        else if (b >= 0x80 && b <= 0x9F) PdfDocHigh(b - 0x80)
        else if (b == 0xA0) '€' // Table D.2 puts the euro at 240 octal
        else b.toChar
      sb.append(if (c == 0.toChar) '�' else c)
    }
    sb.toString
  }

  /** Fixture-side text-string literal: UTF-16BE with BOM
    * (`utf16 = true`) or PDFDocEncoding, octal-escaped into `(…)`.
    */
  def textStringLit(s: String, utf16: Boolean): String = {
    val bytes: Array[Byte] =
      if (utf16) Array(0xFE.toByte, 0xFF.toByte) ++ s.getBytes(StandardCharsets.UTF_16BE)
      else s.map { ch =>
        if (ch < 0x80) ch.toByte
        else if (ch == '€') 0xA0.toByte
        else {
          val hi = PdfDocHigh.indexOf(ch)
          val ac = PdfDocAccents.indexOf(ch)
          if (hi >= 0) (0x80 + hi).toByte
          else if (ac >= 0) (0x18 + ac).toByte
          else { require(ch <= 0xFF, s"fixture char '$ch' not PDFDoc-encodable"); ch.toByte }
        }
      }.toArray
    val sb = new java.lang.StringBuilder("(")
    bytes.foreach { b0 =>
      val b = b0 & 0xFF
      if (b == '(' || b == ')' || b == '\\') { sb.append('\\'); sb.append(b.toChar) }
      else if (b >= 32 && b < 127) sb.append(b.toChar)
      else sb.append(f"\\$b%03o")
    }
    sb.append(')').toString
  }

  /** The document-information dictionary's Title/Author — the metadata
    * a corpus keys dedup and provenance on. Null fields when absent or
    * on any degrade (the text extractor's stages already count those).
    */
  def extractInfo(bytes: Array[Byte]): (String, String) = {
    try {
      if (bytes == null || bytes.length < 16 ||
        !(bytes(0) == '%' && bytes(1) == 'P' && bytes(2) == 'D' && bytes(3) == 'F' && bytes(4) == '-'))
        return (null, null)
      val sx = lastStartxref(bytes)
      if (sx < 0 || sx >= bytes.length) return (null, null)
      val chain = readXrefChain(bytes, sx)
      if (chain == null) return (null, null)
      val (xref, trailer, _) = chain
      val doc = new Doc(bytes, xref)
      doc.resolve(trailer.m.getOrElse("Info", PNull)) match {
        case d: PDict =>
          def s(k: String): String = doc.resolve(d.m.getOrElse(k, PNull)) match {
            case PStr(b) => decodeTextString(b)
            case _ => null
          }
          (s("Title"), s("Author"))
        case _ => (null, null)
      }
    } catch {
      case scala.util.control.NonFatal(_) => (null, null)
    }
  }

  /** Document metadata per row: (media_id, title, author). Map-only. */
  def infoRows(df: DataFrame, idCol: String, binCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(df(idCol).cast("long"), df(binCol))
      .as[(Long, Array[Byte])]
      .map { case (id, b) =>
        val (t, a) = extractInfo(b)
        (id, t, a)
      }
      .toDF(idCol, "title", "author")
  }

  /** Extraction per document row: (media_id, n_pages, stage, text).
    * Map-only.
    */
  def textRows(df: DataFrame, idCol: String, binCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(df(idCol).cast("long"), df(binCol))
      .as[(Long, Array[Byte])]
      .map { case (id, b) =>
        val d = extractText(b)
        (id, d.n_pages, d.stage, d.text)
      }
      .toDF(idCol, "n_pages", "stage", "text")
  }

  // ---- fixture writer (tests + gates only) ----

  /** Inverse of a decode table: char → lowest defined code. */
  private def inverse(t: Array[Char]): Map[Char, Int] = {
    var m = Map.empty[Char, Int]
    var i = 255
    while (i >= 32) { if (t(i) != 0.toChar) m += (t(i) -> i); i -= 1 }
    m
  }
  private lazy val WinAnsiInv = inverse(WinAnsi)
  private lazy val MacRomanInv = inverse(MacRoman)
  private lazy val StandardInv = inverse(Standard)

  private def invFor(encoding: String): Map[Char, Int] = encoding match {
    case "WinAnsiEncoding" => WinAnsiInv
    case "MacRomanEncoding" => MacRomanInv
    case _ => StandardInv
  }

  /** `(…)`-literal for `s` under the named encoding: ASCII printable
    * stays raw (parens/backslash escaped), everything else octal.
    */
  def lit(s: String, encoding: String = "WinAnsiEncoding"): String = {
    val inv = invFor(encoding)
    val sb = new java.lang.StringBuilder("(")
    s.foreach { ch =>
      val b = inv.getOrElse(ch, -1)
      require(b >= 0, s"fixture char '$ch' not in $encoding")
      if (b == '(' || b == ')' || b == '\\') { sb.append('\\'); sb.append(b.toChar) }
      else if (b >= 32 && b < 127) sb.append(b.toChar)
      else sb.append(f"\\${b}%03o")
    }
    sb.append(')').toString
  }

  /** `<…>`-hex literal for `s` under the named encoding. */
  def hexLit(s: String, encoding: String = "WinAnsiEncoding"): String = {
    val inv = invFor(encoding)
    "<" + s.map { ch =>
      val b = inv.getOrElse(ch, -1)
      require(b >= 0, s"fixture char '$ch' not in $encoding")
      f"$b%02X"
    }.mkString + ">"
  }

  /** Standard one-string-per-line content ops: each line its own `Td`. */
  def contentOps(lines: Seq[String], encoding: String = "WinAnsiEncoding"): Array[Byte] = {
    val sb = new java.lang.StringBuilder("BT /F1 12 Tf 72 720 Td ")
    lines.zipWithIndex.foreach { case (l, i) =>
      if (i > 0) sb.append("0 -14 Td ")
      sb.append(lit(l, encoding)).append(" Tj ")
    }
    sb.append("ET").toString.getBytes(StandardCharsets.ISO_8859_1)
  }

  /** Fixture /ToUnicode CMap text: the standard /CIDInit wrapper, one
    * `bfchar` per (cid, text) pair and one `bfrange` per (lo, hi,
    * startText) triple — the two section forms §9.10.3 publishes.
    */
  def toUnicodeCMap(bfchar: Seq[(Int, String)],
      bfrange: Seq[(Int, Int, String)] = Nil): String = {
    def hx(s: String): String =
      "<" + s.getBytes(StandardCharsets.UTF_16BE).map(b => f"${b & 0xFF}%02X").mkString + ">"
    val sb = new java.lang.StringBuilder(
      "/CIDInit /ProcSet findresource begin\n12 dict begin\nbegincmap\n" +
        "/CMapName /Fixture-UCS def\n1 begincodespacerange\n<0000> <FFFF>\nendcodespacerange\n")
    if (bfchar.nonEmpty) {
      sb.append(s"${bfchar.length} beginbfchar\n")
      bfchar.foreach { case (c, t) => sb.append(f"<$c%04X> ${hx(t)}\n") }
      sb.append("endbfchar\n"): Unit
    }
    if (bfrange.nonEmpty) {
      sb.append(s"${bfrange.length} beginbfrange\n")
      bfrange.foreach { case (lo, hi, t) => sb.append(f"<$lo%04X> <$hi%04X> ${hx(t)}\n") }
      sb.append("endbfrange\n"): Unit
    }
    sb.append("endcmap\nCMapName currentdict /CMap defineresource pop\nend\nend").toString
  }

  /** Content ops for a CID page: each line a sequence of 2-byte codes,
    * shown as one hex string per `Tj` (the Identity-H form).
    */
  def cidContentOps(lines: Seq[Seq[Int]]): Array[Byte] = {
    val sb = new java.lang.StringBuilder("BT /F1 12 Tf 72 720 Td ")
    lines.zipWithIndex.foreach { case (codes, i) =>
      if (i > 0) sb.append("0 -14 Td ")
      sb.append(codes.map(c => f"$c%04X").mkString("<", "", ">")).append(" Tj ")
    }
    sb.append("ET").toString.getBytes(StandardCharsets.ISO_8859_1)
  }

  /** One fixture page: raw content-op bytes + the font its `/F1`
    * declares. `cid = true` writes a Type0 font — WITH `toUnicode`
    * (raw CMap text) it carries the embedded /ToUnicode stream the
    * reader decodes through; without, it is the counted degrade arm.
    * A non-empty `differences` writes an encoding DICT re-encoding
    * those (code, glyph-name) slots over the base.
    */
  final case class Page(content: Array[Byte], encoding: String = "WinAnsiEncoding",
      cid: Boolean = false, differences: Seq[(Int, String)] = Nil,
      toUnicode: Option[String] = None)

  /** The `/F1` font dict body a fixture page declares. */
  private def fontBody(pg: Page, toUniObj: Option[Int] = None): String =
    if (pg.cid)
      "<< /Type /Font /Subtype /Type0 /BaseFont /Fixture-Identity-H /Encoding /Identity-H" +
        toUniObj.map(o => s" /ToUnicode $o 0 R").getOrElse("") + " >>"
    else if (pg.differences.nonEmpty)
      s"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica /Encoding " +
        s"<< /BaseEncoding /${pg.encoding} /Differences [" +
        pg.differences.map { case (c, g) => s"$c /$g" }.mkString(" ") + "] >> >>"
    else
      s"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica /Encoding /${pg.encoding} >>"

  private def deflate(data: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater()
    d.setInput(data)
    d.finish()
    val out = new ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }

  /** `<< /Length … >> stream … endstream` body for an object. */
  def streamBody(data: Array[Byte], flate: Boolean): Array[Byte] = {
    val payload = if (flate) deflate(data) else data
    val head = (s"<< /Length ${payload.length}" +
      (if (flate) " /Filter /FlateDecode" else "") + " >>\nstream\n")
      .getBytes(StandardCharsets.ISO_8859_1)
    val tail = "\nendstream".getBytes(StandardCharsets.ISO_8859_1)
    head ++ payload ++ tail
  }

  /** Deterministic classic-xref fixture writer: catalog, page tree,
    * one content stream + one font per page, full xref table, trailer.
    * `encrypted = true` adds a minimal `/Encrypt` dict (presence is
    * what the reader honors — fixture strings stay plaintext, which is
    * exactly why the reader must NOT attempt them).
    */
  def pdf(pages: Seq[Page], flate: Boolean = true, encrypted: Boolean = false,
      info: Option[(String, String)] = None, infoUtf16: Boolean = false): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    def w(s: String): Unit = out.write(s.getBytes(StandardCharsets.ISO_8859_1))
    w("%PDF-1.4\n%âãÏÓ\n")
    val offsets = scala.collection.mutable.ArrayBuffer[Long]()
    def obj(body: Array[Byte]): Int = {
      val num = offsets.length + 1
      offsets += out.size().toLong
      w(s"$num 0 obj\n")
      out.write(body, 0, body.length)
      w("\nendobj\n")
      num
    }
    def objS(body: String): Int = obj(body.getBytes(StandardCharsets.ISO_8859_1))

    val n = pages.length
    // a page takes 3 objects (page, contents, font) + 1 when its font
    // embeds a /ToUnicode CMap stream
    val kidNums = pages.scanLeft(3) { (acc, pg) =>
      acc + 3 + (if (pg.toUnicode.isDefined) 1 else 0)
    }.init
    objS(s"<< /Type /Catalog /Pages 2 0 R >>") // obj 1
    objS(s"<< /Type /Pages /Kids [${kidNums.map(k => s"$k 0 R").mkString(" ")}] /Count $n >>") // obj 2
    pages.foreach { pg =>
      val pageNum = offsets.length + 1
      objS(s"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
        s"/Resources << /Font << /F1 ${pageNum + 2} 0 R >> >> /Contents ${pageNum + 1} 0 R >>")
      obj(streamBody(pg.content, flate))
      val toUniObj = pg.toUnicode.map(_ => pageNum + 3)
      objS(fontBody(pg, toUniObj))
      pg.toUnicode.foreach { cm =>
        obj(streamBody(cm.getBytes(StandardCharsets.ISO_8859_1), flate))
      }
    }
    val encObj = if (encrypted)
      Some(objS("<< /Filter /Standard /V 1 /R 2 /O (xx) /U (yy) /P -44 >>"))
    else None
    val infoObj = info.map { case (title, author) =>
      objS(s"<< /Title ${textStringLit(title, infoUtf16)} " +
        s"/Author ${textStringLit(author, infoUtf16)} >>")
    }

    val xrefOff = out.size()
    w(s"xref\n0 ${offsets.length + 1}\n")
    w("0000000000 65535 f \n")
    offsets.foreach(o => w(f"$o%010d 00000 n \n"))
    w(s"trailer\n<< /Size ${offsets.length + 1} /Root 1 0 R" +
      encObj.map(e => s" /Encrypt $e 0 R").getOrElse("") +
      infoObj.map(i => s" /Info $i 0 R").getOrElse("") + " >>\n")
    w(s"startxref\n$xrefOff\n%%EOF\n")
    out.toByteArray
  }

  /** ENCRYPTED-PDF fixture (standard security handler): `mode` ∈
    * `rc40` (V1/R2), `rc4128` (V2/R3), `aes128` (V4/R4 /AESV2). The
    * USER password is empty unless given — the owner-password-only
    * file a reader may legitimately open; a non-empty user password
    * must KEEP degrading (the verifier, not the decryptor, decides).
    * One page per entry (WinAnsi text lines); content streams encrypt
    * per object through the same [[PdfCrypt]] the reader uses — /O,
    * /U and the key derive from the published algorithms, so the gate
    * proves interop, not self-consistency.
    */
  def encryptedPdf(pages: Seq[Seq[String]], mode: String = "rc4128",
      userPwd: String = ""): Array[Byte] = {
    val (v, r, keyLen, aes) = mode match {
      case "rc40" => (1, 2, 5, false)
      case "rc4128" => (2, 3, 16, false)
      case "aes128" => (4, 4, 16, true)
      case "aes256" => (5, 6, 32, true)
      case m => throw new IllegalArgumentException(s"unknown mode $m")
    }
    val p = -3904 // print allowed, modify/copy/annotate denied
    def dmd5(s: String): Array[Byte] =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes(StandardCharsets.ISO_8859_1))
    val id0 = dmd5("graft-id-" + mode)
    val pwdB = userPwd.getBytes(StandardCharsets.ISO_8859_1)
    val ownerB = "owner".getBytes(StandardCharsets.ISO_8859_1)
    // V5: /U = hash2b(pwd, vSalt) ‖ vSalt ‖ kSalt; the file key is
    // fresh material unwrapped from /UE; /O derives over U per spec
    val (o, u, key, ueOe) =
      if (v == 5) {
        val vSalt = dmd5("vs-" + mode).take(8)
        val kSalt = dmd5("ks-" + mode).take(8)
        val fileKey = java.security.MessageDigest.getInstance("SHA-256")
          .digest(("fk-" + mode).getBytes(StandardCharsets.ISO_8859_1))
        val u5 = PdfCrypt.hash2b(pwdB, vSalt, Array.empty) ++ vSalt ++ kSalt
        val ue = PdfCrypt.aesNoPad(
          PdfCrypt.hash2b(pwdB, kSalt, Array.empty), fileKey, encryptMode = true)
        val ovSalt = dmd5("ovs-" + mode).take(8)
        val okSalt = dmd5("oks-" + mode).take(8)
        val o5 = PdfCrypt.hash2b(ownerB, ovSalt, u5) ++ ovSalt ++ okSalt
        val oe = PdfCrypt.aesNoPad(
          PdfCrypt.hash2b(ownerB, okSalt, u5), fileKey, encryptMode = true)
        (o5, u5, fileKey, Some((ue, oe)))
      } else {
        val o4 = PdfCrypt.computeO(ownerB, pwdB, r, keyLen)
        val k4 = PdfCrypt.fileKey(pwdB, o4, p, id0, r, keyLen, encMeta = true)
        (o4, PdfCrypt.computeU(k4, r, id0), k4, None)
      }
    val fk = PdfCrypt.FileKey(key, aes, v5 = v == 5)
    def hex(b: Array[Byte]): String =
      "<" + b.map(x => f"${x & 0xFF}%02X").mkString + ">"

    val out = new ByteArrayOutputStream()
    def w(s: String): Unit = out.write(s.getBytes(StandardCharsets.ISO_8859_1))
    w("%PDF-1.4\n%âãÏÓ\n")
    val offsets = scala.collection.mutable.ArrayBuffer[Long]()
    def obj(body: Array[Byte]): Int = {
      offsets += out.size().toLong
      val num = offsets.length
      w(s"$num 0 obj\n")
      out.write(body, 0, body.length)
      w("\nendobj\n")
      num
    }
    def objS(b: String): Int = obj(b.getBytes(StandardCharsets.ISO_8859_1))
    val nPg = pages.length
    val kids = (0 until nPg).map(i => 3 + 2 * i)
    val fontNum = 3 + 2 * nPg
    objS("<< /Type /Catalog /Pages 2 0 R >>")
    objS(s"<< /Type /Pages /Kids [${kids.map(k => s"$k 0 R").mkString(" ")}] /Count $nPg >>")
    pages.zipWithIndex.foreach { case (lines, i) =>
      val pageNum = 3 + 2 * i
      objS(s"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
        s"/Resources << /Font << /F1 $fontNum 0 R >> >> /Contents ${pageNum + 1} 0 R >>")
      val raw = contentOps(lines)
      val encd = PdfCrypt.encrypt(fk, pageNum + 1, 0, raw, dmd5(s"iv-$mode-$i"))
      obj((s"<< /Length ${encd.length} >>\nstream\n")
        .getBytes(StandardCharsets.ISO_8859_1) ++ encd ++
        "\nendstream".getBytes(StandardCharsets.ISO_8859_1))
    }
    objS("<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica /Encoding /WinAnsiEncoding >>")
    val cfPart =
      if (v == 4)
        " /CF << /StdCF << /CFM /AESV2 /AuthEvent /DocOpen /Length 16 >> >>" +
          " /StmF /StdCF /StrF /StdCF"
      else if (v == 5)
        " /CF << /StdCF << /CFM /AESV3 /AuthEvent /DocOpen /Length 32 >> >>" +
          " /StmF /StdCF /StrF /StdCF" +
          ueOe.map { case (ue, oe) => s" /UE ${hex(ue)} /OE ${hex(oe)}" }.getOrElse("")
      else ""
    val encNum = objS(s"<< /Filter /Standard /V $v /R $r /Length ${keyLen * 8} " +
      s"/O ${hex(o)} /U ${hex(u)} /P $p$cfPart >>")
    val xrefOff = out.size()
    w(s"xref\n0 ${offsets.length + 1}\n")
    w("0000000000 65535 f \n")
    offsets.foreach(o2 => w(f"$o2%010d 00000 n \n"))
    w(s"trailer\n<< /Size ${offsets.length + 1} /Root 1 0 R /Encrypt $encNum 0 R " +
      s"/ID [${hex(id0)} ${hex(id0)}] >>\n")
    w(s"startxref\n$xrefOff\n%%EOF\n")
    out.toByteArray
  }

  /** PDF 1.5+ fixture writer: the same document layout as [[pdf]]
    * (identical object numbering, so the extracted text matches the
    * classic writer's byte-for-byte) but the cross-reference is a
    * STREAM — `/W [1 4 2]` rows, flate-compressed, optionally behind
    * the PNG-Up predictor every real writer emits (`predictor`), and
    * optionally with every non-stream object packed into ONE
    * `/Type /ObjStm` object stream resolved through type-2 entries
    * (`objStm`). Content streams stay direct (the spec forbids streams
    * inside object streams).
    */
  def pdfXrefStream(pages: Seq[Page], flate: Boolean = true,
      predictor: Boolean = false, objStm: Boolean = false): Array[Byte] = {
    require(pages.forall(_.toUnicode.isEmpty),
      "pdfXrefStream's fixed 3-objects-per-page numbering has no ToUnicode slot; use pdf()")
    val out = new ByteArrayOutputStream()
    def w(s: String): Unit = out.write(s.getBytes(StandardCharsets.ISO_8859_1))
    w("%PDF-1.5\n%âãÏÓ\n")
    val n = pages.length
    val kidNums = (0 until n).map(i => 3 + 3 * i)
    def bodyOf(num: Int): String =
      if (num == 1) "<< /Type /Catalog /Pages 2 0 R >>"
      else if (num == 2)
        s"<< /Type /Pages /Kids [${kidNums.map(k => s"$k 0 R").mkString(" ")}] /Count $n >>"
      else {
        val i = (num - 3) / 3
        val pg = pages(i)
        (num - 3) % 3 match {
          case 0 => s"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
            s"/Resources << /Font << /F1 ${num + 2} 0 R >> >> /Contents ${num + 1} 0 R >>"
          case _ => fontBody(pg)
        }
      }
    val total = 2 + 3 * n
    val stmNum = total + 1
    val xrefNum = if (objStm) total + 2 else total + 1
    // entry per object: (type, f2, f3)
    val entries = scala.collection.mutable.HashMap[Int, (Int, Long, Long)]()
    def writeObj(num: Int, body: Array[Byte]): Unit = {
      entries(num) = (1, out.size().toLong, 0L)
      w(s"$num 0 obj\n")
      out.write(body, 0, body.length)
      w("\nendobj\n")
    }
    val dictNums = Seq(1, 2) ++ (0 until n).flatMap(i => Seq(3 + 3 * i, 5 + 3 * i))
    if (objStm) {
      // pack every non-stream object into one ObjStm
      val bodies = dictNums.map(bodyOf)
      val offs = bodies.scanLeft(0)((acc, b) => acc + b.length + 1).init
      val header = dictNums.zip(offs).map { case (nm, o) => s"$nm $o" }.mkString(" ") + "\n"
      val payload = (header + bodies.mkString("\n")).getBytes(StandardCharsets.ISO_8859_1)
      // /First points past the pair header
      val first = header.length
      val stmBody = {
        val deflated = {
          val d = new java.util.zip.Deflater()
          d.setInput(payload); d.finish()
          val bo = new ByteArrayOutputStream()
          val buf = new Array[Byte](8192)
          while (!d.finished()) bo.write(buf, 0, d.deflate(buf))
          d.end()
          bo.toByteArray
        }
        (s"<< /Type /ObjStm /N ${dictNums.length} /First $first " +
          s"/Filter /FlateDecode /Length ${deflated.length} >>\nstream\n")
          .getBytes(StandardCharsets.ISO_8859_1) ++ deflated ++
          "\nendstream".getBytes(StandardCharsets.ISO_8859_1)
      }
      writeObj(stmNum, stmBody)
      dictNums.zipWithIndex.foreach { case (nm, idx) =>
        entries(nm) = (2, stmNum.toLong, idx.toLong)
      }
    } else {
      dictNums.take(2).foreach(nm => writeObj(nm, bodyOf(nm).getBytes(StandardCharsets.ISO_8859_1)))
    }
    pages.zipWithIndex.foreach { case (pg, i) =>
      val pageNum = 3 + 3 * i
      if (!objStm) writeObj(pageNum, bodyOf(pageNum).getBytes(StandardCharsets.ISO_8859_1))
      writeObj(pageNum + 1, streamBody(pg.content, flate))
      if (!objStm) writeObj(pageNum + 2, bodyOf(pageNum + 2).getBytes(StandardCharsets.ISO_8859_1))
    }

    // the cross-reference stream object, last
    val xrefOff = out.size()
    entries(xrefNum) = (1, xrefOff.toLong, 0L)
    val size = xrefNum + 1
    val cols = 7 // 1 + 4 + 2
    val rows = new ByteArrayOutputStream()
    def row(t: Int, f2: Long, f3: Long): Unit = {
      rows.write(t)
      rows.write(((f2 >> 24) & 0xFF).toInt); rows.write(((f2 >> 16) & 0xFF).toInt)
      rows.write(((f2 >> 8) & 0xFF).toInt); rows.write((f2 & 0xFF).toInt)
      rows.write(((f3 >> 8) & 0xFF).toInt); rows.write((f3 & 0xFF).toInt)
    }
    row(0, 0L, 0xFFFFL) // object 0: the free-list head
    (1 until size).foreach { nm =>
      val (t, f2, f3) = entries.getOrElse(nm, (0, 0L, 0L))
      row(t, f2, f3)
    }
    val rawRows = rows.toByteArray
    val predicted =
      if (!predictor) rawRows
      else { // PNG Up (predictor 12): per row, filter byte 2 + delta vs prior
        val o = new ByteArrayOutputStream()
        val nRows = rawRows.length / cols
        var r = 0
        while (r < nRows) {
          o.write(2)
          var i = 0
          while (i < cols) {
            val up = if (r > 0) rawRows((r - 1) * cols + i) & 0xFF else 0
            o.write(((rawRows(r * cols + i) & 0xFF) - up) & 0xFF)
            i += 1
          }
          r += 1
        }
        o.toByteArray
      }
    val deflatedRows = {
      val d = new java.util.zip.Deflater()
      d.setInput(predicted); d.finish()
      val bo = new ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      while (!d.finished()) bo.write(buf, 0, d.deflate(buf))
      d.end()
      bo.toByteArray
    }
    val parms = if (predictor) s" /DecodeParms << /Predictor 12 /Columns $cols >>" else ""
    w(s"$xrefNum 0 obj\n<< /Type /XRef /Size $size /W [1 4 2] /Root 1 0 R " +
      s"/Filter /FlateDecode$parms /Length ${deflatedRows.length} >>\nstream\n")
    out.write(deflatedRows, 0, deflatedRows.length)
    w("\nendstream\nendobj\n")
    w(s"startxref\n$xrefOff\n%%EOF\n")
    out.toByteArray
  }

  /** Incremental update: append one replacement object + an xref
    * section whose `/Prev` points at the original table — the reader
    * must see the NEW generation (newest-first chain).
    */
  def pdfUpdate(orig: Array[Byte], objNum: Int, body: Array[Byte]): Array[Byte] = {
    val prev = lastStartxref(orig)
    require(prev >= 0, "pdfUpdate: original has no startxref")
    val out = new ByteArrayOutputStream()
    out.write(orig, 0, orig.length)
    def w(s: String): Unit = out.write(s.getBytes(StandardCharsets.ISO_8859_1))
    val objOff = out.size()
    w(s"$objNum 0 obj\n")
    out.write(body, 0, body.length)
    w("\nendobj\n")
    val xrefOff = out.size()
    w(s"xref\n$objNum 1\n")
    w(f"$objOff%010d 00000 n \n")
    w(s"trailer\n<< /Size ${objNum + 1} /Root 1 0 R /Prev $prev >>\n")
    w(s"startxref\n$xrefOff\n%%EOF\n")
    out.toByteArray
  }
}
