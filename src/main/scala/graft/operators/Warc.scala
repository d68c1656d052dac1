package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** WARC container parsing — the layer ABOVE the gzip member in a real
  * web-archive ingest (ISO 28500: a WARC file is a concatenation of
  * records, each `WARC/1.0` + CRLF header block + empty line + exactly
  * Content-Length payload bytes + CRLF CRLF). [[records]] explodes
  * each blob into typed per-record rows, completing the ingest story:
  * container walk → (per-member gunzip) → HTML strip → curation.
  *
  * Degrade contract like every codec here: a malformed blob yields the
  * records parsed BEFORE the malformation and stops — a truncated
  * crawl file surfaces its intact prefix instead of failing the task.
  * Byte-exact framing: payload extents come from Content-Length, never
  * from delimiter scanning, so binary payloads cannot desync the walk.
  */
object Warc {

  final case class WarcRecord(
      media_id: Long,
      rec_idx: Int,
      warc_type: String,
      target_uri: String,
      content_length: Long,
      body: String,
      payload_digest: String,
      refers_to_uri: String)

  /** The byte-level record: the SAME framing fields with the body kept
    * as raw bytes — the input of the charset-aware text layer
    * ([[httpTexts]]): a page whose body is not UTF-8 (≈10% of the web
    * declares latin-1/windows-1252) must reach the decoder as bytes,
    * not as an already-NULLed string.
    */
  final case class WarcRecordBytes(
      media_id: Long,
      rec_idx: Int,
      warc_type: String,
      target_uri: String,
      content_length: Long,
      body: Array[Byte],
      payload_digest: String,
      refers_to_uri: String)

  /** Parse one WARC blob into its records (intact prefix on
    * malformation). Bodies are returned as UTF-8 text; a body that is
    * not valid UTF-8 carries NULL (the [[graft.functions.GraftMath
    * .gunzipUtf8]] text contract) while its framing fields remain.
    * Built on [[parseWarcBytes]] — the framing walk exists ONCE.
    */
  def parseWarc(id: Long, bytes: Array[Byte]): Seq[WarcRecord] =
    parseWarcBytes(id, bytes).map { r =>
      val body =
        try java.nio.charset.StandardCharsets.UTF_8.newDecoder()
          .decode(java.nio.ByteBuffer.wrap(r.body)).toString
        catch { case _: Exception => null }
      WarcRecord(r.media_id, r.rec_idx, r.warc_type, r.target_uri,
        r.content_length, body, r.payload_digest, r.refers_to_uri)
    }

  /** The byte-exact framing walk (ISO 28500): version line + header
    * block + exactly Content-Length payload bytes + CRLF CRLF; a
    * malformed blob yields the records parsed BEFORE the malformation.
    */
  def parseWarcBytes(id: Long, bytes: Array[Byte]): Seq[WarcRecordBytes] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[WarcRecordBytes]
    var p = 0
    var idx = 0
    def lineEnd(from: Int): Int = { // index of the \r of the next CRLF
      var i = from
      while (i + 1 < bytes.length && !(bytes(i) == '\r' && bytes(i + 1) == '\n')) i += 1
      if (i + 1 < bytes.length) i else -1
    }
    while (p < bytes.length) {
      // version line
      val ve = lineEnd(p)
      if (ve < 0) return out.toSeq
      val version = new String(bytes, p, ve - p, "US-ASCII")
      if (!version.startsWith("WARC/")) return out.toSeq
      p = ve + 2
      // header block until empty line
      var wType: String = null
      var uri: String = null
      var digest: String = null
      var refersTo: String = null
      var clen = -1L
      var headerOk = true
      var done = false
      while (!done && headerOk) {
        val he = lineEnd(p)
        if (he < 0) { headerOk = false }
        else if (he == p) { done = true; p += 2 } // empty line
        else {
          val line = new String(bytes, p, he - p, "UTF-8")
          val ci = line.indexOf(':')
          if (ci <= 0) headerOk = false
          else {
            val k = line.substring(0, ci).trim.toLowerCase(java.util.Locale.ROOT)
            val v = line.substring(ci + 1).trim
            k match {
              case "warc-type"       => wType = v
              case "warc-target-uri" => uri = v
              // the revisit-resolution pair (ISO 28500 §6.7.2): the
              // payload digest names the ORIGINAL capture's content
              case "warc-payload-digest"      => digest = v
              case "warc-refers-to-target-uri" => refersTo = v
              case "content-length" =>
                clen = try v.toLong catch { case _: NumberFormatException => -1L }
              case _ => ()
            }
            p = he + 2
          }
        }
      }
      if (!headerOk || clen < 0 || p + clen > bytes.length) return out.toSeq
      val bodyBytes = java.util.Arrays.copyOfRange(bytes, p, p + clen.toInt)
      out += WarcRecordBytes(id, idx, wType, uri, clen, bodyBytes, digest, refersTo)
      idx += 1
      p += clen.toInt
      // record separator CRLF CRLF (tolerate EOF right after the last body)
      if (p == bytes.length) return out.toSeq
      if (p + 4 <= bytes.length && bytes(p) == '\r' && bytes(p + 1) == '\n' &&
        bytes(p + 2) == '\r' && bytes(p + 3) == '\n') p += 4
      else return out.toSeq
    }
    out.toSeq
  }

  /** Batch container walk: (idCol: long, payloadCol: binary) → one row
    * per parsed record — the same map-only, shuffle-free shape as
    * [[Multimodal.decodeImages]].
    */
  def records(df: DataFrame, idCol: String, payloadCol: String): DataFrame = {
    import df.sparkSession.implicits._
    df.select(col(idCol).cast("long").as("media_id"), col(payloadCol).as("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, payload) => parseWarc(id, payload) })
      .toDF()
  }

  final case class HttpRecord(
      media_id: Long,
      rec_idx: Int,
      target_uri: String,
      status: Int,
      content_type: String,
      charset: String,
      payload: String)

  /** Split a WARC response record's body into its HTTP layer — status
    * line, Content-Type media type + charset parameter — and the
    * payload after the header block. Real WARC `response` records
    * store the full HTTP message, so this is the step between the
    * container walk and the HTML strip: fetch-status and content-type
    * are what the ingest screen filters on (200 + text types only).
    * Returns None when the body is not an HTTP/1.x message (no status
    * line, no header terminator, junk status code) — degrade, don't
    * guess.
    */
  def parseHttp(body: String): Option[(Int, String, String, String)] = {
    if (body == null || !body.startsWith("HTTP/")) return None
    val headEnd = body.indexOf("\r\n\r\n")
    if (headEnd < 0) return None
    parseHttpHead(body.substring(0, headEnd)).map { h =>
      (h.status, h.contentType, h.charset, body.substring(headEnd + 4))
    }
  }

  /** The parsed HTTP response head: status line + the headers the
    * ingest decodes by. `transferEncoding` / `contentEncoding` /
    * `location` are the first occurrence of their header, trimmed and
    * lowercased (Location keeps its case — URLs are case-sensitive
    * past the authority), null when absent.
    */
  final case class HttpHead(
      status: Int,
      contentType: String,
      charset: String,
      transferEncoding: String,
      contentEncoding: String,
      location: String,
      etag: String,
      lastModified: String,
      xRobotsTag: String)

  /** The header-block parse both HTTP layers share: status line +
    * first Content-Type (media type lowered; charset parameter,
    * unquoted) + the message-framing headers ([[HttpHead]]). None on
    * junk status lines — degrade, don't guess.
    */
  private def parseHttpHead(head: String): Option[HttpHead] = {
    val lines = head.split("\r\n", -1)
    val sl = lines(0).split(" ", 3)
    if (sl.length < 2) return None
    val status =
      try sl(1).toInt catch { case _: NumberFormatException => return None }
    var ctype: String = null
    var charset: String = null
    var te: String = null
    var ce: String = null
    var loc: String = null
    var etag: String = null
    var lm: String = null
    var xr: String = null
    lines.iterator.drop(1).foreach { ln =>
      val ci = ln.indexOf(':')
      if (ci > 0) {
        val name = ln.substring(0, ci).trim
        lazy val value = ln.substring(ci + 1).trim
        if (name.equalsIgnoreCase("content-type") && ctype == null) {
          val v = value
          val sc = v.indexOf(';')
          ctype = (if (sc >= 0) v.substring(0, sc) else v)
            .trim.toLowerCase(java.util.Locale.ROOT)
          val lower = v.toLowerCase(java.util.Locale.ROOT)
          val cs = lower.indexOf("charset=")
          if (cs >= 0)
            charset = lower.substring(cs + 8).stripPrefix("\"")
              .takeWhile(c => c != ';' && c != ' ' && c != '"').trim match {
              case "" => null
              case s  => s
            }
        } else if (name.equalsIgnoreCase("transfer-encoding") && te == null)
          te = value.toLowerCase(java.util.Locale.ROOT)
        else if (name.equalsIgnoreCase("content-encoding") && ce == null)
          ce = value.toLowerCase(java.util.Locale.ROOT)
        else if (name.equalsIgnoreCase("location") && loc == null)
          loc = value
        // validators keep their case: an ETag is an OPAQUE token (RFC
        // 9110 §8.8.3) and If-None-Match must echo it byte-for-byte
        else if (name.equalsIgnoreCase("etag") && etag == null)
          etag = value
        else if (name.equalsIgnoreCase("last-modified") && lm == null)
          lm = value
        // indexing directives are case-insensitive tokens (unlike the
        // opaque validators above), and servers legally emit ONE header
        // PER DIRECTIVE — so repeats COMBINE instead of keep-first
        else if (name.equalsIgnoreCase("x-robots-tag")) {
          val v = value.toLowerCase(java.util.Locale.ROOT)
          xr = if (xr == null) v else xr + ", " + v
        }
      }
    }
    Some(HttpHead(status, ctype, charset, te, ce, loc, etag, lm, xr))
  }

  /** [[parseHttp]] on BYTES: the header block of an HTTP/1.x message
    * is ASCII by grammar (decoded as ISO-8859-1 — byte-lossless), and
    * the payload stays raw bytes for the charset-aware text layer. The
    * FULL head ([[HttpHead]]) feeds the on-the-wire decode chain
    * ([[decodeHttpBody]]): the raw payload bytes here are the message
    * AS TRANSFERRED, still chunked and/or content-coded.
    */
  def parseHttpBytesFull(body: Array[Byte]): Option[(HttpHead, Array[Byte])] = {
    if (body == null || body.length < 5 ||
      body(0) != 'H' || body(1) != 'T' || body(2) != 'T' ||
      body(3) != 'P' || body(4) != '/') return None
    var i = 0
    var headEnd = -1
    while (headEnd < 0 && i + 3 < body.length) {
      if (body(i) == '\r' && body(i + 1) == '\n' &&
        body(i + 2) == '\r' && body(i + 3) == '\n') headEnd = i
      i += 1
    }
    if (headEnd < 0) return None
    parseHttpHead(new String(body, 0, headEnd,
      java.nio.charset.StandardCharsets.ISO_8859_1)).map { h =>
      (h, java.util.Arrays.copyOfRange(body, headEnd + 4, body.length))
    }
  }

  /** RFC 9112 §7.1 chunked-transfer DE-FRAMING: hex chunk-size line
    * (chunk extensions after ';' ignored per spec) + CRLF + exactly
    * that many data bytes + CRLF, repeated; the 0-size last chunk is
    * followed by an optional trailer section and the terminal CRLF.
    * All-or-NULL: a torn chunk, junk size line, missing terminator,
    * bytes past the terminal CRLF, or output past `maxOut` (the bomb
    * cap) yields null — a partial de-chunk would hand downstream
    * digests silently-partial text ([[CompressedMeta.gunzipAll]]'s
    * honesty contract).
    */
  def dechunk(bytes: Array[Byte], maxOut: Int = Bytes.MaxOut): Array[Byte] = {
    if (bytes == null) return null
    val out = new java.io.ByteArrayOutputStream()
    var p = 0
    def lineEnd(from: Int): Int = { // index of the \r of the next CRLF
      var i = from
      while (i + 1 < bytes.length && !(bytes(i) == '\r' && bytes(i + 1) == '\n')) i += 1
      if (i + 1 < bytes.length) i else -1
    }
    while (true) {
      val le = lineEnd(p)
      if (le < 0) return null
      val line = new String(bytes, p, le - p,
        java.nio.charset.StandardCharsets.US_ASCII)
      val semi = line.indexOf(';')
      val hex = if (semi >= 0) line.substring(0, semi) else line
      // strict RFC 9112 grammar: chunk-size is 1*HEXDIG — no sign, no
      // padding (Long.parseLong would accept '+A' and '  A '); cap the
      // digit count so the parse itself can't overflow
      if (hex.isEmpty || hex.length > 12 ||
        !hex.forall(c => (c >= '0' && c <= '9') ||
          (c >= 'a' && c <= 'f') || (c >= 'A' && c <= 'F'))) return null
      val size = java.lang.Long.parseLong(hex, 16)
      if (size < 0 || size > maxOut.toLong - out.size) return null
      p = le + 2
      if (size == 0L) {
        // trailer section: zero or more field lines, then the
        // terminal CRLF; the message must end EXACTLY there
        var done = false
        while (!done) {
          val te = lineEnd(p)
          if (te < 0) return null
          if (te == p) { // empty line — the terminal CRLF
            if (p + 2 != bytes.length) return null
            done = true
          } else p = te + 2
        }
        return out.toByteArray
      }
      if (p + size + 2 > bytes.length) return null
      out.write(bytes, p, size.toInt)
      p += size.toInt
      if (bytes(p) != '\r' || bytes(p + 1) != '\n') return null
      p += 2
    }
    null // unreachable
  }

  /** Strict zlib inflate (RFC 1950 — what `Content-Encoding: deflate`
    * means per RFC 9110): all-or-NULL like [[dechunk]] — corruption,
    * truncation, trailing input, or output past the bomb cap yields
    * null. Raw-deflate bodies (a known server bug) are out of contract
    * and degrade the same visible way.
    */
  def inflateZlib(bytes: Array[Byte], maxOut: Int = Bytes.MaxOut): Array[Byte] = {
    if (bytes == null) return null
    Bytes.inflate(bytes, 0, bytes.length, raw = false, maxOut) match {
      case (out, consumed) if consumed == bytes.length => out
      case _ => null // corrupt, truncated, over cap, or trailing junk
    }
  }

  /** Decode an HTTP payload from its ON-THE-WIRE form to entity bytes:
    * Transfer-Encoding first (the message layer — `chunked` is the
    * only one in contract), then Content-Encoding (`gzip`/`x-gzip` via
    * the CRC-verified strict gunzip, `deflate` via strict zlib,
    * `identity` a no-op). Raw WARC `response` records store responses
    * exactly as transferred, so this is the step a real-archive ingest
    * owes between the HTTP split and the charset decode. Any encoding
    * outside the contract (br, compound lists, `chunked` in
    * Content-Encoding) or any layer failing its strict decode yields
    * null — visible to the drop-reasons audit, never silently-partial
    * text.
    *
    * `Content-Encoding: br` (RFC 7932) is an EXPLICIT exclusion, not
    * an oversight: a correct brotli decoder requires the RFC's
    * ~120 KB static dictionary VERBATIM (back-references reach into it
    * from ordinary streams — decoding without it yields silently-wrong
    * bytes, the one failure mode this codebase never accepts), and
    * this build environment carries neither those bytes nor any
    * brotli implementation to certify golden fixtures against (the
    * honesty bar the zstd decoder met via real CLI bytes). So `br`
    * bodies degrade to NULL and land in the ledger's own 'encoding'
    * drop stage — a counted, visible loss (`q_crawl_ledger_wire`) —
    * until an environment ships the dictionary.
    */
  def decodeHttpBody(payload: Array[Byte], transferEncoding: String,
      contentEncoding: String, maxOut: Int = Bytes.MaxOut): Array[Byte] = {
    val afterTe = transferEncoding match {
      case null      => payload
      case "chunked" => dechunk(payload, maxOut)
      case _         => null
    }
    if (afterTe == null) null
    else contentEncoding match {
      case null | "identity" => afterTe
      case "gzip" | "x-gzip" => CompressedMeta.gunzipAll(afterTe, maxOut, maxOut.toLong)
      case "deflate"         => inflateZlib(afterTe, maxOut)
      case "zstd"            => ZstdDecode.zstdAll(afterTe, maxOut, maxOut.toLong)
      case _                 => null
    }
  }

  /** Charsets the ingest DECODES — the Western-European set plus the
    * JDK-native CJK / Cyrillic / Greek / Turkish / Central-European
    * families a global crawl actually carries (a Shift_JIS or GBK page
    * is most of the non-Western web; NULLing it out loses the text
    * wholesale). Keys are the lowercased labels servers and `<meta>`
    * tags really send — IANA names plus their common aliases.
    * Everything else is out of contract and degrades to NULL rather
    * than mojibake — a wrong decode poisons dedup digests and
    * tokenizers silently, a NULL is visible to the drop-reasons audit.
    * Strict decoders throughout, same as the original set: `shift_jis`
    * maps to strict JIS X 0208 (the cp932/windows-31j superset only
    * under its OWN labels), `gb2312` to GBK (the WHATWG mapping —
    * real gb2312-labeled pages use GBK extensions).
    */
  private val KnownCharsets: Map[String, java.nio.charset.Charset] = {
    import java.nio.charset.StandardCharsets._
    // the CJK/Cyrillic families live in the jdk.charsets module, not
    // java.base — on a jlink-minimized JRE an absent family must fall
    // back to the out-of-contract NULL degrade, not kill this object's
    // initializer (which would take down pure-UTF-8 ingest with it)
    def cs(labels: Seq[String], name: String): Seq[(String, java.nio.charset.Charset)] =
      if (java.nio.charset.Charset.isSupported(name)) {
        val c = java.nio.charset.Charset.forName(name)
        labels.map(_ -> c)
      } else Nil
    (Seq(
      "utf-8" -> UTF_8, "utf8" -> UTF_8,
      "us-ascii" -> US_ASCII, "ascii" -> US_ASCII,
      "iso-8859-1" -> ISO_8859_1, "latin-1" -> ISO_8859_1, "latin1" -> ISO_8859_1) ++
      cs(Seq("windows-1252", "cp1252"), "windows-1252") ++
      // Japanese
      cs(Seq("shift_jis", "shift-jis", "sjis", "x-sjis"), "Shift_JIS") ++
      cs(Seq("windows-31j", "cp932", "ms_kanji"), "windows-31j") ++
      cs(Seq("euc-jp", "x-euc-jp", "eucjp"), "EUC-JP") ++
      // Korean
      cs(Seq("euc-kr", "ks_c_5601-1987", "ksc5601"), "EUC-KR") ++
      cs(Seq("cp949", "windows-949"), "x-windows-949") ++
      // Chinese, simplified + traditional (gb2312 -> GBK per WHATWG)
      cs(Seq("gbk", "x-gbk", "gb2312", "gb_2312-80", "euc-cn"), "GBK") ++
      cs(Seq("gb18030"), "GB18030") ++
      cs(Seq("big5", "big-5"), "Big5") ++
      cs(Seq("big5-hkscs"), "Big5-HKSCS") ++
      // Cyrillic
      cs(Seq("koi8-r", "koi8"), "KOI8-R") ++
      cs(Seq("koi8-u"), "KOI8-U") ++
      cs(Seq("windows-1251", "cp1251"), "windows-1251") ++
      cs(Seq("iso-8859-5"), "ISO-8859-5") ++
      // Central European / Greek / Turkish / the euro-revised latin-1
      cs(Seq("windows-1250", "cp1250"), "windows-1250") ++
      cs(Seq("iso-8859-2", "latin2", "latin-2"), "ISO-8859-2") ++
      cs(Seq("iso-8859-7", "greek"), "ISO-8859-7") ++
      cs(Seq("iso-8859-9", "latin5"), "ISO-8859-9") ++
      cs(Seq("iso-8859-15", "latin9"), "ISO-8859-15")).toMap
  }

  /** Decode payload bytes under a DECLARED charset: strict decoders
    * throughout, so a server LYING about its charset (utf-8-declared
    * latin-1 bytes) yields NULL — visible to the audit — never
    * silently-wrong text. Unknown charsets are out of contract → NULL.
    *
    * UNDECLARED content (charset null — neither header nor meta) tries
    * strict UTF-8 first (validity under the strict decoder is a strong
    * statistical test: legacy single-byte text essentially never
    * validates), then falls back to strict windows-1252 — the WHATWG
    * default for declaration-less pages, and the superset Western
    * servers that omit the parameter actually serve. Both attempts
    * strict, no guessing heuristics: bytes invalid under both still
    * NULL out visibly.
    */
  def decodeCharset(bytes: Array[Byte], charset: String): String = {
    if (bytes == null) return null
    def decode(name: String): String =
      KnownCharsets.get(name) match {
        case None => null
        case Some(cs) =>
          try cs.newDecoder().decode(java.nio.ByteBuffer.wrap(bytes)).toString
          catch { case _: Exception => null }
      }
    if (charset == null) {
      val utf8 = decode("utf-8")
      if (utf8 != null) utf8 else decode("windows-1252")
    } else decode(charset.trim.toLowerCase(java.util.Locale.ROOT))
  }

  /** The `.warc.gz` ingest — how Common Crawl actually ships archives:
    * ONE gzip member PER RECORD (so readers can seek), which a
    * whole-file gunzip silently flattens. Each blob splits into its
    * members ([[CompressedMeta.gunzipMembers]] — CRC/ISIZE-verified,
    * bomb-capped), each member parses as WARC, and `rec_idx`
    * re-indexes sequentially across members so downstream order
    * semantics (dedup keep-first) match the uncompressed path. A
    * corrupt member drops it and everything after — the
    * completed-prefix contract, end to end. Same output shape as
    * [[records]]; map-only.
    */
  def recordsGz(df: DataFrame, idCol: String, payloadCol: String): DataFrame = {
    import df.sparkSession.implicits._
    df.select(col(idCol).cast("long").as("media_id"), col(payloadCol).as("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, payload) =>
        var idx = 0
        CompressedMeta.gunzipMembers(payload).iterator.flatMap { m =>
          parseWarc(id, m).map { r =>
            val out = r.copy(rec_idx = idx)
            idx += 1
            out
          }
        }
      })
      .toDF()
  }

  /** The `.warc.zst` ingest — [[recordsGz]]'s twin for the format
    * crawl archives are moving to: each blob splits into its zstd
    * FRAMES ([[ZstdDecode.zstdMembersAuto]] — full RFC 8878 decode,
    * checksum-verified where present, bomb-capped, skippable frames
    * skipped, and the Common-Crawl convention of the DICTIONARY
    * riding a leading 0x184D2A5D skippable frame handled in place;
    * dictionary-less archives walk identically), each frame parses as
    * WARC, and `rec_idx` re-indexes sequentially across frames. A
    * corrupt frame drops it and everything after — the
    * completed-prefix contract. Same output shape as [[records]];
    * map-only.
    */
  def recordsZst(df: DataFrame, idCol: String, payloadCol: String): DataFrame = {
    import df.sparkSession.implicits._
    df.select(col(idCol).cast("long").as("media_id"), col(payloadCol).as("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, payload) =>
        var idx = 0
        ZstdDecode.zstdMembersAuto(payload).iterator.flatMap { m =>
          parseWarc(id, m).map { r =>
            val out = r.copy(rec_idx = idx)
            idx += 1
            out
          }
        }
      })
      .toDF()
  }

  /** The `.warc.zst` fixture: [[syntheticWarcHttp]]'s records, each
    * wrapped as its OWN zstd frame and concatenated — the record-at-
    * a-time layout's zstd form, carrying the identical logical records
    * so the zst gate shares the plain gate's oracle verbatim. Frame
    * shapes rotate by record (raw+checksum / multi-block raw /
    * skippable-then-raw) so the walk's arms all run inside the gate.
    */
  def syntheticWarcZst(seed: Long, nRecords: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    syntheticWarcHttpRecords(seed, nRecords).zipWithIndex.foreach { case (r, i) =>
      (i % 3) match {
        case 0 =>
          val f = ZstdDecode.zstdFrameRaw(r, checksum = true)
          out.write(f, 0, f.length)
        case 1 =>
          val f = ZstdDecode.zstdFrameRaw(r, blockSize = 40) // multi-block
          out.write(f, 0, f.length)
        case _ =>
          out.write(Array[Byte](0x50, 0x2A, 0x4D, 0x18, 2, 0, 0, 0, 7, 7), 0, 10)
          val f = ZstdDecode.zstdFrameRaw(r)
          out.write(f, 0, f.length)
      }
    }
    out.toByteArray
  }

  /** The WET reader — Common Crawl's EXTRACTED-TEXT sidecar: the same
    * WARC container carrying one `warcinfo` header record and then
    * `conversion` records whose bodies are the already-extracted plain
    * text (UTF-8 by the format's contract; a body violating it rides
    * as NULL from the container walk's strict decode — visible, never
    * mojibake). One row per conversion record; map-only.
    */
  def wetTexts(recs: DataFrame): DataFrame =
    recs
      .filter(col("warc_type") === "conversion")
      .select(col("media_id").cast("long"), col("rec_idx").cast("int"),
        col("target_uri").cast("string"), col("body").cast("string").as("text"))

  /** The WAT reader — Common Crawl's METADATA sidecar: `metadata`
    * records whose bodies are JSON envelopes; the outlinks live at
    * Envelope.Payload-Metadata.HTTP-Response-Metadata.HTML-Metadata
    * .Links[] as (url, path) entries. One row PER LINK — the link
    * graph's source, ready for [[Graph]]'s domain collapse. Parsing is
    * Spark-native `from_json` (null-safe; a `CodegenFallback`
    * expression, so the parse runs outside whole-stage codegen): a corrupt
    * envelope or a record without links contributes nothing — the
    * lenient degrade every untrusted-input parser here shares.
    * Map-only.
    */
  def watLinks(recs: DataFrame): DataFrame = {
    val schema = "STRUCT<Envelope: STRUCT<`Payload-Metadata`: " +
      "STRUCT<`HTTP-Response-Metadata`: STRUCT<`HTML-Metadata`: " +
      "STRUCT<Links: ARRAY<STRUCT<url: STRING, path: STRING>>>>>>>"
    recs
      .filter(col("warc_type") === "metadata")
      .select(col("media_id").cast("long"), col("rec_idx").cast("int"),
        col("target_uri").cast("string").as("src_uri"),
        from_json(col("body").cast("string"), schema,
          Map.empty[String, String]).as("__j"))
      .select(col("media_id"), col("rec_idx"), col("src_uri"),
        explode(col("__j.Envelope.`Payload-Metadata`" +
          ".`HTTP-Response-Metadata`.`HTML-Metadata`.Links")).as("__l"))
      .select(col("media_id"), col("rec_idx"), col("src_uri"),
        col("__l.url").as("href"), col("__l.path").as("link_path"))
      .filter(col("href").isNotNull)
  }

  /** ONE WARC-record writer for every fixture (three fixtures used to
    * carry byte-identical local copies of this framing): version line,
    * type/URI headers, Content-Length, body, record separator.
    */
  private def writeRecord(out: java.io.ByteArrayOutputStream,
      wType: String, uri: String, body: Array[Byte]): Unit = {
    out.write(
      (s"WARC/1.0\r\nWARC-Type: $wType\r\nWARC-Target-URI: $uri\r\n" +
        s"Content-Length: ${body.length}\r\n\r\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    out.write(body)
    out.write('\r'); out.write('\n'); out.write('\r'); out.write('\n')
  }

  /** Deterministic HTML-OUTLINK fixture: `nRecords` response records
    * (200, text/html, utf-8) whose bodies plant the reference-
    * resolution matrix closed-form in (seed, i). Page i lives at
    * `http://site{(seed+i)%5}.example/d/p{i}`; arm i % 4:
    * 0 — two ABSOLUTE links carrying the mess the canonicalizer
    *     normalizes (case, :80, dot segment, fragment) to exactly the
    *     WAT fixture's edge targets `site{(seed+i+j)%5}/l/{i}[b]`;
    * 1 — the SAME two targets expressed through resolution: a
    *     `<base href>` to the j=1 host rebasing a bare relative href,
    *     and a PROTOCOL-RELATIVE src for the j=2 host;
    * 2 — same-host relative resolution: a path-relative href (§5.2.3
    *     merge), a `../` dot-segment href, a query-only href with an
    *     `&amp;` entity, and a nav link that resolves to the PAGE
    *     ITSELF (the already-crawled arm a frontier-discovery
    *     anti-join must drop) — plus the noise an extractor must
    *     ignore (a commented-out link, a javascript: and a mailto:
    *     href, a fragment-only href, a link inside a script body);
    * 3 — torn markup (an attribute with no value, a tag truncated at
    *     end of input): contributes nothing, never throws.
    * Arms 0/1 reproduce [[syntheticWat]]'s `i % 4 < 2` edge set
    * EXACTLY, so a graph gate over this fixture shares the WAT graph
    * gate's closed-form rank oracle.
    */
  def syntheticWarcHtml(seed: Long, nRecords: Int): Array[Byte] = {
    require(seed >= 0 && nRecords >= 0, "syntheticWarcHtml: non-negative seed/count")
    import java.nio.charset.StandardCharsets.{US_ASCII, UTF_8}
    val out = new java.io.ByteArrayOutputStream()
    (0 until nRecords).foreach { i =>
      val m = (seed + i) % 5
      val m1 = (seed + i + 1) % 5
      val m2 = (seed + i + 2) % 5
      val body = (i % 4) match {
        case 0 =>
          s"""<html><body><a href="HTTP://Site$m1.EXAMPLE:80/./l/$i#sec">t</a>""" +
            s"""<img src="http://site$m2.example/l/${i}b"></body></html>"""
        case 1 =>
          s"""<html><head><base href="http://site$m1.example/l/"></head>""" +
            s"""<body><a href="$i">t</a>""" +
            s"""<script src="//site$m2.example/l/${i}b"></script></body></html>"""
        case 2 =>
          s"""<html><body><!-- <a href="http://noise.example/x">c</a> -->""" +
            s"""<a href="l2/rel$i">r</a><a href="../l3/dot$i">d</a>""" +
            s"""<a href="?q=$i&amp;r=2">q</a><a href="p$i">nav</a>""" +
            s"""<a href="#top">f</a>""" +
            s"""<a href="javascript:void(0)">j</a><a href="mailto:a@b.example">m</a>""" +
            s"""<script>var s = "<a href='http://script.example/no'>";</script>""" +
            "</body></html>"
        case _ =>
          s"""<html><a href=>broken</a><a name="x">n</a><a href"""
      }
      val head = "HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n\r\n"
        .getBytes(US_ASCII)
      writeRecord(out, "response", s"http://site$m.example/d/p$i",
        head ++ body.getBytes(UTF_8))
    }
    out.toByteArray
  }

  /** Deterministic WET fixture: a `warcinfo` record then `nRecords`
    * conversion records, text closed-form in (seed, i). `withArms`
    * plants the regimes a WET CONSUMER screens for: i % 7 == 6 → a
    * one-token text (fails any quality floor); else i % 5 == 4 → an
    * exact DUPLICATE of record i−1's text (and the `seed·7 + i`
    * formula collides ACROSS blobs too — e.g. seeds 1/7 and 2/0 — so
    * dedup must be global, not per-blob).
    */
  def syntheticWet(seed: Long, nRecords: Int,
      withArms: Boolean = false): Array[Byte] = {
    require(seed >= 0 && nRecords >= 0, "syntheticWet: non-negative seed/count")
    val out = new java.io.ByteArrayOutputStream()
    def rec(wType: String, uri: String, body: String): Unit =
      writeRecord(out, wType, uri, body.getBytes("UTF-8"))
    rec("warcinfo", s"wet$seed", "software: graft-wet")
    (0 until nRecords).foreach { i =>
      val text =
        if (withArms && i % 7 == 6) "tiny"
        else if (withArms && i % 5 == 4)
          s"wet text ${seed * 7 + i - 1} extracted words"
        else s"wet text ${seed * 7 + i} extracted words"
      rec("conversion", s"http://site${(seed + i) % 5}.example/p$i", text)
    }
    out.toByteArray
  }

  /** Deterministic WAT fixture: a `warcinfo` record then `nRecords`
    * metadata records with JSON link envelopes — arm i % 4: 0/1 = two
    * links, 2 = an envelope WITHOUT Links (head-only page), 3 =
    * CORRUPT JSON (the parser must contribute nothing, not throw).
    */
  def syntheticWat(seed: Long, nRecords: Int): Array[Byte] = {
    require(seed >= 0 && nRecords >= 0, "syntheticWat: non-negative seed/count")
    val out = new java.io.ByteArrayOutputStream()
    def rec(wType: String, uri: String, body: String): Unit =
      writeRecord(out, wType, uri, body.getBytes("UTF-8"))
    rec("warcinfo", s"wat$seed", "software: graft-wat")
    (0 until nRecords).foreach { i =>
      val uri = s"http://site${(seed + i) % 5}.example/p$i"
      val body = (i % 4) match {
        case 3 => s"""{"Envelope": {"Payload-Metadata": {truncated $i"""
        case 2 =>
          s"""{"Envelope": {"Payload-Metadata": {"HTTP-Response-Metadata": """ +
            s"""{"HTML-Metadata": {"Head": {"Title": "t$i"}}}}}}"""
        case _ =>
          val l1 = s"http://site${(seed + i + 1) % 5}.example/l/$i"
          val l2 = s"http://site${(seed + i + 2) % 5}.example/l/${i}b"
          s"""{"Envelope": {"Payload-Metadata": {"HTTP-Response-Metadata": """ +
            s"""{"HTML-Metadata": {"Links": [{"path": "A@/href", "url": "$l1"}, """ +
            s"""{"path": "A@/href", "url": "$l2"}]}}}}}"""
      }
      rec("metadata", uri, body)
    }
    out.toByteArray
  }

  /** Batch byte-level container walk: one row per record with the body
    * as BINARY — the charset-aware ingest's input. Map-only.
    */
  def recordsBinary(df: DataFrame, idCol: String, payloadCol: String): DataFrame = {
    import df.sparkSession.implicits._
    df.select(col(idCol).cast("long").as("media_id"), col(payloadCol).as("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, payload) => parseWarcBytes(id, payload) })
      .toDF()
  }

  /** Lenient `<meta>` charset prescan (the WHATWG fallback, reduced to
    * its useful core): the first `charset=` token inside a `<meta` tag
    * within the first 1024 bytes — the spec's prescan window — read as
    * ISO-8859-1 (the declaration itself is ASCII by grammar). Covers
    * both `<meta charset="x">` and the http-equiv `content="...;
    * charset=x"` form. Null when absent — the caller's default
    * applies.
    */
  def metaCharset(payload: Array[Byte]): String = {
    if (payload == null) return null
    val head = new String(payload, 0, math.min(1024, payload.length),
      java.nio.charset.StandardCharsets.ISO_8859_1)
      .toLowerCase(java.util.Locale.ROOT)
    var i = head.indexOf("<meta")
    while (i >= 0) {
      val end = head.indexOf('>', i)
      val tag = if (end < 0) head.substring(i) else head.substring(i, end)
      val cs = tag.indexOf("charset=")
      if (cs >= 0) {
        val v = tag.substring(cs + 8).stripPrefix("\"").stripPrefix("'")
          .takeWhile(c => c != ';' && c != ' ' && c != '"' && c != '\'' &&
            c != '/' && c != '>').trim
        if (v.nonEmpty) return v
      }
      i = head.indexOf("<meta", i + 5)
    }
    null
  }

  /** The charset-AWARE text layer over a [[recordsBinary]] frame: one
    * row per `response` record with the ON-THE-WIRE payload decoded to
    * entity bytes first ([[decodeHttpBody]] — chunked de-framing, then
    * gzip/deflate content decoding; raw archives store responses as
    * transferred), then to text under its OWN declared charset — the
    * HTTP header's charset parameter first (the transport declaration
    * wins per WHATWG), the `<meta>` prescan ([[metaCharset]], run on
    * the DECODED bytes) when the header is silent, UTF-8 as the
    * default. `transfer_encoding` / `content_encoding` report the wire
    * codings (null = none), `charset` the EFFECTIVE declaration and
    * `charset_source` where it came from ('header' | 'meta' |
    * 'default'). `text` is NULL when the message is torn (status −1),
    * an encoding layer is out of contract or fails its strict decode
    * (torn chunk, corrupt gzip), the charset is out of contract, or
    * the bytes violate the declared encoding — every degrade visible,
    * never mojibake or silently-partial text. Map-only.
    */
  /** The per-record response decode BOTH byte-path readers share
    * ([[httpTexts]] and [[httpLedgerBytes]] — one implementation, so
    * the text layer and the audit ledger can never drift): HTTP split
    * → transfer/content decoding → effective charset (header wins,
    * then the meta prescan, then the UTF-8 default) → strict text.
    * Returns (status, contentType, transferEncoding, contentEncoding,
    * charset, charsetSource, text, bodyDecoded); status −1 and nulls
    * for a torn message. `bodyDecoded` splits a NULL text by CAUSE:
    * false = the WIRE layer lost the body (torn chunk, corrupt gzip,
    * out-of-contract coding), true = the bytes arrived fine and the
    * CHARSET layer refused — two different remediations the audit
    * ledger must not conflate.
    */
  private def decodeResponse(body: Array[Byte])
      : (Int, String, String, String, String, String, String, Boolean) =
    parseHttpBytesFull(body) match {
      case Some((h, raw)) =>
        val payload = decodeHttpBody(raw, h.transferEncoding, h.contentEncoding)
        val (cs, src) =
          if (h.charset != null) (h.charset, "header")
          else metaCharset(payload) match {
            case null => (null: String, "default")
            case m    => (m, "meta")
          }
        (h.status, h.contentType, h.transferEncoding, h.contentEncoding,
          cs, src, decodeCharset(payload, cs), payload != null)
      case None =>
        (-1, null, null, null, null, null, null, false)
    }

  def httpTexts(recs: DataFrame): DataFrame = {
    import recs.sparkSession.implicits._
    recs
      .filter(col("warc_type") === "response")
      .select(col("media_id").cast("long"), col("rec_idx").cast("int"),
        col("target_uri").cast("string"), col("body"))
      .as[(Long, Int, String, Array[Byte])]
      .map { case (id, idx, uri, body) =>
        val (st, ct, te, ce, cs, src, text, _) = decodeResponse(body)
        (id, idx, uri, st, ct, te, ce, cs, src, text)
      }
      .toDF("media_id", "rec_idx", "target_uri", "status", "content_type",
        "transfer_encoding", "content_encoding",
        "charset", "charset_source", "text")
  }

  /** The HTTP layer of a [[records]] frame: one row per `response`
    * record, carrying status / media type / charset / payload —
    * status −1 and NULL fields when the body is not an HTTP message,
    * so torn fetches stay visible to the drop-reasons audit instead
    * of silently vanishing. Map-only like the container walk.
    */
  def httpResponses(recs: DataFrame): DataFrame = {
    import recs.sparkSession.implicits._
    recs
      .filter(col("warc_type") === "response")
      .select(col("media_id").cast("long"), col("rec_idx").cast("int"),
        col("target_uri").cast("string"), col("body").cast("string"))
      .as[(Long, Int, String, String)]
      .map { case (id, idx, uri, body) =>
        parseHttp(body) match {
          case Some((st, ct, cs, pl)) => HttpRecord(id, idx, uri, st, ct, cs, pl)
          case None                   => HttpRecord(id, idx, uri, -1, null, null, null)
        }
      }
      .toDF()
  }

  /** Deterministic WARC-with-HTTP fixture: like [[syntheticWarc]] but
    * response bodies are full HTTP messages — status 200 except
    * (seed+i) % 7 == 2 → 404; Content-Type `text/html; charset=utf-8`
    * except (seed+i) % 5 == 3 → `image/png` (no charset); payload
    * `"page <seed·7+i> body"` — every field closed-form in (seed, i).
    */
  def syntheticWarcHttp(seed: Long, nRecords: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    syntheticWarcHttpRecords(seed, nRecords).foreach(r => out.write(r, 0, r.length))
    out.toByteArray
  }

  /** [[syntheticWarcHttp]]'s records INDIVIDUALLY — the `.warc.gz`
    * fixture gzips one member per record from exactly these bytes, so
    * the gz gate shares the plain gate's oracle verbatim.
    */
  def syntheticWarcHttpRecords(seed: Long, nRecords: Int): Seq[Array[Byte]] = {
    require(seed >= 0 && nRecords >= 0, "syntheticWarcHttp: non-negative seed/count")
    (0 until nRecords).map { i =>
      val body =
        if (i % 2 == 0) {
          val status = if ((seed + i) % 7 == 2) "404 Not Found" else "200 OK"
          val ct =
            if ((seed + i) % 5 == 3) "image/png"
            else "text/html; charset=utf-8"
          s"HTTP/1.1 $status\r\nContent-Type: $ct\r\nServer: graft\r\n\r\n" +
            s"page ${seed * 7 + i} body"
        } else s"request ${seed * 7 + i}"
      val rec =
        s"WARC/1.0\r\n" +
          s"WARC-Type: ${if (i % 2 == 0) "response" else "request"}\r\n" +
          s"WARC-Target-URI: http://site${(seed + i) % 5}.example/p$i\r\n" +
          s"Content-Length: ${body.getBytes("UTF-8").length}\r\n" +
          s"\r\n$body\r\n\r\n"
      rec.getBytes("UTF-8")
    }
  }

  /** Deterministic end-to-end CRAWL fixture: `nRecords` response
    * records whose HTTP layer, target URI messiness and HTML payload
    * are all closed-form in (seed, i) — the q_crawl_pipeline input.
    * Status 404 at (seed+i) % 7 == 2, image/png at (seed+i) % 5 == 3;
    * URI arm i % 4: 0 = uppercase+port+dot-segment mess, 1 = already
    * canonical under the robots-blocked /a1 prefix, 2 = case+fragment
    * mess, 3 = a differently-messy DUPLICATE of record i−1's canonical
    * URL; payload `<html><body><h1>T<i></h1><p>page <seed·7+i> crawl
    * words</p></body></html>`.
    *
    * `withNonResponses` interleaves the record types a REAL
    * Common-Crawl archive carries between responses: after response i,
    * a `revisit` record (same target URI, digest-note body) at
    * i % 3 == 1 and a `request` record (the outgoing GET) at
    * i % 3 == 2 — both with non-HTTP bodies, both closed-form, so an
    * ingest screen can be oracle-checked on counting-and-dropping them
    * instead of silently assuming an all-response stream. The response
    * records' bytes are IDENTICAL either way.
    */
  /** `badEncodingEvery` > 0 appends EXTRA response records under their
    * own never-colliding URIs, one per residue of i mod
    * badEncodingEvery:
    * at == 1, a body declaring `Content-Encoding: br` — out of the
    * decode contract, so a byte-path ledger must classify it by the
    * 'encoding' drop stage (the string path would misread it as torn);
    * at == 2, a `charset=shift_jis` page with REAL Shift_JIS bytes —
    * in contract since the CJK family landed, so it must come out
    * ADMITTED (this is the shrink of the charset drop bucket,
    * measurable in the ledger);
    * at == 0, a `charset=utf-7` page — still out of contract, so it
    * must land in the 'charset' drop stage (distinct from 'encoding':
    * the bytes arrived fine, the declared text encoding is the loss).
    * Appended records shift only rec_idx, never the existing records'
    * relative order, so every other classification count is unchanged.
    */
  def syntheticWarcCrawl(seed: Long, nRecords: Int,
      withNonResponses: Boolean = false,
      withEncodings: Boolean = false,
      badEncodingEvery: Int = 0): Array[Byte] = {
    require(seed >= 0 && nRecords >= 0, "syntheticWarcCrawl: non-negative seed/count")
    import java.nio.charset.StandardCharsets.{US_ASCII, UTF_8}
    val out = new java.io.ByteArrayOutputStream()
    def rec(wType: String, uri: String, body: Array[Byte]): Unit =
      writeRecord(out, wType, uri, body)
    var i = 0
    while (i < nRecords) {
      val m = (seed + i) % 5
      val uri = (i % 4) match {
        case 0 => s"HTTP://Site$m.EXAMPLE:80/a0/./p/$i"
        case 1 => s"http://site$m.example/a1/p/$i"
        case 2 => s"http://Site$m.EXAMPLE/a2/p/$i#x"
        case _ => s"HTTP://site${(seed + i - 1) % 5}.example:80/a2/./p/${i - 1}"
      }
      val status = if ((seed + i) % 7 == 2) "404 Not Found" else "200 OK"
      val ct =
        if ((seed + i) % 5 == 3) "image/png" else "text/html; charset=utf-8"
      val html = (s"<html><body><h1>T$i</h1><p>page ${seed * 7 + i} " +
        "crawl words</p></body></html>").getBytes(UTF_8)
      // withEncodings: the SAME logical entities arrive as a server
      // would send them — identity / chunked / gzipped by i % 3 — so a
      // decode-aware ingest produces IDENTICAL output either way
      val (extra, wire) =
        if (!withEncodings) ("", html)
        else (i % 3) match {
          case 0 => ("", html)
          case 1 => ("\r\nTransfer-Encoding: chunked", chunkBody(html))
          case _ => ("\r\nContent-Encoding: gzip", CompressedMeta.gzipMember(html))
        }
      val head = s"HTTP/1.1 $status\r\nContent-Type: $ct$extra\r\n\r\n"
        .getBytes(US_ASCII)
      rec("response", uri, head ++ wire)
      if (withNonResponses) {
        if (i % 3 == 1)
          rec("revisit", uri, s"digest unchanged ${seed * 7 + i}".getBytes(UTF_8))
        if (i % 3 == 2)
          rec("request", uri, s"GET $uri HTTP/1.1".getBytes(UTF_8))
      }
      if (badEncodingEvery > 0 && i % badEncodingEvery == 1) {
        val encHead = ("HTTP/1.1 200 OK\r\nContent-Type: text/html; " +
          "charset=utf-8\r\nContent-Encoding: br\r\n\r\n").getBytes(US_ASCII)
        rec("response", s"http://site$m.example/enc/$i",
          encHead ++ s"brotli-bytes $i".getBytes(US_ASCII))
      }
      if (badEncodingEvery > 0 && i % badEncodingEvery == 2) {
        val cjkHead = ("HTTP/1.1 200 OK\r\nContent-Type: text/html; " +
          "charset=shift_jis\r\n\r\n").getBytes(US_ASCII)
        // seed in the path: these must stay unique ACROSS blobs — they
        // reach the dedup stage (unlike the early-dropping br/utf-7
        // records) and collisions would demote them to 'duplicate'
        rec("response", s"http://site$m.example/cjk/$seed/$i",
          cjkHead ++ s"日本語 $i".getBytes(
            java.nio.charset.Charset.forName("Shift_JIS")))
      }
      if (badEncodingEvery > 0 && i % badEncodingEvery == 0) {
        val badCsHead = ("HTTP/1.1 200 OK\r\nContent-Type: text/html; " +
          "charset=utf-7\r\n\r\n").getBytes(US_ASCII)
        rec("response", s"http://site$m.example/cs/$i",
          badCsHead ++ s"+ZeVnLIqe- $i".getBytes(US_ASCII))
      }
      i += 1
    }
    out.toByteArray
  }

  /** The FULL-STREAM HTTP layer for drop-reason audits: one row per
    * record of ANY type — `warc_type` rides through; `response`
    * records carry their parsed HTTP layer exactly like
    * [[httpResponses]] (status −1 for torn messages); non-response
    * types (request, revisit, metadata, …) carry status 0 and NULL
    * fields — they HAVE no HTTP response layer, and the audit
    * classifies them by type alone. A screen built on this frame
    * counts what it drops instead of silently assuming an all-response
    * stream. Map-only like the container walk.
    */
  def httpLedger(recs: DataFrame): DataFrame = {
    import recs.sparkSession.implicits._
    recs
      .select(col("media_id").cast("long"), col("rec_idx").cast("int"),
        col("warc_type").cast("string"), col("target_uri").cast("string"),
        col("body").cast("string"))
      .as[(Long, Int, String, String, String)]
      .map { case (id, idx, wType, uri, body) =>
        if (wType == "response") parseHttp(body) match {
          case Some((st, ct, cs, pl)) => (id, idx, wType, uri, st, ct, cs, pl)
          case None                   => (id, idx, wType, uri, -1, null, null, null)
        } else (id, idx, wType, uri, 0, null, null, null)
      }
      .toDF("media_id", "rec_idx", "warc_type", "target_uri",
        "status", "content_type", "charset", "payload")
  }

  /** [[httpLedger]]'s BYTE-PATH twin — the drop-reasons audit over
    * ON-THE-WIRE archives: every record of any type rides through
    * (non-responses status 0, torn messages −1), and response bodies
    * run the full decode chain ([[decodeHttpBody]] + charset) so an
    * encoded page classifies by its REAL fate — `text` NULL with a
    * 200 status means the body failed its transfer/content/charset
    * decode (the 'encoding' drop stage), where the string-path ledger
    * would have misread the binary body as a torn fetch. Map-only.
    */
  def httpLedgerBytes(recs: DataFrame): DataFrame = {
    import recs.sparkSession.implicits._
    recs
      .select(col("media_id").cast("long"), col("rec_idx").cast("int"),
        col("warc_type").cast("string"), col("target_uri").cast("string"),
        col("body"))
      .as[(Long, Int, String, String, Array[Byte])]
      .map { case (id, idx, wType, uri, body) =>
        if (wType == "response") {
          val (st, ct, te, ce, cs, _, text, dec) = decodeResponse(body)
          (id, idx, wType, uri, st, ct, te, ce, cs, text, dec)
        } else (id, idx, wType, uri, 0, null: String, null: String,
          null: String, null: String, null: String, false)
      }
      .toDF("media_id", "rec_idx", "warc_type", "target_uri", "status",
        "content_type", "transfer_encoding", "content_encoding",
        "charset", "text", "body_decoded")
  }

  /** The VALIDATOR ledger of an archive — what a refresh crawler reads
    * back from its own fetch history to plan conditional GETs: one row
    * per `response` record with the status and the validators the
    * server sent (`ETag` case-preserved — it is an opaque token the
    * request must echo byte-for-byte; `Last-Modified` verbatim), NULL
    * where absent or the message is torn (status −1). Feed to
    * [[Changelog.conditionalFetchPlan]] keyed on the URI with
    * `rec_idx` (or a real fetch time) as the recency order. Map-only.
    */
  def httpValidators(recs: DataFrame): DataFrame = {
    import recs.sparkSession.implicits._
    recs
      .filter(col("warc_type") === "response")
      .select(col("media_id").cast("long"), col("rec_idx").cast("int"),
        col("target_uri").cast("string"), col("body"))
      .as[(Long, Int, String, Array[Byte])]
      .map { case (id, idx, uri, body) =>
        parseHttpBytesFull(body) match {
          case Some((h, _)) => (id, idx, uri, h.status, h.etag, h.lastModified)
          case None         => (id, idx, uri, -1, null: String, null: String)
        }
      }
      .toDF("media_id", "rec_idx", "target_uri", "status", "etag",
        "last_modified")
  }

  /** The INDEXABILITY view of an archive: one row per response with
    * the header-side robots directive mask (`X-Robots-Tag`, RFC 9309's
    * HTTP cousin — 1 = noindex, 2 = nofollow) and the decoded text the
    * HTML-side `<meta name=robots>` scan runs on. A corpus screen ANDs
    * both sources: a noindex page's text never enters the corpus, a
    * nofollow page's links never enter the frontier. Torn fetches keep
    * the −1/NULL degrade row. Map-only like every reader here.
    */
  def httpIndexability(recs: DataFrame): DataFrame = {
    import recs.sparkSession.implicits._
    recs
      .filter(col("warc_type") === "response")
      .select(col("media_id").cast("long"), col("rec_idx").cast("int"),
        col("target_uri").cast("string"), col("body"))
      .as[(Long, Int, String, Array[Byte])]
      .map { case (id, idx, uri, body) =>
        // ONE header parse serves both the directive mask and the text
        // decode (decodeResponse would re-parse the same head)
        parseHttpBytesFull(body) match {
          case Some((h, raw)) =>
            val payload = decodeHttpBody(raw, h.transferEncoding, h.contentEncoding)
            val cs = if (h.charset != null) h.charset else metaCharset(payload)
            (id, idx, uri, h.status,
              graft.functions.GraftMath.robotsDirectiveMask(h.xRobotsTag),
              decodeCharset(payload, cs))
          case None => (id, idx, uri, -1, 0, null: String)
        }
      }
      .toDF("media_id", "rec_idx", "target_uri", "status", "x_mask", "text")
  }

  /** REVISIT resolution (ISO 28500 §6.7.2, the identical-payload-digest
    * profile Common Crawl ships): a `revisit` record says "this fetch
    * returned the same payload as an earlier capture" and carries only
    * the digest — the BODY lives in the original response. Resolution
    * = join revisits to the first response sharing the digest
    * (first by capture order, like every keep-first here), so a
    * cross-crawl corpus reads round-N text without round-N bytes.
    * Unresolvable revisits (digest never captured in the frame) keep
    * NULL resolved columns — countable, never dropped silently.
    * Exchanges: the digest join + the keep-first window on the
    * (much smaller) response side.
    */
  def resolveRevisits(recs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val originals = recs
      .filter(col("warc_type") === "response" && col("payload_digest").isNotNull)
      .select(col("payload_digest").as("__d"), col("media_id").as("__om"),
        col("rec_idx").as("__oi"), col("target_uri").as("resolved_from"),
        col("body").as("resolved_body"))
      .withColumn("__rn", org.apache.spark.sql.functions.row_number().over(
        Window.partitionBy(col("__d")).orderBy(col("__om"), col("__oi"))))
      .where(col("__rn") === 1)
      .drop("__rn", "__om", "__oi")
    // DIGEST-LESS revisits stay too: a null key matches nothing in the
    // left join, so they keep NULL resolved columns like any other
    // unresolvable revisit — countable, never dropped silently
    recs
      .filter(col("warc_type") === "revisit")
      .select(col("media_id"), col("rec_idx"), col("target_uri"),
        col("payload_digest"), col("refers_to_uri"))
      .join(originals, col("payload_digest") === col("__d"), "left")
      .drop("__d")
  }

  /** Deterministic REFRESH-ARCHIVE fixture: two fetch ROUNDS of
    * `nPages` pages in one blob (round-2 records follow round-1's, so
    * `rec_idx` is the recency order), validators closed-form in
    * (seed, i): round 1 sends `ETag W/"v1-seed-i"` at i%3==0 and
    * `Last-Modified` at i%2==0; round 2 arrives as a validator-less
    * 304 at i%4==1 (the held tag must persist), else a 200 that
    * REPLACES the tag (i%5!=0) or re-sends none.
    */
  def syntheticWarcRefresh(seed: Long, nPages: Int): Array[Byte] = {
    require(seed >= 0 && nPages >= 0, "syntheticWarcRefresh: non-negative args")
    import java.nio.charset.StandardCharsets.US_ASCII
    val out = new java.io.ByteArrayOutputStream()
    def uri(i: Int) = s"http://site${(seed + i) % 5}.example/r/$seed/$i"
    def rec(i: Int, status: String, etag: String, lm: String): Unit = {
      val head = new StringBuilder(s"HTTP/1.1 $status\r\nContent-Type: text/html")
      if (etag != null) head ++= s"\r\nETag: $etag"
      if (lm != null) head ++= s"\r\nLast-Modified: $lm"
      head ++= "\r\n\r\n"
      writeRecord(out, "response", uri(i),
        (head.toString + (if (status.startsWith("200")) s"body $seed-$i" else ""))
          .getBytes(US_ASCII))
    }
    (0 until nPages).foreach { i => // round 1
      rec(i, "200 OK",
        if (i % 3 == 0) s"""W/"v1-$seed-$i"""" else null,
        if (i % 2 == 0) s"Mon, 0$i Jan 2026" else null)
    }
    (0 until nPages).foreach { i => // round 2
      if (i % 4 == 1) rec(i, "304 Not Modified", null, null)
      else rec(i, "200 OK",
        if (i % 3 == 0 && i % 5 != 0) s"""W/"v2-$seed-$i"""" else null,
        null)
    }
    out.toByteArray
  }

  /** The `.warc.gz` fixture: [[syntheticWarcHttp]]'s records, each
    * wrapped as its OWN gzip member and concatenated — byte-for-byte
    * the Common-Crawl layout, carrying the identical logical records
    * so the gz gate shares the plain gate's oracle verbatim.
    */
  def syntheticWarcGz(seed: Long, nRecords: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    syntheticWarcHttpRecords(seed, nRecords).foreach { r =>
      val m = CompressedMeta.gzipMember(r)
      out.write(m, 0, m.length)
    }
    out.toByteArray
  }

  /** Deterministic CHARSET fixture: six response records per blob
    * whose payload BYTES are written in the charset each declares —
    * the decode matrix of [[httpTexts]], every arm closed-form in
    * `seed`:
    * 0 — utf-8 declared, utf-8 bytes (café);
    * 1 — iso-8859-1 declared, latin-1 bytes (0xE9 — invalid UTF-8, so
    *     the utf-8-only text layer NULLs it; the charset-aware one
    *     decodes);
    * 2 — windows-1252 declared, cp1252 bytes (€ = 0x80);
    * 3 — NO charset parameter, ASCII bytes (the UTF-8 default);
    * 4 — utf-8 DECLARED over latin-1 bytes (a lying server): the
    *     strict decode fails → NULL, visible to the audit;
    * 5 — shift_jis declared over ASCII bytes (ASCII is a Shift_JIS
    *     subset, so the strict decode succeeds — this arm was the
    *     out-of-contract NULL before the CJK family landed);
    * 6 — NO header charset, `<meta charset="iso-8859-1">` in the
    *     prescan window, latin-1 bytes — the meta fallback decodes;
    * 7 — header utf-8 AND a lying meta (iso-8859-1) over utf-8 bytes —
    *     the transport declaration wins per WHATWG;
    * 8-17 — the global-crawl families, each payload written in the
    *     charset it declares (byte-verified: the fixture encodes with
    *     the same JDK charset the decoder uses, and the expected text
    *     is closed-form): shift_jis, euc-jp (via the meta prescan —
    *     header silent), euc-kr, gb2312-labeled GBK, gb18030 (with a
    *     4-byte sequence), big5, koi8-r, windows-1251, iso-8859-7,
    *     iso-8859-2;
    * 18 — shift_jis declared over bytes with an INVALID trail byte (a
    *     lying/corrupt CJK server): strict decode fails → NULL — the
    *     new families keep the never-mojibake contract;
    * 19 — NO declaration anywhere, latin-1 bytes (0xE9): invalid as
    *     UTF-8, so the undeclared-content fallback ADMITS it as
    *     windows-1252 (the WHATWG default) instead of NULLing;
    * 20 — NO declaration, bytes invalid under BOTH utf-8 and cp1252
    *     (0x90 is unmapped in windows-1252): the fallback is strict
    *     too — NULL, never a guess.
    */
  def syntheticWarcCharsets(seed: Long): Array[Byte] = {
    require(seed >= 0, "syntheticWarcCharsets: non-negative seed")
    import java.nio.charset.StandardCharsets.{ISO_8859_1, US_ASCII, UTF_8}
    val cp1252 = java.nio.charset.Charset.forName("windows-1252")
    val out = new java.io.ByteArrayOutputStream()
    def rec(i: Int, charset: String, payload: Array[Byte]): Unit = {
      val ctype = "text/html" + (if (charset == null) "" else s"; charset=$charset")
      val head = s"HTTP/1.1 200 OK\r\nContent-Type: $ctype".getBytes(US_ASCII)
      val bodyLen = head.length + 4 + payload.length
      out.write(
        (s"WARC/1.0\r\nWARC-Type: response\r\n" +
          s"WARC-Target-URI: http://cs$seed.example/p$i\r\n" +
          s"Content-Length: $bodyLen\r\n\r\n").getBytes(US_ASCII))
      out.write(head); out.write("\r\n\r\n".getBytes(US_ASCII))
      out.write(payload); out.write("\r\n\r\n".getBytes(US_ASCII))
    }
    rec(0, "utf-8", s"caf\u00e9 page $seed".getBytes(UTF_8))
    rec(1, "iso-8859-1", s"caf\u00e9 r\u00e9sum\u00e9 $seed".getBytes(ISO_8859_1))
    rec(2, "windows-1252", s"price \u20ac$seed".getBytes(cp1252))
    rec(3, null, s"plain page $seed".getBytes(US_ASCII))
    rec(4, "utf-8", s"caf\u00e9 $seed".getBytes(ISO_8859_1))
    rec(5, "shift_jis", s"nihongo $seed".getBytes(US_ASCII))
    rec(6, null,
      (s"""<html><head><meta charset="iso-8859-1"></head>""" +
        s"<body>caf\u00e9 meta $seed</body></html>").getBytes(ISO_8859_1))
    rec(7, "utf-8",
      (s"""<meta http-equiv="Content-Type" content="text/html; charset=iso-8859-1">""" +
        s"caf\u00e9 hdr $seed").getBytes(UTF_8))
    def bytes(s: String, cs: String) =
      s.getBytes(java.nio.charset.Charset.forName(cs))
    rec(8, "shift_jis",
      bytes(s"\u65e5\u672c\u8a9e\u30da\u30fc\u30b8 $seed", "Shift_JIS"))
    rec(9, null, // header silent \u2014 the euc-jp declaration rides the meta prescan
      bytes(s"""<meta charset="euc-jp">\u8a00\u8a9e\u30c6\u30b9\u30c8 $seed""",
        "EUC-JP"))
    rec(10, "euc-kr",
      bytes(s"\ud55c\uad6d\uc5b4 \ud398\uc774\uc9c0 $seed", "EUC-KR"))
    rec(11, "gb2312", // the WHATWG gb2312->GBK mapping, via an alias label
      bytes(s"\u4e2d\u6587\u7f51\u9875 $seed", "GBK"))
    rec(12, "gb18030", // U+0F00 needs a gb18030 FOUR-byte sequence
      bytes(s"\u4e2d\u6587\u0f00\u9875 $seed", "GB18030"))
    rec(13, "big5",
      bytes(s"\u7e41\u9ad4\u4e2d\u6587 $seed", "Big5"))
    rec(14, "koi8-r",
      bytes(s"\u0440\u0443\u0441\u0441\u043a\u0438\u0439 \u0442\u0435\u043a\u0441\u0442 $seed",
        "KOI8-R"))
    rec(15, "windows-1251",
      bytes(s"\u043a\u0438\u0440\u0438\u043b\u043b\u0438\u0446\u0430 $seed",
        "windows-1251"))
    rec(16, "iso-8859-7",
      bytes(s"\u03b5\u03bb\u03bb\u03b7\u03bd\u03b9\u03ba\u03ac $seed", "ISO-8859-7"))
    rec(17, "iso-8859-2",
      bytes(s"\u010de\u0161tina str\u00e1nka $seed", "ISO-8859-2"))
    rec(18, "shift_jis", // valid lead 0x85 + invalid trail 0x20: strict NULL
      bytes(s"\u65e5\u672c\u8a9e", "Shift_JIS") ++ Array[Byte](0x85.toByte, 0x20))
    rec(19, null, s"legacy caf\u00e9 $seed".getBytes(ISO_8859_1))
    rec(20, null, s"x $seed ".getBytes(US_ASCII) ++ Array[Byte](0x90.toByte))
    out.toByteArray
  }

  /** Wrap entity bytes in RFC 9112 chunked framing — the fixtures'
    * encoder twin of [[dechunk]]: two chunks when the data splits
    * (first chunk carries a chunk extension — readers must ignore it),
    * a trailer field, the terminal CRLF. `tornAt >= 0` truncates the
    * WIRE bytes at that offset (a torn chunk the decoder must NULL).
    */
  def chunkBody(data: Array[Byte], tornAt: Int = -1): Array[Byte] = {
    import java.nio.charset.StandardCharsets.US_ASCII
    val out = new java.io.ByteArrayOutputStream()
    val cut = math.min(data.length, math.max(1, data.length / 2))
    def chunk(off: Int, len: Int, ext: String): Unit = {
      out.write((java.lang.Long.toHexString(len.toLong) + ext + "\r\n")
        .getBytes(US_ASCII))
      out.write(data, off, len)
      out.write("\r\n".getBytes(US_ASCII))
    }
    if (data.length == 0) ()
    else if (cut == data.length) chunk(0, data.length, ";x=1")
    else { chunk(0, cut, ";x=1"); chunk(cut, data.length - cut, "") }
    out.write("0\r\nX-Trailer: t\r\n\r\n".getBytes(US_ASCII))
    val full = out.toByteArray
    if (tornAt >= 0 && tornAt < full.length) java.util.Arrays.copyOf(full, tornAt)
    else full
  }

  /** Zlib-wrapped deflate (RFC 1950) — the fixtures' encoder twin of
    * [[inflateZlib]].
    */
  def zlibDeflate(data: Array[Byte]): Array[Byte] = {
    val defl = new java.util.zip.Deflater()
    defl.setInput(data); defl.finish()
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](data.length + 64)
    while (!defl.finished()) {
      val n = defl.deflate(buf)
      out.write(buf, 0, n)
    }
    defl.end()
    out.toByteArray
  }

  /** Deterministic ON-THE-WIRE ENCODING fixture: eight response
    * records per blob whose payloads arrive as a real server would
    * send them — the decode matrix of [[decodeHttpBody]] crossed with
    * the charset layer, every arm closed-form in `seed`:
    * 0 — identity, utf-8;
    * 1 — Transfer-Encoding: chunked (two chunks, a chunk extension,
    *     a trailer field), utf-8;
    * 2 — Content-Encoding: gzip over iso-8859-1 BYTES (both layers
    *     must decode for the text to surface);
    * 3 — Content-Encoding: deflate (zlib-wrapped per RFC 9110) over
    *     windows-1252 bytes;
    * 4 — chunked OVER gzip (wire = chunk(gzip(entity)) — the layer
    *     order RFC 9112 prescribes);
    * 5 — chunked TORN mid-chunk → NULL text, framing fields survive;
    * 6 — Content-Encoding: br (out of contract) → NULL;
    * 7 — gzip with a corrupted CRC → the strict decode NULLs;
    * 8 — Content-Encoding: zstd over a real compressed-block frame
    *     (the coding RFC 8878 §7 registers; crawl archives are moving
    *     to it).
    */
  def syntheticWarcEncodings(seed: Long): Array[Byte] = {
    require(seed >= 0, "syntheticWarcEncodings: non-negative seed")
    import java.nio.charset.StandardCharsets.{ISO_8859_1, US_ASCII, UTF_8}
    val cp1252 = java.nio.charset.Charset.forName("windows-1252")
    val out = new java.io.ByteArrayOutputStream()
    def rec(i: Int, charset: String, te: String, ce: String,
        wire: Array[Byte]): Unit = {
      val head = new StringBuilder()
        .append(s"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=$charset")
      if (te != null) head.append(s"\r\nTransfer-Encoding: $te")
      if (ce != null) head.append(s"\r\nContent-Encoding: $ce")
      val hb = head.toString.getBytes(US_ASCII)
      val bodyLen = hb.length + 4 + wire.length
      out.write(
        (s"WARC/1.0\r\nWARC-Type: response\r\n" +
          s"WARC-Target-URI: http://enc$seed.example/p$i\r\n" +
          s"Content-Length: $bodyLen\r\n\r\n").getBytes(US_ASCII))
      out.write(hb); out.write("\r\n\r\n".getBytes(US_ASCII))
      out.write(wire); out.write("\r\n\r\n".getBytes(US_ASCII))
    }
    rec(0, "utf-8", null, null, s"caf\u00e9 page $seed".getBytes(UTF_8))
    rec(1, "utf-8", "chunked", null,
      chunkBody(s"chunked caf\u00e9 $seed".getBytes(UTF_8)))
    rec(2, "iso-8859-1", null, "gzip",
      CompressedMeta.gzipMember(s"gz caf\u00e9 r\u00e9sum\u00e9 $seed".getBytes(ISO_8859_1)))
    rec(3, "windows-1252", null, "deflate",
      zlibDeflate(s"price \u20ac$seed".getBytes(cp1252)))
    rec(4, "utf-8", "chunked", "gzip",
      chunkBody(CompressedMeta.gzipMember(s"both caf\u00e9 $seed".getBytes(UTF_8))))
    rec(5, "utf-8", "chunked", null,
      chunkBody(s"torn caf\u00e9 $seed".getBytes(UTF_8), tornAt = 6))
    rec(6, "utf-8", null, "br", s"brotli $seed".getBytes(US_ASCII))
    val badGz = CompressedMeta.gzipMember(s"corrupt $seed".getBytes(US_ASCII))
    badGz(badGz.length - 6) = (badGz(badGz.length - 6) ^ 0x5A).toByte
    rec(7, "utf-8", null, "gzip", badGz)
    // 8 — Content-Encoding: zstd (RFC 8878 §7) over a REAL
    //     compressed-block frame (RLE-mode sequence + window match)
    rec(8, "utf-8", null, "zstd",
      ZstdDecode.zstdFrameSequences(s"zs$seed ".getBytes(US_ASCII), 4,
        "end".getBytes(US_ASCII), checksum = true))
    out.toByteArray
  }

  /** Deterministic WARC fixture: `nRecords` records whose fields are
    * all closed-form in (seed, i) — type alternates response/request,
    * URI from the shared domain formula shape, body
    * `"payload <seed·7+i> content words"` — optionally keeping only
    * the first `keepRecords` records' bytes plus 10 garbage bytes
    * (planting a truncated crawl file whose intact prefix must still
    * parse).
    */
  def syntheticWarc(seed: Long, nRecords: Int, keepRecords: Int = Int.MaxValue): Array[Byte] = {
    require(seed >= 0 && nRecords >= 0, "syntheticWarc: non-negative seed/count")
    val out = new java.io.ByteArrayOutputStream()
    var cut = -1
    var i = 0
    while (i < nRecords) {
      if (i == keepRecords) cut = out.size()
      val body = s"payload ${seed * 7 + i} content words"
      val rec =
        s"WARC/1.0\r\n" +
          s"WARC-Type: ${if (i % 2 == 0) "response" else "request"}\r\n" +
          s"WARC-Target-URI: http://site${(seed + i) % 5}.example/p$i\r\n" +
          s"Content-Length: ${body.getBytes("UTF-8").length}\r\n" +
          s"\r\n$body\r\n\r\n"
      out.write(rec.getBytes("UTF-8"))
      i += 1
    }
    val full = out.toByteArray
    if (cut < 0) full
    else java.util.Arrays.copyOf(full, cut + 10) // 10 garbage-ish bytes of the next record
  }
}
