package graft.operators

import java.nio.charset.StandardCharsets.UTF_16LE

import org.apache.spark.sql.DataFrame

/** Outlook `.msg` ([MS-OXMSG]) extraction — the mail-dump format next
  * to [[Mbox]]: a CFB container whose properties live in
  * `__substg1.0_TTTTYYYY` streams (TTTT the property tag, YYYY the
  * type — 001F UTF-16LE, 001E 8-bit), with recipients and attachments
  * as `__recip_version1.0_#N` / `__attach_version1.0_#N`
  * SUB-STORAGES. The reader consumes the PATH-QUALIFIED container
  * walk ([[Cfb.parse]]'s directory tree): only ROOT-level property
  * streams are the message's own — a recipient storage carries its
  * own property streams (display name, even body-tagged ones) that
  * must never shadow the message body, which is exactly what the
  * tree namespace guarantees.
  *
  * Extracted: subject (tag 0037), body (tag 1000), sender name
  * (0C1A), and the recipient/attachment counts (sub-storage census —
  * the inventory-not-decode discipline for the binary attachment
  * payloads). Degrades, countable: not a parseable CFB → `cfb`; a
  * CFB with no message property streams → `part`; an encrypted OOXML
  * shell → `encrypted`. Map-only. Reference scope: the reference
  * ingests line JSON only (`App.java:136-162`).
  */
object Msg {

  final case class MsgDoc(stage: String, subject: String, sender: String,
      body: String, n_recipients: Int, n_attachments: Int)

  private def decode1252(b: Array[Byte]): String =
    new String(b, java.nio.charset.Charset.forName("windows-1252"))

  /** A root-level string property by tag: the UTF-16 form wins, the
    * 8-bit form is the fallback spelling.
    */
  private def prop(doc: Cfb.CfbDoc, tag: String): String =
    doc.streams.get(s"__substg1.0_${tag}001F").map(b => new String(b, UTF_16LE))
      .orElse(doc.streams.get(s"__substg1.0_${tag}001E").map(decode1252))
      .orNull

  /** The [MS-OXRTFCP] LZFu init dictionary — the published 207-byte
    * prelude every compressed-RTF body's references may reach into.
    */
  private val LzfuPrelude: Array[Byte] =
    ("{\\rtf1\\ansi\\mac\\deff0\\deftab720{\\fonttbl;}" +
      "{\\f0\\fnil \\froman \\fswiss \\fmodern \\fscript \\fdecor " +
      "MS Sans SerifSymbolArialTimes New RomanCourier" +
      "{\\colortbl\\red0\\green0\\blue0\r\n" +
      "\\par \\pard\\plain\\f0\\fs20\\b\\i\\u\\tab\\tx")
      .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)

  /** [MS-OXRTFCP] LZFu decompression — the compressed-RTF body most
    * real .msg files carry (PR_RTF_COMPRESSED, tag 1009): a 4096-byte
    * circular dictionary seeded with the published prelude; control
    * bytes flag literals vs 12-bit-offset / 4-bit-length references; a
    * reference whose offset equals the current write position is the
    * END token. `MELA`-tagged payloads are stored uncompressed. None
    * on malformed input (countable — the body stays absent, never
    * garbage). The CRC is not validated (lenient read).
    */
  private[graft] def lzfuDecompress(data: Array[Byte],
      maxOut: Int = 16 << 20): Option[Array[Byte]] = {
    if (data == null || data.length < 16) return None
    val rawSize = Bytes.le32(data, 4)
    if (rawSize > maxOut) return None
    Bytes.le32(data, 8) match {
      case 0x414C454DL => // 'MELA': stored uncompressed
        val n = math.min(rawSize, (data.length - 16).toLong).toInt
        Some(java.util.Arrays.copyOfRange(data, 16, 16 + n))
      case 0x75465A4CL => // 'LZFu'
        val dict = new Array[Byte](4096)
        System.arraycopy(LzfuPrelude, 0, dict, 0, LzfuPrelude.length)
        var wpos = LzfuPrelude.length
        val out = new java.io.ByteArrayOutputStream()
        var i = 16
        while (i < data.length && out.size <= maxOut) {
          val control = data(i) & 0xFF
          i += 1
          var bit = 0
          while (bit < 8) {
            if ((control & (1 << bit)) == 0) {
              if (i >= data.length) return None // torn literal run
              dict(wpos) = data(i)
              wpos = (wpos + 1) % 4096
              out.write(data(i))
              i += 1
            } else {
              if (i + 2 > data.length) return None
              val v = Bytes.be16(data, i)
              i += 2
              val off = v >>> 4
              if (off == wpos) return Some(out.toByteArray) // END token
              var j = 0
              var rp = off
              val len = (v & 0xF) + 2
              while (j < len) {
                val b = dict(rp)
                rp = (rp + 1) % 4096
                dict(wpos) = b
                wpos = (wpos + 1) % 4096
                out.write(b)
                j += 1
              }
            }
            bit += 1
          }
        }
        None // ran out without an END token: malformed
      case _ => None
    }
  }

  private[operators] def isMsg(doc: Cfb.CfbDoc): Boolean =
    doc.streams.contains("__properties_version1.0") ||
      doc.streams.keysIterator.exists(k =>
        !k.contains("/") && k.startsWith("__substg1.0_"))

  /** The HTML body (PR_HTML, tag 1013) — how modern mail stores its
    * prose: the canonical 0102 (binary) spelling first (decoded UTF-8,
    * the dominant real encoding), then the string spellings, fed
    * through the shipped HTML stripper ([[Html.blocks]] with no word
    * floor — mail bodies are short and must keep whole). A body that
    * strips to EMPTY falls through to the RTF arm (absence
    * semantics — markup-only HTML never shadows a real RTF body).
    */
  private def htmlBody(doc: Cfb.CfbDoc): Option[String] =
    doc.streams.get("__substg1.0_10130102")
      .map(b => new String(b, java.nio.charset.StandardCharsets.UTF_8))
      .orElse(doc.streams.get("__substg1.0_1013001F")
        .map(b => new String(b, UTF_16LE)))
      .orElse(doc.streams.get("__substg1.0_1013001E").map(decode1252))
      .map(h => Html.blocks(h, minWords = 0).map(_.text).mkString("\n"))
      .filter(_.nonEmpty)

  private[operators] def readCfb(doc: Cfb.CfbDoc): MsgDoc = {
    if (!isMsg(doc)) return MsgDoc("part", null, null, null, 0, 0)
    // body resolution PRECEDENCE (spec-blessed, pinned by q_msg_html's
    // all-three fixture): the plain-text property (1000) → the HTML
    // property (1013) through the HTML stripper → the COMPRESSED-RTF
    // property (1009) through LZFu + the RTF stripper
    val body = Option(prop(doc, "1000")).orElse(htmlBody(doc)).orElse {
      doc.streams.get("__substg1.0_10090102")
        .flatMap(lzfuDecompress(_))
        .flatMap { rtf =>
          val d = Rtf.strip(rtf)
          if (d.stage == "ok") Some(d.paragraphs.mkString("\n")) else None
        }
    }.orNull
    // ROOT-level storages only: an EMBEDDED message's own sub-storages
    // carry the same name shapes one path level down and must count to
    // the sub-message, never to this one
    MsgDoc("ok",
      prop(doc, "0037"), prop(doc, "0C1A"), body,
      doc.entries.count(e => e.typ == 1 && !e.name.contains("/") &&
        e.name.startsWith("__recip_version1.0_")),
      doc.entries.count(e => e.typ == 1 && !e.name.contains("/") &&
        e.name.startsWith("__attach_version1.0_")))
  }

  def read(bytes: Array[Byte]): MsgDoc =
    Cfb.parse(bytes) match {
      case None => MsgDoc("cfb", null, null, null, 0, 0)
      case Some(doc) =>
        if (Cfb.isEncryptedOoxml(doc)) MsgDoc("encrypted", null, null, null, 0, 0)
        else readCfb(doc)
    }

  /** Subject + body joined by NEWLINE — the prose surface the
    * curation pipeline feeds on (either part may be absent).
    */
  private[graft] def flatText(d: MsgDoc): String =
    Seq(Option(d.subject), Option(d.body)).flatten.mkString("\n")

  /** One attachment, opened: the storage's hex ordinal, its best
    * filename (PR_ATTACH_LONG_FILENAME 3707 → PR_ATTACH_FILENAME 3704
    * → PR_DISPLAY_NAME 3001 — each in both string spellings), the
    * PR_ATTACH_DATA_BIN (3701, type 0102) payload bytes, and — for
    * EMBEDDED-MESSAGE attachments, which store a whole sub-message as
    * the `__substg1.0_3701000D` SUB-STORAGE instead of bytes — the
    * parsed message. Exactly one of `data`/`embedded` is set for a
    * payload-bearing attachment; both absent = an entry whose payload
    * was stripped (countable downstream).
    */
  final case class MsgAttachment(no: Int, filename: String,
      data: Array[Byte], embedded: Option[MsgDoc])

  private val AttachStorage = "^__attach_version1\\.0_#([0-9A-Fa-f]{8})$".r

  /** The sub-tree under `prefix/` re-rooted as its own container view
    * — the ONE bounded recursion level the embedded-message arm needs:
    * [[readCfb]] over the view counts the sub-message's own
    * recipients/attachments but never opens them further.
    */
  private def subDoc(doc: Cfb.CfbDoc, prefix: String): Cfb.CfbDoc = {
    val p = prefix + "/"
    Cfb.CfbDoc(
      doc.entries.collect {
        case e if e.name.startsWith(p) => e.copy(name = e.name.substring(p.length))
      },
      doc.streams.collect {
        case (k, v) if k.startsWith(p) => k.substring(p.length) -> v
      })
  }

  /** Open every attachment storage of an already-parsed message, in
    * hex-ordinal order. Requires the path-qualified tree walk (a flat
    * fallback's bare names cannot address a storage's streams) — on a
    * mangled directory the census still counts, this yields empty.
    */
  private[graft] def attachmentsOf(doc: Cfb.CfbDoc): Seq[MsgAttachment] =
    doc.entries.collect {
      case e if e.typ == 1 && AttachStorage.findFirstIn(e.name).isDefined => e.name
    }.sorted.map { st =>
      val no = Integer.parseInt(st.substring(st.length - 8), 16)
      def sprop(tag: String): Option[String] =
        doc.streams.get(s"$st/__substg1.0_${tag}001F")
          .map(b => new String(b, UTF_16LE))
          .orElse(doc.streams.get(s"$st/__substg1.0_${tag}001E").map(decode1252))
      val name = sprop("3707").orElse(sprop("3704")).orElse(sprop("3001")).orNull
      val data = doc.streams.get(s"$st/__substg1.0_37010102").orNull
      val embedded =
        if (data != null) None
        else {
          val nested = s"$st/__substg1.0_3701000D"
          if (doc.entries.exists(e => e.typ == 1 && e.name == nested))
            Some(readCfb(subDoc(doc, nested)))
          else None
        }
      MsgAttachment(no, name, data, embedded)
    }

  /** One row per message: (media_id, stage, subject, sender,
    * n_recipients, n_attachments, text). Map-only.
    */
  def textRows(df: DataFrame, idCol: String, binCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(df(idCol).cast("long"), df(binCol))
      .as[(Long, Array[Byte])]
      .map { case (id, b) =>
        val d = if (b == null || !Cfb.isCfb(b))
          MsgDoc("cfb", null, null, null, 0, 0)
        else read(b)
        (id, d.stage, d.subject, d.sender, d.n_recipients, d.n_attachments,
          if (d.stage == "ok") flatText(d) else null)
      }
      .toDF(idCol, "stage", "subject", "sender", "n_recipients",
        "n_attachments", "text")
  }

  // ---- fixture writer (tests + gates only) ----

  /** Minimal valid .msg: the property marker stream, root subject/
    * sender/body (UTF-16 spelling), one recipient sub-storage per
    * entry of `recipients` — each carrying its display name AND a
    * POISON body-tagged stream that must never shadow the message
    * body (the tree-namespace proof) — plus `attachments` attachment
    * sub-storages with opaque payload streams.
    */
  /** LZFu compression (fixture side): one crafted reference into the
    * init dictionary when the body opens with the prelude's `rtf1`
    * header (proving reference decode against the published dict),
    * literals for the rest, the END token last. CRC written 0 (the
    * reader is lenient by contract).
    */
  private[graft] def lzfuCompress(rtf: Array[Byte]): Array[Byte] = {
    val head = "{\\rtf1\\ansi".getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    val opensWithDict = rtf.length >= head.length &&
      head.indices.forall(i => rtf(i) == head(i))
    var wpos = LzfuPrelude.length
    var pos = 0
    val toks = scala.collection.mutable.ArrayBuffer[Either[Byte, Int]]()
    if (opensWithDict) {
      toks += Right((0 << 4) | (head.length - 2)) // dict offset 0, len 11
      pos = head.length
      wpos += head.length
    }
    while (pos < rtf.length) {
      toks += Left(rtf(pos))
      pos += 1
      wpos += 1
    }
    toks += Right(((wpos % 4096) << 4)) // END: offset = write position
    val body = new java.io.ByteArrayOutputStream()
    toks.grouped(8).foreach { group =>
      var control = 0
      group.zipWithIndex.foreach { case (t, i) => if (t.isRight) control |= 1 << i }
      body.write(control)
      group.foreach {
        case Left(b) => body.write(b)
        case Right(v) => body.write((v >> 8) & 0xFF); body.write(v & 0xFF)
      }
    }
    val out = new java.io.ByteArrayOutputStream()
    def w32(v: Long): Unit = out.write(Bytes.leBytes(v, 4))
    w32(body.size.toLong + 12) // compSize: bytes after this field
    w32(rtf.length.toLong)
    w32(0x75465A4CL) // 'LZFu'
    w32(0L) // crc: not validated by the lenient reader
    body.writeTo(out)
    out.toByteArray
  }

  def msg(subject: String, sender: String, body: String,
      recipients: Seq[String], attachments: Int = 0,
      rtfBody: String = null, htmlBody: String = null,
      attachFiles: Seq[(String, Array[Byte])] = Seq.empty,
      attachMsg: Option[(String, String)] = None): Array[Byte] = {
    // null subject/sender/body omit the property stream (all three are
    // optional in real messages — absence is not a degrade); `rtfBody`
    // ships as the COMPRESSED-RTF property, `htmlBody` as PR_HTML's
    // binary spelling. `attachFiles` are payload-bearing attachments
    // (long filename + PR_ATTACH_DATA_BIN); `attachMsg` embeds a whole
    // (subject, body) sub-message as the 3701000D SUB-STORAGE form.
    val base = Seq(("__properties_version1.0", new Array[Byte](32))) ++
      Option(subject).map(s => ("__substg1.0_0037001F", s.getBytes(UTF_16LE))) ++
      Option(sender).map(s => ("__substg1.0_0C1A001F", s.getBytes(UTF_16LE))) ++
      Option(body).map(s => ("__substg1.0_1000001F", s.getBytes(UTF_16LE))) ++
      Option(htmlBody).map(s => ("__substg1.0_10130102",
        s.getBytes(java.nio.charset.StandardCharsets.UTF_8))) ++
      Option(rtfBody).map(s => ("__substg1.0_10090102",
        lzfuCompress(s.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))))
    val recips = recipients.zipWithIndex.flatMap { case (r, i) =>
      val st = f"__recip_version1.0_#$i%08X"
      Seq(
        (s"$st/__substg1.0_3001001F", r.getBytes(UTF_16LE)),
        (s"$st/__substg1.0_1000001F",
          "RECIPIENT BODY MUST NOT SURFACE".getBytes(UTF_16LE)))
    }
    val attach = (0 until attachments).map { i =>
      val st = f"__attach_version1.0_#$i%08X"
      (s"$st/__substg1.0_37010102", Array.tabulate[Byte](24)(j => (i + j).toByte))
    }
    val files = attachFiles.zipWithIndex.flatMap { case ((fname, data), j) =>
      val st = f"__attach_version1.0_#${attachments + j}%08X"
      Seq(
        (s"$st/__substg1.0_3707001F", fname.getBytes(UTF_16LE)),
        (s"$st/__substg1.0_37010102", data))
    }
    val nested = attachMsg.toSeq.flatMap { case (subj, bdy) =>
      val st = f"__attach_version1.0_#${attachments + attachFiles.length}%08X"
      Seq(
        (s"$st/__substg1.0_3001001F", subj.getBytes(UTF_16LE)),
        (s"$st/__substg1.0_3701000D/__properties_version1.0", new Array[Byte](32)),
        (s"$st/__substg1.0_3701000D/__substg1.0_0037001F", subj.getBytes(UTF_16LE)),
        (s"$st/__substg1.0_3701000D/__substg1.0_1000001F", bdy.getBytes(UTF_16LE)))
    }
    Cfb.cfb(base ++ recips ++ attach ++ files ++ nested)
  }
}
