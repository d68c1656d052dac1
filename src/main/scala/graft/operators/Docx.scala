package graft.operators

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.DataFrame

/** DOCX (ECMA-376 WordprocessingML) text extraction — the last
  * mainstream prose source: reports, theses, and gray literature ship
  * as .docx. Like [[Epub]], a pure COMPOSITION of shipped layers: a
  * docx is a zip ([[ZipShard]]'s walk, Zip64-hardened) whose
  * `word/document.xml` part carries the body as `<w:p>` paragraphs of
  * `<w:r>` runs whose visible text sits in `<w:t>` elements, with
  * `<w:tab/>` and `<w:br/>`/`<w:cr/>` as explicit whitespace.
  *
  * Extraction contract (deterministic, oracle-derivable):
  *   - one extracted LINE per `<w:p>` (table-cell paragraphs — `<w:p>`
  *     inside `<w:tbl>` — surface in document order like any other);
  *   - within a paragraph, `<w:t>` run text concatenates verbatim
  *     (entity-decoded; OOXML producers handle space significance via
  *     `xml:space`, consumers take the content as-is), `<w:tab/>` →
  *     TAB, `<w:br/>`/`<w:cr/>` → NEWLINE;
  *   - headers/footers/footnotes/comments are other PARTS
  *     (`word/header*.xml` …) and are excluded by part name — only
  *     `word/document.xml` is read;
  *   - field instructions (`<w:instrText>`) and tracked deletions
  *     (`<w:delText>`) hold their text in OTHER element names and are
  *     excluded by the name-boundary match (`<w:t` never matches
  *     `<w:tab`/`<w:tbl`, and vice versa);
  *   - a TORN part keeps its completed paragraphs and drops the
  *     incomplete tail (the [[Mbox]] torn-final-message discipline).
  *
  * Degrades, per the family contract, all countable: junk bytes →
  * `zip`; an OLE compound-file signature (ECMA-376 agile/standard
  * encryption wraps the package in CFB) → `encrypted`, never a guessed
  * decrypt; a zip without `word/document.xml` → `part`. Map-only over
  * (media_id, payload) rows. Reference scope: the reference ingests
  * line JSON only (`App.java:136-162`); document ingest is north-star
  * corpus surface.
  */
object Docx {

  /** One parsed document: `ok` | `zip` | `encrypted` | `part`, and
    * the document-order paragraphs (empty paragraphs keep their slot —
    * they are the blank lines of the prose).
    */
  final case class DocxDoc(stage: String, paragraphs: Seq[String])

  /** Stage for a CFB payload hitting an OOXML reader: a parseable
    * ENCRYPTED-OOXML shell (`EncryptionInfo`+`EncryptedPackage`
    * streams) is `encrypted`; any other OLE container — a legacy
    * binary, an xls/ppt, a corrupt file — is `cfb`, the "route me
    * through the office triage instead" verdict. Until round 19 every
    * CFB was labeled `encrypted` here, silently binning the
    * unencrypted Word 97 majority with the truly locked files.
    */
  private[operators] def cfbStage(bytes: Array[Byte]): String =
    Cfb.parse(bytes) match {
      case Some(d) if Cfb.isEncryptedOoxml(d) => "encrypted"
      case _ => "cfb"
    }

  /** Does `xml` at tag body `tag` (between `<` and `>`) name exactly
    * `name`? Boundary-checked: `w:t` never matches `w:tab`/`w:tbl`.
    */
  private def named(tag: String, name: String): Boolean =
    tag.startsWith(name) && (tag.length == name.length || {
      val c = tag.charAt(name.length)
      c == '/' || Character.isWhitespace(c)
    })

  /** The paragraph walk over one WordprocessingML part. Linear,
    * index-based, allocation-light; `maxParagraphs`/`maxChars` bound
    * adversarial inputs (the shared bomb-cap discipline). The `prefix`
    * parameter generalizes the walk to DrawingML (`a:p`/`a:t`/`a:br`,
    * the text body PPTX slides carry) — the element GRAMMAR is shared
    * across the OOXML text bodies, only the namespace prefix moves.
    */
  private[graft] def paragraphs(xml: String, maxParagraphs: Int = 100000,
      maxChars: Int = 16 << 20, prefix: String = "w"): Seq[String] =
    paragraphsTags(xml, prefix + ":p", prefix + ":t", prefix + ":tab",
      prefix + ":br", prefix + ":cr", maxParagraphs, maxChars)

  /** The walk with EXPLICIT element names — SpreadsheetML's
    * sharedStrings items (`si`/`t`, no namespace prefix) ride the same
    * grammar with different spellings.
    */
  private[graft] def paragraphsTags(xml: String, pTag: String, tTag: String,
      tabTag: String, brTag: String, crTag: String,
      maxParagraphs: Int = 100000, maxChars: Int = 16 << 20): Seq[String] = {
    val tClose = "</" + tTag + ">"
    val out = Vector.newBuilder[String]
    var n = 0
    var total = 0
    var inP = false
    val sb = new java.lang.StringBuilder
    var i = 0
    var going = true
    while (going && i < xml.length && n < maxParagraphs && total < maxChars) {
      val lt = xml.indexOf('<', i)
      if (lt < 0) going = false // trailing text outside any tag: ignore
      else {
        val gt = xml.indexOf('>', lt)
        if (gt < 0) going = false // torn tag: incomplete paragraph drops
        else {
          val tag = xml.substring(lt + 1, gt)
          val selfClose = tag.endsWith("/")
          i = gt + 1
          if (named(tag, pTag)) {
            if (selfClose) { out += ""; n += 1 } // empty paragraph keeps its slot
            else { inP = true; sb.setLength(0) }
          } else if (tag.startsWith("/") && named(tag.substring(1), pTag)) {
            if (inP) { out += sb.toString; n += 1; total += sb.length; inP = false }
          } else if (inP && named(tag, tTag) && !selfClose) {
            val close = xml.indexOf(tClose, i)
            if (close < 0) going = false // torn run: the paragraph drops whole
            else {
              sb.append(XmlDump.decodeEntities(xml.substring(i, close)))
              i = close + tClose.length
            }
          } else if (inP && named(tag, tabTag)) sb.append('\t')
          else if (inP && (named(tag, brTag) || named(tag, crTag))) sb.append('\n')
          // every other element (run/paragraph properties, tables,
          // drawings, instrText, delText) is structure: skip
        }
      }
    }
    out.result()
  }

  def read(bytes: Array[Byte]): DocxDoc = {
    if (bytes == null) return DocxDoc("zip", Seq.empty)
    if (Cfb.isCfb(bytes)) return DocxDoc(cfbStage(bytes), Seq.empty)
    val es = ZipShard.entries(bytes)
    if (es.isEmpty) return DocxDoc("zip", Seq.empty)
    readEntries(es)
  }

  /** The walk over an ALREADY-opened archive — the office triage
    * routes on the same entry list it hands here, so a routed
    * document pays the zip walk ONCE.
    */
  private[operators] def readEntries(es: Seq[ZipShard.ZipEntry]): DocxDoc =
    es.find(_.name == "word/document.xml") match {
      case None => DocxDoc("part", Seq.empty)
      case Some(e) => DocxDoc("ok", paragraphs(new String(e.data, UTF_8)))
    }

  /** One row per document: (media_id, stage, n_paragraphs, text) with
    * `text` the paragraphs joined by NEWLINE — what the quality
    * screens and tokenizers consume. Degraded docs keep their row with
    * NULL text (countable). Map-only.
    */
  def textRows(df: DataFrame, idCol: String, binCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(df(idCol).cast("long"), df(binCol))
      .as[(Long, Array[Byte])]
      .map { case (id, b) =>
        val d = read(b)
        (id, d.stage, d.paragraphs.length,
          if (d.stage == "ok") d.paragraphs.mkString("\n") else null)
      }
      .toDF(idCol, "stage", "n_paragraphs", "text")
  }

  // ---- fixture writer (tests + gates only) ----

  private def xmlEscape(s: String): String =
    s.flatMap {
      case '&' => "&amp;"
      case '<' => "&lt;"
      case '>' => "&gt;"
      case c => c.toString
    }

  /** One `<w:r>` per run; TAB and NEWLINE inside a run become the
    * explicit `<w:tab/>`/`<w:br/>` elements a real producer writes.
    */
  private def runXml(run: String): String = {
    val sb = new java.lang.StringBuilder("<w:r><w:rPr><w:sz w:val=\"22\"/></w:rPr>")
    var buf = new java.lang.StringBuilder
    def flushT(): Unit = {
      if (buf.length > 0) {
        sb.append("<w:t xml:space=\"preserve\">").append(xmlEscape(buf.toString))
          .append("</w:t>"): Unit
        buf = new java.lang.StringBuilder
      }
    }
    run.foreach {
      case '\t' => flushT(); sb.append("<w:tab/>"): Unit
      case '\n' => flushT(); sb.append("<w:br/>"): Unit
      case c => buf.append(c): Unit
    }
    flushT()
    sb.append("</w:r>").toString
  }

  /** Minimal valid docx: content types, package rels, a header part
    * whose text must NEVER surface (proves exclusion by part name),
    * and `word/document.xml` over `paras` — each paragraph a list of
    * runs (run splits exercise concatenation).
    */
  def docx(paras: Seq[Seq[String]]): Array[Byte] = {
    val contentTypes =
      """<?xml version="1.0"?>
        |<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
        |  <Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>
        |  <Default Extension="xml" ContentType="application/xml"/>
        |  <Override PartName="/word/document.xml" ContentType="application/vnd.openxmlformats-officedocument.wordprocessingml.document.main+xml"/>
        |</Types>""".stripMargin
    val rels =
      """<?xml version="1.0"?>
        |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
        |  <Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="word/document.xml"/>
        |</Relationships>""".stripMargin
    val header =
      """<?xml version="1.0"?>
        |<w:hdr xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main">
        |  <w:p><w:r><w:t>HEADER CHROME MUST NOT SURFACE</w:t></w:r></w:p>
        |</w:hdr>""".stripMargin
    val body = paras.map { runs =>
      if (runs.isEmpty) "<w:p/>"
      else "<w:p><w:pPr><w:jc w:val=\"left\"/></w:pPr>" +
        runs.map(runXml).mkString + "</w:p>"
    }.mkString("\n    ")
    val document =
      s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
         |<w:document xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main">
         |  <w:body>
         |    $body
         |    <w:sectPr><w:pgSz w:w="11906" w:h="16838"/></w:sectPr>
         |  </w:body>
         |</w:document>""".stripMargin
    ZipShard.zip(Seq(
      ("[Content_Types].xml", contentTypes.getBytes(UTF_8)),
      ("_rels/.rels", rels.getBytes(UTF_8)),
      ("word/header1.xml", header.getBytes(UTF_8)),
      ("word/document.xml", document.getBytes(UTF_8))), deflate = false)
  }

  /** An OPAQUE-OLE fixture: the CFB signature over junk bytes. Since
    * the round-19 container walk this classifies as `cfb` (an OLE
    * that is neither a readable legacy binary nor a verifiable
    * encrypted shell) — use [[Cfb.encryptedOoxmlFixture]] for the
    * `encrypted` verdict.
    */
  def encryptedFixture(seed: Long): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    Cfb.Magic.foreach(out.write)
    var s = seed * 6364136223846793005L + 1442695040888963407L
    (0 until 64).foreach { _ =>
      s = s * 6364136223846793005L + 1442695040888963407L
      out.write((s >>> 33).toInt & 0xFF)
    }
    out.toByteArray
  }
}
