package graft.operators

import org.apache.spark.sql.DataFrame

/** OFFICE TRIAGE — the media-triage pattern applied to documents: a
  * real document dump is a MIXED bag of .docx/.pptx/.odt/legacy
  * binaries, and extensions lie, so routing happens on CONTENT. A CFB
  * signature opens the OLE walk ([[Cfb]]): a `WordDocument` stream is
  * a legacy Word binary (extracted via [[Doc]] — its own FIB flags
  * decide true encryption), `EncryptionInfo`+`EncryptedPackage` is an
  * encrypted OOXML package, anything else (xls/ppt/unparseable) is the
  * countable `cfb` bin. A zip routes by its distinguishing member
  * (`word/document.xml` → docx, `ppt/slides/slideN.xml` → pptx,
  * `xl/workbook.xml` → xlsx) — except ODF, which routes by the
  * MANDATORY `mimetype` member (odt/ods/odp — `content.xml` presence
  * alone would mislabel spreadsheets and decks as text documents).
  * Everything else quarantines. Each routed document then flows
  * through ITS OWN shipped reader ([[Docx]]/[[Pptx]]/[[Xlsx]]/[[Odt]]/
  * [[Doc]]) into one unified (kind, n_units, text) frame — one scan,
  * one map-only stage, no decode resources spent before the route
  * decides.
  */
object Office {

  private val SlidePattern = "^ppt/slides/slide[0-9]+\\.xml$".r

  /** Is this payload an RTF stream (`{\rtf` magic)? */
  private def isRtf(b: Array[Byte]): Boolean =
    b.length >= 5 && b(0) == '{' && b(1) == '\\' &&
      b(2) == 'r' && b(3) == 't' && b(4) == 'f'

  /** Route an already-opened zip archive by its distinguishing member
    * — the ONE rule set [[routeOne]] consults.
    * ODF subtypes discriminate on the mandatory `mimetype` member
    * ([[Odt.subtype]]); a mimetype-less `content.xml` zip stays `odt`
    * (the lenient legacy route).
    */
  private def detectEntries(es: Seq[ZipShard.ZipEntry]): String = {
    val names = es.map(_.name)
    if (names.contains("word/document.xml")) "docx"
    else if (names.exists(n => SlidePattern.findFirstIn(n).isDefined)) "pptx"
    else if (names.contains("xl/workbook.xml")) "xlsx"
    else if (names.contains("content.xml")) Odt.subtype(es)
    else "zip"
  }

  /** Route a CFB container by its distinguishing stream: `doc`
    * (legacy Word binary) | `xls` (legacy Excel workbook) | `ppt`
    * (legacy PowerPoint) | `msg` (Outlook message) | `encrypted`
    * (fEncrypted .doc, or an encrypted OOXML shell) | `cfb`
    * (another/unparseable OLE).
    */
  private def detectCfb(doc: Cfb.CfbDoc): String =
    if (Cfb.isEncryptedOoxml(doc)) "encrypted"
    else doc.streams.get("WordDocument") match {
      case Some(wd) => if (Doc.fibEncrypted(wd)) "encrypted" else "doc"
      case None =>
        if (doc.streams.contains("Workbook") || doc.streams.contains("Book")) "xls"
        else if (doc.streams.contains("PowerPoint Document")) "ppt"
        else if (Msg.isMsg(doc)) "msg"
        else "cfb"
    }

  /** Is this payload a PDF (`%PDF-` magic)? The one non-office kind
    * the triage routes — real mail attachments are DOMINATED by pdf,
    * so the attachment walk needs the arm and the document triage
    * gets it for the same zero extra scans.
    */
  private def isPdf(b: Array[Byte]): Boolean =
    b.length >= 5 && b(0) == '%' && b(1) == 'P' && b(2) == 'D' &&
      b(3) == 'F' && b(4) == '-'

  /** Route ONE payload and extract on the same container walk:
    * (kind, n_units, text). The single-payload core [[routedText]],
    * [[attachmentRows]] and [[corpusRows]] all lift — route and
    * extraction pay one zip entry list / CFB parse, never two.
    * `n_units` is the kind's own unit (paragraphs for docx/odt/ods/
    * odp/rtf/doc, slides for pptx, grid cells for xlsx/xls, pages for
    * pdf, recipients for msg); degraded/quarantined payloads keep
    * NULL text, countable per kind.
    */
  private[graft] def routeOne(b: Array[Byte]): (String, Int, String) = {
    if (b == null) ("unknown", 0, null)
    else if (Cfb.isCfb(b)) Cfb.parse(b) match {
      case None => ("cfb", 0, null)
      case Some(c) => routeCfb(c)
    }
    else if (isRtf(b)) {
      val d = Rtf.strip(b)
      ("rtf", d.paragraphs.length,
        if (d.stage == "ok") d.paragraphs.mkString("\n") else null)
    } else if (isPdf(b)) {
      val d = Pdf.extractText(b)
      ("pdf", d.n_pages, if (d.stage == "ok") d.text else null)
    } else {
      val es = ZipShard.entries(b)
      if (es.isEmpty) ("unknown", 0, null)
      else detectEntries(es) match {
        case "docx" =>
          val d = Docx.readEntries(es)
          ("docx", d.paragraphs.length,
            if (d.stage == "ok") d.paragraphs.mkString("\n") else null)
        case "pptx" =>
          val d = Pptx.readEntries(es)
          ("pptx", d.slides.length,
            if (d.stage == "ok") d.slides.flatMap(_._3).mkString("\n") else null)
        case "xlsx" =>
          // grid view (inline strings, numbers, row order); falls
          // back to the string table for worksheet-less packages
          val (stage, nCells, text) = Xlsx.gridText(es)
          ("xlsx", nCells, if (stage == "ok") text else null)
        case kind @ ("odt" | "ods" | "odp") =>
          val d = Odt.readEntries(es)
          (kind, d.paragraphs.length,
            if (d.stage == "ok") d.paragraphs.mkString("\n") else null)
        case kind => (kind, 0, null)
      }
    }
  }

  /** The CFB leg of [[routeOne]], over an ALREADY-PARSED container
    * (the msg attachment walk re-enters here for free). A legacy
    * `doc` whose FIB turns out encrypted/malformed AFTER the route
    * re-labels to its degrade stage, still countable.
    */
  private def routeCfb(c: Cfb.CfbDoc): (String, Int, String) =
    detectCfb(c) match {
      case "doc" =>
        val d = Doc.readCfb(c)
        if (d.stage == "ok")
          ("doc", d.paragraphs.length, d.paragraphs.mkString("\n"))
        else (d.stage, 0, null) // encrypted/fib/clx, countable
      case "xls" =>
        val d = Xls.readCfb(c)
        if (d.stage == "ok")
          ("xls", d.cells.length, Xls.gridText(d.cells))
        else (d.stage, 0, null) // encrypted/biff/strings, countable
      case "ppt" =>
        val d = Ppt.readCfb(c)
        if (d.stage == "ok")
          ("ppt", d.paragraphs.length, d.paragraphs.mkString("\n"))
        else (d.stage, 0, null)
      case "msg" =>
        val d = Msg.readCfb(c)
        if (d.stage == "ok") ("msg", d.n_recipients, Msg.flatText(d))
        else (d.stage, 0, null)
      case kind => (kind, 0, null)
    }

  /** One row per document: (media_id, kind, n_units, text) — the
    * routed extraction. The route and the extraction share ONE
    * container walk (zip entry list or CFB parse) — at 100 TB that
    * scan is the dominant per-document cost and is never paid twice.
    * Map-only.
    */
  def routedText(df: DataFrame, idCol: String, binCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(df(idCol).cast("long"), df(binCol))
      .as[(Long, Array[Byte])]
      .map { case (id, b) =>
        val (kind, n, text) = routeOne(b)
        (id, kind, n, text)
      }
      .toDF(idCol, "kind", "n_units", "text")
  }

  /** An opened .msg attachment routed through the triage — ONE
    * bounded recursion level deep: a payload-bearing attachment's
    * bytes re-enter [[routeOne]] (an attached .doc/.docx/.pdf yields
    * its text); an EMBEDDED-MESSAGE attachment surfaces its
    * sub-message's subject+body but its own attachments only COUNT
    * (kind `msg`, the recursion floor — [[Msg.attachmentsOf]] is
    * never re-entered); an attachment whose payload was stripped
    * keeps kind `absent`, countable.
    */
  private def routeAttachment(a: Msg.MsgAttachment): (String, Int, String) =
    a.embedded match {
      case Some(m) =>
        if (m.stage == "ok") ("msg", m.n_attachments, Msg.flatText(m))
        else (m.stage, 0, null)
      case None =>
        if (a.data == null) ("absent", 0, null) else routeOne(a.data)
    }

  /** One row per ATTACHMENT of each .msg document: (media_id,
    * attach_no, filename, kind, n_units, text) — the census converted
    * to yield. Non-msg payloads and degraded containers emit nothing
    * here ([[Msg.textRows]] carries their countable stage); within a
    * message, attachments emit in storage-ordinal order. Map-only —
    * the message parse and every attachment route ride one task.
    */
  def attachmentRows(df: DataFrame, idCol: String, binCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(df(idCol).cast("long"), df(binCol))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, b) =>
        if (b == null || !Cfb.isCfb(b)) Seq.empty
        else Cfb.parse(b) match {
          case Some(c) if detectCfb(c) == "msg" =>
            Msg.attachmentsOf(c).map { a =>
              val (kind, n, text) = routeAttachment(a)
              (id, a.no, a.filename, kind, n, text)
            }
          case _ => Seq.empty
        }
      }
      .toDF(idCol, "attach_no", "filename", "kind", "n_units", "text")
  }

  /** The corpus surface: every document's routed row (attach_no -1)
    * PLUS one row per .msg attachment — (media_id, attach_no, kind,
    * n_units, text) — on ONE container walk per document: the parsed
    * CFB is shared between the message route and the attachment walk,
    * so a 100 TB mail dump pays each container exactly one parse.
    * Map-only.
    */
  def corpusRows(df: DataFrame, idCol: String, binCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(df(idCol).cast("long"), df(binCol))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, b) =>
        if (b != null && Cfb.isCfb(b)) Cfb.parse(b) match {
          case None => Seq((id, -1, "cfb", 0, null: String))
          case Some(c) =>
            val (kind, n, text) = routeCfb(c)
            (id, -1, kind, n, text) +: (
              if (kind == "msg")
                Msg.attachmentsOf(c).map { a =>
                  val (ak, an, at) = routeAttachment(a)
                  (id, a.no, ak, an, at)
                }
              else Seq.empty)
        } else {
          val (kind, n, text) = routeOne(b)
          Seq((id, -1, kind, n, text))
        }
      }
      .toDF(idCol, "attach_no", "kind", "n_units", "text")
  }
}
