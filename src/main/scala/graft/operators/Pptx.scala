package graft.operators

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.DataFrame

/** PPTX (ECMA-376 PresentationML) text extraction — slide decks are
  * the gray-literature source next to DOCX reports: a pptx is a zip
  * whose `ppt/slides/slideN.xml` parts carry shape text as DrawingML
  * bodies — `<a:p>` paragraphs of `<a:r>` runs whose visible text
  * sits in `<a:t>`, with `<a:br/>` as the explicit line break. The
  * walk is the SAME element grammar as [[Docx]] (only the namespace
  * prefix moves), so the shared paragraph scanner runs both.
  *
  * Deterministic slide ORDER: by the part's numeric index N in
  * `ppt/slides/slideN.xml` — the documented simplification of the
  * presentation.xml relationship walk (real packages number parts in
  * presentation order; a reordered-rels deck would need the rels
  * layer, out of scope and visible: order here is by part name,
  * stated). Notes (`ppt/notesSlides/…`), masters and layouts are
  * OTHER part families and never surface.
  *
  * Degrades, per the family contract: junk bytes → `zip`; a CFB
  * signature (ECMA-376 encryption) → `encrypted`; a zip with no
  * `ppt/slides/slideN.xml` part → `part`. Map-only. Reference scope:
  * the reference ingests line JSON only (`App.java:136-162`).
  */
object Pptx {

  /** One parsed deck: `ok` | `zip` | `encrypted` | `part`, and the
    * part-order slides as (slide_no, name, paragraphs).
    */
  final case class PptxDoc(stage: String, slides: Seq[(Int, String, Seq[String])])

  private val SlideName = "^ppt/slides/slide([0-9]+)\\.xml$".r

  def read(bytes: Array[Byte]): PptxDoc = {
    if (bytes == null) return PptxDoc("zip", Seq.empty)
    if (Cfb.isCfb(bytes)) return PptxDoc(Docx.cfbStage(bytes), Seq.empty)
    val es = ZipShard.entries(bytes)
    if (es.isEmpty) return PptxDoc("zip", Seq.empty)
    readEntries(es)
  }

  /** The walk over an already-opened archive (the one-walk triage
    * path — see [[Docx.readEntries]]).
    */
  private[operators] def readEntries(es: Seq[ZipShard.ZipEntry]): PptxDoc = {
    val slides = es.flatMap { e =>
      e.name match {
        case SlideName(n) =>
          Some((n.toInt, e.name,
            Docx.paragraphs(new String(e.data, UTF_8), prefix = "a")))
        case _ => None
      }
    }.sortBy(_._1)
    if (slides.isEmpty) PptxDoc("part", Seq.empty)
    else PptxDoc("ok", slides)
  }

  /** One row per deck: (media_id, stage, n_slides, text) with `text`
    * all slides' paragraphs joined by NEWLINE in slide order (NULL on
    * degrade, countable). Map-only.
    */
  def textRows(df: DataFrame, idCol: String, binCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(df(idCol).cast("long"), df(binCol))
      .as[(Long, Array[Byte])]
      .map { case (id, b) =>
        val d = read(b)
        (id, d.stage, d.slides.length,
          if (d.stage == "ok") d.slides.flatMap(_._3).mkString("\n") else null)
      }
      .toDF(idCol, "stage", "n_slides", "text")
  }

  // ---- fixture writer (tests + gates only) ----

  private def xmlEscape(s: String): String =
    s.flatMap {
      case '&' => "&amp;"
      case '<' => "&lt;"
      case '>' => "&gt;"
      case c => c.toString
    }

  private def slideXml(paras: Seq[String]): String = {
    val body = paras.map { p =>
      val runs = p.split("\n", -1).zipWithIndex.map { case (seg, i) =>
        (if (i > 0) "<a:br/>" else "") +
          s"<a:r><a:rPr lang=\"en-US\"/><a:t>${xmlEscape(seg)}</a:t></a:r>"
      }.mkString
      s"<a:p><a:pPr/>$runs</a:p>"
    }.mkString
    s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
       |<p:sld xmlns:a="http://schemas.openxmlformats.org/drawingml/2006/main"
       |       xmlns:p="http://schemas.openxmlformats.org/presentationml/2006/main">
       |  <p:cSld><p:spTree><p:sp><p:txBody><a:bodyPr/>$body</p:txBody></p:sp></p:spTree></p:cSld>
       |</p:sld>""".stripMargin
  }

  /** Minimal valid pptx: content types, a notes part whose text must
    * NEVER surface, and one slide part per entry of `slides` (each a
    * list of paragraphs; embedded newlines become `<a:br/>`). Slides
    * are STORED in reverse order to prove ordering is by part number,
    * not archive position.
    */
  def pptx(slides: Seq[Seq[String]]): Array[Byte] = {
    val contentTypes =
      """<?xml version="1.0"?>
        |<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
        |  <Default Extension="xml" ContentType="application/xml"/>
        |</Types>""".stripMargin
    val notes =
      """<p:notes xmlns:a="http://schemas.openxmlformats.org/drawingml/2006/main">
        |<a:p><a:r><a:t>SPEAKER NOTES MUST NOT SURFACE</a:t></a:r></a:p></p:notes>""".stripMargin
    val members =
      Seq(("[Content_Types].xml", contentTypes.getBytes(UTF_8)),
        ("ppt/notesSlides/notesSlide1.xml", notes.getBytes(UTF_8))) ++
        slides.zipWithIndex.reverse.map { case (paras, i) =>
          (s"ppt/slides/slide${i + 1}.xml", slideXml(paras).getBytes(UTF_8))
        }
    ZipShard.zip(members, deflate = false)
  }
}
