package graft.operators

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.DataFrame

/** EPUB ingest — the container books actually ship in, and a pure
  * COMPOSITION of layers this engine already reads: an EPUB is a zip
  * ([[ZipShard]]'s stream-order walk) whose `META-INF/container.xml`
  * names an OPF package document (parsed with [[XmlDump]]'s lenient
  * element/attribute helpers), whose `<manifest>` maps ids to chapter
  * files and whose `<spine>` gives the READING ORDER — the order a
  * book's text must enter the corpus in. The XHTML chapters then ride
  * the same HTML strip every web page takes.
  *
  * Degrades, per the family contract: junk zip → `zip`; missing/torn
  * `container.xml` or no usable `rootfile` → `container`; missing OPF
  * or an empty spine → `opf`; a spine entry whose FILE is absent keeps
  * its row with NULL xhtml (countable — a torn book loses chapters,
  * never silently reorders them). Map-only over (media_id, payload)
  * rows. Reference scope: the reference ingests line JSON only
  * (`App.java:136-162`); book ingest is north-star corpus surface.
  */
object Epub {

  /** One parsed book: `ok` | `zip` | `container` | `opf`, and the
    * spine-ordered chapters as (idx, href, xhtml-or-null).
    */
  final case class EpubDoc(stage: String, chapters: Seq[(Int, String, String)])

  /** Collapse `.`/`..` segments of an in-archive path (OPF hrefs are
    * relative to the OPF's own directory).
    */
  private def normalize(path: String): String = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    path.split("/").foreach {
      case "" | "." => ()
      case ".." => if (out.nonEmpty) out.remove(out.length - 1): Unit
      case s => out += s
    }
    out.mkString("/")
  }

  /** Walk `<tag …>` elements of `xml` (name-boundary-checked, so
    * `<item` never matches `<itemref`), yielding each raw tag text.
    */
  private def tags(xml: String, tag: String)(f: String => Unit): Unit = {
    val open = "<" + tag
    var p = 0
    var going = true
    while (going) {
      val at = xml.indexOf(open, p)
      if (at < 0) going = false
      else {
        val after = at + open.length
        if (after < xml.length && (xml.charAt(after) == '>' || xml.charAt(after) == '/' ||
          Character.isWhitespace(xml.charAt(after)))) {
          val gt = xml.indexOf('>', at)
          if (gt < 0) going = false // torn tag ends the walk
          else { f(xml.substring(at, gt)); p = gt + 1 }
        } else p = after
      }
    }
  }

  def read(bytes: Array[Byte], maxChapters: Int = 10000): EpubDoc = {
    val es = ZipShard.entries(bytes)
    if (es.isEmpty) return EpubDoc("zip", Seq.empty)
    val byName = es.map(e => e.name -> e.data).toMap

    val container = byName.get("META-INF/container.xml")
      .map(d => new String(d, UTF_8)).orNull
    if (container == null) return EpubDoc("container", Seq.empty)
    var rootfile: String = null
    tags(container, "rootfile") { t =>
      if (rootfile == null) rootfile = XmlDump.attrValue(t, "full-path")
    }
    if (rootfile == null) return EpubDoc("container", Seq.empty)

    val opfName = normalize(rootfile)
    val opf = byName.get(opfName).map(d => new String(d, UTF_8)).orNull
    if (opf == null) return EpubDoc("opf", Seq.empty)
    val opfDir = {
      val s = opfName.lastIndexOf('/')
      if (s < 0) "" else opfName.substring(0, s + 1)
    }

    // manifest: id → href
    val idToHref = scala.collection.mutable.HashMap[String, String]()
    tags(opf, "item") { t =>
      val id = XmlDump.attrValue(t, "id")
      val href = XmlDump.attrValue(t, "href")
      if (id != null && href != null && !idToHref.contains(id)) idToHref(id) = href
    }

    // spine: reading order
    val chapters = Vector.newBuilder[(Int, String, String)]
    var idx = 0
    tags(opf, "itemref") { t =>
      if (idx < maxChapters) {
        val idref = XmlDump.attrValue(t, "idref")
        if (idref != null) {
          idToHref.get(idref) match {
            case Some(href) =>
              val xhtml = byName.get(normalize(opfDir + href))
                .map(d => new String(d, UTF_8)).orNull
              chapters += ((idx, href, xhtml)) // missing file: NULL, countable
            case None =>
              chapters += ((idx, idref, null)) // dangling idref: NULL, countable
          }
          idx += 1
        }
      }
    }
    val out = chapters.result()
    if (out.isEmpty) EpubDoc("opf", Seq.empty) else EpubDoc("ok", out)
  }

  /** Spine-ordered chapters per book row: (media_id, chapter_idx,
    * href, xhtml). Degraded books emit nothing here — [[read]] gives
    * their countable stage. Map-only.
    */
  def chapterRows(df: DataFrame, idCol: String, binCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(df(idCol).cast("long"), df(binCol))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, b) =>
        read(b).chapters.map { case (i, href, xhtml) => (id, i, href, xhtml) }
      }
      .toDF(idCol, "chapter_idx", "href", "xhtml")
  }

  // ---- fixture writer (tests + gates only) ----

  /** Minimal valid EPUB: stored `mimetype` first (the spec's
    * layout), container.xml → OPF → spine over `chapters`
    * (href, xhtml); hrefs in `missing` are spined but their files are
    * left out of the archive.
    */
  def epub(chapters: Seq[(String, String)], missing: Set[String] = Set.empty): Array[Byte] = {
    val containerXml =
      """<?xml version="1.0"?>
        |<container version="1.0" xmlns="urn:oasis:names:tc:opendocument:xmlns:container">
        |  <rootfiles>
        |    <rootfile full-path="OEBPS/content.opf" media-type="application/oebps-package+xml"/>
        |  </rootfiles>
        |</container>""".stripMargin
    val manifest = chapters.zipWithIndex.map { case ((href, _), i) =>
      s"""    <item id="c$i" href="$href" media-type="application/xhtml+xml"/>"""
    }.mkString("\n")
    val spine = chapters.indices.map(i => s"""    <itemref idref="c$i"/>""").mkString("\n")
    val opf =
      s"""<?xml version="1.0"?>
         |<package version="3.0" xmlns="http://www.idpf.org/2007/opf" unique-identifier="id">
         |  <manifest>
         |$manifest
         |  </manifest>
         |  <spine>
         |$spine
         |  </spine>
         |</package>""".stripMargin
    val members =
      Seq(("mimetype", "application/epub+zip".getBytes(UTF_8)),
        ("META-INF/container.xml", containerXml.getBytes(UTF_8)),
        ("OEBPS/content.opf", opf.getBytes(UTF_8))) ++
        chapters.filterNot(c => missing(c._1)).map { case (href, xhtml) =>
          (s"OEBPS/$href", xhtml.getBytes(UTF_8))
        }
    ZipShard.zip(members, deflate = false)
  }
}
