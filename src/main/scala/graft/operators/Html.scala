package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions

/** HTML outlink extraction — the link graph WITHOUT the WAT sidecar.
  * [[Warc.watLinks]] reads Common Crawl's pre-extracted metadata; a
  * SELF-crawled archive has only the raw HTML it fetched, so the graph
  * layer needs the extraction itself: scan each page's `href`/`src`
  * attributes, honor its `<base href>`, resolve every reference
  * against the page URL per RFC 3986 §5, and emit canonical absolute
  * targets ready for [[Graph]]'s domain collapse.
  *
  * Scale shape: map-only end to end — three native codegen
  * expressions (`graft_html_links`, `graft_html_base`,
  * `graft_url_resolve`) and one `explode`; no UDF, no shuffle, no
  * driver state. Per-page CPU is one full link scan plus the
  * `<base>` probe, which early-exits at the first base element (base
  * lives in head, so the probe is ~O(head), not a second full pass).
  * At 100 TB the extraction rides the same scan that read the
  * archive; the first exchange a link-graph consumer pays is its own
  * (the domain collapse), never this layer's.
  */
object Html {

  /** One row PER ANCHOR of each page: every column of `pages` except
    * `htmlCol`, plus the base-resolved canonical `href` and its
    * `anchor` text — [[outlinks]]' shape with the label attached.
    * Same NULL-drop contract for out-of-contract targets; map-only
    * AND fully codegen (`graft_html_anchors` + `graft_url_resolve` —
    * no ScalaUDF, no Row serialization, same as the sibling link
    * extractor).
    */
  def anchors(pages: DataFrame, urlCol: String, htmlCol: String): DataFrame = {
    val pass = pages.columns.filterNot(_ == htmlCol).map(col).toSeq
    val pageCanon = GraftFunctions.urlCanon(col(urlCol))
    val base = coalesce(
      GraftFunctions.urlResolve(pageCanon, GraftFunctions.htmlBase(col(htmlCol))),
      pageCanon)
    pages
      .select(pass ++ Seq(
        base.as("__base"),
        explode(GraftFunctions.htmlAnchors(col(htmlCol))).as("__p")): _*)
      .select(pass ++ Seq(
        GraftFunctions.urlResolve(col("__base"), col("__p.href")).as("href"),
        col("__p.anchor").as("anchor")): _*)
      .filter(col("href").isNotNull)
  }

  /** Tags that TERMINATE a text block (block-level structure per the
    * HTML living standard's flow-content split); inline markup (a, b,
    * span, em, …) flows through a block. `br`/`hr` are separators.
    */
  private val BlockTags: Set[String] = Set(
    "p", "div", "section", "article", "main", "header", "footer", "nav",
    "aside", "h1", "h2", "h3", "h4", "h5", "h6", "ul", "ol", "li", "dl",
    "dt", "dd", "table", "thead", "tbody", "tfoot", "tr", "td", "th",
    "blockquote", "pre", "form", "fieldset", "figure", "figcaption",
    "address", "br", "hr", "body", "html", "head", "title")

  /** One segmented text block: collapsed visible text, its word and
    * char counts, the chars that came from ANCHOR text, and the
    * content/chrome verdict.
    */
  final case class Block(idx: Int, text: String, n_words: Int, n_chars: Int,
      n_link_chars: Int, is_content: Boolean)

  /** MAIN-CONTENT segmentation — the Boilerpipe-class block model, with
    * deterministic INTEGER thresholds so a DuckDB oracle re-derives
    * every verdict: the page splits into text blocks at block-level tag
    * boundaries (on the same hardened scanner as link/anchor/meta
    * extraction, so comments and script/style bodies can't fake prose),
    * each block collapses its whitespace and counts words, chars, and
    * anchor-text chars. A block is CONTENT iff
    *
    *   `n_words >= minWords  &&  3 * n_link_chars <= n_chars`
    *
    * — the word floor drops navigation/footer/title chrome (short runs),
    * the link-density cap (≤ 1/3, computed integer-exact) drops link
    * farms however long. No sequence smoothing: the thresholds are the
    * published text-density/link-density core, kept closed-form.
    * Empty/whitespace-only blocks never emit.
    */
  def blocks(html: String, minWords: Int = 8, maxBlocks: Int = 10000): Seq[Block] = {
    if (html == null) return Seq.empty
    val out = Vector.newBuilder[Block]
    var n = 0
    var inAnchor = false
    val sb = new java.lang.StringBuilder
    val link = new java.lang.StringBuilder
    def flush(): Boolean = {
      val text = graft.operators.XmlDump.decodeEntities(sb.toString)
        .replaceAll("\\s+", " ").trim
      val linkText = graft.operators.XmlDump.decodeEntities(link.toString)
        .replaceAll("\\s+", " ").trim
      sb.setLength(0); link.setLength(0)
      // a block boundary ends anchor ATTRIBUTION by design: an <a>
      // left open across blocks (unclosed/self-closed) would otherwise
      // poison every later block's link density. The HTML5 parser
      // itself lets <a> transparently wrap block content (card links);
      // treating the wrapped blocks as non-link text is the documented
      // deterministic choice — closed-form for the oracle, and biased
      // toward KEEPING card-grid prose rather than dropping it.
      inAnchor = false
      if (text.nonEmpty) {
        val words = text.split(" ").length
        out += Block(n, text, words, text.length, linkText.length,
          words >= minWords && 3 * linkText.length <= text.length)
        n += 1
      }
      n < maxBlocks
    }
    graft.functions.GraftMath.scanHtmlFull(html)(new graft.functions.GraftMath.HtmlSink {
      override def open(idx: Int, tag: String, selfClose: Boolean): Boolean = {
        if (tag == "a" && !selfClose) inAnchor = true
        if (BlockTags(tag)) flush() else true
      }
      override def close(tag: String): Boolean = {
        if (tag == "a") inAnchor = false
        if (BlockTags(tag)) flush() else true
      }
      override def text(t: String): Boolean = {
        sb.append(t)
        if (inAnchor) link.append(t)
        true
      }
    })
    flush() // the trailing run (torn page keeps its completed text)
    out.result()
  }

  /** The page's main content: its content blocks' text joined with
    * newlines — what the quality screens and tokenizers should see,
    * chrome cut. Null in, null out; a page with no content blocks
    * yields "" (countable, distinct from a decode NULL).
    */
  def mainContent(html: String, minWords: Int = 8): String = {
    if (html == null) return null
    blocks(html, minWords).filter(_.is_content).map(_.text).mkString("\n")
  }

  /** One row PER BLOCK of each page: (passthrough cols…, block_idx,
    * n_words, n_chars, n_link_chars, is_content, text). Map-only.
    */
  def blockRows(df: DataFrame, idCol: String, htmlCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(df(idCol).cast("long"), df(htmlCol))
      .as[(Long, String)]
      .flatMap { case (id, h) =>
        blocks(h).map(b => (id, b.idx, b.n_words, b.n_chars, b.n_link_chars,
          b.is_content, b.text))
      }
      .toDF(idCol, "block_idx", "n_words", "n_chars", "n_link_chars",
        "is_content", "text")
  }

  /** HTML → MARKDOWN, structure-preserving — what modern LLM pipelines
    * feed instead of flat prose: headings keep their level (`#`…),
    * lists their nesting and order (`- ` / `1. `), code its fences,
    * quotes their depth (`> `), tables their cells (pipe rows, with a
    * `---` separator after each header row), links their targets
    * (`[text](href)`), emphasis its weight (`**`/`*`), images their
    * alt+src (`![alt](src)`), `<hr>` a `---` rule. Rides the SAME
    * hardened scanner as every other HTML extractor (comments and
    * script/style bodies can't fake structure), and the rules are
    * DETERMINISTIC — no reflowing, no heuristics — so a DuckDB oracle
    * re-derives the output closed-form.
    *
    * Line model: inline text collapses whitespace (entities decoded);
    * every block boundary flushes one LINE; the result is the lines
    * joined by NEWLINE. `<head>` content (title/meta) never surfaces —
    * markdown is a BODY conversion. `<pre>` content is verbatim,
    * line-for-line, between ``` fences (inline-code markers suppressed
    * inside). Torn markup keeps the completed prefix.
    *
    * CONTENT MODE (`minWords > 0`) composes [[mainContent]]'s integer
    * thresholds with the structure: a PLAIN paragraph line keeps iff
    * `n_words >= minWords && 3*n_link_chars <= n_chars` (the blocks()
    * rule, word counts on VISIBLE text — markers and hrefs don't
    * dilute density); a STRUCTURAL line (heading, list item, quote,
    * table row) keeps iff the density test alone passes — structure is
    * allowed to be short, but a nav's link list or a link-farm table
    * is still link-dense and drops; code fences always keep. With
    * `minWords = 0` nothing is screened (pure conversion).
    */
  def markdown(html: String, minWords: Int = 0, maxLines: Int = 100000,
      maxChars: Int = 16 << 20): String = {
    if (html == null) return null
    val G = graft.functions.GraftMath
    val lines = Vector.newBuilder[String]
    var nLines = 0
    var total = 0

    // inline state (one pending line)
    val lineBuf = new java.lang.StringBuilder // with markdown markers
    val textBuf = new java.lang.StringBuilder // visible text only
    val linkBuf = new java.lang.StringBuilder // anchor-text only
    var inAnchor = false
    var pendingHref: String = null
    var pendingSrc: String = null
    var pendingAlt: String = null
    // the open anchor's target (anchors never nest — browser rule)
    var anchorHref: String = null

    // block context
    var heading = 0
    var quoteDepth = 0
    var listStack = List.empty[(Boolean, Int)] // (ordered, counter)
    var pendingItem = false
    var inHead = false
    var inPre = false
    val preBuf = new java.lang.StringBuilder

    def collapse(s: String): String =
      XmlDump.decodeEntities(s).replaceAll("\\s+", " ").trim

    def emit(l: String): Boolean = {
      lines += l; nLines += 1; total += l.length
      nLines < maxLines && total < maxChars
    }

    def quotePrefix: String = "> " * quoteDepth

    def flushLine(): Boolean = {
      val body = collapse(lineBuf.toString)
      val visible = collapse(textBuf.toString)
      val link = collapse(linkBuf.toString)
      lineBuf.setLength(0); textBuf.setLength(0); linkBuf.setLength(0)
      inAnchor = false // a block boundary ends an anchor (the blocks() rule)
      if (body.isEmpty) return true
      val structural = heading > 0 || listStack.nonEmpty || quoteDepth > 0
      val densityOk = 3 * link.length <= visible.length
      val keep =
        if (minWords == 0) true
        else if (structural) densityOk
        else {
          val words = if (visible.isEmpty) 0 else visible.split(" ").length
          words >= minWords && densityOk
        }
      if (!keep) { pendingItem = false; return true }
      val marker =
        if (heading > 0) "#" * heading + " "
        else if (listStack.nonEmpty) {
          val indent = "  " * (listStack.length - 1)
          if (pendingItem) {
            pendingItem = false
            val (ordered, cnt) = listStack.head
            indent + (if (ordered) s"$cnt. " else "- ")
          } else "  " * listStack.length
        } else ""
      emit(quotePrefix + marker + body)
    }

    // table state
    var inTable = false
    var inCell = false
    var rowHasTh = false
    val cellBuf = new java.lang.StringBuilder
    val cellTextBuf = new java.lang.StringBuilder
    val cellLinkBuf = new java.lang.StringBuilder
    val cells = scala.collection.mutable.ArrayBuffer[String]()
    var rowTextLen = 0
    var rowLinkLen = 0

    def finishCell(): Unit = {
      if (inCell) {
        cells += collapse(cellBuf.toString).replace("|", "\\|")
        rowTextLen += collapse(cellTextBuf.toString).length
        rowLinkLen += collapse(cellLinkBuf.toString).length
        cellBuf.setLength(0); cellTextBuf.setLength(0); cellLinkBuf.setLength(0)
        inCell = false
        inAnchor = false
      }
    }

    def flushRow(): Boolean = {
      finishCell()
      if (cells.isEmpty) return true
      val keep = minWords == 0 || 3 * rowLinkLen <= rowTextLen
      var ok = true
      if (keep) {
        ok = emit(quotePrefix + cells.mkString("| ", " | ", " |"))
        if (ok && rowHasTh)
          ok = emit(quotePrefix + cells.map(_ => "---").mkString("| ", " | ", " |"))
      }
      cells.clear(); rowHasTh = false; rowTextLen = 0; rowLinkLen = 0
      ok
    }

    def appendMarker(m: String): Unit =
      if (inCell) cellBuf.append(m): Unit
      else if (!inTable) lineBuf.append(m): Unit

    val HeadingTags = Map("h1" -> 1, "h2" -> 2, "h3" -> 3, "h4" -> 4,
      "h5" -> 5, "h6" -> 6)
    val FlushTags = Set("p", "div", "section", "article", "main", "header",
      "footer", "nav", "aside", "figure", "figcaption", "dl", "dt", "dd",
      "form", "fieldset", "address", "body", "html", "br")

    G.scanHtmlFull(html)(new G.HtmlSink {
      override def attr(idx: Int, tag: String, name: String, value: String): Boolean = {
        if (tag == "a" && name == "href") pendingHref = value
        else if (tag == "img" && name == "src") pendingSrc = value
        else if (tag == "img" && name == "alt") pendingAlt = value
        true
      }
      override def open(idx: Int, tag: String, selfClose: Boolean): Boolean = {
        // attr() records href/src/alt before open() dispatches; every
        // early-return below must DISCARD them, or an <a href>/<img src>
        // inside <head> (or <pre>) leaves a stale target that attaches
        // to the next bare <a>/<img> in the body, fabricating a link
        def dropPending(): Unit = { pendingHref = null; pendingSrc = null; pendingAlt = null }
        if (tag == "head") { inHead = true; dropPending(); return true }
        if (inHead) { dropPending(); return true }
        if (inPre) { dropPending(); return true } // markup inside pre is content, scanner already tagged it
        tag match {
          case "a" =>
            val href = pendingHref
            pendingHref = null
            // a new <a> implicitly closes an open one (browser rule —
            // anchors never nest); without this a missing </a> would
            // leave a dangling '[' marker
            if (inAnchor) { inAnchor = false; appendMarker("](" + anchorHref + ")") }
            if (!selfClose && href != null && href.nonEmpty && !href.startsWith("#")) {
              inAnchor = true
              appendMarker("[")
              anchorHref = href
            }
            true
          case "img" =>
            val (src, alt) = (pendingSrc, if (pendingAlt == null) "" else pendingAlt)
            pendingSrc = null; pendingAlt = null
            if (src != null && src.nonEmpty) appendMarker(s"![$alt]($src)")
            true
          case "b" | "strong" => appendMarker("**"); true
          case "i" | "em" => appendMarker("*"); true
          case "code" => if (!inPre && !selfClose) appendMarker("`"); true
          case "pre" =>
            if (!flushLine()) false
            else { if (!selfClose) { inPre = true; preBuf.setLength(0) }; true }
          case "blockquote" =>
            if (!flushLine()) false else { if (!selfClose) quoteDepth += 1; true }
          case "ul" | "ol" =>
            if (!flushLine()) false
            else { if (!selfClose) listStack = (tag == "ol", 0) :: listStack; true }
          case "li" =>
            if (!flushLine()) false
            else {
              listStack match {
                case (ordered, cnt) :: rest =>
                  listStack = (ordered, cnt + 1) :: rest
                  pendingItem = true
                case Nil => () // li outside a list: plain line
              }
              true
            }
          case "hr" => if (!flushLine()) false else emit(quotePrefix + "---")
          case "table" =>
            if (!flushLine()) false else { if (!selfClose) inTable = true; true }
          case "tr" => if (inTable) flushRow() else true
          case "td" | "th" =>
            if (inTable) { finishCell(); inCell = true; if (tag == "th") rowHasTh = true }
            true
          case t if HeadingTags.contains(t) =>
            if (!flushLine()) false else { heading = HeadingTags(t); true }
          case t if FlushTags(t) => flushLine()
          case _ => true
        }
      }
      override def close(tag: String): Boolean = {
        if (tag == "head") { inHead = false; return true }
        if (inHead) return true
        if (inPre && tag != "pre") return true
        tag match {
          case "a" =>
            if (inAnchor) {
              inAnchor = false
              appendMarker("](" + anchorHref + ")")
            }
            true
          case "b" | "strong" => appendMarker("**"); true
          case "i" | "em" => appendMarker("*"); true
          case "code" => if (!inPre) appendMarker("`"); true
          case "pre" =>
            if (inPre) {
              inPre = false
              var ok = emit(quotePrefix + "```")
              val content = XmlDump.decodeEntities(preBuf.toString)
                .stripPrefix("\n").stripSuffix("\n")
              if (ok) content.split("\n", -1).foreach { l =>
                if (ok) ok = emit(quotePrefix + l)
              }
              if (ok) ok = emit(quotePrefix + "```")
              ok
            } else true
          case "blockquote" =>
            if (!flushLine()) false
            else { if (quoteDepth > 0) quoteDepth -= 1; true }
          case "ul" | "ol" =>
            if (!flushLine()) false
            else { if (listStack.nonEmpty) listStack = listStack.tail; true }
          case "li" => flushLine()
          case "table" =>
            val ok = flushRow()
            inTable = false; inCell = false
            ok
          case "tr" => if (inTable) flushRow() else true
          case "td" | "th" => if (inTable) finishCell(); true
          case t if HeadingTags.contains(t) =>
            val ok = flushLine(); heading = 0; ok
          case t if FlushTags(t) => flushLine()
          case _ => true
        }
      }
      override def text(t: String): Boolean = {
        if (inHead) return true
        if (inPre) { preBuf.append(t); return true }
        if (inCell) {
          cellBuf.append(t); cellTextBuf.append(t)
          if (inAnchor) cellLinkBuf.append(t)
        } else if (!inTable) {
          lineBuf.append(t); textBuf.append(t)
          if (inAnchor) linkBuf.append(t)
        }
        true
      }
    })
    flushLine() // torn page keeps its completed trailing run
    lines.result().mkString("\n")
  }

  /** MARKDOWN SECTIONS — the RAG chunking unit: split a markdown
    * document at its heading lines into sections carrying their full
    * heading-path BREADCRUMB (`H1 > H2 > H3`), the retrieval context
    * each chunk needs to stand alone. Deterministic rules: a heading
    * line (`#{1,6} `) pops the path to its level and pushes its
    * title; body lines accumulate under the current path; prose
    * before any heading gets the empty path; sections with no body
    * lines don't emit (their heading still extends the path of what
    * follows). Section text keeps its lines verbatim, joined by
    * NEWLINE.
    *
    * FENCE AWARENESS: a line whose quote-stripped content STARTS with
    * the ``` ``` `` marker opens a code fence (info strings —
    * ```` ```python ```` — included, CommonMark §119); a line that is
    * exactly the bare marker closes it. Fence-interior lines are
    * ALWAYS body — a fenced `# comment` (shell/Python) is code, not a
    * heading; without this the breadcrumb path corrupts for the whole
    * rest of the document. Inside a fence, blank lines are kept
    * verbatim (code structure); outside, blank lines drop as before.
    *
    * TOKEN BUDGET (`maxTokens > 0`): body lines group into atomic
    * UNITS — a whole code fence (open marker through close marker, or
    * to EOF when torn), a maximal run of pipe-table rows (lines whose
    * quote-stripped content starts with `|`), or a single plain line —
    * and a section flushes BEFORE a unit whose whitespace-token count
    * would push the running section past the budget. A unit is never
    * split: an oversize table/fence becomes its own section (countable
    * downstream — its token count exceeds the budget). Continuation
    * sections keep the same breadcrumb path; `section_idx` stays the
    * document-global counter. `maxTokens = 0` disables packing (pure
    * heading split, byte-identical to the pre-budget behavior on
    * fence-free input).
    */
  def markdownSections(md: String, maxSections: Int = 10000,
      maxTokens: Int = 0): Seq[(Int, String, String)] = {
    if (md == null) return null
    val out = Vector.newBuilder[(Int, String, String)]
    var n = 0
    var path = List.empty[(Int, String)] // (level, title), outermost last
    val body = scala.collection.mutable.ArrayBuffer[String]()
    var bodyTokens = 0
    def flush(): Unit = {
      if (body.nonEmpty && n < maxSections) {
        out += ((n, path.reverse.map(_._2).mkString(" > "),
          body.mkString("\n")))
        n += 1
      }
      body.clear()
      bodyTokens = 0
    }
    def tokens(unit: Seq[String]): Int =
      unit.iterator.map(_.split("\\s+").count(_.nonEmpty)).sum
    def addUnit(unit: Seq[String]): Unit = {
      if (unit.nonEmpty) {
        val t = tokens(unit)
        if (maxTokens > 0 && body.nonEmpty && bodyTokens + t > maxTokens) flush()
        body ++= unit
        bodyTokens += t
      }
    }
    // blockquote prefixes strip for CLASSIFICATION only — the line
    // itself keeps its prefix in the section text
    def core(l: String): String = {
      var s = l
      while (s.startsWith("> ")) s = s.substring(2)
      s
    }
    val lines = md.split("\n", -1)
    var i = 0
    while (i < lines.length) {
      val line = lines(i)
      val hashes = line.takeWhile(_ == '#').length
      if (core(line).startsWith("```")) {
        // a fence OPENER may carry an info string (```python — the
        // dominant real-world form; CommonMark §119); the CLOSER is
        // the bare marker only. Whole fence = one unit, interior
        // verbatim (blank lines kept)
        val unit = scala.collection.mutable.ArrayBuffer(line)
        i += 1
        var open = true
        while (open && i < lines.length) {
          unit += lines(i)
          if (core(lines(i)) == "```") open = false
          i += 1
        }
        addUnit(unit.toSeq) // a torn fence keeps its completed lines
      } else if (core(line).startsWith("|")) {
        // maximal pipe-table run = one unit
        val unit = scala.collection.mutable.ArrayBuffer[String]()
        while (i < lines.length && core(lines(i)).startsWith("|")) {
          unit += lines(i)
          i += 1
        }
        addUnit(unit.toSeq)
      } else if (hashes >= 1 && hashes <= 6 && line.length > hashes &&
        line.charAt(hashes) == ' ') {
        flush()
        val title = line.substring(hashes + 1).trim
        path = (hashes, title) :: path.dropWhile(_._1 >= hashes)
        i += 1
      } else {
        if (line.nonEmpty) addUnit(Seq(line))
        i += 1
      }
    }
    flush()
    out.result()
  }

  /** One row per SECTION of each page's markdown: (idCol,
    * section_idx, path, text). Map-only.
    */
  def markdownSectionRows(df: DataFrame, idCol: String, mdCol: String,
      maxTokens: Int = 0): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(df(idCol).cast("long"), df(mdCol))
      .as[(Long, String)]
      .flatMap { case (id, md) =>
        Option(markdownSections(md, maxTokens = maxTokens)).toSeq.flatten
          .map { case (i, p, t) => (id, i, p, t) }
      }
      .toDF(idCol, "section_idx", "path", "text")
  }

  /** One row per page: (passthrough idCol, markdown). Map-only typed
    * walk — the justified stateful-scanner path, like [[blockRows]].
    */
  def markdownRows(df: DataFrame, idCol: String, htmlCol: String,
      minWords: Int = 0): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(df(idCol).cast("long"), df(htmlCol))
      .as[(Long, String)]
      .map { case (id, h) => (id, markdown(h, minWords)) }
      .toDF(idCol, "markdown")
  }

  /** One row PER OUTLINK of each page: every column of `pages` except
    * `htmlCol`, plus `href` — the canonical absolute target. The
    * page's `<base href>` (itself possibly relative — resolved against
    * the page URL first, per WHATWG) rebases relative references;
    * references that resolve outside the http(s) contract
    * (javascript:, mailto:, data:, malformed) drop — the same visible
    * NULL-degrade the URL kernels share — and pages with no resolvable
    * links contribute nothing, like [[Warc.watLinks]]' links-less
    * envelopes. Fragment-only references never leave the page and are
    * dropped at extraction.
    */
  def outlinks(pages: DataFrame, urlCol: String, htmlCol: String): DataFrame = {
    val pass = pages.columns.filterNot(_ == htmlCol).map(col).toSeq
    val pageCanon = GraftFunctions.urlCanon(col(urlCol))
    // the effective base: <base href> resolved against the page URL
    // when present (absolute base -> itself; relative base -> merged),
    // the page URL otherwise
    val base = coalesce(
      GraftFunctions.urlResolve(pageCanon, GraftFunctions.htmlBase(col(htmlCol))),
      pageCanon)
    pages
      .select(pass ++ Seq(
        base.as("__base"),
        explode(GraftFunctions.htmlLinks(col(htmlCol))).as("__ref")): _*)
      .select(pass :+
        GraftFunctions.urlResolve(col("__base"), col("__ref")).as("href"): _*)
      .filter(col("href").isNotNull)
  }
}
