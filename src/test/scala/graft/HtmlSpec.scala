package graft

import org.apache.spark.sql.functions._

import graft.operators.{Html, Warc}

/** HTML outlink extraction + RFC 3986 §5 reference resolution — the
  * archive → link graph path that needs no WAT sidecar. The resolution
  * kernel is certified against RFC 3986 §5.4's OWN example matrix
  * (normal and abnormal cases, composed with the §6 canonical form the
  * library emits everywhere).
  */
class HtmlSpec extends SparkSpec {

  import spark.implicits._

  private def resolve(base: String, ref: String): String = {
    val r = graft.functions.GraftMath.resolveUrl(
      org.apache.spark.unsafe.types.UTF8String.fromString(base),
      org.apache.spark.unsafe.types.UTF8String.fromString(ref))
    if (r == null) null else r.toString
  }

  test("RFC 3986 §5.4 reference resolution, canonical output") {
    val b = "http://a/b/c/d;p?q" // the RFC's own base
    // §5.4.1 normal examples (fragments strip; '//g' gains §6.2.3's
    // root path — the canonical form this library keys on)
    assert(resolve(b, "g") == "http://a/b/c/g")
    assert(resolve(b, "./g") == "http://a/b/c/g")
    assert(resolve(b, "g/") == "http://a/b/c/g/")
    assert(resolve(b, "/g") == "http://a/g")
    assert(resolve(b, "//g") == "http://g/")
    assert(resolve(b, "?y") == "http://a/b/c/d;p?y")
    assert(resolve(b, "g?y") == "http://a/b/c/g?y")
    assert(resolve(b, "#s") == "http://a/b/c/d;p?q")
    assert(resolve(b, "g#s") == "http://a/b/c/g")
    assert(resolve(b, "g?y#s") == "http://a/b/c/g?y")
    assert(resolve(b, ";x") == "http://a/b/c/;x")
    assert(resolve(b, "g;x") == "http://a/b/c/g;x")
    assert(resolve(b, "") == "http://a/b/c/d;p?q")
    assert(resolve(b, ".") == "http://a/b/c/")
    assert(resolve(b, "./") == "http://a/b/c/")
    assert(resolve(b, "..") == "http://a/b/")
    assert(resolve(b, "../") == "http://a/b/")
    assert(resolve(b, "../g") == "http://a/b/g")
    assert(resolve(b, "../..") == "http://a/")
    assert(resolve(b, "../../") == "http://a/")
    assert(resolve(b, "../../g") == "http://a/g")
    // §5.4.2 abnormal examples: dot segments can't climb above root,
    // dots inside segment names are literal, queries/fragments bind
    // to the last segment
    assert(resolve(b, "../../../g") == "http://a/g")
    assert(resolve(b, "../../../../g") == "http://a/g")
    assert(resolve(b, "/./g") == "http://a/g")
    assert(resolve(b, "/../g") == "http://a/g")
    assert(resolve(b, "g.") == "http://a/b/c/g.")
    assert(resolve(b, ".g") == "http://a/b/c/.g")
    assert(resolve(b, "g..") == "http://a/b/c/g..")
    assert(resolve(b, "..g") == "http://a/b/c/..g")
    assert(resolve(b, "./../g") == "http://a/b/g")
    assert(resolve(b, "./g/.") == "http://a/b/c/g/")
    assert(resolve(b, "g/./h") == "http://a/b/c/g/h")
    assert(resolve(b, "g/../h") == "http://a/b/c/h")
    assert(resolve(b, "g;x=1/./y") == "http://a/b/c/g;x=1/y")
    assert(resolve(b, "g;x=1/../y") == "http://a/b/c/y")
    assert(resolve(b, "g?y/./x") == "http://a/b/c/g?y/./x")
    assert(resolve(b, "g#s/./x") == "http://a/b/c/g")
    // a ref with its own scheme IS the target (§5.2.2 strict)
    assert(resolve(b, "http://other.example/x") == "http://other.example/x")
    // out-of-contract targets degrade to NULL, never throw
    assert(resolve(b, "mailto:x@y.example") == null)
    assert(resolve(b, "javascript:void(0)") == null)
    assert(resolve(b, "data:text/plain,hi") == null)
    assert(resolve("not a url", "g") == null)
    // whitespace-padded refs (HTML attributes carry them) trim
    assert(resolve(b, "  g  ") == "http://a/b/c/g")
    // base with empty path: the merge grows a root
    assert(resolve("http://h.example", "g") == "http://h.example/g")
    // protocol-relative keeps the base scheme
    assert(resolve("https://s.example/p", "//t.example/x") == "https://t.example/x")
  }

  test("htmlLinks/htmlBase: quotes, entities, comments, script bodies, torn markup") {
    def links(h: String): Seq[String] = {
      val a = graft.functions.GraftMath.htmlLinks(
        org.apache.spark.unsafe.types.UTF8String.fromString(h))
      (0 until a.numElements()).map(i => a.getUTF8String(i).toString)
    }
    def base(h: String): String = {
      val b = graft.functions.GraftMath.htmlBaseHref(
        org.apache.spark.unsafe.types.UTF8String.fromString(h))
      if (b == null) null else b.toString
    }
    // quote styles + unquoted + document order + src next to href
    assert(links("""<a href="q1">x</a><a href='q2'>y</a><img src=u3>""") ==
      Seq("q1", "q2", "u3"))
    // entities decode in attribute values (&amp; is mandatory escaping)
    assert(links("""<a href="/p?a=1&amp;b=2&#47;c">x</a>""") == Seq("/p?a=1&b=2/c"))
    // comments and script/style CONTENT are not links; the script
    // tag's own src attribute IS
    assert(links("<!-- <a href=no1> --><script src=yes1>" +
      "var s = \"<a href='no2'>\";</script><style>a{x:url(no3)}</style>" +
      "<A HREF=yes2>") == Seq("yes1", "yes2"))
    // fragment-only and empty refs drop at extraction; base is no link
    assert(links("""<base href="http://b.example/"><a href="#s">f</a><a href="">e</a>""")
      == Seq.empty)
    assert(base("""<base href="http://b.example/d/"><base href="http://late.example/">""")
      == "http://b.example/d/") // first base wins (WHATWG)
    assert(base("<p>none</p>") == null)
    // torn markup: unterminated comment, tag, attribute — never throws
    assert(links("<a href='x'><!-- torn") == Seq("x"))
    assert(links("<a href=\"unclosed") == Seq.empty)
    assert(links("<a href") == Seq.empty)
    assert(links("a < b and c > d, no tags") == Seq.empty)
    // case-insensitive attributes and whitespace around '='
    assert(links("<a HREF = \"x1\"><img SRC\t=\tx2>") == Seq("x1", "x2"))
    // a stray CLOSING </script> must not swallow the rest of the
    // document: the XHTML self-closed opener leaves one behind
    assert(links("""<script src="a.js"/>var x=1;</script><a href="after">r</a>""")
      == Seq("a.js", "after"))
    assert(links("""</script><a href="ok">r</a>""") == Seq("ok"))
    // an unquoted src value ENDING in '/' is data, not a self-close —
    // the script body stays opaque
    assert(links("<script src=http://cdn.example/>" +
      "var s = \"<a href='no'>\";</script><a href=ok2>") ==
      Seq("http://cdn.example/", "ok2"))
    // first-base early exit still returns the FIRST base under links
    // appearing before it
    assert(base("""<a href="pre"><base href="b1"><base href="b2">""") == "b1")
  }

  test("Html.outlinks: base rebasing, passthrough, NULL drops, map-only plan") {
    val pages = Seq(
      // no base: absolute + relative + query-only resolve against the page
      (1L, "http://h0.example/d/p0",
        """<a href="http://x.example/a">1</a><a href="s/r">2</a><a href="?q=1">3</a>"""),
      // relative BASE rebases relative refs (base resolves against the page first)
      (2L, "http://h0.example/d/p1",
        """<base href="../b/"><a href="g">1</a>"""),
      // absolute base on another host
      (3L, "http://h0.example/d/p2",
        """<base href="http://b.example/z/"><a href="g2">1</a>"""),
      // every link out of contract -> page contributes nothing
      (4L, "http://h0.example/d/p3",
        """<a href="javascript:x()">1</a><a href="#top">2</a>"""),
      // messy PAGE url: refs resolve against its canonical form
      (5L, "HTTP://H0.EXAMPLE:80/d/./p4", """<a href="g3">1</a>""")
    ).toDF("id", "url", "html")
    val out = Html.outlinks(pages, "url", "html")
    graft.queries.Q.requireNoShuffle(out)
    assert(out.columns.toSeq == Seq("id", "url", "href"))
    val got = out.select("id", "href").as[(Long, String)].collect().toSet
    assert(got == Set(
      (1L, "http://x.example/a"),
      (1L, "http://h0.example/d/s/r"),
      (1L, "http://h0.example/d/p0?q=1"),
      (2L, "http://h0.example/b/g"),
      (3L, "http://b.example/z/g2"),
      (5L, "http://h0.example/d/g3")))
  }

  test("syntheticWarcHtml arms: archive -> outlinks equals the planted matrix") {
    val frame = Seq((3L, Warc.syntheticWarcHtml(3L, 8))).toDF("media_id", "payload")
    val texts = Warc.httpTexts(Warc.recordsBinary(frame, "media_id", "payload"))
      .select(col("media_id"), col("rec_idx"), col("target_uri"), col("text"))
    val out = Html.outlinks(texts, "target_uri", "text")
    graft.queries.Q.requireNoShuffle(out)
    val got = out.select("rec_idx", "href").as[(Int, String)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // arms 0/1 (i%4<2) carry the WAT edge targets; seed=3
    for (i <- 0 until 8 if i % 4 < 2) {
      val m1 = (3 + i + 1) % 5; val m2 = (3 + i + 2) % 5
      assert(got(i) == Set(
        s"http://site$m1.example/l/$i", s"http://site$m2.example/l/${i}b"),
        s"arm ${i % 4} rec $i")
    }
    // arm 2: same-host relative/dot/query/self-nav resolution, noise
    // ignored
    for (i <- Seq(2, 6)) {
      val m = (3 + i) % 5
      assert(got(i) == Set(
        s"http://site$m.example/d/l2/rel$i",
        s"http://site$m.example/l3/dot$i",
        s"http://site$m.example/d/p$i?q=$i&r=2",
        s"http://site$m.example/d/p$i"), s"arm 2 rec $i")
    }
    // arm 3: torn markup contributes nothing
    assert(!got.contains(3) && !got.contains(7))
  }

  test("htmlAnchorPairs: visible text, case-free tags, skips, torn anchors, budgets") {
    import graft.functions.GraftMath.htmlAnchorPairs
    assert(htmlAnchorPairs("""x<a href="u1">plain</a>y""") == Seq(("u1", "plain")))
    assert(htmlAnchorPairs("""<A HREF="U2">nested <b>bold</b>  t</A>""") == Seq(("U2", "nested bold t")))
    assert(htmlAnchorPairs("""<a href="u3"><img src="i.png"></a>""") == Seq(("u3", "")))
    assert(htmlAnchorPairs("""<a name="n">no href</a><a href="#f">frag</a>""") == Seq.empty)
    assert(htmlAnchorPairs("""<a href="u4">A &amp; B</a>""") == Seq(("u4", "A & B")))
    // '<abbr' is not an anchor; a torn anchor ends the walk with the prefix
    assert(htmlAnchorPairs("""<abbr href="x">t</abbr><a href="u5">ok</a><a href="u6">torn""") ==
      Seq(("u5", "ok")))
    assert(htmlAnchorPairs("""<a href="u">""" + "w " * 600 + "</a>").head._2.length <= 512)
    assert(htmlAnchorPairs((1 to 30).map(i => s"""<a href="u$i">t</a>""").mkString,
      maxAnchors = 7).length == 7)
    assert(htmlAnchorPairs(null) == Seq.empty)
  }

  test("htmlAnchorPairs rides the hardened scanner: review-pass arms") {
    import graft.functions.GraftMath.htmlAnchorPairs
    // </abbr> is not </a>: trailing text survives
    assert(htmlAnchorPairs("""<a href="u"><abbr>API</abbr> docs</a>""") == Seq(("u", "API docs")))
    // single-quoted and unquoted hrefs parse like the link scanner
    assert(htmlAnchorPairs("<a href='u1'>s</a><a href=u2>q</a>") ==
      Seq(("u1", "s"), ("u2", "q")))
    // comments and script bodies cannot fake an anchor
    assert(htmlAnchorPairs("""<!-- <a href="/old">dead</a> --><a href="u">live</a>""") ==
      Seq(("u", "live")))
    assert(htmlAnchorPairs("""<script>var x='<a href="spam">x</a>';</script>""") == Seq.empty)
    // a quoted '>' does not end the open tag early
    assert(htmlAnchorPairs("""<a href="u" title="x > y">label</a>""") == Seq(("u", "label")))
    // data-href is not href
    assert(htmlAnchorPairs("""<a data-href="/t" class="x">Click</a>""") == Seq.empty)
    // CRLF-formatted attributes
    assert(htmlAnchorPairs("<a\r\nhref=\"u\">label</a>") == Seq(("u", "label")))
    // a new <a> implicitly closes the previous (anchors never nest)
    assert(htmlAnchorPairs("""<a href="a">x<a href="b">y</a>""") ==
      Seq(("a", "x"), ("b", "y")))
    // a lone '<' inside anchor text is prose
    assert(htmlAnchorPairs("""<a href="u">2 < 3</a>""") == Seq(("u", "2 < 3")))
  }

  test("blocks: block-tag segmentation, word floor, integer link-density rule") {
    import graft.operators.Html
    val html = "<html><head><title>Site 1</title></head><body>" +
      "<nav><a href=\"/\">Home</a> <a href=\"/a\">About</a></nav>" +
      "<p>one two three four five six seven eight nine</p>" +
      "<p>short text</p>" +
      "<p>w w w w w w w w <a href=\"/x\">all of this anchor text is long</a></p>" +
      "</body></html>"
    val bs = Html.blocks(html)
    assert(bs.map(_.text) == Seq("Site 1", "Home About",
      "one two three four five six seven eight nine", "short text",
      "w w w w w w w w all of this anchor text is long"))
    assert(bs.map(_.is_content) == Seq(false, false, true, false, false))
    // the link-farm block fails ONLY the density axis (words = 15 >= 8)
    assert(bs(4).n_words == 15 && 3 * bs(4).n_link_chars > bs(4).n_chars)
    // the nav fails ONLY the word floor (its density is ~1 too, but 2 < 8 decides)
    assert(bs(1).n_words == 2)
    // a long paragraph with one small link stays content
    val mixed = Html.blocks("<p>alpha beta gamma delta epsilon zeta eta theta " +
      "<a href=\"/y\">tiny</a> iota</p>")
    assert(mixed.head.is_content && mixed.head.n_link_chars == 4)
  }

  test("blocks: comments/scripts can't fake prose; entities decode; br separates") {
    import graft.operators.Html
    assert(Html.blocks("<p>a b</p><!-- one two three four five six seven eight nine -->")
      .forall(!_.is_content))
    assert(Html.blocks("<script>var x = 'one two three four five six seven eight nine'</script><p>a</p>")
      .map(_.text) == Seq("a"))
    assert(Html.blocks("<p>A &amp; B</p>").head.text == "A & B")
    assert(Html.blocks("line one<br>line two").map(_.text) == Seq("line one", "line two"))
    // torn page keeps the completed trailing run
    assert(Html.blocks("<p>head text").map(_.text) == Seq("head text"))
    assert(Html.blocks(null).isEmpty && Html.blocks("").isEmpty)
  }

  test("advice finding: unclosed/self-closed anchors don't poison later blocks") {
    import graft.operators.Html
    // an UNCLOSED <a> (HTML5 implicitly closes anchors at block
    // elements) must not mark every later block's text as link chars
    val unclosed = Html.blocks("<p><a href=\"/\">Home</p>" +
      "<p>one two three four five six seven eight nine</p>")
    assert(unclosed.map(_.text) == Seq("Home",
      "one two three four five six seven eight nine"))
    assert(unclosed(1).n_link_chars == 0 && unclosed(1).is_content)
    // a SELF-CLOSED <a/> opens no anchor at all
    val selfClosed = Html.blocks(
      "<p><a href=\"/x\"/>one two three four five six seven eight nine</p>")
    assert(selfClosed.head.n_link_chars == 0 && selfClosed.head.is_content)
    // a properly closed anchor still counts within its own block
    val closed = Html.blocks("<p>w w w w w w w w <a href=\"/x\">linked text run</a></p>")
    assert(closed.head.n_link_chars == "linked text run".length)
  }

  test("mainContent: content blocks joined; chrome cut; null/empty contract") {
    import graft.operators.Html
    val html = "<nav><a href=\"/\">Home</a></nav>" +
      "<p>one two three four five six seven eight nine</p>" +
      "<p>ten eleven twelve thirteen fourteen fifteen sixteen seventeen</p>" +
      "<footer>c</footer>"
    assert(Html.mainContent(html) ==
      "one two three four five six seven eight nine\n" +
        "ten eleven twelve thirteen fourteen fifteen sixteen seventeen")
    assert(Html.mainContent("<nav>x</nav>") == "")
    assert(Html.mainContent(null) == null)
  }

  test("htmlMetaRobots: attribute order, case, none, union, comment/script immunity") {
    import org.apache.spark.unsafe.types.UTF8String
    def m(s: String): Int = graft.functions.GraftMath.htmlMetaRobots(UTF8String.fromString(s))
    assert(m("""<meta name="robots" content="noindex">""") == 1)
    assert(m("""<meta content="nofollow" name="robots">""") == 2) // order swap
    assert(m("""<META NAME="ROBOTS" CONTENT="NONE">""") == 3)
    assert(m("""<meta name="robots" content="noindex, nofollow">""") == 3)
    assert(m("""<meta name="robots" content="noindex"><meta name="robots" content="nofollow">""") == 3)
    assert(m("""<meta name="robots" content="all"><meta name="keywords" content="noindex">""") == 0)
    assert(m("""<meta name="description" content="x"><meta name="robots" content="noindex">""") == 1)
    // two ADJACENT metas must not cross-pair name/content
    assert(m("""<meta name="robots"><meta content="noindex">""") == 0)
    assert(m("""<!-- <meta name="robots" content="noindex"> -->""") == 0)
    assert(m("""<script>var s = '<meta name="robots" content="noindex">';</script>""") == 0)
    assert(m("plain text") == 0)
    assert(m("""<meta name="ROBOTS" content="NOINDEX, noarchive , unknown">""") == 1)
    // directive mask directly (the X-Robots-Tag grammar)
    import graft.functions.GraftMath.robotsDirectiveMask
    assert(robotsDirectiveMask("noindex, nofollow") == 3)
    assert(robotsDirectiveMask("none") == 3)
    assert(robotsDirectiveMask("noarchive") == 0)
    assert(robotsDirectiveMask(null) == 0)
  }
}
