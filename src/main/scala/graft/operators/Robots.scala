package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** robots.txt parsing and the crawl-politeness screen — the decision a
  * crawl pipeline owes every URL before fetching it (and a re-check a
  * training pipeline owes archived crawls whose robots changed).
  *
  * Parsing follows the Robots Exclusion Protocol's group structure
  * (RFC 9309 §2.2): one or more consecutive `User-agent:` lines open a
  * group, `Allow:`/`Disallow:` lines fill it, a `User-agent:` line
  * after rules starts the next group; `#` comments strip; unknown
  * directives (Sitemap, …) are ignored without breaking the group.
  * `Crawl-delay` IS a group rule here (the RFC grammar's rule
  * production covers "other" directives, and the engines that honor
  * the directive — which group-scope it — need it attached), so it
  * both closes a header run and reaches [[parseCrawlDelays]]. Note
  * the politeness consequence: a specific-agent group containing ONLY
  * a crawl-delay contributes no allow/disallow rows, so path
  * screening for that agent falls back to the `*` group's rules — the
  * conservative over-block direction (strict RFC group-used-alone
  * would leave such an agent unrestricted). Agent selection per RFC
  * 9309 §2.2.1: the group matching the product token is used ALONE
  * when present, the `*` group only otherwise.
  *
  * Matching contract — CONSERVATIVE prefix semantics: the decision is
  * longest-effective-prefix wins, allow wins length ties (the RFC's
  * rule). RFC 9309 wildcards are intentionally approximated in the
  * safe direction only: a Disallow containing `*`/`$` WIDENS to its
  * literal prefix before the first metacharacter (a superset of the
  * true match — never fetches what the rule meant to block), while an
  * Allow containing them is DROPPED (an allow widened the same way
  * would un-block paths the site blocked). Empty-path rules are no-ops
  * per the RFC. No rule matching a path means allowed.
  *
  * Scale shape: robots rules are a |domains|-bounded frame — the
  * screen BROADCASTS them, rates every URL with one join plus one
  * partial-aggregable max-of-struct per URL key (no window, no
  * corpus-keyed shuffle beyond the one agg exchange).
  */
object Robots {

  final case class RobotsRule(domain: String, agent: String, rule: String, path: String)

  /** The shared RFC 9309 §2.2 group walk: one or more consecutive
    * `User-agent:` lines open a group, rule lines fill it (and mark
    * the group "opened", so a later `User-agent:` starts the NEXT
    * group rather than joining). `Crawl-delay` is a de-facto group
    * rule (Yandex/Bing semantics), so it both closes the header run
    * AND reaches the sink — [[parseRobots]] discards it,
    * [[parseCrawlDelays]] keeps only it; both see the identical group
    * structure because the walk is shared.
    */
  /** RFC 9309 §2.5 parse limit: a crawler MUST process at least 500
    * kibibytes of robots.txt and MAY stop there — the cap an untrusted
    * site needs (a multi-gigabyte robots.txt must not park the parse
    * task). The truncation lands on a LINE boundary at or past the
    * cap, so the last counted rule is never half-parsed; everything
    * beyond is ignored, which is the RFC's sanctioned behavior, not a
    * silent degrade.
    */
  val ParseLimitBytes: Int = 500 * 1024

  /** The §2.5 cap, cut at the next line boundary so no directive
    * half-parses — shared by EVERY walker over the same untrusted
    * document ([[walkGroups]] AND [[parseSitemapDirectives]]): one
    * horizon, or the same robots.txt would be half-truncated for
    * rules and unbounded for sitemap pointers. The budget is counted
    * in UTF-8 OCTETS (the unit the wire document and the RFC's
    * "500 kibibytes" speak in), not UTF-16 chars — a multibyte
    * robots.txt stops at the same byte horizon an ASCII one does.
    */
  private def boundedText(text: String): String = {
    val n = text.length
    // ≤3 UTF-8 bytes per char (surrogate pairs: 2 chars -> 4 bytes),
    // so short strings can never cross the byte horizon
    if (n <= ParseLimitBytes / 3) return text
    var bytes = 0
    var i = 0
    while (i < n && bytes < ParseLimitBytes) {
      val c = text.charAt(i)
      bytes += (if (c < 0x80) 1 else if (c < 0x800) 2
        else if (Character.isSurrogate(c)) 2 else 3)
      i += 1
    }
    if (i >= n) text
    else {
      val nl = text.indexOf('\n', i)
      if (nl < 0) text else text.substring(0, nl)
    }
  }

  private def walkGroups(text: String)(
      sink: (List[String], String, String) => Unit): Unit = {
    if (text == null) return
    val bounded = boundedText(text)
    var agents = List.empty[String]
    var inRules = false
    bounded.split("\n", -1).foreach { raw =>
      val hash = raw.indexOf('#')
      val line = (if (hash >= 0) raw.substring(0, hash) else raw).trim
      if (line.nonEmpty) {
        val ci = line.indexOf(':')
        if (ci > 0) {
          val k = line.substring(0, ci).trim.toLowerCase(java.util.Locale.ROOT)
          val v = line.substring(ci + 1).trim
          k match {
            case "user-agent" =>
              if (inRules) { agents = Nil; inRules = false }
              agents ::= v.toLowerCase(java.util.Locale.ROOT)
            case "allow" | "disallow" | "crawl-delay" =>
              inRules = true
              sink(agents, k, v)
            case _ => () // sitemap, unknown — ignored, group unbroken
          }
        }
      }
    }
  }

  /** Parse one domain's robots.txt into (agent, rule, path) rows —
    * every agent of a group carries the group's rules. Lenient like
    * every untrusted-input parser here: malformed lines are skipped,
    * never thrown on.
    */
  def parseRobots(domain: String, text: String): Seq[RobotsRule] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[RobotsRule]
    walkGroups(text) { (agents, k, v) =>
      if (k != "crawl-delay") agents.foreach(a => out += RobotsRule(domain, a, k, v))
    }
    out.toSeq
  }

  /** Parse one domain's `Crawl-delay:` directives into
    * (domain, agent, delayMillis) rows — the same group walk as
    * [[parseRobots]]. Values are decimal seconds (integers or up to
    * millisecond precision), parsed with integer arithmetic;
    * out-of-contract values (negative, non-numeric, absurd) are
    * skipped, never thrown on, and delays cap at one hour — an
    * untrusted site must not be able to park a crawler.
    */
  def parseCrawlDelays(domain: String, text: String): Seq[(String, String, Long)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    val Num = "^([0-9]{1,7})(?:\\.([0-9]{1,3}))?$".r
    walkGroups(text) { (agents, k, v) =>
      if (k == "crawl-delay") v match {
        case Num(whole, frac) =>
          val ms = whole.toLong * 1000L +
            (if (frac == null) 0L else (frac + "00").take(3).toLong)
          val capped = math.min(ms, 3600000L)
          agents.foreach(a => out += ((domain, a, capped)))
        case _ => ()
      }
    }
    out.toSeq
  }

  /** Effective per-domain delay under RFC 9309 §2.2.1 group selection
    * (specific agent's groups used ALONE when present, `*` groups only
    * otherwise); several delays for the selected agent collapse to the
    * MAX — the polite reading. Domains with no directive are absent —
    * the scheduler's default applies.
    */
  private[graft] def effectiveDelays(parsed: Seq[(String, String, Long)], agent: String): Seq[(String, Long)] = {
    val me = agent.toLowerCase(java.util.Locale.ROOT)
    parsed.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (d, rows) =>
      val mine = rows.filter(_._2 == me)
      val group = if (mine.nonEmpty) mine else rows.filter(_._2 == "*")
      if (group.isEmpty) None else Some((d, group.map(_._3).max))
    }
  }

  /** Batch parse: (domainCol: string, textCol: string) → one row per
    * rule — map-only over the |domains|-bounded robots table.
    */
  def rules(df: DataFrame, domainCol: String, textCol: String): DataFrame = {
    import df.sparkSession.implicits._
    df.select(col(domainCol).cast("string"), col(textCol).cast("string"))
      .as[(String, String)]
      .flatMap { case (d, t) => parseRobots(d, t) }
      .toDF()
  }

  /** The effective literal prefix of a rule path under the
    * conservative contract, as a Column: text before the first `*`,
    * one trailing `$` stripped.
    */
  private def effectivePrefix(path: Column): Column =
    regexp_replace(regexp_extract(path, "^[^*]*", 0), "\\$$", "")

  /** Driver-side twin of the screen's group selection + conservative
    * widening, for the BOUNDED-rules regime: (domain, prefix, isAllow)
    * decision rows for `agent`. Shared semantics with
    * [[politenessScreen]] — equivalence is spec-pinned, so the
    * map-side column below can never drift from the distributed path.
    */
  def effectiveRules(parsed: Seq[RobotsRule], agent: String): Seq[(String, String, Boolean)] = {
    val me = agent.toLowerCase(java.util.Locale.ROOT)
    parsed.groupBy(_.domain).toSeq.sortBy(_._1).flatMap { case (d, rs) =>
      val mine = rs.filter(_.agent == me)
      val group = if (mine.nonEmpty) mine else rs.filter(_.agent == "*")
      group.filter(_.path.nonEmpty).flatMap { r =>
        if (r.rule == "disallow")
          Some((d, r.path.takeWhile(_ != '*').stripSuffix("$"), false))
        else if (!r.path.contains('*') && !r.path.endsWith("$"))
          Some((d, r.path, true))
        else None // wildcard/anchored allow: dropped, never widened
      }
    }
  }

  /** Effective rules under RFC 9309 §2.3.1 FETCH-STATUS semantics —
    * what a crawler owes domains whose robots.txt didn't come back as
    * a 2xx: "unavailable" (400–499) means crawling is UNRESTRICTED
    * (the site chose not to publish rules — no rows here, and the
    * screen's no-match default allows); "unreachable" (5xx, or a torn
    * fetch encoded as status −1) MUST be treated as COMPLETE DISALLOW
    * (a synthetic `*`/disallow-"/" row — the conservative direction:
    * an origin in trouble must not be hammered). 2xx bodies parse
    * normally. Input: (domainCol, statusCol, textCol); output:
    * [[rules]]' (domain, agent, rule, path) shape, ready for
    * [[politenessScreen]] / [[effectiveRules]]. Unfollowed 3xx rows
    * land in the unavailable bucket (unrestricted) — redirect
    * FOLLOWING is the fetch layer's job; what reaches this frame is
    * the terminal status.
    */
  def rulesWithAvailability(
      df: DataFrame,
      domainCol: String,
      statusCol: String,
      textCol: String
  ): DataFrame = {
    val ok = df.filter(col(statusCol) >= 200 && col(statusCol) < 300)
    val unreachable = df
      .filter(col(statusCol) >= 500 || col(statusCol) === -1)
      .select(col(domainCol).cast("string").as("domain"),
        lit("*").as("agent"), lit("disallow").as("rule"), lit("/").as("path"))
    rules(ok, domainCol, textCol).unionByName(unreachable)
  }

  /** Resolve 3xx REDIRECT CHAINS over a fetch ledger (RFC 9309
    * §2.3.1.2: follow at least five consecutive redirects; past that a
    * crawler MAY treat the file as unavailable). Input: one row per
    * FETCH — `urlCol`, `statusCol`, `locationCol` (the Location header
    * [[graft.operators.Warc.HttpHead]] captures; null when absent).
    * Output: one row per input fetch — `start_url`, `final_url`,
    * `final_status`, `hops`, `exhausted`.
    *
    * Semantics: a row is mid-chain iff its status is 3xx AND it
    * carries a Location; each hop joins the Location back to the
    * ledger. A Location pointing at a URL the ledger never fetched
    * terminates with status −1 (the torn-fetch marker — the caller's
    * unreachable semantics apply). A 3xx without Location is terminal
    * as-is (malformed redirect). `exhausted` is true when the chain is
    * STILL redirecting after `maxHops` hops — loops exhaust naturally
    * (A→B→A never terminates), so no separate cycle detection is
    * needed at the RFC's bound.
    *
    * A URL fetched MORE THAN ONCE (retries, multiple crawl rounds)
    * collapses to its most-successful row before the walk — status
    * class 2xx < 3xx < 4xx < 5xx/torn, ties broken deterministically —
    * so a stale failed fetch can neither fan chains out multiplicatively
    * through the hop joins nor override a later success. Output is one
    * row per DISTINCT url.
    *
    * Scale shape: `maxHops` (≤ ~5) chained left joins on the
    * |fetches|-bounded ledger frame — the robots ledger is
    * |domains|-sized, never corpus-sized, and each hop's join keys on
    * the URL, so the corpus itself never enters this plan.
    */
  /** Collapse duplicate fetches of one URL to the most-successful row:
    * status class 2xx < 3xx < 4xx < everything else (5xx / torn), then
    * status, then the remaining columns — a total deterministic order,
    * so re-running the resolve over a multi-round ledger is stable.
    * Expects the working column names (`__u`, `__st`, `__loc`, and
    * optionally `__text`).
    */
  private def dedupFetches(base: DataFrame): DataFrame = {
    val rank = when(col("__st").between(200, 299), 0)
      .when(col("__st").between(300, 399), 1)
      .when(col("__st").between(400, 499), 2)
      .otherwise(3)
    val rest = base.columns.filterNot(_ == "__u")
      .map(c => coalesce(col(c).cast("string"), lit("")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__u"))
      .orderBy((rank +: col("__st") +: rest.toSeq): _*)
    base
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  def resolveRedirects(
      fetches: DataFrame,
      urlCol: String,
      statusCol: String,
      locationCol: String,
      maxHops: Int = 5
  ): DataFrame = {
    val base = dedupFetches(fetches.select(
      col(urlCol).cast("string").as("__u"),
      col(statusCol).cast("int").as("__st"),
      col(locationCol).cast("string").as("__loc")))
    def redirecting(st: Column, loc: Column): Column =
      st.between(300, 399) && loc.isNotNull
    var cur = base.select(
      col("__u").as("start_url"), col("__u").as("final_url"),
      col("__st").as("final_status"), col("__loc"),
      lit(0).as("hops"))
    for (_ <- 1 to maxHops) {
      val mid = redirecting(col("final_status"), col("__loc"))
      val next = base.select(col("__u").as("__nu"),
        col("__st").as("__nst"), col("__loc").as("__nloc"))
      cur = cur
        .join(next, mid && col("__loc") === col("__nu"), "left")
        .select(
          col("start_url"),
          when(mid, coalesce(col("__nu"), col("__loc")))
            .otherwise(col("final_url")).as("final_url"),
          when(mid, coalesce(col("__nst"), lit(-1)))
            .otherwise(col("final_status")).as("final_status"),
          when(mid, col("__nloc")).otherwise(col("__loc")).as("__loc"),
          when(mid, col("hops") + 1).otherwise(col("hops")).as("hops"))
    }
    cur.select(
      col("start_url"), col("final_url"), col("final_status"), col("hops"),
      redirecting(col("final_status"), col("__loc")).as("exhausted"))
  }

  /** Effective robots rules when robots.txt fetches REDIRECT — the
    * composition [[resolveRedirects]] exists for: per RFC 9309
    * §2.3.1.2 a robots.txt reached via redirects is VALID FOR THE
    * ORIGINAL authority, so each domain's chain resolves to its
    * terminal fetch, the terminal BODY parses under the ORIGINAL
    * domain, and the terminal STATUS feeds [[rulesWithAvailability]]'s
    * fetch-status semantics — with exhaustion (still 3xx after
    * `maxHops`) mapped to UNAVAILABLE (the RFC's MAY, the unrestricted
    * direction) and a chain ending at an unfetched URL mapped to
    * status −1 (unreachable → complete disallow).
    *
    * `starts`: (domain, url) — each domain's robots.txt fetch URL.
    * `fetches`: (url, status, location, text) — the fetch ledger,
    * terminal bodies included. Output: [[rules]]' shape, ready for
    * [[politenessScreen]].
    */
  def rulesViaRedirects(
      starts: DataFrame,
      fetches: DataFrame,
      maxHops: Int = 5
  ): DataFrame = {
    // one dedup serves both the chain walk and the terminal-text
    // lookup — a URL fetched in several rounds must resolve to ONE
    // (most-successful) row on both sides or the stale fetch's rules
    // would union in next to the fresh ones
    val deduped = dedupFetches(fetches.select(
      col("url").cast("string").as("__u"),
      col("status").cast("int").as("__st"),
      col("location").cast("string").as("__loc"),
      col("text").cast("string").as("__text")))
    val resolved = resolveRedirects(deduped, "__u", "__st", "__loc", maxHops)
    val terminal = starts
      .select(col("domain").cast("string").as("domain"),
        col("url").cast("string").as("__start"))
      .join(resolved, col("__start") === col("start_url"), "left")
      .join(deduped.select(col("__u").as("__tu"), col("__text")),
        col("final_url") === col("__tu"), "left")
      .select(
        col("domain"),
        // exhausted chains are UNAVAILABLE per the RFC's MAY → the
        // 4xx-class arm of the availability semantics (no rules);
        // a start the ledger never fetched is unreachable (−1)
        when(col("exhausted"), lit(404))
          .otherwise(coalesce(col("final_status"), lit(-1))).as("status"),
        col("__text").as("text"))
    rulesWithAvailability(terminal, "domain", "status", "text")
  }

  /** `Sitemap:` directives from a robots.txt — the frontier's
    * discovery POINTER ([[parseSitemapLocs]] parses what these point
    * AT). Per sitemaps.org the directive is location-INDEPENDENT —
    * not group-scoped, any number of them — so this is a lenient line
    * scan with the group walk's comment handling, not part of
    * [[walkGroups]] (which correctly ignores it as an unknown
    * directive without breaking the group).
    */
  def parseSitemapDirectives(text: String): Seq[String] = {
    if (text == null) return Nil
    boundedText(text).split("\n", -1).toSeq.flatMap { raw =>
      val hash = raw.indexOf('#')
      val line = (if (hash >= 0) raw.substring(0, hash) else raw).trim
      val ci = line.indexOf(':')
      if (ci > 0 &&
        line.substring(0, ci).trim.toLowerCase(java.util.Locale.ROOT) == "sitemap") {
        val v = line.substring(ci + 1).trim
        if (v.nonEmpty) Some(v) else None
      } else None
    }
  }

  /** Batch pointer extraction: (domainCol, textCol) → one
    * (domain, sitemap_url) row per `Sitemap:` directive — map-only
    * over the |domains|-bounded robots table.
    */
  def sitemapPointers(df: DataFrame, domainCol: String, textCol: String): DataFrame = {
    import df.sparkSession.implicits._
    df.select(col(domainCol).cast("string"), col(textCol).cast("string"))
      .as[(String, String)]
      .flatMap { case (d, t) => parseSitemapDirectives(t).map(u => (d, u)) }
      .toDF("domain", "sitemap_url")
  }

  /** Extract `<loc>` URLs from a sitemap XML (sitemaps.org protocol —
    * the other half of the frontier layer robots.txt points at via
    * `Sitemap:` lines). Lenient tag scan, never a full XML parser:
    * crawl-served sitemaps are untrusted input, so unterminated tags
    * simply end the walk. The five predefined XML entities decode
    * (URLs in sitemaps MUST entity-escape `&`); numeric character
    * references are out of contract and pass through for the URL
    * canonicalizer's own degrade handling.
    */
  def parseSitemapLocs(xml: String): Seq[String] = {
    if (xml == null) return Nil
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    var done = false
    while (!done) {
      val s = xml.indexOf("<loc>", i)
      val e = if (s < 0) -1 else xml.indexOf("</loc>", s + 5)
      if (s < 0 || e < 0) done = true
      else {
        val raw = xml.substring(s + 5, e).trim
        out += Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
          "&apos;" -> "'", "&amp;" -> "&") // amp LAST: && double-escapes stay correct
          .foldLeft(raw) { case (t, (ent, ch)) => t.replace(ent, ch) }
        i = e + 6
      }
    }
    out.toSeq
  }

  /** Batch sitemap explode: (idCol: long, xmlCol: string) → one row
    * per `<loc>` — map-only, the [[rules]] shape applied to the
    * frontier's seed lists.
    */
  def sitemapUrls(df: DataFrame, idCol: String, xmlCol: String): DataFrame = {
    import df.sparkSession.implicits._
    df.select(col(idCol).cast("long"), col(xmlCol).cast("string"))
      .as[(Long, String)]
      .flatMap { case (id, xml) => parseSitemapLocs(xml).map(l => (id, l)) }
      .toDF("media_id", "loc")
  }

  /** Decode a fetched sitemap PAYLOAD to XML text: real sitemaps ship
    * mostly gzipped (`.xml.gz` — sitemaps.org caps a file at 50k URLs
    * / 50 MB UNCOMPRESSED, so the wire form compresses), so a payload
    * opening with the gzip magic routes through the strict
    * CRC-verified gunzip ([[CompressedMeta.gunzipAll]] — a torn
    * sitemap is a visible null, never a half-parsed URL list), then
    * strict UTF-8. Plain XML passes straight through. Null on any
    * degrade.
    */
  def decodeSitemapPayload(payload: Array[Byte]): String = {
    if (payload == null) return null
    val xml =
      if (payload.length >= 2 &&
        (payload(0) & 0xFF) == 0x1F && (payload(1) & 0xFF) == 0x8B)
        CompressedMeta.gunzipAll(payload)
      else payload
    if (xml == null) null
    else
      try java.nio.charset.StandardCharsets.UTF_8.newDecoder()
        .decode(java.nio.ByteBuffer.wrap(xml)).toString
      catch { case _: Exception => null }
  }

  /** Is this sitemap document an INDEX (sitemaps.org `<sitemapindex>`
    * — its `<loc>`s point at CHILD sitemaps, not pages)? Lenient tag
    * scan like [[parseSitemapLocs]].
    */
  def isSitemapIndex(xml: String): Boolean =
    xml != null && xml.contains("<sitemapindex")

  /** The FULL sitemap discovery hop: robots `Sitemap:` pointers →
    * fetched payloads (gzipped or plain) → one INDEX level (per
    * sitemaps.org an index lists child sitemaps; nesting deeper is out
    * of protocol) → child payloads → page `<loc>`s. `pointers` is
    * [[sitemapPointers]]' (domain, sitemap_url) output; `fetches` is
    * (url, payload: binary) — the fetched bodies. Output:
    * (domain, loc), one row per page URL discovered for the domain.
    *
    * Degrades: a pointer whose URL was never fetched, a torn gzip, or
    * junk XML contributes nothing (the decode nulls, the loc scan
    * yields empty). Scale shape: two joins on |sitemaps|-bounded
    * frames (the 50k-locs/file protocol cap bounds the explode), the
    * decodes map-only; the corpus never enters the plan.
    */
  def sitemapLocsVia(pointers: DataFrame, fetches: DataFrame): DataFrame = {
    import pointers.sparkSession.implicits._
    // join on the RAW payload and decode AFTER the join: each branch
    // then gunzips only ITS matched rows — decoding inside the fetch
    // frame would run the gunzip UDF over EVERY fetched payload once
    // per plan branch (leaf, children, and the child re-join: ~3x the
    // decompression CPU with no exchange to reuse)
    val fxRaw = fetches.select(col("url").cast("string").as("__fu"),
      col("payload").as("__payload"))
    val level0 = pointers
      .select(col("domain").cast("string"), col("sitemap_url").cast("string"))
      .join(fxRaw, col("sitemap_url") === col("__fu"), "left")
      .select(col("domain"), col("__payload"))
      .as[(String, Array[Byte])]
      // classify ONCE: urlset locs are pages (is_child false); index
      // locs are CHILD sitemaps that fetch-and-parse one level down
      .flatMap { case (d, payload) =>
        val xml = decodeSitemapPayload(payload)
        if (xml == null) Nil
        else parseSitemapLocs(xml).map(l => (d, l, isSitemapIndex(xml)))
      }
      .toDF("domain", "loc", "__is_child")
    val viaIndex = level0.filter(col("__is_child"))
      .join(fxRaw, col("loc") === col("__fu"), "left")
      .select(col("domain"), col("__payload"))
      .as[(String, Array[Byte])].flatMap { case (d, payload) =>
        val xml = decodeSitemapPayload(payload)
        if (xml == null || isSitemapIndex(xml)) Nil // nested index: out of protocol
        else parseSitemapLocs(xml).map(l => (d, l))
      }
      .toDF("domain", "loc")
    level0.filter(!col("__is_child")).select(col("domain"), col("loc"))
      .unionByName(viaIndex)
  }

  /** Batch crawl-delay parse: (domainCol, textCol) → one
    * (domain, agent, delay_ms) row per directive — the [[rules]] shape
    * for [[parseCrawlDelays]], map-only over the |domains|-bounded
    * robots table.
    */
  def crawlDelays(df: DataFrame, domainCol: String, textCol: String): DataFrame = {
    import df.sparkSession.implicits._
    df.select(col(domainCol).cast("string"), col(textCol).cast("string"))
      .as[(String, String)]
      .flatMap { case (d, t) => parseCrawlDelays(d, t) }
      .toDF("domain", "agent", "delay_ms")
  }

  /** Distributed twin of [[effectiveDelays]]: RFC 9309 §2.2.1 group
    * selection (specific agent's delays used ALONE when present, `*`
    * only otherwise) collapsed to the per-domain MAX — pure SQL
    * (conditional max + coalesce), ONE shuffle over the
    * |domains|-bounded delay frame, so at 100 TB the robots table
    * never touches the corpus exchange. Domains with no directive are
    * absent — the scheduler's default applies downstream.
    */
  def effectiveDelayFrame(delays: DataFrame, agent: String): DataFrame = {
    val me = agent.toLowerCase(java.util.Locale.ROOT)
    delays.groupBy(col("domain"))
      .agg(
        max(when(col("agent") === me, col("delay_ms"))).as("__mine"),
        max(when(col("agent") === "*", col("delay_ms"))).as("__star"))
      .select(col("domain"),
        coalesce(col("__mine"), col("__star")).as("delay_ms"))
      .filter(col("delay_ms").isNotNull)
  }

  /** MAP-SIDE politeness decision against a bounded rule set riding
    * the closure as literals — the "fit once, rate anywhere"
    * inference shape (DSIR/CMS-screen discipline): no join, no
    * shuffle, streaming-safe. Longest prefix wins, allow wins ties,
    * no match → allowed — identical semantics to [[politenessScreen]].
    */
  def allowedColumn(rules: Seq[(String, String, Boolean)],
      domain: Column, path: Column): Column =
    if (rules.isEmpty) lit(true)
    else {
      val arr = array(rules.map { case (d, p, a) =>
        struct(lit(d).as("d"), lit(p).as("p"), lit(a).as("a"))
      }: _*)
      val best = array_max(transform(
        filter(arr, r => r.getField("d") === domain &&
          path.startsWith(r.getField("p"))),
        r => struct(length(r.getField("p")).as("l"), r.getField("a").as("a"))))
      coalesce(best.getField("a"), lit(true))
    }

  // --- EXACT RFC 9309 wildcard matching -------------------------------
  //
  // The conservative screen above approximates `*`/`$` in the safe
  // direction (widen disallows, drop wildcard allows). The exact
  // matcher below implements the RFC's real semantics — `*` matches
  // any octet sequence, a trailing `$` anchors the end, matching is
  // prefix-anchored, and the MOST OCTETS rule path wins (allow on
  // ties) — so a site's "Disallow: /\nAllow: /pub*" carve-out admits
  // /pub pages the conservative screen would refuse.

  /** Translate one rule path to the prefix-anchored Java regex the
    * matcher evaluates: literal chars escaped, `*` → `.*`, ONE
    * trailing `$` → the end anchor (a `$` elsewhere is literal per the
    * RFC's grammar — only the final position designates end-of-match).
    */
  def robotsPatternRegex(pattern: String): String = {
    val sb = new StringBuilder("^")
    val anchored = pattern.endsWith("$")
    val body = if (anchored) pattern.dropRight(1) else pattern
    body.foreach {
      case '*' => sb.append(".*")
      case c if "\\^$.|?+()[]{}".indexOf(c) >= 0 => sb.append('\\').append(c)
      case c => sb.append(c)
    }
    if (anchored) sb.append('$')
    sb.toString
  }

  /** Driver-side EXACT rule selection for `agent`: RFC 9309 §2.2.1
    * group selection, empty-path no-ops dropped, patterns kept RAW —
    * (domain, pattern, isAllow) rows for [[allowedColumnExact]].
    */
  def effectiveRulesExact(parsed: Seq[RobotsRule], agent: String): Seq[(String, String, Boolean)] = {
    val me = agent.toLowerCase(java.util.Locale.ROOT)
    parsed.groupBy(_.domain).toSeq.sortBy(_._1).flatMap { case (d, rs) =>
      val mine = rs.filter(_.agent == me)
      val group = if (mine.nonEmpty) mine else rs.filter(_.agent == "*")
      group.filter(_.path.nonEmpty).map(r => (d, r.path, r.rule == "allow"))
    }
  }

  /** MAP-SIDE exact politeness decision — [[allowedColumn]]'s twin
    * under full wildcard semantics: the bounded rule set rides the
    * closure as (domain, regex, octets, isAllow) literals; most-octets
    * wins, allow wins ties, no match → allowed. Shuffle-free,
    * streaming-safe.
    */
  def allowedColumnExact(rules: Seq[(String, String, Boolean)],
      domain: Column, path: Column): Column =
    if (rules.isEmpty) lit(true)
    else {
      val arr = array(rules.map { case (d, p, a) =>
        struct(lit(d).as("d"), lit(robotsPatternRegex(p)).as("re"),
          // RFC 9309 "most octets": UTF-8 BYTES of the rule path (not
          // UTF-16 units, not code points) — the distributed twin's
          // octet_length must agree or the two screens drift on
          // non-ASCII paths
          lit(p.getBytes(java.nio.charset.StandardCharsets.UTF_8).length).as("l"),
          lit(a).as("a"))
      }: _*)
      val best = array_max(transform(
        filter(arr, r => r.getField("d") === domain &&
          regexp_like(path, r.getField("re"))),
        r => struct(r.getField("l").as("l"), r.getField("a").as("a"))))
      coalesce(best.getField("a"), lit(true))
    }

  /** Distributed EXACT screen — [[politenessScreen]]'s twin under full
    * wildcard semantics: same unique-`idCol` contract and count-guarded
    * rules side; the rating joins on the domain plus a per-rule regex
    * match, and the best match is max(octets, isAllow). Cost note: the
    * regex evaluates per (url, candidate rule) pair with Spark's
    * last-pattern compile cache, so the per-URL work is bounded by the
    * domain's rule count (small in practice) — sites with huge rule
    * sets can stay on the conservative prefix screen, whose join is
    * pure startsWith.
    */
  def politenessScreenExact(
      urls: DataFrame,
      rulesDf: DataFrame,
      agent: String,
      idCol: String = "doc_id",
      domainCol: String = "domain",
      pathCol: String = "path",
      maxBroadcastRules: Long = DefaultMaxBroadcastRules
  ): DataFrame = {
    val regexUdf = udf((p: String) => robotsPatternRegex(p))
    val withSpec = selectAgentGroup(rulesDf, agent)
    val effective = withSpec
      .filter(length(col("path")) > 0) // empty-path rules are RFC no-ops
      .select(col("domain").as("__rd"), col("rule").as("__rule"),
        regexUdf(col("path")).as("__re"),
        // "most octets" = UTF-8 bytes, matching allowedColumnExact
        expr("octet_length(path)").as("__len"))
    val (side, _) = Guard.guardedSide(effective, maxBroadcastRules, keepPinned = false)
    val passthrough = urls.columns.toSeq.filterNot(_ == idCol)
    urls
      .join(side,
        urls(domainCol) === col("__rd") &&
          regexp_like(col(pathCol), col("__re")),
        "left")
      .groupBy(col(idCol))
      .agg(
        max(when(col("__rule").isNotNull,
          struct(col("__len").as("l"),
            (col("__rule") === "allow").as("a")))).as("__best"),
        passthrough.map(c => first(col(c)).as(c)): _*)
      .withColumn("allowed", coalesce(col("__best.a"), lit(true)))
      .select(urls.columns.toSeq.map(col) :+ col("allowed"): _*)
  }

  /** RFC 9309 §2.2.1 group selection, the distributed form every
    * screen shares (the specific group ALONE when present, else the
    * `*` group): ONE implementation, so a group-selection fix can
    * never reach one screen and miss another.
    */
  private def selectAgentGroup(rulesDf: DataFrame, agent: String): DataFrame = {
    val me = agent.toLowerCase(java.util.Locale.ROOT)
    rulesDf
      .withColumn("__spec", max((col("agent") === me).cast("int"))
        .over(org.apache.spark.sql.expressions.Window.partitionBy(col("domain"))))
      .filter(
        (col("__spec") === 1 && col("agent") === me) ||
          (col("__spec") === 0 && col("agent") === "*"))
  }

  /** The MIGRATION-AUDIT screen: BOTH verdicts — `allowed` (exact
    * RFC 9309 wildcard semantics, the authoritative admission) and
    * `allowed_conservative` (the widened-prefix screen's answer) —
    * from ONE rule join + ONE groupBy, the same wire shape as either
    * screen alone. The per-row over-block delta
    * (`allowed && !allowed_conservative`) is what promoting the exact
    * matcher into a composed crawl recovers: pages a widened wildcard
    * disallow would have dropped. Same unique-`idCol` contract and
    * count-guarded rules side as [[politenessScreen]]; the join admits
    * a rule row when EITHER semantics matches it, and each aggregate
    * re-checks its own semantics, so neither verdict can see the
    * other's candidates.
    */
  def politenessScreenAudit(
      urls: DataFrame,
      rulesDf: DataFrame,
      agent: String,
      idCol: String = "doc_id",
      domainCol: String = "domain",
      pathCol: String = "path",
      maxBroadcastRules: Long = DefaultMaxBroadcastRules
  ): DataFrame = {
    val regexUdf = udf((p: String) => robotsPatternRegex(p))
    val withSpec = selectAgentGroup(rulesDf, agent)
    val effective = withSpec
      .filter(length(col("path")) > 0) // empty-path rules are RFC no-ops
      .select(col("domain").as("__rd"), col("rule").as("__rule"),
        regexUdf(col("path")).as("__re"),
        expr("octet_length(path)").as("__len"),
        // the conservative arm's decision prefix: widened for
        // disallows, raw for plain allows, NULL for wildcard/anchored
        // allows (dropped, never widened — politenessScreen's rule)
        when(col("rule") === "disallow", effectivePrefix(col("path")))
          .when(!col("path").contains("*") && !col("path").endsWith("$"),
            col("path")).as("__prefix"))
    val (side, _) = Guard.guardedSide(effective, maxBroadcastRules, keepPinned = false)
    val exactHit = regexp_like(col(pathCol), col("__re"))
    val consHit = col("__prefix").isNotNull &&
      col(pathCol).startsWith(col("__prefix"))
    val passthrough = urls.columns.toSeq.filterNot(_ == idCol)
    urls
      .join(side, urls(domainCol) === col("__rd") && (exactHit || consHit),
        "left")
      .groupBy(col(idCol))
      .agg(
        max(when(col("__rule").isNotNull && exactHit,
          struct(col("__len").as("l"),
            (col("__rule") === "allow").as("a")))).as("__bx"),
        (max(when(col("__rule").isNotNull && consHit,
          struct(length(col("__prefix")).as("l"),
            (col("__rule") === "allow").as("a")))).as("__bc") +:
          passthrough.map(c => first(col(c)).as(c))): _*)
      .withColumn("allowed", coalesce(col("__bx.a"), lit(true)))
      .withColumn("allowed_conservative", coalesce(col("__bc.a"), lit(true)))
      .select(urls.columns.toSeq.map(col) :+ col("allowed") :+
        col("allowed_conservative"): _*)
  }

  /** Rate every URL against parsed rules: returns `urls` plus
    * `allowed`. `urls` must carry a unique `idCol`, the registrable
    * `domainCol` and the URL `pathCol`; `rulesDf` is [[rules]]' output.
    * Group selection, widening/dropping, longest-prefix and
    * allow-wins-ties all happen here so the rules frame stays raw and
    * re-screenable under a different agent.
    *
    * CONTRACT: `idCol` must be UNIQUE per row. The screen collapses
    * the rule-join fan-out by grouping on `idCol` alone and
    * re-attaching every other column with `first()` — rows that share
    * an id (outside the contract) silently collapse to ONE arbitrary
    * rated row. Callers with non-unique ids attach a surrogate
    * (`monotonically_increasing_id()`) first.
    */
  /** Past this many effective rules the screen stops collecting them
    * to a driver-local broadcast relation and the rating degrades to a
    * shuffle join on the domain ([[Guard]]'s shared threshold). A
    * web-scale robots table (10⁷–10⁸ domains × a few rules) must never
    * ride the driver.
    */
  val DefaultMaxBroadcastRules: Long = Guard.DefaultMaxBroadcastRows

  def politenessScreen(
      urls: DataFrame,
      rulesDf: DataFrame,
      agent: String,
      idCol: String = "doc_id",
      domainCol: String = "domain",
      pathCol: String = "path",
      maxBroadcastRules: Long = DefaultMaxBroadcastRules
  ): DataFrame = {
    val withSpec = selectAgentGroup(rulesDf, agent)
    val effective = withSpec
      // empty-path rules are RFC no-ops (checked on the ORIGINAL path:
      // "Disallow: *" must widen to the weakest match-all, not vanish)
      .filter(length(col("path")) > 0)
      // conservative wildcard handling: widen disallows, drop
      // wildcard/anchored allows
      .filter(col("rule") === "disallow" ||
        (!col("path").contains("*") && !col("path").endsWith("$")))
      .withColumn("__prefix",
        when(col("rule") === "disallow", effectivePrefix(col("path")))
          .otherwise(col("path")))
      .select(col("domain").as("__rd"), col("rule").as("__rule"),
        col("__prefix"))
    // count-guarded side: at or under the guard the (counted) rules
    // collect to a driver-local relation and ride a broadcast — the
    // group-selection window drops out of the OUTPUT plan; past it the
    // lazy frame shuffle-joins on the domain
    val (side, _) = Guard.guardedSide(effective, maxBroadcastRules, keepPinned = false)
    // the rating collapses the join fan-out by idCol ALONE (the unique
    // key is the group — grouping by every passthrough column would
    // silently merge fully-duplicate rows and break on non-orderable
    // column types); within a group every passthrough value is
    // identical (the extra rows are rule-join copies of one input
    // row), so first() re-attaches them deterministically. Rows
    // sharing an idCol — outside the documented unique-id contract —
    // collapse to one rated row.
    val passthrough = urls.columns.toSeq.filterNot(_ == idCol)
    urls
      .join(side,
        urls(domainCol) === col("__rd") &&
          col(pathCol).startsWith(col("__prefix")),
        "left")
      // longest prefix wins; allow wins ties: max of (len, is_allow);
      // unmatched URLs contribute NULL (not a struct of nulls) so the
      // coalesce default applies
      .groupBy(col(idCol))
      .agg(
        max(when(col("__rule").isNotNull,
          struct(length(col("__prefix")).as("l"),
            (col("__rule") === "allow").as("a")))).as("__best"),
        passthrough.map(c => first(col(c)).as(c)): _*)
      .withColumn("allowed", coalesce(col("__best.a"), lit(true)))
      .select(urls.columns.toSeq.map(col) :+ col("allowed"): _*)
  }
}
