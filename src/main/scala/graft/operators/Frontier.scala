package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Crawl-frontier scheduling — the step between the admitted frontier
  * (robots-screened, canonicalized, deduped URLs) and the fetchers: a
  * politeness-correct fetch plan. Politeness is PER HOST (one request
  * per `Crawl-delay` interval, RFC 9309's de-facto companion
  * directive), so the natural distributed shape is:
  *
  *   - shard hosts across workers by hash — a host's URLs must land on
  *     ONE worker (politeness state is per-host), but hosts are
  *     independent, so the host hash IS the parallelism axis;
  *   - within a host, order URLs deterministically and assign slot
  *     numbers 0,1,2,…; slot × delay is the host-local fetch offset.
  *
  * One shuffle total: the per-host window. The per-domain delay table
  * is |domains|-bounded and rides the plan as literals (the
  * map-side-decision discipline of [[Robots.allowedColumn]] /
  * DSIR/CMS screens) — no join for the lookup, streaming-safe.
  *
  * Skew note for 100 TB: a giant host serializes on one task — that is
  * politeness itself (a million URLs on one host fetch one per delay
  * regardless of cluster size), not a plan defect; the scheduler's job
  * is that OTHER hosts never wait on it, which host-hash sharding
  * gives. The reference's audit pipeline has no crawl layer; this
  * extends the engine's web-ingest family (`q_crawl_pipeline`).
  */
object Frontier {

  /** Worker-sharding hash of a host — the polynomial family over the
    * CMS modulus (sharding needs stability, not avalanche; the
    * SQL-portable hash keeps the assignment oracle-checkable).
    */
  private def workerOf(host: Column, workers: Int): Column =
    pmod(graft.functions.GraftFunctions.polyHash(host, 31L, Sketch.CmsMod),
      lit(workers.toLong)).cast("int")

  /** Map-side per-domain delay lookup against a bounded delay table
    * riding the closure as literals; absent domains take `defaultMs`.
    * Duplicate domains (e.g. merged robots refreshes) collapse to the
    * MAX — the polite reading, matching [[Robots.effectiveDelays]] —
    * instead of letting CreateMap throw DUPLICATED_MAP_KEY at task
    * execution time.
    */
  private def delayColumn(delays: Seq[(String, Long)], host: Column, defaultMs: Long): Column =
    if (delays.isEmpty) lit(defaultMs)
    else {
      val collapsed = delays.groupBy(_._1).toSeq.sortBy(_._1)
        .map { case (d, xs) => d -> xs.map(_._2).max }
      val m = map(collapsed.flatMap { case (d, ms) => Seq(lit(d), lit(ms)) }: _*)
      coalesce(element_at(m, host), lit(defaultMs))
    }

  /** Adaptive REVISIT scheduling over fetch history — the refresh
    * policy of a continuous crawl: a URL that keeps changing is
    * re-fetched at the base interval, one that hasn't changed in k
    * consecutive fetches backs off exponentially (interval =
    * baseMs·2^streak, capped at `maxMs` so a dormant page is still
    * revisited). History rows carry (urlCol, tsCol millis, changedCol
    * boolean — "this fetch differed from the previous", e.g. a
    * [[Changelog.snapshotDiff]] verdict). ONE exchange — the per-URL
    * window computing the unchanged streak since the last change —
    * then everything is arithmetic: next_fetch_ms = last fetch +
    * interval. All integer, so the policy is oracle-checkable. Tied
    * timestamps order changed-LAST (a change observed at the same
    * instant wins recency — the conservative reading: re-fetch
    * sooner), keeping the schedule deterministic under ties.
    *
    * Scale shape: the window partitions by URL (maximum parallelism),
    * and only each URL's LAST row survives — shuffle bytes ∝ history
    * rows, output ∝ distinct URLs.
    */
  def revisitSchedule(
      history: DataFrame,
      baseMs: Long,
      maxMs: Long,
      urlCol: String = "canon",
      tsCol: String = "fetch_ms",
      changedCol: String = "changed"
  ): DataFrame = {
    require(baseMs > 0, "Frontier.revisitSchedule: positive base interval")
    require(maxMs >= baseMs, "Frontier.revisitSchedule: maxMs >= baseMs")
    val byUrl = Window.partitionBy(col(urlCol))
      .orderBy(col(tsCol).asc, col(changedCol).asc)
    // streak = fetches since (and excluding) the most recent CHANGED
    // fetch: a running count over the window, reset via max-ts-of-change
    val out = history
      .withColumn("__rn", row_number().over(byUrl))
      .withColumn("__lastChangeRn",
        max(when(col(changedCol), col("__rn"))).over(byUrl))
      .withColumn("__lastRn", max(col("__rn")).over(
        Window.partitionBy(col(urlCol))))
      .filter(col("__rn") === col("__lastRn"))
      .select(
        col(urlCol),
        col(tsCol).as("last_fetch_ms"),
        (col("__rn") - coalesce(col("__lastChangeRn"), lit(0L))).cast("long")
          .as("unchanged_streak"))
      // interval = baseMs << streak, capped BEFORE the shift can
      // overflow: past 2^(63-log2 base) the shift wraps, so the streak
      // itself clamps to the cap's exponent first
      .withColumn("__shift",
        least(col("unchanged_streak"), lit(62L - (63 - java.lang.Long.numberOfLeadingZeros(baseMs)))))
      .withColumn("interval_ms",
        least(lit(maxMs), expr(s"shiftleft(${baseMs}L, cast(__shift as int))")))
      .withColumn("next_fetch_ms", col("last_fetch_ms") + col("interval_ms"))
      .drop("__shift")
    out
  }

  /** The shared slot/offset/shard tail of both schedule forms: slot =
    * rank within host, fetch_at_ms = slot × `delay` (a Column valid on
    * the input frame), worker = host-hash shard. ONE exchange — the
    * per-host window.
    */
  private def assignSlots(
      frontier: DataFrame,
      delay: Column,
      workers: Int,
      urlCol: String,
      hostCol: String,
      priorityCol: Option[String]
  ): DataFrame = {
    require(workers > 0, "Frontier.schedule: positive worker count")
    val order = priorityCol.toSeq.map(col(_).desc) :+ col(urlCol).asc
    val w = Window.partitionBy(col(hostCol)).orderBy(order: _*)
    frontier
      .withColumn("slot", row_number().over(w).cast("long") - 1L)
      .withColumn("fetch_at_ms", col("slot") * delay)
      .withColumn("worker", workerOf(col(hostCol), workers))
  }

  /** Assign each frontier URL its politeness slot and fetch offset:
    * slot = rank within host (descending `priorityCol` first when
    * given — authority-weighted crawl ordering, ties and the default
    * broken by deterministic `urlCol` order), fetch_at_ms = slot ×
    * host delay, worker = host-hash shard. Exactly ONE exchange — the
    * per-host window; everything else is map-side. Input must carry
    * `hostCol` (registrable host) and a unique `urlCol`; passthrough
    * columns survive.
    *
    * The `delays` Seq rides the plan as a literal map — right for the
    * BOUNDED regime (a politeness table small enough to hand around
    * the driver, and the streaming-safe shape). A web-scale frontier
    * has 10⁷–10⁸ registrable domains with crawl-delays, where a
    * literal explodes plan size and driver memory — that regime uses
    * [[scheduleJoined]], which JOINs the |domains|-bounded delay
    * frame instead.
    */
  def schedule(
      frontier: DataFrame,
      delays: Seq[(String, Long)],
      defaultDelayMs: Long,
      workers: Int,
      urlCol: String = "canon",
      hostCol: String = "host",
      priorityCol: Option[String] = None
  ): DataFrame = {
    require(defaultDelayMs >= 0, "Frontier.schedule: non-negative default delay")
    assignSlots(frontier, delayColumn(delays, col(hostCol), defaultDelayMs),
      workers, urlCol, hostCol, priorityCol)
  }

  /** Past this many domains the delay table stops riding a broadcast
    * and the lookup degrades to a shuffle join — [[Guard]]'s shared
    * threshold.
    */
  val DefaultMaxBroadcastDomains: Long = Guard.DefaultMaxBroadcastRows

  /** [[schedule]] with the per-domain delay table as a DATAFRAME —
    * `delayFrame` is (domain, delay_ms), [[Robots.effectiveDelayFrame]]'s
    * shape — the web-scale form: a literal map explodes plan size at
    * 10⁷–10⁸ registrable domains, a joined frame never enters the plan
    * text. Count-guarded ([[Guard.guardedSide]]): at or under
    * `maxBroadcastDomains` the counted frame collects to a
    * driver-local relation and BROADCASTS (the identical driver
    * footprint a broadcast would pay anyway — and the count/derivation
    * job drops out of the output plan, so the frontier still pays
    * exactly ONE exchange, the per-host window); past the guard it
    * degrades to a shuffle join ON THE HOST, whose output partitioning
    * the window then REUSES — the frontier crosses the wire once
    * either way. Absent domains take `defaultDelayMs`.
    */
  def scheduleJoined(
      frontier: DataFrame,
      delayFrame: DataFrame,
      defaultDelayMs: Long,
      workers: Int,
      urlCol: String = "canon",
      hostCol: String = "host",
      priorityCol: Option[String] = None,
      maxBroadcastDomains: Long = DefaultMaxBroadcastDomains
  ): DataFrame = {
    require(defaultDelayMs >= 0, "Frontier.scheduleJoined: non-negative default delay")
    // duplicate domains (merged robots refreshes) collapse to the MAX —
    // the polite reading, the SAME semantics as the literal
    // [[delayColumn]] path; without the collapse a duplicated domain
    // would silently FAN OUT every frontier row it matches. One
    // exchange over the |domains|-bounded frame (free under the guard:
    // the frame is counted-and-collected anyway)
    val lookup = delayFrame
      .groupBy(col("domain").as("__d"))
      .agg(max(col("delay_ms").cast("long")).as("__delay"))
    val (side, _) = Guard.guardedSide(lookup, maxBroadcastDomains, keepPinned = false)
    val joined = frontier
      .join(side, frontier(hostCol) === col("__d"), "left")
      .drop("__d")
    assignSlots(joined, coalesce(col("__delay"), lit(defaultDelayMs)),
      workers, urlCol, hostCol, priorityCol)
      .drop("__delay")
  }
}
