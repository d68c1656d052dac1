package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Graph propagation operators — the provenance-weighting layer a
  * web-corpus pipeline runs over its domain link graph (rank domains
  * by link structure, then weight or screen documents by their
  * domain's rank — the Common-Crawl-style authority signal).
  *
  * Spark-first shape: the corpus-sized edge list COLLAPSES to a
  * weighted adjacency (one groupBy — the only corpus shuffle), and the
  * iterations run as joins + aggregations over the collapsed graph,
  * which is bounded by |domains|² regardless of corpus size. No GraphX
  * and no RDDs needed: DataFrame joins ARE message passing here, and
  * Catalyst broadcasts the (tiny) rank vector onto the adjacency each
  * round. The adjacency is ADDITIVE (edge counts sum), so it joins the
  * engine's mergeable-summary family: maintain it per ingest batch
  * with [[mergeAdj]] and never rescan history.
  */
object Graph {

  /** Collapse a corpus-sized multigraph edge list into its weighted
    * adjacency `(src, dst, w)` — the ONE corpus shuffle of every
    * operator in this class; everything downstream of the collapse is
    * |domains|²-bounded. Duplicate edges weight the edge (exactness
    * holds because identical edges have identical per-edge shares, so
    * `w · floor == Σ-per-edge`).
    */
  def collapseEdges(edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    edges
      .groupBy(col(srcCol).as("src"), col(dstCol).as("dst"))
      .agg(count(lit(1)).as("w"))

  /** Merge two weighted adjacencies by cell-wise sum. Edge counts are
    * ADDITIVE, so merging per-batch collapses equals collapsing the
    * concatenated corpora bit-exactly — the same mergeable-summary
    * discipline as the Count-Min cells, moment sketches, and DSIR
    * bucket models, applied to the graph layer.
    */
  def mergeAdj(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b)
      .groupBy(col("src"), col("dst"))
      .agg(sum(col("w")).as("w"))

  /** One integer-PageRank round over the collapsed graph: per-edge
    * shares `(rank(s) · 850000) div (out(s) · 10^6)` (floor division —
    * 0.85 damping in fixed-point micro-units) summed into each
    * destination with edge weight, plus the 0.15 teleport (150000).
    */
  /** One integer-PageRank round from a PRE-JOINED `(src, dst, w, __out)`
    * adjacency (see [[adjWithDeg]] — adj ⋈ deg is loop-invariant, so
    * the callers hoist and pin it once instead of re-joining every
    * round). `bc` is the caller's [[Guard.broadcastIfSmall]] decision
    * applied to every |nodes|-bounded side.
    */
  private def rankStep(adjDeg: DataFrame, nodes: DataFrame,
      r: DataFrame, bc: DataFrame => DataFrame): DataFrame =
    nodes.join(bc(rankContrib(adjDeg, r, bc)), Seq("node"), "left")
      .select(col("node"), rankOf(col("__in")).as("rank_micro"))

  /** The per-round contribution sums `(node, __in)` — shared by the
    * fixed-iteration and convergence loops so the share formula cannot
    * drift between them.
    */
  private def rankContrib(adjDeg: DataFrame, r: DataFrame,
      bc: DataFrame => DataFrame): DataFrame =
    adjDeg
      .join(bc(r.select(col("node").as("src"), col("rank_micro"))), "src")
      .select(col("dst").as("node"),
        (col("w") *
          expr("(rank_micro * 850000L) div (__out * 1000000L)")).as("__share"))
      .groupBy(col("node")).agg(sum(col("__share")).as("__in"))

  /** Teleport + in-share: the round's new rank from the contribution
    * sum (null on nodes with no in-edges).
    */
  private def rankOf(in: Column): Column =
    lit(150000L) + coalesce(in, lit(0L))

  /** The loop-invariant adjacency ⋈ out-degree frame every PageRank
    * round consumes — computed and pinned ONCE per run (guide §2.4:
    * don't rebuild an invariant join inside an iteration).
    */
  private def adjWithDeg(adjP: DataFrame): DataFrame =
    adjP.join(degreesOf(adjP), "src")

  private def degreesOf(adj: DataFrame): DataFrame =
    adj.groupBy(col("src")).agg(sum(col("w")).as("__out"))

  private def nodesOf(adj: DataFrame): DataFrame =
    adj.select(col("src").as("node"))
      .unionByName(adj.select(col("dst").as("node")))
      .distinct()

  /** INTEGER-exact PageRank in micro-units over a collapsed adjacency
    * `(src, dst, w)`: ranks start at 10^6; every step is integer
    * arithmetic with explicit floors, so the result is bit-exact in
    * ANY engine — the t-closeness/DSIR decision-table discipline
    * applied to an iterative graph computation. Dangling-node mass is
    * dropped (the standard simplification; ranks remain a valid
    * authority ordering).
    *
    * Exactness bound: rank·850000 stays far inside Long for any graph
    * whose total in-weight per node is below ~10^10 — beyond that,
    * lift the multiplications to DECIMAL(38,0) as tCloseness does.
    *
    * Iteration lineage is CUT per round: each iteration's rank frame
    * is pinned ([[Guard.pin]]; it is |domains|-bounded — the whole
    * point of collapsing first) and its predecessor unpinned once the
    * child has materialized — without it, iteration k's plan embeds all
    * k−1 prior rounds and analysis + recompute cost grow superlinearly
    * past ~10 iterations. The returned frame is pinned and
    * materialized.
    */
  /** Below this many fixed iterations the rank chain stays LAZY and
    * pins once at the end: each PageRank round consumes its predecessor
    * exactly once (the contribution broadcast), so an unpinned k-round
    * plan evaluates every round exactly once and its depth is k·O(1) —
    * per-round pins only pay off when k is large enough for plan
    * analysis to matter (the documented ~10-round knee). Saves k−1
    * pin+count driver actions per run on the short-loop gates.
    */
  private val PinFreeIters = 4

  def pageRankFromAdj(adj: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, "Graph.pageRankFromAdj: at least one iteration")
    val adjP = Guard.pin(adj)
    val nodes = Guard.pin(nodesOf(adjP))
    val bc = Guard.broadcastIfSmall(nodes.count())
    val adjDeg = Guard.pin(adjWithDeg(adjP))
    val ranks =
      if (iters <= PinFreeIters) {
        var r = nodes.withColumn("rank_micro", lit(1000000L))
        (1 to iters).foreach(_ => r = rankStep(adjDeg, nodes, r, bc))
        filled(r)
      } else {
        var r = Guard.pin(nodes.withColumn("rank_micro", lit(1000000L)))
        (1 to iters).foreach { _ =>
          val next = filled(rankStep(adjDeg, nodes, r, bc))
          Guard.unpin(r)
          r = next
        }
        r
      }
    Guard.unpin(adjP); Guard.unpin(nodes); Guard.unpin(adjDeg)
    ranks
  }

  /** [[Guard.pin]] plus the first action, for a frame whose inputs are
    * unpinned right after.
    */
  private def filled(df: DataFrame): DataFrame = {
    val p = Guard.pin(df)
    p.count(): Unit
    p
  }

  /** [[pageRankFromAdj]] over a raw edge list (collapses first). Kept
    * as the one-call form the fixed-iteration gates use.
    */
  def pageRankInt(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iters: Int
  ): DataFrame =
    pageRankFromAdj(collapseEdges(edges, srcCol, dstCol), iters)

  /** Connected components of the collapsed adjacency, treated as
    * UNDIRECTED — the domain-graph clustering a web pipeline runs for
    * link-farm detection and per-site grouping. Min-label propagation:
    * every round each node takes the minimum of its own label and its
    * neighbors' (string order — matching SQL MIN), converging in
    * O(component diameter) rounds; each round is one join + partial
    * aggregation over the |domains|²-bounded symmetrized edge set,
    * with a [[Guard.pin]] per round keeping every round's plan
    * constant-size. Returns (node, component) with components labeled
    * by their lexicographically smallest member, pinned.
    */
  def connectedComponents(adj: DataFrame): DataFrame = {
    val edges = Guard.pin(adj.select(col("src").as("u"), col("dst").as("v"))
      .unionByName(adj.select(col("dst").as("u"), col("src").as("v")))
      .distinct())
    var labels = Guard.pin(
      nodesOf(adj).select(col("node"), col("node").as("component")))
    val bc = Guard.broadcastIfSmall(labels.count())
    var changed = 1L
    while (changed > 0) {
      // ONE action per round (the pageRankConverged discipline): the
      // moved-count sum both fills the pinned frame and reads off the
      // convergence scalar — no second pass over it
      val stepped = Guard.pin(edges
        .join(bc(labels.select(col("node").as("v"), col("component").as("__c"))), "v")
        .groupBy(col("u").as("node")).agg(min(col("__c")).as("__nb"))
        .join(bc(labels), "node")
        .select(col("node"),
          least(col("component"), col("__nb")).as("component"),
          (col("__nb") < col("component")).as("__moved")))
      changed = stepped
        .agg(coalesce(sum(col("__moved").cast("long")), lit(0L)))
        .first().getLong(0)
      Guard.unpin(labels)
      labels = stepped.select(col("node"), col("component"))
    }
    Guard.unpin(edges)
    labels
  }

  /** INTEGER-exact HITS (Kleinberg 1999) in micro-units over a
    * collapsed adjacency `(src, dst, w)` — the authority signal's
    * two-sided twin: authority = endorsed BY good hubs, hub = points
    * AT good authorities, the pairing PageRank's single score can't
    * separate (a link directory is a great hub and a terrible
    * authority). Both scores start at 10^6; each round computes
    * auth(n) = Σ_in w·hub, renormalizes by the round's MAX back to
    * [0, 10^6] (max-normalization keeps every step in exact integer
    * arithmetic — the decision-table discipline; L2 would force
    * floats), then hub(n) = Σ_out w·auth' over the NEW authorities
    * (the classic update order). Nodes without in-edges get authority
    * 0, without out-edges hub 0.
    *
    * Exactness bound: Σ w·score stays inside Long while a node's total
    * in/out weight is below ~9·10^12 (score ≤ 10^6) — same contract
    * note as [[pageRankFromAdj]]. The renorm multiply (Σ · 10^6) runs
    * in DECIMAL(38,0) — on Longs it would wrap silently (non-ANSI
    * Spark) once a node's collapsed weight passed ~9·10^6, a mass a
    * popular domain reaches long before the sum itself overflows.
    *
    * Same scale shape as the siblings: the corpus collapsed first, the
    * iterations are joins + partial aggs over the |domains|²-bounded
    * frame, each round's (node, auth, hub) frame pins and drops its
    * predecessor so lineage stays flat. The per-round max rides a
    * broadcast crossJoin inside the plan — no extra driver action.
    * The returned frame is pinned and materialized.
    */
  /** Max-renormalize a raw `(node, __v)` score frame back to
    * [0, 10^6] over the full node set (absent nodes score 0) — the
    * HITS round's normalizer. Decimal multiply: __v ≤ total_w·10^6,
    * and ×10^6 on Longs wraps past total_w ≈ 9.2e6 — the KMV-path
    * discipline (exact integral division, floored identically; __v ≤
    * __mx so the quotient is back in [0, 10^6] and the cast is safe).
    * The per-round max rides a broadcast crossJoin inside the plan —
    * no extra driver action.
    */
  private def renormOver(nodes: DataFrame, bc: DataFrame => DataFrame)(
      raw: DataFrame, outName: String): DataFrame = {
    val mx = raw.agg(max(col("__v")).as("__mx"))
    nodes.join(bc(raw), Seq("node"), "left")
      .crossJoin(broadcast(mx))
      .select(col("node"),
        when(col("__mx") > 0,
          coalesce(expr(
            "CAST(CAST(__v AS DECIMAL(38,0)) * 1000000 div CAST(__mx AS DECIMAL(38,0)) AS BIGINT)"),
            lit(0L)))
          .otherwise(lit(0L)).as(outName))
  }

  /** One HITS round from the previous hub frame: renormed authorities
    * (from in-edges) then renormed hubs (from out-edges over the NEW
    * authorities) — the classic update order, all integer.
    */
  private def hitsStep(adjP: DataFrame, nodes: DataFrame, prevHub: DataFrame,
      bc: DataFrame => DataFrame): (DataFrame, DataFrame => DataFrame) = {
    val auth = renormOver(nodes, bc)(
      adjP.join(bc(prevHub.select(col("node").as("src"), col("hub_micro"))), "src")
        .groupBy(col("dst").as("node"))
        .agg(sum(col("w") * col("hub_micro")).as("__v")),
      "auth_micro")
    (auth, aCut => renormOver(nodes, bc)(
      adjP.join(bc(aCut.select(col("node").as("dst"), col("auth_micro"))), "dst")
        .groupBy(col("src").as("node"))
        .agg(sum(col("w") * col("auth_micro")).as("__v")),
      "hub_micro"))
  }

  def hitsInt(adj: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, "Graph.hitsInt: at least one iteration")
    val adjP = Guard.pin(adj)
    val nodes = Guard.pin(nodesOf(adjP))
    val bc = Guard.broadcastIfSmall(nodes.count())
    var s = Guard.pin(nodes
      .withColumn("auth_micro", lit(1000000L))
      .withColumn("hub_micro", lit(1000000L)))
    (1 to iters).foreach { _ =>
      // pin the round's authorities before deriving hubs from them:
      // auth feeds BOTH the hub update and the round's output join, and
      // unpinned it would recompute (adjacency scan + broadcast agg)
      // once per consumer — measured 3-4x per-round wall on the probe
      val (auth, hubOf) = hitsStep(adjP, nodes, s, bc)
      val a = Guard.pin(auth)
      val next = filled(a.join(bc(hubOf(a)), "node"))
      Guard.unpin(a); Guard.unpin(s)
      s = next
    }
    Guard.unpin(adjP); Guard.unpin(nodes)
    s
  }

  /** Result of a convergence-looped rank computation: the final rank
    * frame (pinned), the number of iterations actually executed, and
    * the last step's max per-node rank change.
    */
  final case class RankConvergence(ranks: DataFrame, itersRun: Int, lastDeltaMicro: Long)

  /** PageRank run TO CONVERGENCE: iterate until the largest per-node
    * rank change of a round is ≤ `tolMicro` (an integer criterion —
    * with floor-divided integer shares the iteration reaches an exact
    * fixed point, so `tolMicro = 0` is meaningful and deterministic),
    * capped at `maxIters` as the backstop for graphs whose integer map
    * oscillates. This is how real PageRank runs (20–50 rounds), which
    * is exactly the regime where unbounded lineage kills the naive
    * loop — here every round pins its |domains|-bounded rank frame and
    * drops its predecessor, so per-iteration cost is flat.
    *
    * The per-round delta is ONE scalar aggregation over the round's
    * pinned |domains|-bounded frame — a bounded driver action per
    * iteration (decision-table discipline), not a corpus action, and
    * the action that fills the frame.
    */
  def pageRankConverged(
      adj: DataFrame,
      maxIters: Int,
      tolMicro: Long
  ): RankConvergence = {
    require(maxIters >= 1, "Graph.pageRankConverged: at least one iteration")
    require(tolMicro >= 0, "Graph.pageRankConverged: non-negative tolerance")
    val adjP = Guard.pin(adj)
    if (adjP.isEmpty) {
      Guard.unpin(adjP)
      // derive the empty frame from the adjacency so the node column
      // keeps its real type (string, long, ...) — a hardcoded-string
      // schema would differ from the non-empty path's on typed ids
      return RankConvergence(
        nodesOf(adj).withColumn("rank_micro", lit(1000000L)).limit(0),
        0, 0L)
    }
    val nodes = Guard.pin(nodesOf(adjP))
    val bc = Guard.broadcastIfSmall(nodes.count())
    val adjDeg = Guard.pin(adjWithDeg(adjP))
    var r = Guard.pin(nodes.withColumn("rank_micro", lit(1000000L)))
    var i = 0
    var delta = Long.MaxValue
    while (i < maxIters && delta > tolMicro) {
      // ONE action per round: the step result carries its predecessor
      // rank, so the max-|Δ| aggregation both fills the pinned frame
      // and reads off the convergence scalar — no separate count.
      // The step drives from the rank frame ITSELF (it carries exactly
      // the node set every round), so the previous rank rides the same
      // left join that attaches the contributions — one broadcast build
      // per round fewer than stepping from `nodes` and re-joining the
      // ranks for __prev (guide §2.4).
      val stepped = Guard.pin(r
        .select(col("node"), col("rank_micro").as("__prev"))
        .join(bc(rankContrib(adjDeg, r, bc)), Seq("node"), "left")
        .select(col("node"), rankOf(col("__in")).as("rank_micro"), col("__prev")))
      delta = stepped
        .agg(max(abs(col("rank_micro") - col("__prev"))))
        .first().getLong(0)
      Guard.unpin(r)
      r = stepped.select(col("node"), col("rank_micro"))
      i += 1
    }
    Guard.unpin(adjP); Guard.unpin(nodes); Guard.unpin(adjDeg)
    RankConvergence(r, i, delta)
  }

  /** Result of a convergence-looped HITS run: the final
    * (node, auth_micro, hub_micro) frame (pinned), iterations executed,
    * and the last round's max per-node HUB change.
    */
  final case class HitsConvergence(scores: DataFrame, itersRun: Int, lastDeltaMicro: Long)

  /** HITS run TO CONVERGENCE — [[pageRankConverged]]'s twin for the
    * two-score update: iterate [[hitsInt]] rounds until the largest
    * per-node HUB change of a round is ≤ `tolMicro`, capped at
    * `maxIters` (integer max-renorm dynamics can 2-cycle on
    * adversarial graphs — the cap is the oscillation backstop, and
    * the stopping rule is deterministic either way). The HUB delta
    * alone decides: auth_k is a pure function of hub_{k−1}, so
    * hub_k == hub_{k−1} makes the NEXT round reproduce the same
    * (auth, hub) pair — the hub fixed point IS the pair's fixed
    * point; a one-sided tolerance keeps the criterion one scalar.
    *
    * Same lineage discipline as the sibling: each round pins its
    * |domains|-bounded frame and drops its predecessor; the delta is
    * ONE bounded aggregation per round, never a corpus action.
    */
  def hitsConverged(adj: DataFrame, maxIters: Int, tolMicro: Long): HitsConvergence = {
    require(maxIters >= 1, "Graph.hitsConverged: at least one iteration")
    require(tolMicro >= 0, "Graph.hitsConverged: non-negative tolerance")
    val adjP = Guard.pin(adj)
    if (adjP.isEmpty) {
      Guard.unpin(adjP)
      return HitsConvergence(
        nodesOf(adj)
          .withColumn("auth_micro", lit(1000000L))
          .withColumn("hub_micro", lit(1000000L)).limit(0),
        0, 0L)
    }
    val nodes = Guard.pin(nodesOf(adjP))
    val bc = Guard.broadcastIfSmall(nodes.count())
    var s = Guard.pin(nodes
      .withColumn("auth_micro", lit(1000000L))
      .withColumn("hub_micro", lit(1000000L)))
    var i = 0
    var delta = Long.MaxValue
    while (i < maxIters && delta > tolMicro) {
      val (auth, hubOf) = hitsStep(adjP, nodes, s, bc)
      val a = Guard.pin(auth) // round output feeds hub AND the join
      // ONE action per round: the step result carries the previous hub,
      // so the max-|Δ| aggregation both fills the pinned frame and
      // reads off the convergence scalar
      val stepped = Guard.pin(a.join(bc(hubOf(a)), "node")
        .join(bc(s.select(col("node"), col("hub_micro").as("__prev"))), "node"))
      delta = stepped
        .agg(max(abs(col("hub_micro") - col("__prev"))))
        .first().getLong(0)
      Guard.unpin(a); Guard.unpin(s)
      s = stepped.select(col("node"), col("auth_micro"), col("hub_micro"))
      i += 1
    }
    Guard.unpin(adjP); Guard.unpin(nodes)
    HitsConvergence(s, i, delta)
  }
}
