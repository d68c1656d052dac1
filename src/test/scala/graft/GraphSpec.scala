package graft

import org.apache.spark.sql.functions._

/** Integer-exact PageRank: hand-walked fixed-point arithmetic on a
  * tiny graph, multigraph weighting, and the collapsed-adjacency
  * iteration shape.
  */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  test("pageRankInt: two iterations match the hand-walked fixed-point ranks") {
    // A->B, A->C, B->C, C->A. r0 = 1e6 each; deg A=2, B=1, C=1.
    // iter1 shares: A-edges 425000 each, B 850000, C 850000
    //   r1: A = 150000+850000 = 1000000; B = 575000; C = 1425000
    // iter2 shares: A 425000, B floor(575000*.85)=488750, C 1211250
    //   r2: A = 1361250; B = 575000; C = 1063750
    val edges = Seq(("A", "B"), ("A", "C"), ("B", "C"), ("C", "A"))
      .toDF("src", "dst")
    val rdf = graft.operators.Graph.pageRankInt(edges, "src", "dst", iters = 2)
    val r = rdf.collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    graft.operators.Guard.unpin(rdf)
    assert(r == Map("A" -> 1361250L, "B" -> 575000L, "C" -> 1063750L), r.toString)
  }

  test("pageRankInt: duplicated edges weight exactly like per-edge summation") {
    // two parallel A->B edges + A->C: B receives 2 shares of out=3
    val multi = Seq(("A", "B"), ("A", "B"), ("A", "C")).toDF("src", "dst")
    val rdf = graft.operators.Graph.pageRankInt(multi, "src", "dst", iters = 1)
    val r = rdf.collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    graft.operators.Guard.unpin(rdf)
    val share = (1000000L * 850000L) / (3L * 1000000L) // 283333
    assert(r("B") == 150000L + 2 * share && r("C") == 150000L + share, r.toString)
    // dangling nodes (B, C emit nothing) still appear with teleport-only
    assert(r("A") == 150000L)
  }

  test("connectedComponents: undirected min-label propagation, multi-round chains") {
    // a 4-node chain (D-C-B-A, directed edges against label order so
    // propagation takes multiple rounds) + a 2-node island + implicit
    // direction-independence (edge stored one way only)
    val edges = Seq(("D", "C"), ("C", "B"), ("B", "A"), ("Y", "X"))
      .toDF("src", "dst")
    val cc = graft.operators.Graph.connectedComponents(
      graft.operators.Graph.collapseEdges(edges, "src", "dst"))
    val got = cc.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    graft.operators.Guard.unpin(cc)
    assert(got == Map(
      "A" -> "A", "B" -> "A", "C" -> "A", "D" -> "A",
      "X" -> "X", "Y" -> "X"), got.toString)
  }

  test("hitsInt: two rounds match the hand-walked max-normalized scores") {
    // A->B, A->C, B->C, C->A; all weights 1; h0 = 1e6 everywhere.
    // Round 1: auth_raw A=1e6 B=1e6 C=2e6, max 2e6 ->
    //   auth A=500000 B=500000 C=1000000
    //   hub_raw A=1.5e6 B=1e6 C=5e5, max 1.5e6 ->
    //   hub A=1000000 B=666666 C=333333
    // Round 2: auth_raw A=333333 B=1e6 C=1666666 ->
    //   auth A=199999 B=600000 C=1000000
    //   hub_raw A=1.6e6 B=1e6 C=199999 ->
    //   hub A=1000000 B=625000 C=124999
    val edges = Seq(("A", "B"), ("A", "C"), ("B", "C"), ("C", "A"))
      .toDF("src", "dst")
    val hdf = graft.operators.Graph.hitsInt(
      graft.operators.Graph.collapseEdges(edges, "src", "dst"), iters = 2)
    val got = hdf.collect()
      .map(r => r.getAs[String]("node") ->
        ((r.getAs[Long]("auth_micro"), r.getAs[Long]("hub_micro")))).toMap
    graft.operators.Guard.unpin(hdf)
    assert(got == Map(
      "A" -> ((199999L, 1000000L)),
      "B" -> ((600000L, 625000L)),
      "C" -> ((1000000L, 124999L))), got.toString)
  }

  test("hitsInt: sourceless nodes get authority 0, sinks get hub 0; weights count") {
    val one = Seq(("A", "B")).toDF("src", "dst")
    val hdf = graft.operators.Graph.hitsInt(
      graft.operators.Graph.collapseEdges(one, "src", "dst"), iters = 2)
    val got = hdf.collect()
      .map(r => r.getAs[String]("node") ->
        ((r.getAs[Long]("auth_micro"), r.getAs[Long]("hub_micro")))).toMap
    graft.operators.Guard.unpin(hdf)
    assert(got == Map("A" -> ((0L, 1000000L)), "B" -> ((1000000L, 0L))), got.toString)
    // duplicate edges weight the endorsement: A->B x2 vs C->B x1 makes
    // A the stronger hub by exactly the weight ratio
    val multi = Seq(("A", "B"), ("A", "B"), ("C", "B")).toDF("src", "dst")
    val h2 = graft.operators.Graph.hitsInt(
      graft.operators.Graph.collapseEdges(multi, "src", "dst"), iters = 1)
    val g2 = h2.collect()
      .map(r => r.getAs[String]("node") -> r.getAs[Long]("hub_micro")).toMap
    graft.operators.Guard.unpin(h2)
    assert(g2("A") == 1000000L && g2("C") == 500000L, g2.toString)
  }

  test("hitsInt: renorm survives collapsed weights past the Long-multiply wrap point") {
    // w = 2e7 on one edge: auth_raw(B) = 2e13, and the old Long renorm
    // (__v * 1e6) wrapped to a negative at 2e19 — garbage scores. The
    // decimal renorm keeps the exact quotient: B is the max, so
    // auth(B) = 1e6 exactly; A keeps hub 1e6 as the only hub.
    val adj = Seq(("A", "B", 20000000L)).toDF("src", "dst", "w")
    val hdf = graft.operators.Graph.hitsInt(adj, iters = 2)
    val got = hdf.collect()
      .map(r => r.getAs[String]("node") ->
        ((r.getAs[Long]("auth_micro"), r.getAs[Long]("hub_micro")))).toMap
    graft.operators.Guard.unpin(hdf)
    assert(got == Map("A" -> ((0L, 1000000L)), "B" -> ((1000000L, 0L))), got.toString)
  }

  test("hitsConverged: stops at the hub fixed point and equals the unrolled run") {
    val adj = graft.operators.Graph.collapseEdges(
      Seq(("A", "B"), ("A", "C"), ("B", "C"), ("C", "A")).toDF("src", "dst"),
      "src", "dst")
    val res = graft.operators.Graph.hitsConverged(adj, maxIters = 64, tolMicro = 0L)
    def m(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[String]("node") ->
        ((r.getAs[Long]("auth_micro"), r.getAs[Long]("hub_micro")))).toMap
    val got = m(res.scores)
    graft.operators.Guard.unpin(res.scores)
    // the converged run IS the unrolled run at itersRun rounds
    val unrolled = graft.operators.Graph.hitsInt(adj, res.itersRun)
    val want = m(unrolled)
    graft.operators.Guard.unpin(unrolled)
    assert(got == want, s"itersRun=${res.itersRun}")
    assert(res.itersRun >= 1 && res.itersRun < 64)
    // hub fixed point: one more round reproduces the identical pair
    assert(res.lastDeltaMicro == 0L)
    val next = graft.operators.Graph.hitsInt(adj, res.itersRun + 1)
    val wantNext = m(next)
    graft.operators.Guard.unpin(next)
    assert(wantNext == want, "fixed pair must repeat")
    // the cap is a backstop: maxIters 1 equals hitsInt(1)
    val capped = graft.operators.Graph.hitsConverged(adj, maxIters = 1, tolMicro = 0L)
    val one = graft.operators.Graph.hitsInt(adj, 1)
    assert(m(capped.scores) == m(one) && capped.itersRun == 1)
    graft.operators.Guard.unpin(capped.scores); graft.operators.Guard.unpin(one)
    // empty adjacency: empty frame, zero iterations
    val empty = graft.operators.Graph.hitsConverged(
      adj.filter(col("w") < 0L), maxIters = 4, tolMicro = 0L)
    assert(empty.scores.isEmpty && empty.itersRun == 0)
  }

  test("mergeAdj: per-batch collapses merge to exactly the full-corpus collapse") {
    val g = graft.operators.Graph
    val all = Seq(("A", "B"), ("A", "B"), ("B", "C"), ("C", "A"), ("A", "B"), ("B", "C"))
      .toDF("src", "dst")
    val half1 = Seq(("A", "B"), ("A", "B"), ("B", "C")).toDF("src", "dst")
    val half2 = Seq(("C", "A"), ("A", "B"), ("B", "C")).toDF("src", "dst")
    val merged = g.mergeAdj(
      g.collapseEdges(half1, "src", "dst"),
      g.collapseEdges(half2, "src", "dst"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val full = g.collapseEdges(all, "src", "dst")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(merged == full, s"merge != rebuild: $merged vs $full")
  }

  test("pageRankConverged: reaches the exact integer fixed point and reports iterations") {
    // hand-simulated: this graph reaches its exact integer fixed point
    // (delta 0 under floor-divided shares) at round 18
    val edges = Seq(("A", "B"), ("B", "C"), ("C", "A"), ("A", "C"), ("C", "B"))
      .toDF("src", "dst")
    val adj = graft.operators.Graph.collapseEdges(edges, "src", "dst")
    val res = graft.operators.Graph.pageRankConverged(adj, maxIters = 64, tolMicro = 0L)
    val ranks = res.ranks.collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(res.lastDeltaMicro == 0L, s"expected exact fixed point, delta=${res.lastDeltaMicro}")
    assert(res.itersRun == 18, s"itersRun=${res.itersRun}")
    assert(ranks == Map("A" -> 701751L, "B" -> 999995L, "C" -> 1298239L), ranks.toString)
    // more rounds past the fixed point must not move any rank
    val again = graft.operators.Graph.pageRankFromAdj(adj, iters = res.itersRun + 5)
    val ranks2 = again.collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    graft.operators.Guard.unpin(again); graft.operators.Guard.unpin(res.ranks)
    assert(ranks == ranks2, s"post-convergence iterations moved ranks: $ranks vs $ranks2")
  }

  test("pageRankConverged: maxIters caps a non-converged run; empty adjacency yields empty") {
    val edges = Seq(("A", "B"), ("B", "C"), ("C", "A"), ("A", "C"), ("C", "B"))
      .toDF("src", "dst")
    val adj = graft.operators.Graph.collapseEdges(edges, "src", "dst")
    val capped = graft.operators.Graph.pageRankConverged(adj, maxIters = 2, tolMicro = 0L)
    assert(capped.itersRun == 2 && capped.lastDeltaMicro > 0L)
    // capped run equals the fixed-iteration loop at the same count
    val two = graft.operators.Graph.pageRankFromAdj(adj, iters = 2)
    assert(capped.ranks.collect().map(_.toSeq).toSet == two.collect().map(_.toSeq).toSet)
    graft.operators.Guard.unpin(capped.ranks); graft.operators.Guard.unpin(two)

    val empty = Seq.empty[(String, String)].toDF("src", "dst")
    val res = graft.operators.Graph.pageRankConverged(
      graft.operators.Graph.collapseEdges(empty, "src", "dst"), 4, 0L)
    assert(res.itersRun == 0 && res.ranks.count() == 0L)
  }
}
