package graft

import org.apache.spark.sql.functions._

/** Count-Min sketch properties: conservation (every hash row holds the
  * full token mass), mergeability (per-half merge == full build,
  * cell-exact), and the one-sided error guarantee (estimates never
  * undercount any token).
  */
class SketchSpec extends SparkSpec {
  import spark.implicits._

  private val docs = (0L until 60L)
    .map(i => (i, s"tok${i % 7} tok${i % 3} filler$i"))
    .toDF("id", "text")

  private def cells(df: org.apache.spark.sql.DataFrame): Map[(Int, Long), Long] =
    df.collect().map(r =>
      (r.getAs[Int]("row"), r.getAs[Long]("bucket")) -> r.getAs[Long]("cnt")).toMap

  test("countMin: each hash row conserves the total token mass") {
    val sk = cells(graft.operators.Sketch.countMin(docs, "text", 32))
    val total = 60L * 3 // three tokens per doc
    for (i <- graft.operators.Sketch.CmsMults.indices)
      assert(sk.collect { case ((r, _), c) if r == i => c }.sum == total, s"row $i")
  }

  test("countMin: per-half sketches merged equal the full build cell-exactly") {
    val full = cells(graft.operators.Sketch.countMin(docs, "text", 32))
    val merged = cells(graft.operators.Sketch.countMinMerge(
      graft.operators.Sketch.countMin(docs.filter($"id" % 2 === 0), "text", 32),
      graft.operators.Sketch.countMin(docs.filter($"id" % 2 === 1), "text", 32)))
    assert(merged == full)
  }

  test("countMin: estimates never undercount ANY token (one-sided error)") {
    val sk = graft.operators.Sketch.countMinArrays(
      graft.operators.Sketch.countMin(docs, "text", 32), 32)
    val checked = docs
      .select(explode(graft.operators.TextAnalysis.tokens(col("text"))).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("c"))
      .withColumn("e", graft.operators.Sketch.countMinEstimate(col("t"), sk, 32))
      .collect()
    assert(checked.nonEmpty)
    checked.foreach { r =>
      assert(r.getAs[Long]("e") >= r.getAs[Long]("c"),
        s"undercount for ${r.getAs[String]("t")}: ${r.getAs[Long]("e")} < ${r.getAs[Long]("c")}")
    }
    // tok0 (29 occurrences: 9 via i%7==0 plus 20 via i%3==0) estimates
    // at least its true mass; every estimate is bounded by the per-row
    // total mass (180 = 60 docs x 3 tokens), since no cell can exceed
    // its row's sum
    assert(checked.map(_.getAs[Long]("e")).max <= 180L)
  }

  // --- HyperLogLog -------------------------------------------------------

  private def keys(n: Int): org.apache.spark.sql.DataFrame =
    (0 until n).map(i => s"key$i").toDF("k")

  private def regs(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    graft.operators.Sketch.hllRegisters(df, "k").collect()
      .map(r => r.getAs[Long]("bucket") -> r.getAs[Long]("register")).toMap

  test("hllRegisters: bucket and rank match the closed-form reference per token") {
    val expected = (0 until 200).map { i =>
      val h = org.apache.spark.sql.catalyst.expressions.XXH64.hashUTF8String(
        org.apache.spark.unsafe.types.UTF8String.fromString(s"key$i"), 42L)
      val v = (h >>> 6) & 0xFFFFFFFFL
      val rho = if (v == 0L) 33L else 33L - (64 - java.lang.Long.numberOfLeadingZeros(v))
      (h & 63L, rho)
    }.groupBy(_._1).map { case (b, rs) => b -> rs.map(_._2).max }
    assert(regs(keys(200)) == expected)
  }

  test("hllMerge: per-half register sets merge to exactly the full build") {
    val df = keys(1000).withColumn("__i", monotonically_increasing_id())
    val full = regs(keys(1000))
    val merged = graft.operators.Sketch.hllMerge(
      graft.operators.Sketch.hllRegisters(df.filter($"__i" % 2 === 0), "k"),
      graft.operators.Sketch.hllRegisters(df.filter($"__i" % 2 === 1), "k"))
      .collect().map(r => r.getAs[Long]("bucket") -> r.getAs[Long]("register")).toMap
    assert(merged == full)
    // duplicate-absorbing: re-merging the full set with itself is a no-op
    val idem = graft.operators.Sketch.hllMerge(
      graft.operators.Sketch.hllRegisters(df, "k"),
      graft.operators.Sketch.hllRegisters(df, "k"))
      .collect().map(r => r.getAs[Long]("bucket") -> r.getAs[Long]("register")).toMap
    assert(idem == full)
  }

  private def estRow(df: org.apache.spark.sql.DataFrame): (Long, String) = {
    val r = graft.operators.Sketch.hllEstimate(
      graft.operators.Sketch.hllRegisters(df, "k")).head()
    (r.getAs[Long]("est"), r.getAs[String]("method"))
  }

  test("hllEstimate: raw-regime estimates land within 3 RSE across cardinalities") {
    for (n <- Seq(1000, 10000, 50000)) {
      val (est, method) = estRow(keys(n))
      assert(method == "raw", s"n=$n fired $method")
      val rse = 1.04 / math.sqrt(graft.operators.Sketch.HllBuckets.toDouble)
      assert(math.abs(est - n).toDouble / n <= 3 * rse,
        s"n=$n est=$est outside 3·RSE")
    }
  }

  test("hllEstimate: small cardinalities take the linear-counting branch and stay tight") {
    for (n <- Seq(1, 10, 60)) {
      val (est, method) = estRow(keys(n))
      assert(method == "linear", s"n=$n fired $method")
      assert(math.abs(est - n) <= math.max(2L, n / 4L), s"n=$n est=$est")
    }
    // duplicates never move the registers: 10 distinct keys repeated
    // 50x estimate exactly like 10 distinct keys
    val dup = (0 until 500).map(i => s"key${i % 10}").toDF("k")
    assert(estRow(dup) == estRow(keys(10)))
  }

  test("hllRegistersBy/hllEstimateBy: per-group sketches equal the per-frame builds") {
    val df = (0 until 3000).map { i =>
      (s"g${i % 3}", s"key${i % (400 * (i % 3 + 1))}")
    }.toDF("g", "k")
    val by = graft.operators.Sketch.hllRegistersBy(df, "k", "g")
      .collect().groupBy(_.getAs[String]("group"))
      .map { case (g, rs) =>
        g -> rs.map(r => r.getAs[Long]("bucket") -> r.getAs[Long]("register")).toMap
      }
    for (g <- Seq("g0", "g1", "g2")) {
      val solo = graft.operators.Sketch.hllRegisters(
        df.filter($"g" === g).select($"k"), "k")
        .collect().map(r => r.getAs[Long]("bucket") -> r.getAs[Long]("register")).toMap
      assert(by(g) == solo, s"group $g registers diverge")
    }
    val ests = graft.operators.Sketch.hllEstimateBy(
      graft.operators.Sketch.hllRegistersBy(df, "k", "g"))
      .collect().map(r => r.getAs[String]("group") ->
        ((r.getAs[Long]("est"), r.getAs[String]("method")))).toMap
    for (g <- Seq("g0", "g1", "g2")) {
      val solo = graft.operators.Sketch.hllEstimate(
        graft.operators.Sketch.hllRegisters(
          df.filter($"g" === g).select($"k"), "k")).head()
      assert(ests(g) ==
        ((solo.getAs[Long]("est"), solo.getAs[String]("method"))),
        s"group $g estimate diverges")
    }
  }

  // --- KMV (bottom-k theta) ----------------------------------------------

  private def kmvRegs(df: org.apache.spark.sql.DataFrame): Seq[Long] =
    graft.operators.Sketch.kmvSketch(df, "k").collect()
      .map(_.getAs[Long]("hv")).toSeq.sortBy(_ ^ Long.MinValue)

  test("kmvSketch: registers are exactly the K smallest distinct unsigned hashes") {
    val k = graft.operators.Sketch.KmvK
    val expected = (0 until 500).map { i =>
      org.apache.spark.sql.catalyst.expressions.XXH64.hashUTF8String(
        org.apache.spark.unsafe.types.UTF8String.fromString(s"key$i"), 42L)
    }.distinct.sortBy(_ ^ Long.MinValue).take(k)
    assert(kmvRegs(keys(500)) == expected)
    // under K distinct keys the sketch is exhaustive
    assert(kmvRegs(keys(10)).size == 10)
    // duplicates never move the registers
    val dup = (0 until 500).map(i => s"key${i % 10}").toDF("k")
    assert(kmvRegs(dup) == kmvRegs(keys(10)))
  }

  test("kmvMerge: per-half merge == full build; idempotent; order statistic") {
    val df = keys(1000).withColumn("__i", monotonically_increasing_id())
    def sorted(r: org.apache.spark.sql.DataFrame): Seq[Long] =
      r.collect().map(_.getAs[Long]("hv")).toSeq.sortBy(_ ^ Long.MinValue)
    val full = kmvRegs(keys(1000))
    val merged = sorted(graft.operators.Sketch.kmvMerge(
      graft.operators.Sketch.kmvSketch(df.filter($"__i" % 2 === 0), "k"),
      graft.operators.Sketch.kmvSketch(df.filter($"__i" % 2 === 1), "k")))
    assert(merged == full)
    val idem = sorted(graft.operators.Sketch.kmvMerge(
      graft.operators.Sketch.kmvSketch(df, "k"),
      graft.operators.Sketch.kmvSketch(df, "k")))
    assert(idem == full)
  }

  test("kmvEstimate: exact under K, sampled within 3 RSE above") {
    val k = graft.operators.Sketch.KmvK
    def est(df: org.apache.spark.sql.DataFrame): (Long, String) = {
      val r = graft.operators.Sketch.kmvEstimate(
        graft.operators.Sketch.kmvSketch(df, "k")).head()
      (r.getAs[Long]("est"), r.getAs[String]("method"))
    }
    for (n <- Seq(1, 10, k - 1)) assert(est(keys(n)) == (n.toLong, "exact"))
    val rse = 1.0 / math.sqrt((k - 2).toDouble)
    for (n <- Seq(1000, 20000)) {
      val (e, m) = est(keys(n))
      assert(m == "sampled")
      assert(math.abs(e - n).toDouble / n <= 3 * rse, s"n=$n est=$e outside 3·RSE")
    }
  }

  test("kmvSketchBy: per-group registers equal the per-frame builds") {
    val df = (0 until 3000).map { i =>
      (s"g${i % 3}", s"key${i % (500 * (i % 3 + 1))}")
    }.toDF("g", "k")
    val by = graft.operators.Sketch.kmvSketchBy(df, "k", "g")
      .collect().groupBy(_.getAs[String]("group"))
      .map { case (g, rs) => g -> rs.map(_.getAs[Long]("hv")).toSeq.sortBy(_ ^ Long.MinValue) }
    for (g <- Seq("g0", "g1", "g2")) {
      val solo = graft.operators.Sketch.kmvSketch(
        df.filter($"g" === g).select($"k"), "k")
        .collect().map(_.getAs[Long]("hv")).toSeq.sortBy(_ ^ Long.MinValue)
      assert(by(g) == solo, s"group $g diverges from the per-frame build")
    }
  }

  test("kmvOverlapMatrix: each pair matches the two-sketch intersect; disjoint pairs report 0") {
    // g0 = 0..999, g1 = 500..1499 (overlap 500), g2 = 5000..5099 (disjoint)
    val df = ((0 until 1000).map(i => ("g0", s"key$i")) ++
      (500 until 1500).map(i => ("g1", s"key$i")) ++
      (5000 until 5100).map(i => ("g2", s"key$i"))).toDF("g", "k")
    val m = graft.operators.Sketch.kmvOverlapMatrix(
      graft.operators.Sketch.kmvSketchBy(df, "k", "g"))
      .collect().map(r => (r.getAs[String]("group_a"), r.getAs[String]("group_b")) ->
        ((r.getAs[Long]("n_common"), r.getAs[Long]("est"), r.getAs[String]("method")))).toMap
    assert(m.keySet == Set(("g0", "g1"), ("g0", "g2"), ("g1", "g2")))
    // the matrix row reproduces the dedicated two-sketch estimate
    val solo = graft.operators.Sketch.kmvIntersectEstimate(
      graft.operators.Sketch.kmvSketch(df.filter($"g" === "g0").select($"k"), "k"),
      graft.operators.Sketch.kmvSketch(df.filter($"g" === "g1").select($"k"), "k")).head()
    assert(m(("g0", "g1")) ==
      ((solo.getAs[Long]("n_common"), solo.getAs[Long]("est"), solo.getAs[String]("method"))))
    // disjoint sources: zero common registers, zero estimate (the
    // left-join fill path), regardless of regime
    assert(m(("g0", "g2"))._1 == 0L && m(("g0", "g2"))._2 == 0L)
    assert(m(("g1", "g2"))._1 == 0L && m(("g1", "g2"))._2 == 0L)
  }

  test("hllRegistersP/hllEstimateP: the wide (m=4096) twin — merge==build, tighter band, m=64 delegation") {
    val bits = graft.operators.Sketch.HllWideBits
    val keys = (0 until 20000).map(i => s"key$i").toDF("t").select($"t".as("k"))
    // merge == build bit-exactly on the registers themselves, at width
    val full = graft.operators.Sketch.hllRegistersP(keys, "k", bits)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val halves = graft.operators.Sketch.hllMerge(
      graft.operators.Sketch.hllRegistersP(
        keys.filter(length($"k") % 2 === 0), "k", bits),
      graft.operators.Sketch.hllRegistersP(
        keys.filter(length($"k") % 2 =!= 0), "k", bits))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(halves == full)
    assert(full.keySet.forall(b => b >= 0 && b < 4096L))
    // production band: 3·RSE at m=4096 is ~4.9% — an order tighter
    // than the m=64 screening gate's 30%
    val est = graft.operators.Sketch.hllEstimateP(
      graft.operators.Sketch.hllRegistersP(keys, "k", bits), bits).head()
    assert(est.getAs[String]("method") == "raw")
    assert(math.abs(est.getAs[Long]("est") - 20000L) <= 20000L * 0.049,
      s"wide est=${est.getAs[Long]("est")}")
    // the width-6 constants reproduce the original literals exactly
    assert(graft.operators.Sketch.hllAlphaNumFor(6) == graft.operators.Sketch.HllAlphaNum)
    assert(graft.operators.Sketch.hllLcBoundFor(6) == graft.operators.Sketch.HllLcBound)
  }

  test("hllRegistersByP/hllEstimateByP: sparse grouped wide — per-group == solo, sparse frame") {
    val bits = graft.operators.Sketch.HllWideBits
    // three groups of very different cardinality: a 4-key group (deep
    // linear-counting), a 300-key group, a 20000-key group (past the
    // 2.5·m = 10240 switchover → raw regime at m=4096)
    val docs = ((0 until 4).map(i => ("g_small", s"s$i")) ++
      (0 until 300).map(i => ("g_mid", s"m$i")) ++
      (0 until 20000).map(i => ("g_big", s"b$i"))).toDF("g", "k")
    val regs = graft.operators.Sketch.hllRegistersByP(docs, "k", "g", bits)
    // SPARSE: the frame holds only hit cells — far under 3·4096 dense
    // cells, and the small group carries at most its key count
    val cells = regs.groupBy($"group").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(cells("g_small") <= 4L)
    assert(cells("g_mid") <= 300L)
    // per-group estimate rows equal the SOLO wide path run on each
    // group's keys alone, column for column — the sparse grouped math
    // and the solo math are the same estimator
    val grouped = graft.operators.Sketch.hllEstimateByP(regs, bits)
      .collect().map(r => r.getAs[String]("group") -> r).toMap
    for (g <- Seq("g_small", "g_mid", "g_big")) {
      val solo = graft.operators.Sketch.hllEstimateP(
        graft.operators.Sketch.hllRegistersP(
          docs.filter($"g" === g).select($"k"), "k", bits), bits).head()
      for (c <- Seq("n_present", "n_zero", "s_sum", "est_raw", "est"))
        assert(grouped(g).getAs[Long](c) == solo.getAs[Long](c), s"$g.$c")
      assert(grouped(g).getAs[String]("method") == solo.getAs[String]("method"), g)
    }
    assert(grouped("g_small").getAs[String]("method") == "linear")
    assert(grouped("g_big").getAs[String]("method") == "raw")
    // and bits=6 delegation: the sparse path IS the original grouped path
    val r6 = graft.operators.Sketch.hllRegistersBy(docs, "k", "g")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val r6p = graft.operators.Sketch.hllRegistersByP(docs, "k", "g", 6)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(r6 == r6p)
  }

  test("kmvDifferenceEstimate: exact regime is exact; sampled difference within band") {
    // all under K: union exhaustive, difference exact
    val a = (0 until 30).map(i => s"key$i").toDF("k")
    val b = (20 until 50).map(i => s"key$i").toDF("k")
    val r = graft.operators.Sketch.kmvDifferenceEstimate(
      graft.operators.Sketch.kmvSketch(a, "k"),
      graft.operators.Sketch.kmvSketch(b, "k")).head()
    assert(r.getAs[String]("method") == "exact")
    assert(r.getAs[Long]("n_diff") == 20L && r.getAs[Long]("est") == 20L)
    // A ⊆ B: difference is zero in any regime
    val sub = graft.operators.Sketch.kmvDifferenceEstimate(
      graft.operators.Sketch.kmvSketch(a, "k"),
      graft.operators.Sketch.kmvSketch(a.unionByName(b), "k")).head()
    assert(sub.getAs[Long]("n_diff") == 0L && sub.getAs[Long]("est") == 0L)
    // sampled regime: |A∖B| = 6000 of an 18000 union
    val bigA = (0 until 12000).map(i => s"key$i").toDF("k")
    val bigB = (6000 until 18000).map(i => s"key$i").toDF("k")
    val s = graft.operators.Sketch.kmvDifferenceEstimate(
      graft.operators.Sketch.kmvSketch(bigA, "k"),
      graft.operators.Sketch.kmvSketch(bigB, "k")).head()
    assert(s.getAs[String]("method") == "sampled")
    val k = graft.operators.Sketch.KmvK
    val band = 3.0 * 18000.0 / math.sqrt((k - 2).toDouble)
    assert(math.abs(s.getAs[Long]("est") - 6000L) <= band,
      s"difference est=${s.getAs[Long]("est")} outside band $band")
  }

  test("kmvSetOpsMatrix: class counts partition the sample; rows match the dedicated two-sketch ops") {
    val df = (
      (0 until 3000).map(i => ("g0", s"key$i")) ++
        (1500 until 4500).map(i => ("g1", s"key$i")) ++
        (9000 until 9020).map(i => ("g2", s"key$i"))
      ).toDF("g", "k")
    val m = graft.operators.Sketch.kmvSetOpsMatrix(
      graft.operators.Sketch.kmvSketchBy(df, "k", "g"))
      .collect().map(r => (r.getAs[String]("group_a"), r.getAs[String]("group_b")) -> r).toMap
    assert(m.keySet == Set(("g0", "g1"), ("g0", "g2"), ("g1", "g2")))
    // the three membership classes PARTITION every merged sample
    for ((_, r) <- m)
      assert(r.getAs[Long]("n_common") + r.getAs[Long]("n_a_only") +
        r.getAs[Long]("n_b_only") == r.getAs[Long]("n_union_present"))
    // the pair row reproduces the dedicated two-sketch operators
    val a = graft.operators.Sketch.kmvSketch(df.filter($"g" === "g0").select($"k"), "k")
    val b = graft.operators.Sketch.kmvSketch(df.filter($"g" === "g1").select($"k"), "k")
    val i01 = graft.operators.Sketch.kmvIntersectEstimate(a, b).head()
    val d01 = graft.operators.Sketch.kmvDifferenceEstimate(a, b).head()
    val r01 = m(("g0", "g1"))
    assert(r01.getAs[Long]("n_common") == i01.getAs[Long]("n_common"))
    assert(r01.getAs[Long]("est_intersect") == i01.getAs[Long]("est"))
    assert(r01.getAs[Long]("n_a_only") == d01.getAs[Long]("n_diff"))
    assert(r01.getAs[Long]("est_a_only") == d01.getAs[Long]("est"))
    // disjoint small pair: exact regime, differences are the set sizes
    val r12 = m(("g1", "g2"))
    assert(r12.getAs[String]("method") == "sampled") // g1 alone saturates K
    val r02 = m(("g0", "g2"))
    assert(r02.getAs[Long]("n_common") == 0L && r02.getAs[Long]("est_intersect") == 0L)
  }

  test("kmvIntersectEstimate: exact regime is exact; sampled overlap within band") {
    // small disjoint + overlapping sets, all under K: the union sketch
    // is exhaustive and the intersection estimate is the TRUE overlap
    val a = (0 until 30).map(i => s"key$i").toDF("k")
    val b = (20 until 50).map(i => s"key$i").toDF("k")
    val r = graft.operators.Sketch.kmvIntersectEstimate(
      graft.operators.Sketch.kmvSketch(a, "k"),
      graft.operators.Sketch.kmvSketch(b, "k")).head()
    assert(r.getAs[String]("method") == "exact")
    assert(r.getAs[Long]("est") == 10L)
    assert(r.getAs[Long]("n_common") == 10L)
    // sampled regime: 12k ∪ 12k with a 6k overlap — estimate within
    // 3·RSE·|union| of the truth (the sample is uniform over the union)
    val bigA = (0 until 12000).map(i => s"key$i").toDF("k")
    val bigB = (6000 until 18000).map(i => s"key$i").toDF("k")
    val s = graft.operators.Sketch.kmvIntersectEstimate(
      graft.operators.Sketch.kmvSketch(bigA, "k"),
      graft.operators.Sketch.kmvSketch(bigB, "k")).head()
    assert(s.getAs[String]("method") == "sampled")
    val k = graft.operators.Sketch.KmvK
    val band = 3.0 * 18000.0 / math.sqrt((k - 2).toDouble)
    assert(math.abs(s.getAs[Long]("est") - 6000L) <= band,
      s"intersect est=${s.getAs[Long]("est")} outside band $band")
  }
}
