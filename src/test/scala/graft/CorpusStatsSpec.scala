package graft

import org.apache.spark.sql.functions._
import graft.operators.TextAnalysis

/** Round-4 corpus statistics: character entropy, boilerplate n-grams,
  * and corpus-unigram NLL scoring.
  */
class CorpusStatsSpec extends SparkSpec {
  import spark.implicits._

  test("charEntropy: uniform two-symbol string scores ln 2; constant string 0") {
    val df = Seq((1L, "abab"), (2L, "aaaa"), (3L, "")).toDF("id", "text")
    val out = df.select(col("id"), TextAnalysis.charEntropy(col("text")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(out(1L) - math.log(2.0)) < 1e-12)
    assert(out(2L) === 0.0)
    assert(out(3L) === 0.0)
  }

  test("charEntropy matches the direct -sum p ln p definition") {
    val text = "the quick brown fox jumps over the lazy dog"
    val counts = text.groupBy(identity).view.mapValues(_.length).toMap
    val n = text.length.toDouble
    val expected = counts.values.map { k => val p = k / n; -p * math.log(p) }.sum
    val got = Seq(Tuple1(text)).toDF("text")
      .select(TextAnalysis.charEntropy(col("text"))).as[Double].head()
    assert(math.abs(got - expected) < 1e-12)
  }

  test("boilerplateGrams finds only grams shared by >= minDocs distinct docs") {
    val df = Seq(
      (1L, "nav home about contact body one"),
      (2L, "nav home about contact body two"),
      (3L, "nav home about contact body three"),
      (4L, "totally different text here"),
      // repeated gram INSIDE one doc counts once (doc-distinct)
      (5L, "x y z x y z x y z")
    ).toDF("doc_id", "text")
    val grams = TextAnalysis.boilerplateGrams(df, "text", n = 3, minDocs = 3L)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(grams.contains("nav home about"))
    assert(grams("nav home about") === 3L)
    assert(!grams.keys.exists(_.contains("x y z"))) // one doc only
  }

  test("distinctNgrams kernel equals the declarative fold") {
    val texts = Seq("", "a", "a b", "a b c", "a b c d", "x y x y x y",
      "nav home about contact nav home about")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val rows = df.select(
      graft.functions.GraftFunctions.distinctNgrams(col("text"), 3).as("k"),
      TextAnalysis.distinctNgramsFold(col("text"), 3).as("f")
    ).collect()
    rows.foreach { r => assert(r.getSeq[String](0) === r.getSeq[String](1)) }
  }

  test("boilerplateGrams: docs shorter than n yield no grams") {
    val df = Seq((1L, "a b"), (2L, "a b")).toDF("doc_id", "text")
    assert(TextAnalysis.boilerplateGrams(df, "text", n = 3, minDocs = 1L).count() === 0L)
  }

  test("charEntropy kernel is bitwise-identical to the declarative fold") {
    val texts = Seq("", "a", "abab", "the quick brown fox", "zzzzzz yyy x",
      "key agg row scan slow fast table value part hash")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val rows = df.select(
      TextAnalysis.charEntropy(col("text")).as("k"),
      TextAnalysis.charEntropyFold(col("text")).as("f")
    ).collect()
    rows.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ===
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
  }

  test("dedupPassages keeps the first (doc, chunk) per distinct passage") {
    val a = (1 to 32).map(i => s"tok$i").mkString(" ") // one full chunk
    val b = (33 to 64).map(i => s"tok$i").mkString(" ")
    val df = Seq(
      (1L, s"$a $b"), // chunks: a, b
      (2L, s"$b $a"), // both passages already seen -> fully deduped
      (3L, a)         // duplicate of doc 1 chunk 0
    ).toDF("doc_id", "text")
    val out = graft.operators.Dedup.dedupPassages(df, "doc_id", "text", 32, 32)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(out === Set((1L, 0), (1L, 1)))
  }

  test("zscoreByGroup: zero-variance group scores 0; z is exact") {
    val df = Seq(
      (1L, "a", 10L), (2L, "a", 20L),          // mean 15, var 25, std 5
      (3L, "b", 7L), (4L, "b", 7L)             // zero variance
    ).toDF("doc_id", "lang", "n_chars")
    val out = graft.operators.Normalize
      .zscoreByGroup(df, "lang", "n_chars", Seq("doc_id"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out(1L) === -1.0)
    assert(out(2L) === 1.0)
    assert(out(3L) === 0.0)
    assert(out(4L) === 0.0)
  }

  test("bigramSurprisal: rare pairs of common tokens score high; counts exact") {
    // every token is globally common; doc 3's PAIRS are novel
    val df = Seq(
      (1L, "a b a b a b"),
      (2L, "a b a b a b"),
      (3L, "b a b a b a") // reversed order -> mostly unseen-direction pairs? no: "b a" occurs in 1,2 too
    ).toDF("doc_id", "text")
    val out = TextAnalysis.bigramSurprisal(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Long]("n_bigrams"), r.getAs[Double]("nll2_tab"))).toMap
    assert(out.values.forall(_._1 == 5L)) // 6 tokens -> 5 bigrams each
    assert(out.values.forall(_._2 >= 0.0)) // -ln P is non-negative
    // hand-check doc 1: pairs (a,b)x3, (b,a)x2; corpus c2(a,b)=8, c2(b,a)=7,
    // c1(a)=8, c1(b)=7 -> nll = 3(ln8-ln8) + 2(ln7-ln7) = 0 (P=1 chains)
    def ln(k: Int) = TextAnalysis.LnTable(k - 1)
    assert(out(1L)._2 == 3.0 * (ln(8) - ln(8)) + 2.0 * (ln(7) - ln(7)))

    // a genuinely rare pair: same tokens, one novel adjacency
    val df2 = Seq(
      (1L, "x y x y x y"), (2L, "x y x y x y"), (3L, "y y x y x y")
    ).toDF("doc_id", "text")
    val out2 = TextAnalysis.bigramSurprisal(df2, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getAs[Double]("nll2_tab")).toMap
    assert(out2(3L) > out2(1L)) // doc 3 pays for the (y,y) novelty
  }

  test("Profile.columns: exact row/null/distinct per column") {
    val df = Seq(
      (Some(1L), Some("a")), (Some(1L), None),
      (Some(2L), Some("b")), (None, Some("a"))
    ).toDF("k", "s")
    val prof = graft.operators.Profile.columns(df, Seq("k", "s"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(prof("k") == ((4L, 1L, 2L)))
    assert(prof("s") == ((4L, 1L, 2L)))
  }

  test("Profile.columnsFast: one-scan profile matches exact counters, HLL close") {
    val df = Seq(
      (Some(1L), Some("a")), (Some(1L), None),
      (Some(2L), Some("b")), (None, Some("a"))
    ).toDF("k", "s")
    val prof = graft.operators.Profile.columnsFast(df, Seq("k", "s"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // counters exact; at 2 distinct values the HLL estimate is exact too
    assert(prof("k") == ((4L, 1L, 2L)))
    assert(prof("s") == ((4L, 1L, 2L)))
  }

  test("embeddingOutliers: a planted corrupt vector spikes, inliers stay low") {
    // 40 inliers near the origin on both lanes; one vector far out on lane 1
    val vecs = ((1L to 40L).map(i =>
      (i, Array((i % 5).toFloat / 100f, (i % 7).toFloat / 100f))) :+
      (99L, Array(0.02f, 50f))).toDF("vec_id", "embedding")
    val out = graft.operators.Normalize
      .embeddingOutliers(vecs, "vec_id", "embedding", tau = 4.0)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getBoolean(2))).toMap
    assert(out(99L)._2, s"planted outlier not flagged: ${out(99L)}")
    assert(out.view.filterKeys(_ != 99L).values.forall(!_._2),
      "an inlier was flagged")
    // scoring side is map-side: exactly one exchange (the lane-stats agg)
    val plan = graft.operators.Normalize
      .embeddingOutliers(vecs, "vec_id", "embedding", tau = 4.0)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastExchange"), plan)
  }

  test("embeddingOutliers: empty and null vectors surface as outliers, not crashes") {
    // an empty (or null) embedding is exactly the corrupt/wrong-modality
    // row this screen exists to catch — it must be FLAGGED (+inf score),
    // not kill the job via the descending-sequence element_at hazard
    val vecs = ((1L to 20L).map(i =>
      (i, Array((i % 5).toFloat / 100f, (i % 7).toFloat / 100f))) :+
      (77L, Array.empty[Float])).toDF("vec_id", "embedding")
    val withNull = vecs.unionByName(
      Seq(88L).toDF("vec_id").select(col("vec_id"),
        lit(null).cast("array<float>").as("embedding")))
    val out = graft.operators.Normalize
      .embeddingOutliers(withNull, "vec_id", "embedding", tau = 4.0)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getBoolean(2))).toMap
    assert(out(77L) == ((Double.PositiveInfinity, true)), s"empty vec: ${out(77L)}")
    assert(out(88L) == ((Double.PositiveInfinity, true)), s"null vec: ${out(88L)}")
    assert(out.view.filterKeys(k => k != 77L && k != 88L).values.forall(!_._2))
  }

  test("kAnonymity: group sizes and the k-threshold flag; broadcast join-back") {
    val df = Seq(
      (1L, "en", "web"), (2L, "en", "web"), (3L, "en", "web"),
      (4L, "de", "web"), (5L, "de", "books")
    ).toDF("id", "lang", "source")
    val out = graft.operators.Profile.kAnonymity(df, Seq("lang", "source"), k = 2L)
    val byId = out.collect()
      .map(r => r.getAs[Long]("id") -> (r.getAs[Long]("k_group"), r.getAs[Boolean]("keep")))
      .toMap
    assert(byId(1L) == ((3L, true)) && byId(2L) == ((3L, true)) && byId(3L) == ((3L, true)))
    assert(byId(4L) == ((1L, false)) && byId(5L) == ((1L, false)))
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("kAnonymity: past the group-cardinality guard the join degrades, values identical") {
    val df = Seq(
      (1L, "en", "web"), (2L, "en", "web"), (3L, "en", "web"),
      (4L, "de", "web"), (5L, "de", "books")
    ).toDF("id", "lang", "source")
    val guarded = graft.operators.Profile
      .kAnonymity(df, Seq("lang", "source"), k = 2L, maxBroadcastGroups = 0L)
    // fallback path: no forced broadcast hint on the group table (AQE
    // owns the join strategy); the audit's VALUES are unchanged
    assert(!guarded.queryExecution.analyzed.toString.contains("broadcast"),
      "fallback path must not carry a broadcast hint")
    val byId = guarded.collect()
      .map(r => r.getAs[Long]("id") -> (r.getAs[Long]("k_group"), r.getAs[Boolean]("keep")))
      .toMap
    assert(byId(1L) == ((3L, true)) && byId(4L) == ((1L, false)))
  }

  test("kAnonymityGeneralize: first ladder level clearing k wins; else suppress") {
    // k = 3; ladder: (lang, n div 10) -> (lang, n div 100) -> (lang)
    val df = Seq(
      (1L, "en", 5L), (2L, "en", 7L), (3L, "en", 9L), // level-0 group of 3
      (4L, "en", 15L),  // level-0 group of 1; level-1 (en, 0) has all 4
      (5L, "de", 250L)  // alone at every level -> suppressed
    ).toDF("id", "lang", "n")
    val out = graft.operators.Profile.kAnonymityGeneralize(
      df,
      levels = Seq(
        Seq("lang" -> col("lang"), "b" -> expr("n div 10")),
        Seq("lang" -> col("lang"), "b" -> expr("n div 100")),
        Seq("lang" -> col("lang"))),
      k = 3L)
      .collect().map(r => r.getAs[Long]("id") ->
        ((r.getAs[Int]("gen_level"), r.getAs[Long]("k_group"), r.getAs[Boolean]("keep"))))
      .toMap
    assert(out(1L) == ((0, 3L, true)) && out(2L) == ((0, 3L, true)) && out(3L) == ((0, 3L, true)))
    assert(out(4L) == ((1, 4L, true)), s"generalized row: ${out(4L)}")
    // suppressed: reports the LAST level's (best-achievable) group size
    assert(out(5L) == ((3, 1L, false)), s"suppressed row: ${out(5L)}")
    // helper columns are dropped
    val cols = graft.operators.Profile.kAnonymityGeneralize(df,
      Seq(Seq("lang" -> col("lang"))), k = 1L).columns.toSet
    assert(cols == Set("id", "lang", "n", "gen_level", "k_group", "keep"))
  }

  test("kAnonymity: NULL quasi-identifier rows form their own group, never dropped") {
    // the round-10 advice finding: an equi-join back to the group table
    // silently dropped NULL-QI rows — a privacy audit failing open for
    // exactly the rows with missing attributes
    val df = Seq(
      (1L, Option.empty[String], "web"), (2L, Option.empty[String], "web"),
      (3L, Some("en"), "web")
    ).toDF("id", "lang", "source")
    val out = graft.operators.Profile.kAnonymity(df, Seq("lang", "source"), k = 2L)
    val byId = out.collect()
      .map(r => r.getAs[Long]("id") -> (r.getAs[Long]("k_group"), r.getAs[Boolean]("keep")))
      .toMap
    assert(byId.size == 3, s"NULL-QI rows must stay in the audit: $byId")
    assert(byId(1L) == ((2L, true)) && byId(2L) == ((2L, true)))
    assert(byId(3L) == ((1L, false)))
  }

  test("lDiversity: NULL QI kept; all-NULL sensitive group fails closed") {
    val df = Seq(
      (1L, Option.empty[String], Some("a")), (2L, Option.empty[String], Some("b")),
      (3L, Some("en"), Option.empty[String]), (4L, Some("en"), Option.empty[String])
    ).toDF("id", "lang", "src")
    val out = graft.operators.Profile.lDiversity(df, Seq("lang"), "src", l = 2L)
    val byId = out.collect()
      .map(r => r.getAs[Long]("id") -> (r.getAs[Long]("l_distinct"), r.getAs[Boolean]("keep")))
      .toMap
    assert(byId.size == 4, s"NULL-QI rows must stay in the audit: $byId")
    assert(byId(1L) == ((2L, true)) && byId(2L) == ((2L, true)))
    // countDistinct ignores NULLs: the all-NULL group reports 0 and
    // FAILS the gate (conservative), instead of vanishing from it
    assert(byId(3L) == ((0L, false)) && byId(4L) == ((0L, false)))
  }

  test("tCloseness: all-NULL-sensitive group stays in the gate; exact TVD; zero cache residue") {
    val spark2 = spark
    val before = spark2.sparkContext.getPersistentRDDs.keySet.toSet
    val df = Seq(
      ("A", Option.empty[String]), ("A", Option.empty[String]),
      ("B", Some("x")), ("B", Some("y"))
    ).toDF("g", "s")
    // hand computation (N=4): group A holds only NULL sensitive values
    // (c_gv=2, marginal c_v=2): present_num = |2*4-2*2| = 4, tvd_num =
    // 4 + (4-2)*2 = 8, tvd_pm = 1000*8 div (2*2*4) = 500. Group B (x,y
    // each c_gv=1, c_v=1): same numbers by symmetry. keep at t=500‰:
    // 1000*8 <= 2*500*2*4 holds for both.
    val out = graft.operators.Profile.tCloseness(df, Seq("g"), "s", tPerMille = 500L)
    val rows = out.collect().map(r => r.getAs[String]("g") ->
      ((r.getAs[Long]("n_group"), r.getAs[Long]("tvd_num"),
        r.getAs[Long]("tvd_pm"), r.getAs[Boolean]("keep")))).toMap
    assert(rows.size == 2, s"the all-NULL group must not vanish from the release gate: $rows")
    assert(rows("A") == ((2L, 8L, 500L, true)), s"A: ${rows("A")}")
    assert(rows("B") == ((2L, 8L, 500L, true)), s"B: ${rows("B")}")
    // at t=400‰ the same groups fail: 8000 > 6400
    val strict = graft.operators.Profile.tCloseness(df, Seq("g"), "s", tPerMille = 400L)
      .collect().map(_.getAs[Boolean]("keep"))
    assert(strict.forall(_ == false))
    // the guarded-small path localizes the decision table and unpins
    // everything — a long-lived session accumulates NO cache from audits
    val after = spark2.sparkContext.getPersistentRDDs.keySet.toSet
    assert((after -- before).isEmpty, s"leaked persisted RDDs: ${after -- before}")
  }

  test("tCloseness/kAnonymity: over-guard regime (shuffle join) — same decisions, released caches") {
    val spark2 = spark
    val before = spark2.sparkContext.getPersistentRDDs.keySet.toSet
    val df = (1L to 40L).map(i => (s"g${i % 8}", s"v${i % 3}")).toDF("g", "s")
    // force every guardedSide past the threshold: the group tables take
    // the pinned-shuffle-join path instead of localize+broadcast
    val over = graft.operators.Profile.tCloseness(df, Seq("g"), "s",
      tPerMille = 500L, maxBroadcastGroups = 1L)
    val overRows = over.collect().map(r =>
      r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4))).toMap
    graft.operators.Guard.unpin(over) // the over-guard table comes back pinned
    val under = graft.operators.Profile.tCloseness(df, Seq("g"), "s", tPerMille = 500L)
      .collect().map(r =>
        r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4))).toMap
    assert(overRows == under, s"guard regime changed the decisions: $overRows vs $under")
    // tCloseness materializes before returning, so it unpins the
    // guarded sides even in the over-guard regime (only the pinned
    // output remained, unpinned above)
    val after = spark2.sparkContext.getPersistentRDDs.keySet.toSet
    assert((after -- before).isEmpty, s"leaked persisted RDDs: ${after -- before}")

    val ka = graft.operators.Profile.kAnonymity(df, Seq("g"), k = 5L,
      maxBroadcastGroups = 1L)
    val kaRows = ka.collect()
    val kaRef = graft.operators.Profile.kAnonymity(df, Seq("g"), k = 5L).collect()
    assert(kaRows.map(_.toSeq).toSet == kaRef.map(_.toSeq).toSet)
    // lazy-returning audits must leak NOTHING even past the guard
    // (keepPinned=false: the shuffle side recomputes rather than
    // staying pinned with no owner to release it)
    val afterKa = spark2.sparkContext.getPersistentRDDs.keySet.toSet
    assert((afterKa -- before).isEmpty, s"kAnonymity leaked: ${afterKa -- before}")
    val ld = graft.operators.Profile.lDiversity(df, Seq("g"), "s", l = 2L,
      maxBroadcastGroups = 1L)
    ld.collect()
    val afterLd = spark2.sparkContext.getPersistentRDDs.keySet.toSet
    assert((afterLd -- before).isEmpty, s"lDiversity leaked: ${afterLd -- before}")
  }

  test("tCloseness: empty input yields an empty decision table, not a crash") {
    val empty = Seq.empty[(String, Option[String])].toDF("g", "s")
    val out = graft.operators.Profile.tCloseness(empty, Seq("g"), "s", tPerMille = 400L)
    assert(out.columns.toSeq == Seq("g", "n_group", "tvd_num", "tvd_pm", "keep"))
    assert(out.count() == 0L)
  }

  test("mergeMoments: merged partial moments equal a full recompute bitwise") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val n = graft.operators.Normalize
    val merged = n.mergeMoments("lang", Seq(
      n.groupMoments(docs.filter(col("doc_id") < 250), "lang", "n_chars"),
      n.groupMoments(docs.filter(col("doc_id") >= 250), "lang", "n_chars")))
    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDecimal(2).toBigInteger, r.getLong(3))).toMap
    assert(key(merged) == key(n.groupMoments(docs, "lang", "n_chars")))

    // and z-scores against merged moments equal the one-pass operator
    val viaMerged = n.zscoreAgainst(docs, merged, "lang", "n_chars", Seq("doc_id"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val onePass = n.zscoreByGroup(docs, "lang", "n_chars", Seq("doc_id"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(viaMerged == onePass)
  }

  test("unigramSurprisal: pinned components reproduce the nll derivation") {
    val df = Seq(
      (1L, "common common common common"),
      (2L, "common common common rare")
    ).toDF("doc_id", "text")
    val parts = TextAnalysis.unigramSurprisal(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    // corpus: common x7, rare x1 -> doc1 nll_tab = 4*ln(7); doc2 = 3*ln(7) + 1*ln(1)
    assert(parts(1L)._1 === 4L)
    assert(math.abs(parts(1L)._2 - 4.0 * math.log(7.0)) < 1e-12)
    assert(math.abs(parts(2L)._2 - 3.0 * math.log(7.0)) < 1e-12)
    assert(parts(2L)._1 === 4L)
    // nll = n_tokens * ln(NN) - nll_tab, NN = 8: doc 1 is all-"common"
    // (7 of 8 corpus tokens), so its avg nll is ln(8/7); doc 2 holds the
    // corpus-rare token and scores higher
    def avgNll(id: Long) = (parts(id)._1 * math.log(8.0) - parts(id)._2) / parts(id)._1
    assert(math.abs(avgNll(1L) - math.log(8.0 / 7.0)) < 1e-12)
    assert(avgNll(2L) > avgNll(1L))
  }
}
