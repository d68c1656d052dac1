package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Dedup operator semantics on crafted corpora: exact groups, n-gram
  * Jaccard, MinHash+LSH vs the exact baseline, SimHash.
  */
class DedupSpec extends SparkSpec {

  import spark.implicits._

  private def docs(rows: (Long, String)*) =
    rows.toDF("doc_id", "text")

  test("exact dedup groups identical texts, keeps min id as canonical") {
    val d = docs(
      1L -> "alpha beta gamma",
      2L -> "alpha beta gamma",
      3L -> "unique text here",
      4L -> "alpha beta gamma"
    )
    val g = Dedup.exactGroups(d, "doc_id", "text").collect()
    assert(g.length == 2)
    val dup = g.find(_.getAs[Long]("n_copies") == 3L).get
    assert(dup.getAs[Long]("canonical_id") == 1L)

    val kept = Dedup.dropExactDuplicates(d, "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted
    assert(kept.sameElements(Array(1L, 3L)))
  }

  test("incremental exact dedup equals a full rerun; index append composes") {
    val corpus = docs(
      1L -> "alpha beta gamma",
      2L -> "old survivor text"
    )
    val delta1 = docs(
      10L -> "alpha beta gamma",  // cross-batch dup -> index kills it
      11L -> "brand new text",
      12L -> "brand new text",    // within-delta dup -> min id wins
      13L -> "another fresh one"
    )
    val path = graft.queries.Q.scratch("digidx_spec")
    Dedup.digestIndex(corpus, "text").write.mode("overwrite").parquet(path)

    val kept1 = Dedup.dedupDeltaExact(delta1, "doc_id", "text",
      spark.read.parquet(path)).select("doc_id").as[Long].collect().sorted
    assert(kept1.sameElements(Array(11L, 13L)))

    // pinned equivalence: delta-side survivors of a full rerun on the union
    val full = Dedup.dropExactDuplicates(corpus.unionAll(delta1), "doc_id", "text")
      .filter(col("doc_id") >= 10L).select("doc_id").as[Long].collect().sorted
    assert(kept1.sameElements(full))

    // lifecycle: append delta1 survivors' digests, screen a second delta
    Dedup.digestIndex(
        delta1.filter(col("doc_id").isin(kept1.toIndexedSeq: _*)), "text")
      .write.mode("append").parquet(path)
    val delta2 = docs(
      20L -> "brand new text",      // dup of an APPENDED digest -> dropped
      21L -> "genuinely second-wave"
    )
    val kept2 = Dedup.dedupDeltaExact(delta2, "doc_id", "text",
      spark.read.parquet(path)).select("doc_id").as[Long].collect().sorted
    assert(kept2.sameElements(Array(21L)))

    // takedown: purge a digest and the content re-enters as novel
    Dedup.purgeDigests(spark.read.parquet(path),
        docs(99L -> "alpha beta gamma"), "text")
      .write.mode("overwrite").parquet(path + "_purged")
    val kept3 = Dedup.dedupDeltaExact(
      docs(30L -> "alpha beta gamma", 31L -> "brand new text"),
      "doc_id", "text", spark.read.parquet(path + "_purged"))
      .select("doc_id").as[Long].collect().sorted
    assert(kept3.sameElements(Array(30L))) // purged text passes, indexed text still dies
  }

  test("stale hex-string digest index fails fast, not silently") {
    // a pre-binary-format index (64-char hex keys) never equi-joins a
    // binary digest — every dup would pass the screen unnoticed; the
    // type guard turns that silent miss into an immediate error
    val staleIndex = Seq("ab" * 32).toDF("digest")
    val delta = docs(1L -> "anything")
    val e = intercept[IllegalArgumentException] {
      Dedup.dedupDeltaExact(delta, "doc_id", "text", staleIndex)
    }
    assert(e.getMessage.contains("unhex"))
    intercept[IllegalArgumentException] {
      Dedup.purgeDigests(staleIndex, delta, "text")
    }
    intercept[IllegalArgumentException] {
      graft.streaming.StreamingDedup.digestScreen(delta, staleIndex, "text")
    }
  }

  test("canonicalByQuality keeps the best-quality cluster member, not min id") {
    val base = "the quick brown fox jumps over the lazy dog again and again ok"
    val docs = Seq(
      (1L, base, 10L),               // cluster {1,2,3}: near-dups
      (2L, base + " extra", 99L),    // best quality -> the representative
      (3L, base + " more", 50L),
      (9L, "completely different text with nothing shared here at all", 5L)
    ).toDF("doc_id", "text", "quality")
    val reps = Dedup.canonicalByQuality(docs, "doc_id", "text", "quality",
      n = 3, threshold = 0.4)
      .select("cluster", "id").as[(Long, Long)].collect().toMap
    assert(reps(1L) == 2L)  // argmax quality, NOT the min-id member
    assert(reps(9L) == 9L)  // singleton represents itself
  }

  test("neardupDeltaScreen drops near-dups of the indexed corpus, keeps novel") {
    // a synthetic doc with no near-dup among the real corpus docs — the
    // purge assertion needs a doc whose ONLY index match is itself
    // (fixture docs can have planted dup families)
    val unique = "zebra quantum lighthouse marmalade puzzle violin eclipse " +
      "tundra obsidian waffle nebula cricket harbor velvet sundial"
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text")).filter(col("doc_id") < 100)
      .unionAll(Seq((777L, unique)).toDF("doc_id", "text"))
    val path = graft.queries.Q.scratch("sigidx_spec")
    Dedup.minhashSignatures(corpus, "doc_id", "text", n = 3, k = 32)
      .write.mode("overwrite").parquet(path)

    val nearDup = corpus.filter(col("doc_id") < 10)
      .select((col("doc_id") + 5000L).as("doc_id"),
        concat(col("text"), lit(" zz")).as("text"))
    val exactDup = Seq((6777L, unique)).toDF("doc_id", "text")
    val novel = Seq((9000L,
      "totally unrelated fresh words nothing shared with anything indexed here"))
      .toDF("doc_id", "text")
    val delta = nearDup.unionAll(exactDup).unionAll(novel)

    val kept = Dedup.neardupDeltaScreen(delta, "doc_id", "text",
      spark.read.parquet(path)).select("doc_id").as[Long].collect().toSet
    assert(kept.contains(9000L))      // novel text passes
    assert(!kept.contains(6777L))     // exact dup is trivially a near-dup
    // appended-token copies are high-Jaccard: the screen catches most
    val plantedKept = kept.count(id => id >= 5000L && id < 5010L)
    assert(plantedKept <= 2, s"$plantedKept planted near-dups survived")

    // takedown: purge doc 777 from the index and its exact copy
    // re-enters (777 was its only match); unrelated screening unchanged
    Dedup.purgeSignatures(spark.read.parquet(path),
        Seq(Tuple1(777L)).toDF("doc_id"), "doc_id")
      .write.mode("overwrite").parquet(path + "_purged")
    val kept2 = Dedup.neardupDeltaScreen(delta, "doc_id", "text",
      spark.read.parquet(path + "_purged"))
      .select("doc_id").as[Long].collect().toSet
    assert(kept2.contains(6777L))
    assert(kept2.count(id => id >= 5000L && id < 5010L) == plantedKept)
  }

  test("mergeSignatures equals the signature of the unioned shingle sets") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"), col("source"))
    val sigs = Dedup.minhashSignatures(docs, "doc_id", "text", n = 3, k = 32)
      .join(docs.select(col("doc_id").as("id"), col("source")), "id")
    val merged = Dedup.mergeSignatures(sigs, "source")
      .collect().map(r => r.getString(0) ->
        r.getAs[scala.collection.Seq[Long]]("signature").toSeq).toMap

    // the union-set semantics, computed the explicit way: relabel ids to
    // the group and let the explode+min formulation pool all shingles
    val unioned = Dedup.minhashSignaturesAgg(
        docs.select(col("source").as("gid"), col("text")), "gid", "text", n = 3, k = 32)
      .collect().map(r => r.getString(0) ->
        r.getAs[scala.collection.Seq[Long]]("signature").toSeq).toMap
    assert(merged == unioned)

    // overlap estimator: est = agreeing lanes / k, symmetric pairs a < b
    val ov = Dedup.signatureOverlap(Dedup.mergeSignatures(sigs, "source"), "source")
      .collect()
    assert(ov.forall(r => r.getString(0) < r.getString(1)))
    ov.foreach { r =>
      val (a, b) = (merged(r.getString(0)), merged(r.getString(1)))
      val eq = a.zip(b).count { case (x, y) => x == y }
      assert(r.getAs[Long]("n_eq") == eq.toLong)
      assert(r.getAs[Double]("est_jaccard") == eq.toDouble / 32.0)
    }
  }

  test("jaccard pairs: identical docs score 1.0, disjoint docs don't pair") {
    val d = docs(
      1L -> "one two three four five six",
      2L -> "one two three four five six",
      3L -> "totally different words entirely distinct tokens"
    )
    val pairs = Dedup.jaccardPairs(d, "doc_id", "text", n = 3, threshold = 0.1)
      .collect()
    assert(pairs.length == 1)
    val p = pairs.head
    assert(p.getAs[Long]("id_a") == 1L && p.getAs[Long]("id_b") == 2L)
    assert(p.getAs[Double]("jaccard") == 1.0)
  }

  test("jaccard: one-word edit on a 12-token doc lands in (0.5, 1)") {
    val base = "a b c d e f g h i j k l"
    val edit = "a b c d e f g h i j k X"
    val pairs = Dedup.jaccardPairs(docs(1L -> base, 2L -> edit),
      "doc_id", "text", n = 3, threshold = 0.1).collect()
    assert(pairs.length == 1)
    val j = pairs.head.getAs[Double]("jaccard")
    // 10 shingles each; only the final "j k l"/"j k X" differs -> 9 common,
    // union 11 -> 9/11
    assert(math.abs(j - 9.0 / 11.0) < 1e-12)
  }

  test("containment: a doc embedded in a larger one scores 1.0 where jaccard misses") {
    // doc 1's 10 shingles are all inside doc 2 (30 shingles):
    // containment = 10/10 = 1.0; jaccard = 10/30 ≈ 0.33 — below 0.4
    val small = (1 to 12).map(i => s"w$i").mkString(" ")
    val big = (1 to 32).map(i => s"w$i").mkString(" ")
    val d = docs(1L -> small, 2L -> big)
    assert(Dedup.jaccardPairs(d, "doc_id", "text", n = 3, threshold = 0.4)
      .collect().isEmpty)
    val pairs = Dedup.containmentPairs(d, "doc_id", "text", n = 3, threshold = 0.5)
      .collect()
    assert(pairs.length == 1)
    val p = pairs.head
    assert(p.getAs[Long]("id_a") == 1L && p.getAs[Long]("id_b") == 2L)
    assert(p.getAs[Double]("containment") == 1.0)
  }

  test("minhash LSH finds the planted near-dup and estimates its jaccard") {
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val nearDup = ((1 to 38).map(i => s"w$i") ++ Seq("x1", "x2")).mkString(" ")
    val noise = (100 to 140).map(i => s"n$i").mkString(" ")
    val d = docs(1L -> base, 2L -> nearDup, 3L -> noise)

    val pairs = Dedup.minhashLshPairs(d, "doc_id", "text",
      n = 3, k = 32, bands = 8, threshold = 0.3).collect()
    assert(pairs.length == 1)
    val p = pairs.head
    assert(p.getAs[Long]("id_a") == 1L && p.getAs[Long]("id_b") == 2L)

    // exact jaccard: 38 shingles each, 34 common -> 34/42 ≈ 0.81
    val est = p.getAs[Double]("est_jaccard")
    assert(est > 0.5 && est <= 1.0)
  }

  test("minhash LSH agrees with exact jaccard on the fixture corpus") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val exact = Dedup.jaccardPairs(d, "doc_id", "text", n = 3, threshold = 0.7)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val lsh = Dedup.minhashLshPairs(d, "doc_id", "text",
      n = 3, k = 32, bands = 8, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // every strongly-similar pair must be recalled by LSH
    val recalled = exact.count(lsh.contains)
    assert(exact.isEmpty || recalled.toDouble / exact.size >= 0.9,
      s"LSH recalled $recalled of ${exact.size} exact pairs")
  }

  test("collapsed pipeline: exact dups removed before fuzzy, near-dups kept") {
    val d = docs(
      1L -> "alpha beta gamma delta epsilon zeta eta",
      2L -> "alpha beta gamma delta epsilon zeta eta",      // exact dup of 1
      3L -> "alpha beta gamma delta epsilon zeta CHANGED",  // near dup of 1
      4L -> "totally different words entirely distinct tokens here"
    )
    val pairs = Dedup.nearDupPairsCollapsed(d, "doc_id", "text", n = 3, threshold = 0.3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // (1,2) collapsed away by exact dedup; (1,3) survives as fuzzy pair
    assert(pairs == Set((1L, 3L)))
  }

  test("simhash: identical docs collide, different docs are distant") {
    val d = docs(
      1L -> "the quick brown fox jumps over the lazy dog today",
      2L -> "the quick brown fox jumps over the lazy dog today",
      3L -> "zq xv wk jm pf bd ng lr ts cy"
    )
    val values = Dedup.simhash(d, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("simhash")).toMap
    assert(values(1L) == values(2L))
    assert(java.lang.Long.bitCount(values(1L) ^ values(3L)) > 3)

    val pairs = Dedup.simhashPairs(d, "doc_id", "text", maxDist = 3).collect()
    assert(pairs.map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
      == Set((1L, 2L)))
    assert(pairs.head.getAs[Int]("dist") == 0)
  }

  test("near-dup clusters: chains collapse to one component, singletons keep their id") {
    // sliding windows over w1..w20: 1~2 and 2~3 (jaccard 6/14 ≈ 0.43)
    // but 1~3 only 2/18 ≈ 0.11 -> transitivity must label all three 1
    def window(from: Int): String = (from until from + 12).map(i => s"w$i").mkString(" ")
    val d = docs(
      1L -> window(1),
      2L -> window(5),
      3L -> window(9),
      4L -> "completely different content with other words here now"
    )
    val clusters = Dedup.nearDupClusters(d, "doc_id", "text", n = 3, threshold = 0.3)
      .as[(Long, Long)].collect().toMap
    assert(clusters(1L) == 1L && clusters(2L) == 1L && clusters(3L) == 1L)
    assert(clusters(4L) == 4L)
  }

  test("shingles: n-gram construction is exact") {
    val row = docs(1L -> "a b c d")
      .select(Dedup.shingles(col("text"), 3).as("sh"))
      .as[Seq[String]].head()
    assert(row == Seq("a b c", "b c d"))
  }

  test("keepLatest: newest row per key survives, ties broken by id") {
    val versions = Seq(
      (1L, 10L, 100L, "v1"),
      (1L, 11L, 200L, "v2"), // newest for key 1
      (2L, 20L, 300L, "a"),
      (2L, 21L, 300L, "b"), // tied ts; higher id wins
      (3L, 30L, 50L, "only")
    ).toDF("key", "id", "version_ts", "payload")

    val kept = Dedup.keepLatest(versions, Seq("key"),
        Seq(col("version_ts").desc, col("id").desc))
      .select("key", "id", "payload")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .sortBy(_._1)

    assert(kept.toSeq == Seq((1L, 11L, "v2"), (2L, 21L, "b"), (3L, 30L, "only")))
  }

  test("normalized dedup collapses case/whitespace variants to the first id") {
    import spark.implicits._
    val docs = Seq(
      (1L, "Hello  world"),
      (2L, "hello world"),       // whitespace+case variant of 1
      (3L, "  HELLO\tWORLD \n"), // pad/tab/case variant of 1
      (4L, "hello worlds")       // genuinely different
    ).toDF("doc_id", "text")
    val groups = graft.operators.Dedup
      .normalizedGroups(docs, "doc_id", "text")
      .select("canonical_id", "n_copies")
      .as[(Long, Long)].collect().toMap
    assert(groups == Map(1L -> 3L, 4L -> 1L))
  }
}
