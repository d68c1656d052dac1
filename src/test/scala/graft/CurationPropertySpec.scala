package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.operators.{Sampling, Similarity}

/** Property-based invariants for the round-5 curation operators, checked
  * against independent in-JVM reimplementations on random inputs:
  *
  * capPerGroup —
  *   - each group keeps exactly min(n, |group|) rows;
  *   - kept rows are a subset of the input, deterministically;
  *   - locality: capping the union of groups equals the union of
  *     per-group caps (one group's members never affect another's).
  *
  * semanticDedup —
  *   - the smallest id of every non-empty cell survives;
  *   - no two same-cell survivors have cosine ≥ threshold (the
  *     dominance rule is strong enough to leave an independent set);
  *   - every dropped vector has a lower-id same-cell mate ≥ threshold;
  *   - survivors match an exact scalar reimplementation (same
  *     float→double casts, index-order sums, smallest-cid tie-break).
  */
class CurationPropertySpec extends SparkSpec {

  import spark.implicits._

  private def forAllSamples[T](gen: Gen[T], n: Int)(body: T => Unit): Unit =
    (1 to n).foreach { i =>
      gen(Gen.Parameters.default, Seed(i.toLong)) match {
        case Some(v) => body(v)
        case None => ()
      }
    }

  // ----------------------------------------------------------- capPerGroup

  private val rowGen = for {
    id <- Gen.choose(0L, 500L)
    grp <- Gen.oneOf("a", "b", "c", "d")
  } yield (id, grp)

  private val rowsGen = Gen.nonEmptyListOf(rowGen).map(_.distinctBy(_._1))

  test("capPerGroup: per-group size, subset, determinism, locality") {
    forAllSamples(rowsGen, 12) { rows =>
      val df = rows.toDF("doc_id", "src")
      val out = Sampling.capPerGroup(df, "src", "doc_id", n = 3)
        .as[(Long, String)].collect().toSet

      val byGroup = rows.groupBy(_._2)
      byGroup.foreach { case (g, members) =>
        assert(out.count(_._2 == g) == math.min(3, members.size), s"group $g")
      }
      assert(out.subsetOf(rows.toSet))
      val again = Sampling.capPerGroup(df, "src", "doc_id", n = 3)
        .as[(Long, String)].collect().toSet
      assert(again == out)
      // locality: capping each group alone keeps the same ids
      byGroup.foreach { case (g, members) =>
        val alone = Sampling.capPerGroup(members.toDF("doc_id", "src"),
          "src", "doc_id", n = 3).as[(Long, String)].collect().toSet
        assert(alone == out.filter(_._2 == g), s"group $g not local")
      }
    }
  }

  // --------------------------------------------------------- semanticDedup

  // small integer lanes produce plenty of parallel / near-parallel pairs
  private val vecGen = for {
    id <- Gen.choose(10L, 200L)
    lanes <- Gen.listOfN(4, Gen.choose(0, 3))
    if lanes.exists(_ != 0) // zero vectors excluded (NaN cosine domain)
  } yield (id, lanes.map(_.toFloat).toArray)

  private val vecsGen = Gen.nonEmptyListOf(vecGen).map(_.distinctBy(_._1))

  private val axes = Seq(
    (1L, Array(1f, 0f, 0f, 0f)),
    (2L, Array(0f, 1f, 0f, 0f)),
    (3L, Array(0f, 0f, 1f, 0f)),
    (4L, Array(0f, 0f, 0f, 1f)))

  /** Bitwise mirror of the Spark kernels: float→double casts, lane-order
    * sums, strict-> argmax over cid-ascending centroids.
    */
  private def cosD(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i).toDouble
      na += a(i).toDouble * a(i).toDouble
      nb += b(i).toDouble * b(i).toDouble
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  private def cellOf(v: Array[Float]): Long =
    axes.foldLeft((-2.0, -1L)) { case (best @ (bs, _), (cid, c)) =>
      val s0 = cosD(v, c)
      val s = if (s0.isNaN) -2.0 else s0
      if (s > bs) (s, cid) else best
    }._2

  test("semanticDedup: min-id survives, survivors independent, drops justified") {
    forAllSamples(vecsGen, 12) { vs =>
      val df = vs.toDF("vec_id", "embedding")
      val cents = axes.toDF("vec_id", "embedding")
      val kept = Similarity.semanticDedup(df, cents, "vec_id", "embedding", 0.9)
        .select("vec_id").as[Long].collect().toSet

      val byId = vs.toMap
      val cells = vs.map { case (id, v) => id -> cellOf(v) }.toMap

      // independent reimplementation of the dominance rule
      val expected = vs.collect {
        case (id, v) if !vs.exists { case (oid, ov) =>
          oid < id && cells(oid) == cells(id) && cosD(ov, v) >= 0.9
        } => id
      }.toSet
      assert(kept == expected)

      // min id of each cell survives
      cells.groupBy(_._2).foreach { case (_, members) =>
        assert(kept.contains(members.keys.min))
      }
      // survivors form an independent set within each cell
      for (a <- kept; b <- kept if a < b && cells(a) == cells(b))
        assert(cosD(byId(a), byId(b)) < 0.9, s"$a,$b too similar")
      // every drop has a lower-id same-cell justification
      (cells.keySet -- kept).foreach { id =>
        assert(vs.exists { case (oid, ov) =>
          oid < id && cells(oid) == cells(id) && cosD(ov, byId(id)) >= 0.9
        }, s"$id dropped without cause")
      }
    }
  }

  // ------------------------------------------------------- dedupDeltaExact

  // small text alphabet forces plenty of cross- and within-batch
  // duplicates; disjoint id ranges mimic corpus-before-delta ingest order
  private val docGen = for {
    id <- Gen.choose(0L, 300L)
    text <- Gen.oneOf("aa", "bb", "cc", "dd", "ee", "ff")
  } yield (id, text)

  private val splitCorpusGen = for {
    corpus <- Gen.listOf(docGen).map(_.distinctBy(_._1))
    delta <- Gen.nonEmptyListOf(docGen)
      .map(_.distinctBy(_._1).map { case (id, t) => (id + 1000L, t) })
  } yield (corpus, delta)

  test("dedupDeltaExact == delta-side survivors of a full union rerun") {
    import graft.operators.Dedup
    forAllSamples(splitCorpusGen, 12) { case (corpus, delta) =>
      val corpusDf = corpus.toDF("doc_id", "text")
      val deltaDf = delta.toDF("doc_id", "text")
      val screened = Dedup.dedupDeltaExact(
        deltaDf, "doc_id", "text", Dedup.digestIndex(corpusDf, "text"))
        .as[(Long, String)].collect().toSet

      // independent in-JVM reimplementation on the union
      val union = corpus ++ delta
      val survivors = union.groupBy(_._2).values.map(_.minBy(_._1)).toSet
      val expected = survivors.filter(_._1 >= 1000L)
      assert(screened == expected)
    }
  }

  // ------------------------------------------------------- mergeSignatures

  test("mergeSignatures: lane-min over member signatures, any grouping") {
    import graft.operators.Dedup
    val docTextGen = for {
      id <- Gen.choose(0L, 60L)
      grp <- Gen.oneOf("x", "y", "z")
      ws <- Gen.listOfN(6, Gen.oneOf("ga", "gb", "gc", "gd", "ge"))
    } yield (id, grp, ws.mkString(" "))
    val corpusGen = Gen.nonEmptyListOf(docTextGen).map(_.distinctBy(_._1))

    forAllSamples(corpusGen, 8) { rows =>
      val df = rows.toDF("doc_id", "grp", "text")
      val sigs = Dedup.minhashSignatures(df, "doc_id", "text", n = 3, k = 8)
        .join(df.select(col("doc_id").as("id"), col("grp")), "id")
      val perDoc = sigs.collect().map(r =>
        r.getAs[String]("grp") ->
          r.getAs[scala.collection.Seq[Long]]("signature").toSeq).toSeq
      val merged = Dedup.mergeSignatures(sigs, "grp")
        .collect().map(r => r.getString(0) ->
          r.getAs[scala.collection.Seq[Long]]("signature").toSeq).toMap

      perDoc.groupBy(_._1).foreach { case (g, members) =>
        val laneMin = members.map(_._2).transpose.map(_.min)
        assert(merged(g) == laneMin, s"group $g")
      }
      assert(merged.keySet == perDoc.map(_._1).toSet)
    }
  }

  // ---------------------------------------------------------- quotaAdmit

  test("quotaAdmit: per-group counts, prefix-of-arrival, subset, determinism") {
    val quotaGen = for {
      a <- Gen.choose(0L, 5L); b <- Gen.choose(0L, 5L); c <- Gen.choose(0L, 5L)
    } yield Map("a" -> a, "b" -> b, "c" -> c)
    val cased = for { rows <- rowsGen; q <- quotaGen } yield (rows, q)
    forAllSamples(cased, 12) { case (rows, allocs) =>
      val df = rows.toDF("doc_id", "src")
      val quota = allocs.toSeq.toDF("src", "alloc")
      val out = Sampling.quotaAdmit(df, "src", "doc_id", "doc_id", quota)
        .select("doc_id", "src").as[(Long, String)].collect().toSet
      val byGroup = rows.groupBy(_._2)
      byGroup.foreach { case (g, members) =>
        val cap = allocs.getOrElse(g, 0L)
        // exactly min(alloc, |group|) admitted, and they are the PREFIX
        // of the group's arrival (seq = doc_id) order — the enforcement
        // semantics, unlike capPerGroup's unbiased hash order
        val expected = members.map(_._1).sorted.take(cap.toInt).toSet
        assert(out.filter(_._2 == g).map(_._1) == expected, s"group $g")
      }
      assert(out.subsetOf(rows.toSet))
      // "d" never has a quota row -> admits nothing even if present
      assert(out.forall(_._2 != "d"))
    }
  }

  // ------------------------------------------------ kAnonymityGeneralize

  test("kAnonymityGeneralize: level minimality, release soundness, suppression") {
    val genRow = for {
      id <- Gen.choose(0L, 300L)
      lang <- Gen.oneOf("en", "de")
      n <- Gen.choose(0L, 300L)
    } yield (id, lang, n)
    forAllSamples(Gen.nonEmptyListOf(genRow).map(_.distinctBy(_._1)), 10) { rows =>
      val k = 3L
      val df = rows.toDF("id", "lang", "n")
      val out = graft.operators.Profile.kAnonymityGeneralize(
        df,
        levels = Seq(
          Seq("lang" -> col("lang"), "b" -> expr("n div 10")),
          Seq("lang" -> col("lang"), "b" -> expr("n div 100")),
          Seq("lang" -> col("lang"))),
        k = k)
        .collect().map(r => r.getAs[Long]("id") ->
          ((r.getAs[Int]("gen_level"), r.getAs[Long]("k_group"), r.getAs[Boolean]("keep"))))
        .toMap
      // independent reimplementation: per-row minimal clearing level
      def key(r: (Long, String, Long), lvl: Int): Product = lvl match {
        case 0 => (r._2, r._3 / 10); case 1 => (r._2, r._3 / 100); case _ => Tuple1(r._2)
      }
      val counts = (0 to 2).map(l => rows.groupBy(key(_, l)).map { case (kk, v) => kk -> v.size.toLong })
      rows.foreach { r =>
        val lvl = (0 to 2).find(l => counts(l)(key(r, l)) >= k).getOrElse(3)
        val kg = if (lvl <= 2) counts(lvl)(key(r, lvl)) else counts(2)(key(r, 2))
        assert(out(r._1) == ((lvl, kg, lvl <= 2)), s"row $r")
      }
      // release soundness: every released row's group at its level clears k
      assert(out.values.forall { case (lvl, kg, keep) => !keep || (kg >= k && lvl <= 2) })
    }
  }

  // -------------------------------------------------------- encodeIds

  test("encodeIds: concatenating looked-up symbols reconstructs each document") {
    // round-trip property on random word corpora: the id stream, mapped
    // back through the (id -> symbol) table, must spell out exactly the
    // whitespace-split document — the tokenizer loses nothing
    val wordGen = Gen.nonEmptyListOf(Gen.oneOf("ab", "ba", "abc", "a", "cc"))
      .map(_.take(6).mkString(" "))
    val corpusGen2 = Gen.nonEmptyListOf(wordGen).map(_.take(8).zipWithIndex.map {
      case (t, i) => (i.toLong, t)
    })
    forAllSamples(corpusGen2, 8) { rows =>
      val docs = rows.toDF("doc_id", "text")
      val dict = graft.operators.Vocab.mergedDict(docs, "text", iters = 2)
      val symOf = graft.operators.Vocab.subwordIds(dict)
        .as[(String, Long)].collect().map(_.swap).toMap
      val ids = graft.operators.Vocab.encodeIds(docs, "doc_id", "text", dict)
        .as[(Long, Long, Long)].collect()
      graft.operators.Guard.unpin(dict)
      val rebuilt = ids.groupBy(_._1).view.mapValues(
        _.sortBy(_._2).map(t => symOf(t._3)).mkString).toMap
      rows.foreach { case (id, text) =>
        assert(rebuilt.getOrElse(id, "") == text.split("\\s+").filter(_.nonEmpty).mkString,
          s"doc $id")
      }
    }
  }

  test("property: dropReasons attributes each id to its FIRST dropping stage") {
    val idsGen = Gen.listOfN(30, Gen.chooseNum(0L, 19L)).map(_.distinct)
    forAllSamples(for {
      all <- idsGen
      s1 <- idsGen; s2 <- idsGen; s3 <- idsGen
    } yield (all, s1, s2, s3), 25) { case (all, s1raw, s2raw, s3raw) =>
      // enforce pipeline monotonicity: each stage survives a subset of
      // the previous (as real pipelines do)
      val s1 = s1raw.filter(all.contains)
      val s2 = s2raw.filter(s1.contains)
      val s3 = s3raw.filter(s2.contains)
      import spark.implicits._
      val got = graft.operators.Profile.dropReasons(
        all.toDF("id"), "id",
        Seq("a" -> s1.toDF("id"), "b" -> s2.toDF("id"), "c" -> s3.toDF("id")))
        .as[(Long, String)].collect().toMap
      val expect = all.map { id =>
        id -> (if (!s1.contains(id)) "a"
               else if (!s2.contains(id)) "b"
               else if (!s3.contains(id)) "c"
               else "kept")
      }.toMap
      assert(got == expect)
    }
  }

  test("snapshotDiff covers all four statuses, including added") {
    import spark.implicits._
    val before = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "text")
    val after = Seq((1L, "a"), (2L, "B2"), (4L, "new")).toDF("id", "text")
    val got = graft.operators.Profile.snapshotDiff(before, after, "id", "text")
      .as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "unchanged", 2L -> "changed",
      3L -> "removed", 4L -> "added"))
  }

  test("property: applyLog equals the scalar keep-latest-with-tombstones fold") {
    import spark.implicits._
    val baseGen = Gen.listOfN(12, Gen.chooseNum(0L, 9L)).map(_.distinct)
    val logGen = Gen.listOfN(25, for {
      k <- Gen.chooseNum(0L, 12L) // keys beyond the base → inserts
      seq <- Gen.chooseNum(1L, 6L)
      op <- Gen.oneOf("U", "D")
      v <- Gen.alphaStr.map(_.take(4))
    } yield (k, v, seq, op))
    forAllSamples(baseGen.flatMap(b => logGen.map(b -> _)), 30) { case (baseKeys, logRaw) =>
      // applyLog's contract: unique seq per key (CDC offsets)
      val log = logRaw.groupBy(t => (t._1, t._3)).map(_._2.head).toSeq
      val base = baseKeys.map(k => (k, s"base$k")).toDF("k", "v")
      val got = graft.operators.Changelog
        .applyLog(base, log.toDF("k", "v", "seq", "op"), Seq("k"), "seq", "op")
        .as[(Long, String)].collect().toSet
      val expect = (baseKeys.map(k => (k, s"base$k", Long.MinValue, "U")) ++ log)
        .groupBy(_._1)
        .map { case (_, versions) => versions.maxBy(_._3) }
        .filter(_._4 != "D")
        .map(v => (v._1, v._2))
        .toSet
      assert(got == expect)
    }
  }
}
