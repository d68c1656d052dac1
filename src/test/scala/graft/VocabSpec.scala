package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Sampling, Vocab}

/** BPE vocabulary induction, shared-span dedup, and temperature
  * allocation invariants.
  */
class VocabSpec extends SparkSpec {

  import spark.implicits._

  test("pairCounts: hand-computed pair statistics on a tiny corpus") {
    // "ab ab cd" + "ab" → token counts: ab=3, cd=1
    // pairs: (a,b) weighted 3, (c,d) weighted 1
    val docs = Seq("ab ab cd", "ab").toDF("text")
    val got = Vocab.pairCounts(docs, "text")
      .as[(String, String, Long)].collect().toSet
    assert(got == Set(("a", "b", 3L), ("c", "d", 1L)))
  }

  test("pairCounts: single-symbol tokens contribute nothing") {
    val docs = Seq("a a a bc").toDF("text")
    val got = Vocab.pairCounts(docs, "text")
      .as[(String, String, Long)].collect().toSet
    assert(got == Set(("b", "c", 1L)))
  }

  test("topMerge: argmax with deterministic lexicographic tie-break") {
    // (a,b) and (b,a) both count 2 → tie broken on left_sym: (a,b) wins
    val docs = Seq("ab ab ba ba").toDF("text")
    val got = Vocab.topMerge(Vocab.pairCounts(docs, "text"))
      .as[(String, String, Long)].collect().toSeq
    assert(got == Seq(("a", "b", 2L)))
  }

  test("topMerge plans TakeOrderedAndProject (no global sort)") {
    val docs = Seq("ab cd", "ab").toDF("text")
    val plan = Vocab.topMerge(Vocab.pairCounts(docs, "text"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("applyMerge: greedy left-to-right, overlapping runs merge correctly") {
    // corpus "aaa ab": merge argmax is (a,a) count 2 (beats (a,b) via count).
    // Applying (a,a): "aaa" → [aa, a]; "ab" → [a, b].
    // Recounted pairs: (aa,a)=1, (a,b)=1.
    val docs = Seq("aaa ab").toDF("text")
    val dict = Vocab.symbols(docs, "text")
    val merge = Vocab.topMerge(Vocab.pairStats(dict))
    assert(merge.as[(String, String, Long)].collect().toSeq == Seq(("a", "a", 2L)))
    val iter2 = Vocab.pairStats(Vocab.applyMerge(dict, merge))
      .as[(String, String, Long)].collect().toSet
    assert(iter2 == Set(("aa", "a", 1L), ("a", "b", 1L)))
  }

  test("encode: per-doc subword counts under a 1-merge and 2-merge dict") {
    // tokenCounts: aa=2, b=1, aab=1 → merge1 = (a,a) [count 3 beats (a,b)=1]
    // after merge1: aa→[aa], b→[b], aab→[aa,b]
    // merge2 = (aa,b) [only pair left] → aab→[aab]
    val docs = Seq((1L, "aa aa b"), (2L, "aab")).toDF("doc_id", "text")
    val one = Vocab.encode(docs, "doc_id", "text", Vocab.mergedDict(docs, "text", 1))
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(one == Set((1L, 3L, 3L, 0L), (2L, 1L, 2L, 0L)))
    val two = Vocab.encode(docs, "doc_id", "text", Vocab.mergedDict(docs, "text", 2))
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(two == Set((1L, 3L, 3L, 0L), (2L, 1L, 1L, 0L)))
  }

  test("encode: zero-merge dict tokenizes to characters") {
    val docs = Seq((7L, "abc de")).toDF("doc_id", "text")
    val got = Vocab.encode(docs, "doc_id", "text", Vocab.mergedDict(docs, "text", 0))
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((7L, 2L, 5L, 0L)))
  }

  test("encode: OOV words under a disjoint-corpus dictionary fall back to chars") {
    // dictionary trained on corpus A; corpus B carries words A never saw
    val trainDocs = Seq((1L, "aa aa b"), (2L, "aab")).toDF("doc_id", "text")
    val dict = Vocab.mergedDict(trainDocs, "text", 2)
    // "aab" in-vocab (1 subword after 2 merges); "xyz" and "qq" are OOV
    // → char fallback 3 + 2, counted in n_oov; n_words is the TRUE count
    val other = Seq((9L, "aab xyz qq")).toDF("doc_id", "text")
    val got = Vocab.encode(other, "doc_id", "text", dict)
      .as[(Long, Long, Long, Long)].collect().toSeq
    graft.operators.Guard.unpin(dict)
    assert(got == Seq((9L, 3L, 1L + 3L + 2L, 2L)))
  }

  test("subwordIds: dense 1-based lexicographic ranks, 0 reserved for <eos>") {
    val docs = Seq((1L, "aa aa b"), (2L, "aab")).toDF("doc_id", "text")
    val dict = Vocab.mergedDict(docs, "text", 2)
    // dict symbols after 2 merges: aa→[aa], b→[b], aab→[aab]
    val ids = Vocab.subwordIds(dict)
      .as[(String, Long)].collect().toMap
    graft.operators.Guard.unpin(dict)
    assert(ids == Map("aa" -> 1L, "aab" -> 2L, "b" -> 3L))
    assert(!ids.values.exists(_ == 0L), "id 0 is reserved for <eos>")
  }

  test("encodeIds: the per-doc token-id sequence under the trained dict") {
    val docs = Seq((1L, "aa aa b"), (2L, "aab")).toDF("doc_id", "text")
    val dict = Vocab.mergedDict(docs, "text", 2)
    // ids: aa=1, aab=2, b=3 → doc1 "aa aa b" = [1,1,3]; doc2 "aab" = [2]
    val got = Vocab.encodeIds(docs, "doc_id", "text", dict)
      .as[(Long, Long, Long)].collect().toSet
    graft.operators.Guard.unpin(dict)
    assert(got == Set(
      (1L, 1L, 1L), (1L, 2L, 1L), (1L, 3L, 3L),
      (2L, 1L, 2L)))
  }

  test("encodeIds: multi-symbol words emit ids in within-word symbol order") {
    // zero merges → every word is its character sequence; char ids are
    // lexicographic ranks over the distinct chars {a=1, b=2, c=3}
    val docs = Seq((5L, "cab ba")).toDF("doc_id", "text")
    val dict = Vocab.mergedDict(docs, "text", 0)
    val got = Vocab.encodeIds(docs, "doc_id", "text", dict)
      .orderBy("pos").as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (5L, 1L, 3L), (5L, 2L, 1L), (5L, 3L, 2L), // c a b
      (5L, 4L, 2L), (5L, 5L, 1L)))              // b a
  }

  test("encodeIdsFallback: OOV words emit char ids; unknown chars drop") {
    // dict trained on "aa ab" → symbols {a, b, aa(?)...} with 2 merges
    val train = Seq((1L, "aa ab aa")).toDF("doc_id", "text")
    val dict = Vocab.mergedDict(train, "text", 2)
    // "ba" is OOV (not a trained surface form) → chars b, a;
    // "ax" contains x, outside the training alphabet → only a survives
    val docs = Seq((9L, "aa ba ax")).toDF("doc_id", "text")
    // after (a,a)->aa and (a,b)->ab, the lone chars a and b survive in
    // NO final segmentation — only the alphabet-extended id space can
    // encode the fallback (the exact hole subwordIdsWithAlphabet plugs)
    val symToId = Vocab.subwordIdsWithAlphabet(dict)
      .as[(String, Long)].collect().toMap
    assert(symToId.keySet == Set("a", "b", "aa", "ab"))
    val got = Vocab.encodeIdsFallback(docs, "doc_id", "text", dict)
      .orderBy("pos").as[(Long, Long, Long)].collect().toSeq
    graft.operators.Guard.unpin(dict)
    val idsOnly = got.map(_._3)
    // "aa" in-vocab -> [aa]; "ba" OOV -> chars b, a; "ax" OOV -> a only
    // (x is outside the training alphabet and drops)
    assert(got.map(_._2) == (1L to idsOnly.size.toLong))
    assert(idsOnly == Seq(
      symToId("aa"), symToId("b"), symToId("a"), symToId("a")))
  }

  test("decodeIds inverts encodeIds: whitespace-stripped text round-trips") {
    val docs = Seq((1L, "aa aa b"), (2L, "aab"), (3L, "b  aa\tb")).toDF("doc_id", "text")
    val dict = Vocab.mergedDict(docs, "text", 2)
    val got = Vocab
      .decodeIds(Vocab.encodeIds(docs, "doc_id", "text", dict), "doc_id", dict)
      .as[(Long, String)].collect().toMap
    graft.operators.Guard.unpin(dict)
    assert(got == Map(1L -> "aaaab", 2L -> "aab", 3L -> "baab"))
  }

  test("decodeIds: doc with no tokens yields no row") {
    val docs = Seq((1L, "ab"), (2L, "  \t ")).toDF("doc_id", "text")
    val dict = Vocab.mergedDict(docs, "text", 0)
    val got = Vocab
      .decodeIds(Vocab.encodeIds(docs, "doc_id", "text", dict), "doc_id", dict)
      .as[(Long, String)].collect().toMap
    graft.operators.Guard.unpin(dict)
    assert(got == Map(1L -> "ab"))
  }

  test("spanDedup: the contained smaller doc is dropped, the host survives") {
    val span = (1 to 15).map(i => s"s$i").mkString(" ")
    val host = span + " " + (1 to 20).map(i => s"extra$i").mkString(" ")
    val docs = Seq(
      (1L, host),                                  // 35 tokens, survives
      (2L, span),                                  // 15 tokens, 15-span: 30 >= 15 -> dropped
      (3L, (1 to 18).map(i => s"other$i").mkString(" "))
    ).toDF("doc_id", "text")
    val kept = graft.operators.Dedup.spanDedup(docs, "doc_id", "text")
      .select("id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L))
  }

  test("sharedSpans: exact span length on a planted 15-token overlap") {
    val shared = (1 to 15).map(i => s"s$i").mkString(" ")
    val docs = Seq(
      (1L, s"x1 x2 x3 $shared y1 y2"),
      (2L, s"z1 $shared w1 w2 w3"),
      (3L, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10 u11 u12 u13 u14 u15 u16")
    ).toDF("doc_id", "text")
    val got = Dedup.sharedSpans(docs, "doc_id", "text", k = 8, minSpan = 12)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 2L, 15L)))
  }

  test("sharedSpans: overlaps below minSpan are excluded") {
    val shared = (1 to 10).map(i => s"s$i").mkString(" ") // span 10 < 12
    val docs = Seq(
      (1L, s"x1 x2 x3 $shared y1 y2"),
      (2L, s"z1 $shared w1 w2 w3")
    ).toDF("doc_id", "text")
    assert(Dedup.sharedSpans(docs, "doc_id", "text", k = 8, minSpan = 12).isEmpty)
  }

  test("sharedSpans: hot anchors (docfreq > cap) generate no candidates") {
    // The same 20-token passage in 5 docs with cap 3: every anchor of
    // the passage is hot, so no pair survives — the boilerplate guard.
    val passage = (1 to 20).map(i => s"p$i").mkString(" ")
    val docs = (1L to 5L).map(i => (i, s"head$i $passage tail$i"))
      .toDF("doc_id", "text")
    assert(Dedup.sharedSpans(docs, "doc_id", "text", k = 8, minSpan = 12,
      maxDocFreq = 3).isEmpty)
    // With the cap above the passage's docfreq all 10 pairs appear.
    assert(Dedup.sharedSpans(docs, "doc_id", "text", k = 8, minSpan = 12,
      maxDocFreq = 16).count() == 10L)
  }

  test("temperatureAlloc: flattens shares, floors, and respects the budget") {
    val rows = ((1L to 900L).map((_, "big")) ++ (901L to 1000L).map((_, "small")))
      .toDF("id", "g")
    val asMap = Sampling.temperatureAlloc(rows, "g", budget = 1000L)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val (nBig, aBig) = asMap("big")
    val (nSmall, aSmall) = asMap("small")
    assert(nBig == 900L && nSmall == 100L)
    // sqrt temperature: shares 30/(30+10)=0.75 and 10/40=0.25
    assert(aBig == 750L && aSmall == 250L)
    assert(aBig + aSmall <= 1000L)
    // flatter than proportional: small group's rate is upsampled
    assert(aSmall.toDouble / nSmall > aBig.toDouble / nBig)
  }

  test("curriculumStages: rank-arithmetic bands, best rows in stage 0") {
    // one group of 10, score = id → best (highest score) is id 9
    val rows = (0L until 10L).map(i => (i, "g", i.toDouble)).toDF("id", "g", "score")
    val got = Sampling.curriculumStages(rows, "g", "score", "id", stages = 4)
      .collect().map(r => r.getLong(0) -> r.getInt(3)).toMap
    // rank by score desc: id 9 → rank 1 → stage 0; id 0 → rank 10 → stage 3
    assert(got(9L) == 0 && got(0L) == 3)
    // ((rank-1)*4) div 10 band sizes: 3, 2, 3, 2
    val sizes = got.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(sizes == Map(0 -> 3, 1 -> 2, 2 -> 3, 3 -> 2))
  }

  test("temperatureAlloc: uniform groups allocate equally") {
    val rows = (0L until 300L).map(i => (i, s"g${i % 3}")).toDF("id", "g")
    val allocs = Sampling.temperatureAlloc(rows, "g", budget = 999L)
      .collect().map(_.getLong(2)).toSeq
    assert(allocs == Seq(333L, 333L, 333L))
  }

  test("encodeIdsBytes/decodeIdsBytes: byte fallback round-trips astral-plane input exactly") {
    import graft.operators.Vocab
    val train = Seq((1L, "aa ab aa"), (2L, "ba ab")).toDF("doc_id", "text")
    val dict = Vocab.mergedDict(train, "text", iters = 1)
    // apply to text the alphabet has never seen: emoji (surrogate
    // pairs), astral musical symbol, accented latin — all OOV words
    val docs = Seq(
      (1L, "aa 😀🚀 ab"),
      (2L, "𝄞clef ba café"),
      (3L, "😺")
    ).toDF("doc_id", "text")
    val ids = Vocab.encodeIdsBytes(docs, "doc_id", "text", dict)
    // byte-page ids sit at ByteIdBase+b; subword ids stay below
    val tid = ids.select("token_id").collect().map(_.getLong(0))
    assert(tid.exists(_ >= Vocab.ByteIdBase) && tid.exists(_ < Vocab.ByteIdBase))
    val got = Vocab.decodeIdsBytes(ids, "doc_id", dict)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    graft.operators.Guard.unpin(dict)
    assert(got == Map(
      1L -> "aa😀🚀ab",
      2L -> "𝄞clefbacafé",
      3L -> "😺"), got.toString)
  }

  test("encodeIdsBytes: positions are contiguous per document across both id paths") {
    import graft.operators.Vocab
    val train = Seq((1L, "aa ab")).toDF("doc_id", "text")
    val dict = Vocab.mergedDict(train, "text", iters = 1)
    val docs = Seq((7L, "aa 😀 ab")).toDF("doc_id", "text")
    val pos = Vocab.encodeIdsBytes(docs, "doc_id", "text", dict)
      .orderBy("pos").select("pos").collect().map(_.getLong(0)).toSeq
    graft.operators.Guard.unpin(dict)
    assert(pos == (1L to pos.length.toLong), pos.toString)
    // "aa"(1-2 syms) + 😀(4 bytes) + "ab"(syms) — the byte run sits between
    assert(pos.length >= 6)
  }

  test("packBins: 500-language corpus trips the broadcast guard, result bit-identical") {
    // |langs| * 2^16 = 500 * 65536 >> MaxBroadcastOffsetRows, so the
    // offsets add-back must degrade to a shuffle join — and the bin
    // assignment must equal the flat per-lang running sum regardless
    val nDocs = 1500
    // ids SPREAD over a wide range so the bucket-id range is the full
    // ~2^16 — the guard bound is |langs| * actual buckets, and a dense
    // id range would collapse to nDocs buckets and legitimately
    // broadcast
    val docs = (0 until nDocs).map(i => (i.toLong * 100000L, s"lang${i % 500}"))
      .toDF("doc_id", "lang")
    // per-doc token counts: 1 + i % 700 (some docs span bins)
    val stream = (0 until nDocs).flatMap { i =>
      (0 until (1 + i % 700)).map(p => (i.toLong * 100000L, p.toLong + 1L, 0L))
    }.toDF("doc_id", "pos", "token_id")
    assert(500L * 65536L > graft.queries.TokenizerQueries.MaxBroadcastOffsetRows)
    val bins = graft.queries.TokenizerQueries.packBins(stream, docs)
    // guard tripped: the broadcast is no longer FORCED by hint — a
    // bound-busting offsets frame is left to AQE, which broadcasts
    // only when the ACTUAL size fits (here it does; that's fine)
    assert(packBinsJoinHints(bins).isEmpty,
      "offsets must not carry a forced broadcast hint past the guard")
    val got = bins.collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    // flat-window reference: per-lang running sum in doc_id order
    val byLang = (0 until nDocs).groupBy(_ % 500)
    val expected = scala.collection.mutable.Map.empty[Long, Long]
    byLang.values.foreach { ids =>
      var cum = 0L
      ids.sorted.foreach { i =>
        val n = 1L + i % 700
        expected(i.toLong * 100000L) = cum / 2048L // bin of the doc's FIRST token
        cum += n
      }
    }
    assert(got.size == nDocs)
    got.foreach { case (id, bin) =>
      assert(bin == expected(id), s"doc $id: got bin $bin, want ${expected(id)}")
    }
  }

  test("packBins: few-language corpus still broadcasts the offsets frame") {
    val docs = (0 until 50).map(i => (i.toLong, s"lang${i % 3}")).toDF("doc_id", "lang")
    val stream = (0 until 50).map(i => (i.toLong, 1L, 0L)).toDF("doc_id", "pos", "token_id")
    val bins = graft.queries.TokenizerQueries.packBins(stream, docs)
    assert(packBinsJoinHints(bins).nonEmpty,
      "offsets must carry the forced broadcast hint under the guard")
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    assert(graft.queries.Q.planNodes(bins).exists(_.isInstanceOf[BroadcastHashJoinExec]),
      "offsets must broadcast under the guard")
    assert(bins.count() == 50L)
  }

  /** Joins in the optimized plan carrying an explicit (hinted) join
    * strategy — how the guard's force-broadcast decision is observed. */
  private def packBinsJoinHints(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
          if j.hint.leftHint.exists(_.strategy.isDefined) ||
            j.hint.rightHint.exists(_.strategy.isDefined) => j
    }

  test("perDocIdCounts equals the id-stream count derivation, whitespace-only docs included") {
    import graft.operators.Vocab
    // edge cases on purpose: repeated words, a whitespace-only doc
    // (zero kept words -> __n = 1, the <eos> alone), multi-char words
    val docs = Seq(
      (1L, "en", "aa ab aa"),
      (2L, "de", "   "),
      (3L, "en", "b aab aa")).toDF("doc_id", "lang", "text")
    val dict = Vocab.mergedDict(docs, "text", iters = 2)
    val ids = Vocab.encodeIds(docs, "doc_id", "text", dict)
    val stream = ids.unionByName(
      docs.select(col("doc_id"), lit(Int.MaxValue.toLong).as("pos"),
        lit(0L).as("token_id")))
    val fromStream = stream.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("__n"))
      .join(docs.select(col("doc_id"), col("lang")), "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val cheap = graft.queries.TokenizerQueries.perDocIdCounts(docs, dict)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    graft.operators.Guard.unpin(dict)
    assert(cheap == fromStream, s"cheap=$cheap stream=$fromStream")
    // the whitespace-only doc is exactly its <eos>
    assert(cheap.exists(t => t._1 == 2L && t._2 == 1L))
  }

  test("packBins: empty corpus yields an empty bins frame, not a crash") {
    val stream = Seq.empty[(Long, Long, Long)].toDF("doc_id", "pos", "token_id")
    val docs = Seq.empty[(Long, String)].toDF("doc_id", "lang")
    val bins = graft.queries.TokenizerQueries.packBins(stream, docs)
    assert(bins.columns.toSeq == Seq("doc_id", "lang", "bin"))
    assert(bins.count() == 0L)
  }
}
