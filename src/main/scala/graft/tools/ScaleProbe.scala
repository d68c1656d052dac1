package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.operators.{Dedup, Guard, Similarity}
import graft.queries.Q

/** Scale-behavior probe: times the bucket-candidate operators on 1x/2x/
  * 4x/8x self-replications of the fixture corpus (ids shifted per copy so
  * replicas are near-dups of each other — the worst realistic case for
  * candidate generation). Near-linear growth validates the bucket-join
  * design; super-linear growth flags a quadratic leak.
  *
  * Usage: runMain graft.tools.ScaleProbe [sfDir] [copies] [opPrefixes]
  *   copies     comma-separated multipliers (default 1,2,4,8)
  *   opPrefixes comma-separated probe-label prefixes to run (default all)
  * e.g. `ScaleProbe /root/testdata/sf0.1 1,16,32 semantic_dedup,kmeans_update,ivf`
  * extends the evidence two more octaves for selected operators without
  * paying for the whole battery at x32.
  */
object ScaleProbe {

  private def replicate(df: DataFrame, idCol: String, copies: Int): DataFrame = {
    val shift = df.agg(max(col(idCol))).head().getLong(0) + 1L
    (0 until copies).map { c =>
      df.withColumn(idCol, col(idCol) + lit(c * shift))
    }.reduce(_ unionByName _)
  }

  private def time(label: String)(body: => Long): Unit = {
    val t0 = System.nanoTime()
    val rows = body
    println(f"[probe] $label%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s  ($rows rows)")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val copies = args.lift(1).map(_.split(",").map(_.trim.toInt).toSeq)
      .getOrElse(Seq(1, 2, 4, 8))
    val opPrefixes = args.lift(2).map(_.split(",").map(_.trim).toSeq)
    def selected(label: String): Boolean =
      opPrefixes.forall(_.exists(label.startsWith))
    def probe(label: String)(body: => Long): Unit =
      if (selected(label)) time(label)(body)
    val spark = GraftSession.forMain("ERROR")
    import spark.implicits._

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
    val events = graft.queries.Q.events(spark, sfDir)
    var lastIndexPath: String = null // handoff from ivf_persist_build to _probe

    copies.foreach { k =>
      val d = replicate(docs, "doc_id", k)
      val media = d.select(col("doc_id").as("media_id")) // the decoder probes' keys
      val e = replicate(emb, "vec_id", k)
      probe(s"minhash_lsh x$k") {
        Dedup.minhashLshPairs(d, "doc_id", "text").count()
      }
      probe(s"jaccard x$k") {
        Dedup.jaccardPairs(d, "doc_id", "text", 3, 0.4).count()
      }
      probe(s"jaccard_collapsed x$k") {
        Dedup.nearDupPairsCollapsed(d, "doc_id", "text", 3, 0.4).count()
      }
      // containment shares jaccard's two-shuffle candidate core; the
      // asymmetric measure admits more pairs (subset dups), so output
      // grows with genuine containment mass, time with the same buckets
      probe(s"containment x$k") {
        Dedup.containmentPairs(d, "doc_id", "text", 3, 0.5).count()
      }
      // the production order: exact-collapse first — replicas (mutual
      // containment-1.0 pairs) collapse away, so cost and output track
      // DISTINCT content and must stay flat under replication
      probe(s"containment_collapsed x$k") {
        Dedup.containmentPairsCollapsed(d, "doc_id", "text", 3, 0.5).count()
      }
      // span policy: sharedSpans' anchor join + a pair-sized victim
      // reduction + one corpus anti-join — survivors track distinct
      // content, time tracks the anchor join
      probe(s"span_dedup x$k") {
        Dedup.spanDedup(d, "doc_id", "text").count()
      }
      probe(s"simhash_pairs x$k") {
        Dedup.simhashPairs(d, "doc_id", "text").count()
      }
      // Replicas share FULL spans, so matched-pair output grows ~k² by
      // construction until the hot-anchor cap (docfreq > 16) starts
      // dropping replicated grams — the guard that keeps boilerplate
      // from pairing everything with everything at corpus scale.
      probe(s"shared_span x$k") {
        Dedup.sharedSpans(d, "doc_id", "text").count()
      }
      // Corpus-sized stage is the word-count shuffle (linear in k);
      // the pair expansion runs on the distinct-token dictionary,
      // whose size is constant under replication.
      probe(s"bpe_pairs x$k") {
        graft.operators.Vocab.pairCounts(d, "text").count()
      }
      // Broadcast-fold assignment (scan-bound) + a k-row partial-agg
      // struct-min: output is always |clusters| rows.
      probe(s"coreset_reps x$k") {
        graft.operators.Clustering.coresetReps(e, "vec_id", "embedding",
          graft.operators.Clustering.initialCentroids(
            e, "vec_id", "embedding", 8)).count()
      }
      // Surprisal (two partial-agg shuffles) + per-lang rank windows;
      // kept set stays exactly a quarter of the corpus.
      probe(s"hard_examples x$k") {
        val sur = graft.operators.TextAnalysis
          .unigramSurprisal(d, "doc_id", "text")
          .withColumnRenamed("id", "doc_id")
          .join(d.select(col("doc_id"), col("lang")), "doc_id")
          .withColumn("tab_rate", col("nll_tab") / col("n_tokens").cast("double"))
          .withColumn("__hard", -col("tab_rate"))
        graft.operators.Normalize.topFractionByGroup(
          sur, "lang", "__hard", "doc_id", 250000L).count()
      }
      probe(s"srp_neardup x$k") {
        Similarity.srpNearDupPairs(e, "vec_id", "embedding", 0.99).count()
      }
      // exact-collapse first, THEN clusters over the collapsed corpus —
      // the production composition; stays flat under replication
      probe(s"clusters_collapsed x$k") {
        Dedup.nearDupClusters(
          Dedup.dropExactDuplicates(d, "doc_id", "text"),
          "doc_id", "text", 3, 0.4).count()
      }
      // replicas of a doc share a base id → k "versions" per key; the
      // representative shape (many keys, bounded versions per key)
      val nDocs = docs.count() // outside the timed block: unrelated work
      probe(s"keep_latest x$k") {
        val versioned = d.withColumn("base_id",
          pmod(col("doc_id"), lit(nDocs)))
        Dedup.keepLatest(versioned, Seq("base_id"), Seq(col("doc_id").desc)).count()
      }
      // broadcast-screen decontamination: bench side fixed, corpus ×k —
      // must scale with the corpus scan, not the product
      probe(s"decontaminate x$k") {
        graft.operators.Decontaminate.contaminatedDocs(
          d, docs.filter(col("doc_id") < 50), "doc_id", "text", 5).count()
      }
      // fuzzy join runs on the DISTINCT vocabulary — replication must
      // not grow it (the dedupe-the-vocab-not-the-rows design)
      probe(s"fuzzy_names x$k") {
        val names = d.groupBy(col("text").substr(1, 20).as("name"))
          .agg(min(col("doc_id")).as("id"))
        graft.operators.FuzzyJoin.selfPairs(names, "id", "name", 2).count()
      }
      // event ops replicated by USER (new user ids per copy): both are
      // key-partitioned — growth must be linear in users
      val ev = replicate(events, "user_id", k)
      probe(s"resample_ffill x$k") {
        graft.operators.TimeSeries.resampleFfill(
          ev, "user_id", "ts", "value", "event_id", 3600L).count()
      }
      probe(s"funnel x$k") {
        graft.operators.Funnel.steps(
          ev, "user_id", "ts", "event_type", Seq("view", "click", "purchase")).count()
      }
      // passage dedup: replicated docs contribute only duplicate
      // passages, so surviving rows stay FLAT while scan cost grows
      // linearly — the exact-collapse shape at sub-document granularity
      probe(s"passage_dedup x$k") {
        Dedup.dedupPassages(d, "doc_id", "text", 32, 32).count()
      }
      // k-means assignment is map-side (broadcast centroid fold):
      // growth must track the scan alone, no shuffle to inflate
      probe(s"kmeans_assign x$k") {
        graft.operators.Clustering.assign(e, "vec_id", "embedding",
          graft.operators.Clustering.initialCentroids(
            emb, "vec_id", "embedding", 8)).count()
      }
      // semantic dedup: replicas are exact cell-mates of their base
      // vector, so within-cell pair work grows k^2 per cell — the
      // survivors must stay FLAT (one per base vector) while the
      // candidate cost demonstrates why cell count is the scale dial
      probe(s"semantic_dedup x$k") {
        Similarity.semanticDedup(e,
          emb.orderBy(col("vec_id")).limit(64),
          "vec_id", "embedding", 0.99).count()
      }
      // production k-means update: one partial-aggregated shuffle,
      // scalar reducer state — growth must be linear in the scan
      probe(s"kmeans_update_scale x$k") {
        graft.operators.Clustering.updateStepAtScale(e, "embedding",
          graft.operators.Clustering.initialCentroids(
            emb, "vec_id", "embedding", 8)).count()
      }
      // persisted IVF: index build+write grows with the corpus; the
      // PROBE must stay ~flat — dynamic partition pruning reads only
      // the probed cells regardless of total index size
      probe(s"ivf_persist_build x$k") {
        val path = graft.queries.Q.scratch(s"probe_ivfidx_x$k")
        Similarity.assignToCentroids(
            e, emb.orderBy(col("vec_id")).limit(16), "vec_id", "embedding")
          .write.mode("overwrite").partitionBy("centroid_id").parquet(path)
        lastIndexPath = path
        spark.read.parquet(path).count()
      }
      // BM25: query-term filter runs map-side, stats broadcast — growth
      // must track the scan, not the token stream
      probe(s"bm25 x$k") {
        graft.operators.TextAnalysis.bm25(
          d, "doc_id", "text", Seq("join", "vector", "stream")).count()
      }
      // incremental exact dedup: delta fixed, index ×k. The index is
      // PERSISTED outside the timed block (the deployment shape — a
      // nightly delta joins an existing index), so the timing shows the
      // delta screen alone: delta + one digest join, corpus never read
      if (selected(s"dedup_delta x$k")) {
        val idxPath = graft.queries.Q.scratch(s"probe_digidx_x$k")
        Dedup.digestIndex(d, "text").write.mode("overwrite").parquet(idxPath)
        probe(s"dedup_delta x$k") {
          Dedup.dedupDeltaExact(docs.limit(200), "doc_id", "text",
            spark.read.parquet(idxPath)).count()
        }
      }
      // near-dup delta screen: delta fixed, signature index ×k — the
      // persisted-index read + band join must track delta + index
      // size, never corpus text (index written outside the timing)
      if (selected(s"neardup_delta x$k")) {
        val sigPath = graft.queries.Q.scratch(s"probe_sigidx_x$k")
        Dedup.minhashSignatures(d, "doc_id", "text", 3, 32)
          .write.mode("overwrite").parquet(sigPath)
        probe(s"neardup_delta x$k") {
          Dedup.neardupDeltaScreen(docs.limit(200), "doc_id", "text",
            spark.read.parquet(sigPath)).count()
        }
      }
      // PQ codebook training: one Lloyd step over all subspaces —
      // broadcast codebooks, map-side argmin fold, scalar-state
      // (sub, code, lane) aggregation; growth must track the scan
      probe(s"pq_train x$k") {
        graft.operators.Quantize.pqUpdateStep(e, "embedding",
          graft.operators.Quantize.pqCodebooks(
            emb, "vec_id", "embedding", 64, 8, 16),
          64, 8).count()
      }
      // residual IVF-PQ: codebooks + distance tables broadcast; only
      // candidate (cell, sub, code) rows move — growth tracks cell size
      probe(s"ivfpq_residual x$k") {
        val cents = emb.orderBy(col("vec_id")).limit(16)
        graft.operators.Quantize.ivfPqResidualTopK(
          e, emb.filter(col("vec_id") < 8), cents,
          graft.operators.Quantize.pqCodebooks(
            graft.operators.Quantize.residuals(emb, cents, "vec_id", "embedding"),
            "vec_id", "resid", 64, 8, 16),
          "vec_id", "embedding", 64, 8, k = 10, nProbe = 4).count()
      }
      // rolling z-score: one key-partitioned window pass — replicating
      // by USER adds keys, so growth must be linear in the scan with
      // constant per-partition frame state
      probe(s"rolling_zscore x$k") {
        graft.operators.TimeSeries.rollingZscore(
          ev, "user_id", "ts", "value", "event_id",
          window = 5, keep = Seq("event_id")).count()
      }
      // rank-based per-group selection: the kept fraction is constant,
      // so output AND wall must both track the corpus linearly
      probe(s"top_decile x$k") {
        graft.operators.Normalize.topFractionByGroup(
          d.select(col("doc_id"), col("lang"), col("n_chars")),
          "lang", "n_chars", "doc_id", keepPpm = 100000L).count()
      }
      // partition-pruned delete: index ×k built OUTSIDE the timing; the
      // timed purge rewrites only the cells holding the 5 deleted ids,
      // so cost tracks affected-cell bytes, not index size (returns the
      // delete-batch size — a full read-back would re-scan the index
      // and mask the flatness being demonstrated)
      if (selected(s"ivf_purge x$k")) {
        val p = graft.queries.Q.scratch(s"probe_purge_x$k")
        Similarity.assignToCentroids(
            e, emb.orderBy(col("vec_id")).limit(16), "vec_id", "embedding")
          .write.mode("overwrite").partitionBy("centroid_id").parquet(p)
        probe(s"ivf_purge x$k") {
          Similarity.purgeFromIndex(spark, p,
            emb.filter(col("vec_id") >= 100 && col("vec_id") < 105)
              .select(col("vec_id")), "vec_id")
          5L
        }
      }
      // composed ingest screen: all three index surfaces grow ×k
      // (replicas are exact+near+semantic dups of their base — worst
      // case for every stage), built OUTSIDE the timing; the fixed
      // 200-doc delta's screen must track index-read cost, never
      // corpus-rescan cost (the semantic stage's per-cell mate arrays
      // are the documented k× memory dial)
      if (selected(s"ingest_screen x$k")) {
        val joined = docs.select(col("doc_id"), col("text"))
          .join(emb.select(col("vec_id").as("doc_id"), col("embedding")),
            Seq("doc_id"))
        val jk = replicate(joined, "doc_id", k)
        val dig = graft.queries.Q.scratch(s"probe_ingdig_x$k")
        val sig = graft.queries.Q.scratch(s"probe_ingsig_x$k")
        Dedup.digestIndex(jk, "text").write.mode("overwrite").parquet(dig)
        Dedup.minhashSignatures(jk, "doc_id", "text", 3, 32)
          .write.mode("overwrite").parquet(sig)
        // novel text + negated embeddings: the delta passes ALL three
        // stages (an exact-dup delta dies at stage 1 and would leave
        // stages 2-3 probing an empty stream)
        val delta = joined.limit(200).select(col("doc_id"),
          concat(lit("probe novel doc "), col("doc_id")).as("text"),
          transform(col("embedding"), x => -x).as("embedding"))
        probe(s"ingest_screen x$k") {
          graft.streaming.StreamingDedup.ingestScreen(
            delta,
            spark.read.parquet(dig),
            graft.streaming.StreamingDedup.bucketSignatureIndex(
              spark.read.parquet(sig), k = 32, bands = 8),
            jk.select(col("doc_id"), col("embedding")),
            emb.orderBy(col("vec_id")).limit(16)
              .select(col("vec_id").as("doc_id"), col("embedding")),
            "doc_id", "text", "embedding").count()
        }
      }
      // partition-sweeping maintenance: the layout grows ×k in BOTH
      // rows and partition count (8k partitions), built OUTSIDE the
      // timing; the timed sweep purges a fixed 4-partition delete
      // batch with compaction off — rewrite cost must stay ~flat
      // (∝ churn) while the only growing term is the column-pruned
      // id scan that discovers the affected partitions
      if (selected(s"maintain_table x$k")) {
        val p = graft.queries.Q.scratch(s"probe_maint_x$k")
        val table = s"$p/t"
        val nParts = 8 * k
        val parted = d.withColumn("part", pmod(col("doc_id"), lit(nParts)))
        (0 until 3).foreach { s =>
          parted.filter(pmod(col("doc_id"), lit(3)) === s).repartition(1)
            .write.partitionBy("part")
            .mode(if (s == 0) "overwrite" else "append").parquet(table)
        }
        probe(s"maintain_table x$k") {
          val rep = graft.operators.Layout.maintainTable(spark, table, "part",
            parted.filter(col("part") < 4 && pmod(col("doc_id"), lit(10)) === 3)
              .select("doc_id"),
            "doc_id", targetBytes = 1L << 26, maxFiles = 100)
          rep.affected.size.toLong
        }
      }
      // flagship session window under a wide-key STREAM: k·2000 users ×
      // 4 events through the Append-mode session agg. State rows before
      // the watermark advances = one open session per user (the
      // watermark bounds state by arrival rate × delay, independent of
      // stream lifetime); the flush record then emits every denied
      // session. Both state and wall time must grow linearly in users.
      probe(s"session_state x$k") {
        import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
        import org.apache.spark.sql.streaming.OutputMode
        implicit val sqlCtx = spark.sqlContext
        val nUsers = k * 2000
        val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
        val input = MemoryStream[(Long, java.sql.Timestamp, Int)]
        val evs = input.toDF().toDF("user_id", "ts", "result")
          .withWatermark("ts", "0 seconds")
        val sessions = graft.operators.Sessionize.deniedCounts(
          evs, "ts", "user_id", "600 seconds",
          denied = col("result") === 0, weight = lit(1L))
        val q = sessions.writeStream.format("memory")
          .queryName(s"probe_sessions_x$k")
          .outputMode(OutputMode.Append()).start()
        try {
          input.addData((0L until nUsers.toLong).flatMap(u =>
            (0 until 4).map(i =>
              (u, new java.sql.Timestamp(base + i * 60000L), ((u + i) % 2).toInt))))
          q.processAllAvailable()
          val stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
          input.addData(Seq((-1L, new java.sql.Timestamp(base + 86400000L), 1)))
          q.processAllAvailable()
          val emitted = spark.table(s"probe_sessions_x$k").count()
          println(f"[probe]   session_state x$k: users=$nUsers state_rows=$stateRows emitted=$emitted")
          emitted
        } finally q.stop()
      }
      // IVF-PQ: probes and lookup tables broadcast; candidate code rows
      // are the only corpus-side traffic — growth tracks cell size
      probe(s"ivfpq x$k") {
        graft.operators.Quantize.ivfPqTopK(
          e, emb.filter(col("vec_id") < 8),
          emb.orderBy(col("vec_id")).limit(16),
          graft.operators.Quantize.pqCodebooks(emb, "vec_id", "embedding", 64, 8, 16),
          "vec_id", "embedding", 64, 8, k = 10, nProbe = 4).count()
      }
      // PQ encode: broadcast codebooks, map-side argmin — linear scan
      probe(s"pq_encode x$k") {
        graft.operators.Quantize.pqEncode(e, "vec_id", "embedding",
          graft.operators.Quantize.pqCodebooks(emb, "vec_id", "embedding", 64, 8, 16),
          64, 8).count()
      }
      // bigram surprisal: two partial-agg shuffles over pair counts —
      // replicas add tf mass, distinct pairs stay flat
      probe(s"bigram_nll x$k") {
        graft.operators.TextAnalysis.bigramSurprisal(d, "doc_id", "text").count()
      }
      // BPE corpus encoding: replication multiplies token counts but
      // NOT the distinct-token dictionary, so dict training stays flat
      // and the encode join grows with the scan alone
      probe(s"bpe_encode x$k") {
        val dict = graft.operators.Vocab.mergedDict(d, "text", iters = 2)
        val n = graft.operators.Vocab.encode(d, "doc_id", "text", dict).count()
        Guard.unpin(dict)
        n
      }
      // token-id emission: the dictionary-side lookup (surface form x
      // symbol position x id) is replication-INVARIANT; growth must
      // track the corpus explode + the doc-keyed ranking window alone
      probe(s"bpe_ids x$k") {
        val dict = graft.operators.Vocab.mergedDict(d, "text", iters = 2)
        val n = graft.operators.Vocab.encodeIds(d, "doc_id", "text", dict).count()
        Guard.unpin(dict)
        n
      }
      // per-cluster cap: broadcast-argmin assignment (zero corpus
      // shuffles) + one cluster-keyed window; output is capped at
      // cap·k clusters, so rows stay FLAT while the scan grows
      probe(s"cluster_cap x$k") {
        graft.operators.Clustering.capPerCluster(
          graft.operators.Clustering.assign(e, "vec_id", "embedding",
            graft.operators.Clustering.initialCentroids(
              emb, "vec_id", "embedding", 8)), cap = 40).count()
      }
      // embedding outlier screen: one lane-keyed partial-agg shuffle
      // (dim-row state) + map-side scoring against the broadcast stats
      // array — growth must track the scan, output the vector count
      probe(s"embed_outliers x$k") {
        graft.operators.Normalize.embeddingOutliers(
          e, "vec_id", "embedding", tau = 4.0).count()
      }
      // k-anonymity: QI-group table partial-aggregates to group
      // cardinality (flat under replication) and joins back broadcast —
      // growth must track the scan
      probe(s"kanonymity x$k") {
        graft.operators.Profile.kAnonymity(
          d.select(col("doc_id"), col("lang"), col("source"),
            expr("n_chars div 256").as("len_bucket")),
          Seq("lang", "source", "len_bucket"), k = 5L).count()
      }
      // DoReMi quota selection: surprisal rates (corpus-linear) fold to
      // |langs| weights; the selection window is the only corpus-sized
      // shuffle and the kept rows track the fixed budget, not the scan
      probe(s"doremi_sample x$k") {
        val rated = graft.operators.TextAnalysis
          .unigramSurprisal(d, "doc_id", "text")
          .withColumnRenamed("id", "doc_id")
          .join(d.select(col("doc_id"), col("lang")), "doc_id")
          .withColumn("loss_rate", -(col("nll_tab") / col("n_tokens").cast("double")))
        val quota = graft.operators.Sampling
          .excessLossWeights(rated, "lang", "loss_rate")
          .select(col("lang"),
            floor(lit(200.0) * col("weight")).cast("long").as("alloc"))
        graft.operators.Sampling.quotaSample(
          d.select(col("doc_id"), col("lang")), "lang", "doc_id", quota).count()
      }
      // quota admission: |groups|-sized quota rides broadcast; the
      // corpus pays one group-keyed window — admitted rows track the
      // fixed budget, not the scan
      probe(s"quota_admit x$k") {
        val quota = graft.operators.Sampling
          .temperatureAlloc(d.select(col("doc_id"), col("lang")), "lang", budget = 300L)
          .select(col("lang"), col("alloc"))
        graft.operators.Sampling.quotaAdmit(
          d.select(col("doc_id"), col("lang")), "lang", "doc_id", "doc_id", quota)
          .count()
      }
      // CDC apply under GROWING VERSION DEPTH: k changelog versions per
      // touched key (every 7th order). The snapshot output is pinned at
      // the base key count regardless of k; the map-side
      // WindowGroupLimit forwards at most one candidate per key per
      // task, so wall time should track the log SCAN (linear in k),
      // never the per-key version fan-in.
      probe(s"cdc_apply x$k") {
        val log = orders.filter(col("o_orderkey") % 7 === 0)
          .crossJoin(broadcast(spark.range(k).select(col("id").as("__c"))))
          .withColumn("o_totalprice", col("o_totalprice") + col("__c"))
          .withColumn("seq", col("__c") + 1)
          .withColumn("op", lit("U"))
          .drop("__c")
        graft.operators.Changelog
          .applyLog(orders, log, Seq("o_orderkey"), "seq", "op").count()
      }
      // tokenize→detokenize round trip: decode adds one doc-keyed
      // aggregation on top of bpe_ids' plan; the dictionary stays
      // replication-invariant, so growth must track the id stream
      probe(s"ids_roundtrip x$k") {
        val dict = graft.operators.Vocab.mergedDict(d, "text", 2)
        val n = graft.operators.Vocab.decodeIds(
          graft.operators.Vocab.encodeIds(d, "doc_id", "text", dict),
          "doc_id", dict).count()
        Guard.unpin(dict)
        n
      }
      // leakage-safe split: both sides of the shingle anti-join grow
      // with the corpus — shingle-keyed equi-join, near-linear like the
      // decontamination screens
      probe(s"split_decontam x$k") {
        val (tr, ho) = graft.operators.Sampling.trainHoldout(d, "doc_id", 10)
        graft.operators.Decontaminate
          .dropContaminated(tr, ho, "doc_id", "text", n = 5).count()
      }
      // DSIR rating: the bucket model is replication-invariant (64
      // rows at every factor — replicas change counts, not the bucket
      // space); only the per-doc count shuffle and the broadcast
      // join-back grow. Near-linear wall, weights-per-doc output.
      probe(s"dsir_weights x$k") {
        graft.operators.Sampling.dsirLogRatios(
          d, "doc_id", "text", col("lang") === "en", buckets = 64).count()
      }
      // DSIR screen: fitting collapses to the 64-entry array once;
      // rating is a pure map-side fold, so growth must track the scan
      // alone (no shuffle on the rating side at any factor)
      probe(s"dsir_screen x$k") {
        val deltas = graft.operators.Sampling.dsirModelArrayCentered(
          graft.operators.Sampling.dsirBucketModel(
            d.filter(col("doc_id") % 2 === 0), "text",
            col("lang") === "en", buckets = 64), 64)
        d.select(col("doc_id"),
          graft.operators.Sampling.dsirScore(col("text"), deltas.toSeq, 64)
            .as("score")).filter(col("score") >= 0.0).count()
      }
      // WAV decode is map-only: payload synthesis + parse + moments,
      // no shuffle — wall must track the row count exactly
      probe(s"audio_decode x$k") {
        val wav = (id: Long) =>
          graft.operators.Multimodal.syntheticWav(id % 97, 1 + (id % 2).toInt, 8000, 96)
        graft.operators.Multimodal.decodeAudio(
          Q.fixture(media, "media_id", "payload")(wav),
          "media_id", "payload").filter(col("ssq_c0") > 0).count()
      }
      // stump training: the value histogram is replication-invariant
      // (replicas add counts, not distinct values), so the window cost
      // is FLAT and only the histogram scan grows
      probe(s"stump_train x$k") {
        val feats = d.select(
          when(col("n_chars") >= 256L, 1L).otherwise(-1L).as("y"),
          graft.operators.TextAnalysis.tokenCount(col("text")).cast("long").as("f1"),
          floor(col("n_chars") / 64).cast("long").as("f2"))
        graft.operators.Train.stumpTrain(feats, Seq("f1", "f2"), "y").count()
      }
      // one shared synthetic-domain mapping for all graph probes
      def graphDomain(c: org.apache.spark.sql.Column) =
        org.apache.spark.sql.functions.element_at(
          org.apache.spark.sql.functions.lit(
            Array("alpha", "beta", "gamma", "delta", "epsilon")),
          (c % 5).cast("int") + 1)
      // integer PageRank: the corpus-sized edge list collapses to the
      // |domains|^2 adjacency in ONE shuffle; both iterations run on
      // the collapsed frame, so wall must track the collapse alone
      probe(s"pagerank x$k") {
        val edges = d.select(graphDomain(col("doc_id")).as("src"),
          graphDomain(col("doc_id") + 2).as("dst"))
        val r = graft.operators.Graph.pageRankInt(edges, "src", "dst", iters = 2)
        val n = r.count(); Guard.unpin(r); n
      }
      // convergence-looped PageRank: a per-iteration pin cuts the
      // lineage, so 10+ rounds on the collapsed frame stay flat in the
      // edge count — wall must track the one collapse shuffle
      probe(s"pagerank_converged x$k") {
        val edges = d.select(graphDomain(col("doc_id")).as("src"),
          graphDomain(col("doc_id") + 2).as("dst"))
        val res = graft.operators.Graph.pageRankConverged(
          graft.operators.Graph.collapseEdges(edges, "src", "dst"),
          maxIters = 32, tolMicro = 0L)
        val n = res.ranks.count(); Guard.unpin(res.ranks); n
      }
      // connected components: corpus collapses to the adjacency in one
      // shuffle; min-label rounds run on the collapsed frame — wall
      // must track the collapse, not the edge-list multiplicity
      probe(s"domain_cc x$k") {
        val edges = d.filter(col("doc_id") % 15 < 8)
          .select(graphDomain(col("doc_id")).as("src"), graphDomain(col("doc_id") + 2).as("dst"))
        val cc = graft.operators.Graph.connectedComponents(
          graft.operators.Graph.collapseEdges(edges, "src", "dst"))
        val n = cc.count(); Guard.unpin(cc); n
      }
      // HITS: same collapse-bound shape as the pagerank probes — the
      // corpus collapses to the weighted adjacency once; both update
      // directions run on the |domains|²-bounded frame
      probe(s"hits x$k") {
        val edges = d.select(graphDomain(col("doc_id")).as("src"),
          graphDomain(col("doc_id") + 2).as("dst"))
        val h = graft.operators.Graph.hitsInt(
          graft.operators.Graph.collapseEdges(edges, "src", "dst"), iters = 4)
        val n = h.count(); Guard.unpin(h); n
      }
      // Count-Min build: one corpus scan with constant per-token
      // fan-out into the d·w-cell table — wall must track the scan;
      // the cell count never grows with the corpus
      probe(s"countmin x$k") {
        graft.operators.Sketch.countMin(d, "text", 64).count()
      }
      // HLL register build: one corpus scan, map-side bucket/rank
      // projection, 64-row MAX agg — wall must track the scan; the
      // register frame never grows with the corpus
      probe(s"hll x$k") {
        graft.operators.Sketch.hllRegisters(d, "text").count()
      }
      // KMV register build: one corpus scan, per-partition dedup +
      // TakeOrdered (never a full sort) into the K-row frame — wall
      // must track the scan; the frame never grows with the corpus
      probe(s"kmv x$k") {
        graft.operators.Sketch.kmvSketch(d, "text").count()
      }
      // production-width HLL (m=4096): the same one-scan shape — the
      // register frame is 64x wider but still corpus-independent, so
      // wall must stay flat alongside the m=64 probe
      probe(s"hll_wide x$k") {
        graft.operators.Sketch.hllRegistersP(
          d, "text", graft.operators.Sketch.HllWideBits).count()
      }
      // frontier scheduling: ONE per-host window exchange; the delay
      // table rides as literals — wall must track the URL count, and
      // hosts spread (97 here) keep the window partitions parallel
      probe(s"frontier x$k") {
        val f = d.select(col("doc_id"),
          concat(lit("site"), (col("doc_id") % 97).cast("int"),
            lit(".example")).as("host"))
          .withColumn("canon",
            concat(lit("http://"), col("host"), lit("/p/"), col("doc_id")))
        graft.operators.Frontier.schedule(
          f, Seq("site0.example" -> 1000L), 500L, workers = 32).count()
      }
      // frame-joined frontier scheduling: the delay table is a 1e5-row
      // DATAFRAME through the count-guarded broadcast (the web-scale
      // form) — wall must track the URL count; the guarded collect is
      // corpus-independent and must stay flat
      probe(s"frontier_joined x$k") {
        val f = d.select(col("doc_id"),
          concat(lit("site"), (col("doc_id") % 97).cast("int"),
            lit(".example")).as("host"))
          .withColumn("canon",
            concat(lit("http://"), col("host"), lit("/p/"), col("doc_id")))
        val delays = spark.range(0, 100000).select(
          concat(lit("site"), col("id"), lit(".example")).as("domain"),
          (col("id") % 7 * 100L + 100L).as("delay_ms"))
        graft.operators.Frontier.scheduleJoined(
          f, delays, 500L, workers = 32).count()
      }
      // .warc.gz ingest: member split + inflate + WARC parse, all
      // map-only — wall must track the blob count (each doc row
      // becomes one 6-record gz archive)
      probe(s"warc_gz x$k") {
        val warc = (id: Long) => graft.operators.Warc.syntheticWarcGz(id % 97, 6)
        graft.operators.Warc.recordsGz(
          Q.fixture(media, "media_id", "payload")(warc),
          "media_id", "payload").count()
      }
      // .warc.zst ingest: frame split + full RFC 8878 decode + WARC
      // parse, all map-only — wall must track the blob count exactly
      // like the gz twin (each doc row becomes one 6-record archive)
      probe(s"warc_zst x$k") {
        val warc = (id: Long) => graft.operators.Warc.syntheticWarcZst(id % 97, 6)
        graft.operators.Warc.recordsZst(
          Q.fixture(media, "media_id", "payload")(warc),
          "media_id", "payload").count()
      }
      // dump ingest: multistream bz2 split + page extraction +
      // wikitext strip, all map-only — wall must track the blob count
      // (each doc row becomes one 2-member dump with 3 pages)
      probe(s"dump_pipeline x$k") {
        val mk = (id: Long) => {
          val s = id % 97
          graft.operators.DumpDecode.bz2Member("<mediawiki>\n".getBytes("UTF-8")) ++
            graft.operators.DumpDecode.bz2Member((0 until 3).map(i =>
              graft.operators.XmlDump.pageXml(s * 10 + i, 0, s"Page $s-$i", None,
                s"'''B''' [[T $s|t]] body {{x|$i}} of $s <ref>c</ref> tail $i"))
              .mkString.getBytes("UTF-8"))
        }
        Q.fixture(media, "media_id", "payload")(mk)
          .as[(Long, Array[Byte])]
          .flatMap { case (id, p) =>
            graft.operators.DumpDecode.bz2Members(p)
              .flatMap(m => graft.operators.XmlDump.pages(new String(m, "UTF-8")))
              .map(pg => (id, pg.page_id, graft.operators.XmlDump.stripWikitext(pg.text)))
          }.toDF("media_id", "page_id", "plain")
          .filter(col("plain").isNotNull).count()
      }
      // tar/zip shard sample assembly: the whole group-by-stem lives
      // inside the per-blob walk — wall must track the blob count
      probe(s"shard_samples x$k") {
        val tarMk = (id: Long) => graft.operators.TarShard.tar((0 until 4).flatMap(i =>
          Seq((f"${id % 97}%06d_$i.txt", "0", s"cap $id $i".getBytes("UTF-8")),
            (f"${id % 97}%06d_$i.cls", "0", "1".getBytes("UTF-8")))))
        val zipMk = (id: Long) => graft.operators.ZipShard.zip((0 until 4).flatMap(i =>
          Seq((f"${id % 97}%06d_$i.txt", s"cap $id $i".getBytes("UTF-8")),
            (f"${id % 97}%06d_$i.cls", "1".getBytes("UTF-8")))), descriptor = true)
        graft.operators.TarShard.sampleRows(
          Q.fixture(media.filter(col("media_id") % 2 === 0), "media_id", "payload")(tarMk),
          "media_id", "payload")
          .unionByName(graft.operators.ZipShard.sampleRows(
            Q.fixture(media.filter(col("media_id") % 2 === 1), "media_id", "payload")(zipMk),
            "media_id", "payload"))
          .count()
      }
      // pdf text extraction: xref-stream parse + object-stream inflate
      // + content-stream text walk, all map-only — wall must track the
      // blob count (each doc row becomes one 2-page modern-layout PDF)
      probe(s"pdf_text x$k") {
        val mk = (id: Long) => {
          val s = id % 97
          graft.operators.Pdf.pdfXrefStream(Seq(
            graft.operators.Pdf.Page(graft.operators.Pdf.contentOps(
              Seq(s"Doc $s body", s"line $s more words here"))),
            graft.operators.Pdf.Page(graft.operators.Pdf.contentOps(
              Seq(s"page two of $s")))),
            predictor = true, objStm = true)
        }
        graft.operators.Pdf.textRows(
          Q.fixture(media, "media_id", "payload")(mk),
          "media_id", "payload")
          .filter(col("stage") === "ok").count()
      }
      // epub walk: zip members + container/OPF parse + spine chapters,
      // all map-only — wall must track the blob count (each doc row
      // becomes one 3-chapter book)
      probe(s"epub_chapters x$k") {
        val mk = (id: Long) => {
          val s = id % 97
          graft.operators.Epub.epub((0 until 3).map(i =>
            (s"ch$i.xhtml", s"<html><body><p>book $s chapter $i prose</p></body></html>")))
        }
        graft.operators.Epub.chapterRows(
          Q.fixture(media, "media_id", "payload")(mk),
          "media_id", "payload").count()
      }
      // docx walk: zip members + the w:p/w:t paragraph scan, all
      // map-only — wall must track the blob count (each doc row
      // becomes one 3-paragraph document)
      probe(s"docx_text x$k") {
        val mk = (id: Long) => {
          val s = id % 97
          graft.operators.Docx.docx(Seq(
            Seq(s"Doc $s intro paragraph"),
            Seq(s"middle $s with a\ttab"),
            Seq(s"closing words $s")))
        }
        graft.operators.Docx.textRows(
          Q.fixture(media, "media_id", "payload")(mk),
          "media_id", "payload")
          .filter(col("stage") === "ok").count()
      }
      // latex strip: gunzip + tar walk + the bounded macro scan, all
      // map-only — wall must track the blob count
      probe(s"latex_text x$k") {
        val mk = (id: Long) => {
          val s = id % 97
          graft.operators.CompressedMeta.gzipMember(graft.operators.TarShard.tar(Seq(
            (s"p$s/main.tex", "0",
              (s"\\section{Intro $s}\nprose $$x_$s$$ and \\cite{r$s} more\n" +
                s"\\begin{equation}e\\end{equation} tail $s").getBytes("UTF-8")))))
        }
        graft.operators.Latex.texRows(
          Q.fixture(media, "media_id", "payload")(mk),
          "media_id", "payload")
          .filter(col("text").isNotNull).count()
      }
      // webp VP8L decode: prefix-code build + per-pixel entropy walk,
      // map-only — wall must track the blob count (each doc row one
      // 16x8 normal-coded image)
      probe(s"webp_decode x$k") {
        val mk = (id: Long) => graft.operators.Multimodal.syntheticWebp(id % 97, 16, 8)
        graft.operators.Multimodal.decodeImages(
          Q.fixture(media, "media_id", "payload")(mk),
          "media_id", "payload")
          .filter(col("format") === "webp").count()
      }
      // html -> markdown: the stateful scanner over real page markup,
      // map-only — wall must track the row count
      probe(s"html_markdown x$k") {
        val html = concat(lit("<h1>T"), col("media_id") % 97,
          lit("</h1><ul><li>a</li><li>b</li></ul><p>body <b>text</b> "),
          col("media_id"), lit("</p><pre>c()</pre>"))
        graft.operators.Html.markdownRows(
          media.withColumn("html", html),
          "media_id", "html")
          .filter(col("markdown").isNotNull).count()
      }
      // office triage: one archive walk routes AND extracts (docx/
      // pptx/odt/rtf/xlsx mixed by key), map-only — wall must track
      // the blob count
      probe(s"office_triage x$k") {
        val mk = (id: Long) => ((id % 5) match {
          case 0 => graft.operators.Docx.docx(Seq(Seq(s"word doc ${id % 97}")))
          case 1 => graft.operators.Pptx.pptx(Seq(Seq(s"slide ${id % 97}")))
          case 2 => graft.operators.Odt.odt(Seq(s"odt doc ${id % 97}"))
          case 3 => s"{\\rtf1\\ansi legacy ${id % 97}\\par t}".getBytes("ISO-8859-1")
          case _ => graft.operators.Xlsx.xlsx(Seq(s"cell ${id % 97}"))
        })
        graft.operators.Office.routedText(
          Q.fixture(media, "media_id", "payload")(mk),
          "media_id", "payload")
          .filter(col("text").isNotNull).count()
      }
      // legacy .doc: CFB sector walk + FIB + piece-table text (one
      // cp1252 and one UTF-16 piece per doc), map-only — wall must
      // track the blob count
      probe(s"doc_text x$k") {
        val mk = (id: Long) => {
          val s = id % 97
          graft.operators.Doc.doc(Seq(s"Legacy doc $s", s"body text $s words"))
        }
        graft.operators.Doc.textRows(
          Q.fixture(media, "media_id", "payload")(mk),
          "media_id", "payload")
          .filter(col("stage") === "ok").count()
      }
      // pdf standard-handler decryption: the 50-round key derivation +
      // per-object RC4 + the text walk, map-only — the per-document
      // cost an encrypted dump pays at 100 TB
      probe(s"pdf_decrypt x$k") {
        val mk = (id: Long) => {
          val s = id % 97
          graft.operators.Pdf.encryptedPdf(
            Seq(Seq(s"open doc $s", s"line $s more words")), "rc4128")
        }
        graft.operators.Pdf.textRows(
          Q.fixture(media, "media_id", "payload")(mk),
          "media_id", "payload")
          .filter(col("stage") === "ok").count()
      }
      // xlsx sheet grid: worksheet row/cell walk + shared-string
      // resolve, map-only — wall must track the blob count
      probe(s"xlsx_cells x$k") {
        val mk = (id: Long) => {
          val s = id % 97
          graft.operators.Xlsx.xlsxGrid(Seq(
            (1, Seq(("s", s"Name $s"), ("n", s"$s"))),
            (2, Seq(("is", s"widget $s"), ("n", "3.5")))))
        }
        graft.operators.Xlsx.cellRows(
          Q.fixture(media, "media_id", "payload")(mk),
          "media_id", "payload").count()
      }
      // legacy .xls: CFB walk + BIFF8 record run + SST resolve,
      // map-only — wall must track the blob count
      probe(s"xls_cells x$k") {
        val mk = (id: Long) => {
          val s = id % 97
          graft.operators.Xls.xls(Seq(
            (1, Seq(("s", s"Name $s"), ("n", s"$s"))),
            (2, Seq(("l", s"widget $s"), ("n", "3.5")))), split = id % 3 == 0)
        }
        graft.operators.Xls.cellRows(
          Q.fixture(media, "media_id", "payload")(mk),
          "media_id", "payload").count()
      }
      // legacy .ppt: CFB walk + record-atom tree descent, map-only —
      // wall must track the blob count
      probe(s"ppt_text x$k") {
        val mk = (id: Long) => {
          val s = id % 97
          graft.operators.Ppt.ppt(Seq(Seq(s"deck $s title", s"point $s")))
        }
        graft.operators.Ppt.textRows(
          Q.fixture(media, "media_id", "payload")(mk),
          "media_id", "payload")
          .filter(col("stage") === "ok").count()
      }
      // outlook .msg: CFB tree walk + property-stream decode, map-only
      // — wall must track the blob count
      probe(s"msg_text x$k") {
        val mk = (id: Long) => {
          val s = id % 97
          graft.operators.Msg.msg(s"Re: topic $s", s"sender $s",
            s"hello body $s words", Seq("alice", "bob"))
        }
        graft.operators.Msg.textRows(
          Q.fixture(media, "media_id", "payload")(mk),
          "media_id", "payload")
          .filter(col("stage") === "ok").count()
      }
      // avro container walk: block split + inflate + record decode,
      // all map-only — wall must track the blob count (each doc row
      // becomes one 6-record deflate container)
      probe(s"avro_records x$k") {
        val schema =
          """{"type":"record","name":"R","fields":[{"name":"id","type":"long"},{"name":"s","type":"string"}]}"""
        val mk = (id: Long) => {
          val s = id % 97
          graft.operators.Avro.ocf(schema,
            (0 until 6).map(i => Seq(
              graft.operators.Avro.AVLong(s * 10 + i),
              graft.operators.Avro.AVStr(s"row $s $i"))),
            codec = "deflate", blockSize = 3, seed = s)
        }
        graft.operators.Avro.recordRows(
          Q.fixture(media, "media_id", "payload")(mk),
          "media_id", "payload").count()
      }
      // URL canonicalization is a map-only codegen expression — wall
      // must track the row count
      probe(s"url_canon x$k") {
        val url = concat(lit("HTTP://Site"), col("doc_id") % 97,
          lit(".COM:80/a/./b/../p/"), col("doc_id"), lit("#f"))
        d.select(graft.functions.GraftFunctions.urlCanon(url).as("c"))
          .filter(col("c").isNotNull).count()
      }
      // media inventory (ID3v2 + MPEG frame walk) is map-only header
      // arithmetic — wall must track the row count
      probe(s"media_inventory x$k") {
        val mk = (id: Long) =>
          graft.operators.AudioMeta.syntheticMpeg(id % 97)
        graft.operators.AudioMeta.audioInventory(
          Q.fixture(media, "media_id", "payload")(mk),
          "media_id", "payload").filter(col("n_frames") >= 0).count()
      }
      // crawl flagship chain: WARC walk → HTTP screen → URL canon →
      // map-side robots → HTML strip are all map-only; the single
      // canon-keyed dedup exchange is the only shuffle — wall must
      // track the blob count
      probe(s"crawl_pipeline x$k") {
        val warc = (id: Long) =>
          graft.operators.Warc.syntheticWarcCrawl(id % 97, 4)
        val rules = graft.operators.Robots.effectiveRules(
          (0 until 5).flatMap(m => graft.operators.Robots.parseRobots(
            s"site$m.example", "User-agent: *\nDisallow: /a1\n")),
          "graftbot")
        val http = graft.operators.Warc.httpResponses(
          graft.operators.Warc.records(
            Q.fixture(media, "media_id", "payload")(warc),
            "media_id", "payload"))
          .filter(col("status") === 200 && col("content_type") === "text/html")
        val canoned = http
          .withColumn("canon", graft.functions.GraftFunctions.urlCanon(col("target_uri")))
          .withColumn("__host", expr("parse_url(canon, 'HOST')"))
          .withColumn("__path", expr("parse_url(canon, 'PATH')"))
        canoned
          .filter(graft.operators.Robots.allowedColumn(rules, col("__host"), col("__path")))
          .withColumn("text", graft.operators.TextAnalysis.stripHtml(col("payload")))
          .groupBy(col("canon")).agg(min(col("media_id")).as("keep"))
          .count()
      }
      // snapshot diff: both sides collapse to (key, digest) map-side;
      // ONE full-outer key shuffle of digest-sized rows — wall must
      // track the scan + key shuffle, output stays ∝ the planted delta
      probe(s"snapshot_diff x$k") {
        val before = d.select(col("doc_id"), col("text"))
        val after = d.filter(col("doc_id") % 7 =!= 3)
          .select(col("doc_id"),
            when(col("doc_id") % 7 === 5, concat(col("text"), lit(" v2")))
              .otherwise(col("text")).as("text"))
        graft.operators.Changelog.snapshotDiff(before, after, "doc_id", "text")
          .count()
      }
      // compressed image decode (baseline JPEG: Huffman + IDCT per
      // 16x16 payload) is map-only — wall must track the row count
      probe(s"jpeg_decode x$k") {
        val jpg = (id: Long) =>
          graft.operators.Multimodal.syntheticJpeg(id % 97)
        graft.operators.Multimodal.decodeImages(
          Q.fixture(media, "media_id", "payload")(jpg),
          "media_id", "payload").filter(col("n_pixels") > 0).count()
      }
      // GIF decode (LZW dictionary walk per 16x16 payload) is map-only
      // like the sibling codecs — wall must track the row count
      probe(s"gif_decode x$k") {
        val gif = (id: Long) =>
          graft.operators.Multimodal.syntheticGif(id % 97, 16, 16)
        graft.operators.Multimodal.decodeImages(
          Q.fixture(media, "media_id", "payload")(gif),
          "media_id", "payload").filter(col("n_pixels") > 0).count()
      }
      // video decode is a map-only flatMap: one synthetic 3-frame Y4M
      // per doc row — wall must track the row count, output 3x rows
      probe(s"video_decode x$k") {
        val y4m = (id: Long) =>
          graft.operators.Multimodal.syntheticY4m(id % 97, 6, 4, 3)
        graft.operators.Multimodal.decodeVideos(
          Q.fixture(media, "media_id", "payload")(y4m),
          "media_id", "payload").filter(col("ssq_y") >= 0).count()
      }
      // pack-chain binning under the WORST skew: every document forced
      // into ONE language, so a flat per-lang running-sum window would
      // serialize the whole corpus through one task and scale linearly
      // in total size on that single core. The hierarchical prefix sum
      // (bucket partials -> bucket-level offsets -> map-side add) keeps
      // the serial step on the ~2^16-row bucket frame only — wall must
      // stay near-linear WITH PARALLELISM (i.e. flat per-row) at x16
      probe(s"pack_bins_skew x$k") {
        val one = d.withColumn("lang", lit("en"))
        val stream = one.select(col("doc_id"),
          explode(sequence(lit(1L), lit(64L))).as("pos"))
        graft.queries.TokenizerQueries.packBins(stream, one)
          .groupBy(col("bin")).count().count()
      }
      // perplexity terciles: the surprisal chain's agg shuffle + one
      // lang-keyed window — same shape as doremi's rating stage
      probe(s"ppl_buckets x$k") {
        val rated = graft.operators.TextAnalysis
          .unigramSurprisal(d, "doc_id", "text")
          .withColumn("rate_q",
            floor(col("nll_tab") / col("n_tokens").cast("double") * lit(1048576.0))
              .cast("long"))
          .join(d.select(col("doc_id"), col("lang")), col("id") === col("doc_id"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("lang")).orderBy(col("rate_q").desc, col("doc_id").asc)
        rated.withColumn("t", ntile(3).over(w)).filter(col("t") <= 2).count()
      }
      // (selecting this probe without ivf_persist_build builds untimed)
      if (selected(s"ivf_persist_probe x$k") && lastIndexPath == null) {
        val path = graft.queries.Q.scratch(s"probe_ivfidx_x$k")
        Similarity.assignToCentroids(
            e, emb.orderBy(col("vec_id")).limit(16), "vec_id", "embedding")
          .write.mode("overwrite").partitionBy("centroid_id").parquet(path)
        lastIndexPath = path
      }
      probe(s"ivf_persist_probe x$k") {
        Similarity.ivfTopKIndexed(
          spark.read.parquet(lastIndexPath),
          emb.filter(col("vec_id") < 8),
          emb.orderBy(col("vec_id")).limit(16),
          "vec_id", "embedding", k = 5, nProbe = 4).count()
      }
      lastIndexPath = null // next multiplier rebuilds at its own scale
    }
    spark.stop()
  }
}
