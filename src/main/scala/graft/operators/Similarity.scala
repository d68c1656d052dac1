package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.functions.GraftFunctions

/** Similarity search over embedding columns (`array<float>`).
  *
  * Two tiers:
  *   - `bruteForceTopK` — exact cosine top-k, O(|queries|·|corpus|).
  *     Correct baseline; at scale only viable when the query side is
  *     small enough to broadcast (which is exactly how it is planned:
  *     the corpus never shuffles, queries replicate to it).
  *   - `ivfTopK` — IVF-style partitioned search: corpus vectors are
  *     assigned to their nearest centroid once; queries probe only the
  *     `nProbe` nearest centroid partitions. The candidate join is
  *     equi-join on centroid id, so at 100 TB the corpus shuffles once
  *     at build time (or is written bucketed by centroid) and each query
  *     touches nProbe/C of the data. Recall < 1 by construction; the
  *     spec pins recall against the brute-force baseline.
  *
  * Per-pair math is the native codegen'd dot kernel
  * ([[graft.functions.ArrayDotFloat]]); norms are hoisted out of every
  * join — computed once per row on each side, so a pair costs exactly
  * one 64-wide dot product inside whole-stage codegen. The hoisting is
  * bitwise result-preserving (the norm value is the same double either
  * way), so ranks — and oracle hashes — are unchanged.
  */
object Similarity {

  /** Dot product of two array<float> columns, in double (codegen'd). */
  def dot(a: Column, b: Column): Column = GraftFunctions.dotF(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  private[graft] def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Exact top-k neighbors for each query vector.
    *
    * @param corpus  (idCol, vecCol) rows to search
    * @param queries (idCol, vecCol) rows to search for — must be small
    *                (broadcast); exclude self-matches by id inequality
    * @return (query_id, neighbor_id, rank) — cosine kept internal so the
    *         result is exactly reproducible (float-sum rounding can't
    *         flip a hash compare; ranks are stable for non-degenerate
    *         data, ties broken by neighbor_id)
    */
  def bruteForceTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int
  ): DataFrame =
    bruteForceTopKScored(corpus, queries, idCol, vecCol, k)
      .select(col("query_id"), col("neighbor_id"), col("rank"))

  /** As `bruteForceTopK` but keeping the similarity (for tests/inspection;
    * not oracle-hashable because float-sum rounding is engine-specific).
    */
  def bruteForceTopKScored(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int
  ): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cvec"),
      norm(col(vecCol)).as("cnorm"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"),
      norm(col(vecCol)).as("qnorm"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", dot(col("qvec"), col("cvec")) / (col("qnorm") * col("cnorm")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("sim"), col("rank"))
  }

  /** Hard-negative mining for contrastive embedding training: per
    * anchor, the top-k most similar corpus vectors BELOW the positive
    * band (`sim < maxSim`) — near enough to be informative negatives,
    * far enough not to be latent duplicates/positives. The standard
    * companion to [[Quantize]]'s two-tower training data: the band
    * ceiling is the same threshold a SemDeDup pass would use for
    * near-dup collapse, so mined negatives are guaranteed disjoint
    * from what dedup removes.
    *
    * Scale shape: identical to [[bruteForceTopK]] — anchors broadcast,
    * the corpus never shuffles (the ranking window keys on the anchor
    * id, and only band-passing candidates enter it). For anchor sets
    * past broadcast size, run the same band filter over
    * [[ivfTopK]]'s probed candidates instead (ANN-candidates →
    * band-filter → rank is the composition; the band filter is a
    * map-side predicate either way).
    */
  def hardNegatives(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      maxSim: Double
  ): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cvec"),
      norm(col(vecCol)).as("cnorm"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"),
      norm(col(vecCol)).as("qnorm"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", dot(col("qvec"), col("cvec")) / (col("qnorm") * col("cnorm")))
      .filter(col("sim") < maxSim)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
  }

  /** Assign every vector to its nearest centroid (by cosine).
    * `centroids` must be small (broadcast).
    *
    * ZERO corpus shuffles: the centroids collapse into one sorted array
    * row, broadcast to every partition, and the argmax is a map-side
    * left-fold over it — same shape as [[Clustering.assign]]. (An
    * earlier version ranked a k-rows-per-vector expansion with a
    * window over the vector id, which re-shuffled k× the corpus
    * through an exchange — the dominant cost of every IVF build.)
    * Strict `>` over the cid-ascending array = smallest-cid tie-break,
    * matching the old rank ordering. A NaN cosine (zero-norm vector or
    * centroid) is treated as worse than any real similarity.
    * Output: the input columns + `centroidIdCol` (long).
    *
    * EMPTY-CENTROIDS CONTRACT: with zero centroid rows the fold has
    * nothing to beat the seed, so EVERY vector comes back with
    * `centroidIdCol = -1` (the sentinel cell) rather than the
    * zero-output a join formulation would give. Callers that persist
    * the assignment (`partitionBy(centroid_id)`) or join on it must
    * treat `-1` as "unassigned" — or validate centroids non-empty
    * upstream, where a count is free (the centroid side is tiny by
    * contract; this function stays a lazy transformation and will not
    * spend an eager job on the check).
    */
  def assignToCentroids(
      vectors: DataFrame,
      centroids: DataFrame,
      idCol: String,
      vecCol: String,
      centroidIdCol: String = "centroid_id"
  ): DataFrame = {
    val centArr = centroids
      .select(col(idCol).cast("long").as("cid"), col(vecCol).as("centroid"),
        norm(col(vecCol)).as("cent_norm"))
      .agg(sort_array(collect_list(struct(col("cid"), col("centroid"), col("cent_norm"))))
        .as("__cents"))
    val best = aggregate(
      col("__cents"),
      struct(lit(-2.0).as("sim"), lit(-1L).as("cid")),
      (b, c) => {
        val s0 = dot(col(vecCol), c("centroid")) / (col("__vnorm") * c("cent_norm"))
        val s = when(isnan(s0), lit(-2.0)).otherwise(s0)
        when(s > b("sim"), struct(s.as("sim"), c("cid").as("cid"))).otherwise(b)
      })
    vectors
      .withColumn("__vnorm", norm(col(vecCol)))
      .crossJoin(broadcast(centArr))
      .withColumn("__best", best)
      .withColumn(centroidIdCol, col("__best.cid"))
      .drop("__cents", "__vnorm", "__best")
  }

  /** IVF-style ANN: probe the nProbe nearest centroid cells per query.
    * Centroids here are taken deterministically (first `nCells` corpus
    * vectors by id) — a stand-in for k-means that keeps results
    * reproducible; swap in trained centroids at deployment.
    */
  def ivfTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nCells: Int,
      nProbe: Int
  ): DataFrame =
    ivfTopKWith(corpus, queries, corpus.orderBy(col(idCol)).limit(nCells),
      idCol, vecCol, k, nProbe)

  /** IVF search against EXTERNAL centroids (exposing (idCol, vecCol)) —
    * e.g. a trained coarse quantizer from [[Clustering]] Lloyd steps.
    * Same plan shape: both centroid joins broadcast; the corpus
    * shuffles once on its assigned cell.
    */
  def ivfTopKWith(
      corpus: DataFrame,
      queries: DataFrame,
      centroids: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nProbe: Int
  ): DataFrame =
    ivfTopKIndexed(
      assignToCentroids(corpus, centroids, idCol, vecCol),
      queries, centroids, idCol, vecCol, k, nProbe)

  /** IVF search over an ALREADY-ASSIGNED corpus (`indexed` carries a
    * `centroid_id` column — e.g. read back from a layout written
    * `partitionBy("centroid_id")`, the persisted-index deployment
    * shape). With such a layout the probe join's centroid ids reach the
    * scan as a DYNAMIC PARTITION PRUNING filter: each query batch reads
    * only its probed nProbe cells' files, nProbe/nCells of the corpus —
    * the IVF contract enforced by the storage layer itself
    * (q_ann_ivf_persisted REQUIREs the pruning subquery in its scan).
    */
  def ivfTopKIndexed(
      indexed: DataFrame,
      queries: DataFrame,
      centroids: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nProbe: Int
  ): DataFrame = {
    val assigned = indexed
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cvec"),
        norm(col(vecCol)).as("cnorm"), col("centroid_id"))

    // each query probes its nProbe nearest centroids
    val cent = centroids.select(col(idCol).as("cid"), col(vecCol).as("centroid"),
      norm(col(vecCol)).as("cent_norm"))
    val qw = Window.partitionBy(col("query_id"))
      .orderBy(col("csim").desc, col("cid").asc)
    val probes = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("qvec"),
        norm(col(vecCol)).as("qnorm"))
      .crossJoin(broadcast(cent))
      .withColumn("csim",
        dot(col("qvec"), col("centroid")) / (col("qnorm") * col("cent_norm")))
      .withColumn("crank", row_number().over(qw))
      .filter(col("crank") <= nProbe)
      .select(col("query_id"), col("qvec"), col("qnorm"), col("cid").as("centroid_id"))

    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    assigned
      .join(broadcast(probes), Seq("centroid_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", dot(col("qvec"), col("cvec")) / (col("qnorm") * col("cnorm")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
  }

  /** Incremental maintenance of a persisted IVF layout: assign a DELTA
    * batch of new vectors against the SAME coarse centroids the index
    * was built with, and append them into the existing
    * `partitionBy(centroid_id)` parquet tree. Because cell assignment
    * is a pure function of (vector, centroids), append-then-probe is
    * EXACTLY rebuild-from-scratch on the union — no re-clustering, no
    * rewrite of existing cells; each appended file lands inside its
    * cell's directory, so dynamic partition pruning keeps skipping
    * non-probed cells afterwards (q_ann_ivf_incremental pins both the
    * equality and the pruning).
    *
    * At 100 TB this is the index lifecycle primitive: the nightly new
    * batch costs one broadcast argmax over the delta plus one
    * partitioned write — the existing corpus is never read or shuffled.
    * Compaction of small appended files ([[graft.operators.Layout
    * .compactDir]], a per-cell rewrite) and centroid re-training are
    * separate, coarser-cadence jobs; drift between frozen centroids and
    * new data shows up as recall decay in [[ivfProbeSweep]]'s
    * regression numbers, which is the signal to retrain.
    */
  def appendToIndex(
      delta: DataFrame,
      centroids: DataFrame,
      idCol: String,
      vecCol: String,
      path: String
  ): Unit =
    assignToCentroids(delta, centroids, idCol, vecCol)
      .write.mode("append").partitionBy("centroid_id").parquet(path)

  /** Purge deleted vectors from a persisted IVF layout — the
    * right-to-be-forgotten / takedown primitive: rewrite ONLY the cells
    * that contain deleted ids, via Spark's dynamic partition overwrite,
    * leaving every other cell's files untouched. The complement of
    * [[appendToIndex]] in the index lifecycle (append / purge /
    * compact / retrain).
    *
    * Plan: one semi-join collects the affected cells (at most one value
    * per cell — metadata-scale, like a listing); a partition-pruned read
    * of those cells anti-joins the deleted rows; survivors land in a
    * sibling staging dir first (Spark refuses to overwrite a path it is
    * reading), then a second job re-writes them
    * `partitionBy(centroid_id)` with `partitionOverwriteMode=dynamic`,
    * which replaces exactly the partitions present in the written data.
    * An affected cell with no survivor rows is absent from that data,
    * so the overwrite cannot reach it: its directory is removed once
    * the survivors are written. Work ∝ affected cells, not index size —
    * the partition-pruned delete a real table format implements with
    * deletion vectors + compaction. `deletes` is broadcast — the
    * GDPR/takedown batch shape. q_purge_index REQUIREs untouched cells
    * kept their files, and hash-checks the purged index against a
    * rebuild from the filtered corpus.
    */
  def purgeFromIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      deletes: DataFrame,
      idCol: String
  ): Unit = {
    import org.apache.hadoop.fs.Path
    val index = spark.read.parquet(path)
    def cells(df: DataFrame): Set[String] =
      df.select(col("centroid_id").cast("string")).distinct()
        .collect().map(_.getString(0)).toSet
    val affected = cells(index.join(broadcast(deletes), Seq(idCol), "left_semi"))
    val survivors = index
      .filter(col("centroid_id").cast("string").isin(affected.toSeq: _*))
      .join(broadcast(deletes), Seq(idCol), "left_anti")

    val dir = new Path(path)
    val fs = GraftSession.fileSystem(spark, dir)
    // no leading dot: Spark treats dot-prefixed roots as hidden in one
    // listing path (reads still work, but with an "All paths were
    // ignored" WARN) — a plain sibling name avoids the subtlety
    val tmp = new Path(dir.getParent, s"purge_tmp_${dir.getName}")
    fs.delete(tmp, true)
    survivors.write.mode("overwrite").parquet(tmp.toString)
    val staged = spark.read.parquet(tmp.toString)
    val kept = cells(staged)
    if (kept.nonEmpty)
      staged.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("centroid_id").parquet(path)
    (affected -- kept).foreach(v => fs.delete(new Path(dir, s"centroid_id=$v"), true))
    fs.delete(tmp, true)
  }

  /** SemDeDup-style semantic deduplication: assign every vector to a
    * coarse centroid cell (broadcast argmax fold — zero corpus
    * shuffle), then compare ONLY within-cell pairs and drop any vector
    * that has a lower-id cell-mate with cosine ≥ `threshold`. Returns
    * the surviving rows with all their columns.
    *
    * This is the trick that makes embedding-level dedup tractable: the
    * quadratic term is confined to each cell (Σ|cell|² ≪ n² for any
    * reasonable k), the cell join is an equi-join on the cell id —
    * co-located after one shuffle of (cell, id, vec) tuples — and the
    * final anti-join removes the dropped ids. Cross-cell near-dups are
    * missed by construction (the recall/cost dial is k); the exact
    * verifier for moderate inputs is [[cosineNearDupPairs]], the
    * banded alternative [[srpNearDupPairs]].
    *
    * Scan note: the self-join reads `vectors` twice (once per side) —
    * deliberate, because the alternative one-scan form buffers a whole
    * cell per row ([[graft.streaming.StreamingDedup.semanticScreen]]'s
    * array shape), which caps cell size by executor memory. Pairs
    * stream through the join here, so cells can be arbitrarily large;
    * when the scan itself dominates, cache or pre-materialize the
    * (id, vec, cell) projection upstream.
    */
  def semanticDedup(
      vectors: DataFrame,
      centroids: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double
  ): DataFrame = {
    val assigned = assignToCentroids(vectors, centroids, idCol, vecCol)
      .select(col(idCol).as("id"), col(vecCol).as("vec"),
        norm(col(vecCol)).as("nrm"), col("centroid_id"))
    val keep = assigned.select(col("centroid_id"), col("id").as("id_keep"),
      col("vec").as("vec_a"), col("nrm").as("norm_a"))
    val cand = assigned.select(col("centroid_id"), col("id").as("id_drop"),
      col("vec").as("vec_b"), col("nrm").as("norm_b"))
    val dropped = keep.join(cand, Seq("centroid_id"))
      .filter(col("id_keep") < col("id_drop"))
      .withColumn("sim",
        dot(col("vec_a"), col("vec_b")) / (col("norm_a") * col("norm_b")))
      .filter(!isnan(col("sim")) && col("sim") >= threshold)
      .select(col("id_drop").as(idCol))
      .distinct()
    vectors.join(dropped, Seq(idCol), "left_anti")
  }

  /** IVF top-k at SEVERAL nProbe settings in one pass — the
    * recall/latency tuning sweep. Probe ranks are computed once up to
    * `max(probes)`; each sweep point filters that shared rank column, so
    * the corpus-side candidate join runs once, not once per setting.
    * Output: (n_probe, query_id, neighbor_id, rank).
    */
  def ivfProbeSweep(
      corpus: DataFrame,
      queries: DataFrame,
      centroids: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      probes: Seq[Int]
  ): DataFrame = {
    require(probes.nonEmpty, "probes must be non-empty")
    val maxProbe = probes.max
    val assigned = assignToCentroids(corpus, centroids, idCol, vecCol)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cvec"),
        norm(col(vecCol)).as("cnorm"), col("centroid_id"))

    val cent = centroids.select(col(idCol).as("cid"), col(vecCol).as("centroid"),
      norm(col(vecCol)).as("cent_norm"))
    val qw = Window.partitionBy(col("query_id"))
      .orderBy(col("csim").desc, col("cid").asc)
    val probeRanks = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("qvec"),
        norm(col(vecCol)).as("qnorm"))
      .crossJoin(broadcast(cent))
      .withColumn("csim",
        dot(col("qvec"), col("centroid")) / (col("qnorm") * col("cent_norm")))
      .withColumn("crank", row_number().over(qw))
      .filter(col("crank") <= maxProbe)
      .select(col("query_id"), col("qvec"), col("qnorm"), col("crank"),
        col("cid").as("centroid_id"))
      // fan the (query, probed cell) rows out to every sweep point that
      // includes them — sweep metadata rides the tiny broadcast side
      .withColumn("n_probe", explode(array(probes.map(lit(_)): _*)))
      .filter(col("crank") <= col("n_probe"))

    val w = Window.partitionBy(col("n_probe"), col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    assigned
      .join(broadcast(probeRanks), Seq("centroid_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", dot(col("qvec"), col("cvec")) / (col("qnorm") * col("cnorm")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("n_probe"), col("query_id"), col("neighbor_id"), col("rank"))
  }

  /** Two-stage retrieval: a CHEAP prefix-dimension cosine generates
    * `kCand` candidates per query, the full-dimension exact cosine
    * reranks them to top-`k` — the retrieve-then-rerank shape every
    * production stack uses (matryoshka-style truncated embeddings,
    * then the expensive metric on survivors only).
    *
    * Plan: stage 1 is the [[bruteForceTopK]] shape on `slice(vec,
    * 1, dPrefix)` — queries broadcast, corpus never shuffles, per-pair
    * cost dPrefix/dim of the full metric. Stage 2 touches only
    * queries·kCand candidate rows: they broadcast back onto the corpus
    * by id, so the full-width vectors are read once and never shuffle
    * either. Recall < 1 by construction (a true neighbor the prefix
    * metric misses stays missed); tune kCand — SimilaritySpec pins
    * recall against single-stage exact on the fixture.
    */
  def twoStageTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      dPrefix: Int,
      kCand: Int,
      k: Int
  ): DataFrame = {
    val pc = corpus.select(col(idCol).as("neighbor_id"),
      slice(col(vecCol), 1, dPrefix).as("pvec"))
      .withColumn("pnorm", norm(col("pvec")))
    val pq = queries.select(col(idCol).as("query_id"),
      slice(col(vecCol), 1, dPrefix).as("qpvec"))
      .withColumn("qpnorm", norm(col("qpvec")))
    val w1 = Window.partitionBy(col("query_id"))
      .orderBy(col("psim").desc, col("neighbor_id").asc)
    val cand = pc.crossJoin(broadcast(pq))
      .filter(col("query_id") =!= col("neighbor_id"))
      // norms hoisted to the per-row projections (bitwise identical
      // values; a pair costs one dPrefix-wide dot, not a dot + 2 norms)
      .withColumn("psim", dot(col("qpvec"), col("pvec")) /
        (col("qpnorm") * col("pnorm")))
      .withColumn("crank", row_number().over(w1))
      .filter(col("crank") <= kCand)
      .select(col("query_id"), col("neighbor_id"))

    val cFull = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cvec"),
      norm(col(vecCol)).as("cnorm"))
    val qFull = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"),
      norm(col(vecCol)).as("qnorm"))
    val w2 = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    cFull.join(broadcast(cand), Seq("neighbor_id"))
      .join(broadcast(qFull), Seq("query_id"))
      .withColumn("sim", dot(col("qvec"), col("cvec")) / (col("qnorm") * col("cnorm")))
      .withColumn("rank", row_number().over(w2))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
  }

  /** LSH-bucketed embedding near-duplicate pairs — the 100 TB path.
    *
    * Map-side `planes`-bit random-hyperplane signature per vector
    * ([[graft.functions.SrpSignature]]); signatures are banded into
    * `planes/bandBits` bands; vectors sharing any band land in a bucket;
    * within-bucket candidate pairs are verified with the exact cosine.
    * Only (band, value, id) tuples shuffle — never the vectors — and the
    * verify join is an equi-join on id. P[band agrees] = (1 − θ/π)^bandBits,
    * so recall is high precisely in the near-dup regime (θ small); the
    * spec pins it against the exact baseline on planted near-dups.
    */
  def srpNearDupPairs(
      vectors: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      planes: Int = 64,
      bandBits: Int = 16,
      maxBucket: Int = Int.MaxValue
  ): DataFrame = {
    require(planes % bandBits == 0, "bandBits must divide planes")
    val bands = planes / bandBits
    val mask = if (bandBits == 64) -1L else (1L << bandBits) - 1

    val sig = vectors.select(col(idCol).as("id"), col(vecCol).as("vec"),
      norm(col(vecCol)).as("nrm"),
      graft.functions.GraftFunctions.srpSig(col(vecCol), planes).as("sig"))

    val blocked = sig.select(
      col("id"),
      posexplode(array((0 until bands).map(b =>
        shiftrightunsigned(col("sig"), b * bandBits).bitwiseAND(mask)): _*))
        .as(Seq("band", "band_val")))

    val cand = Dedup.bucketPairs(
      blocked.groupBy(col("band"), col("band_val"))
        .agg(sort_array(collect_set(col("id"))).as("ids")),
      maxBucket)
      .distinct()

    cand
      .join(sig.select(col("id").as("id_a"), col("vec").as("vec_a"), col("nrm").as("norm_a")), Seq("id_a"))
      .join(sig.select(col("id").as("id_b"), col("vec").as("vec_b"), col("nrm").as("norm_b")), Seq("id_b"))
      .withColumn("sim",
        dot(col("vec_a"), col("vec_b")) / (col("norm_a") * col("norm_b")))
      // NaN compares greater than everything in Spark; a zero-norm
      // vector would otherwise pair with every candidate
      .filter(!isnan(col("sim")) && col("sim") >= threshold)
      .select("id_a", "id_b")
  }

  /** Embedding-cosine near-duplicate pairs: all pairs above `threshold`.
    * Exact (quadratic) — scoped as the VERIFIER behind an LSH candidate
    * generator ([[srpNearDupPairs]] is the bucketed scale path), so the
    * cartesian is bounded: a fail-fast guard refuses inputs larger than
    * `maxRows` instead of silently launching an O(n²) job that dies at
    * 100×. The guard scans at most maxRows+1 ids of one column — O(bound),
    * not O(corpus) — and is the documented cost of keeping an unbounded
    * cartesian out of every registered query.
    *
    * NOTE: the guard is an EAGER Spark job at DataFrame-construction time
    * (this function is not a lazy transformation): each call scans up to
    * maxRows+1 ids, and an oversized input fails here, at plan build,
    * rather than at execution. Callers composing lazy plans should call
    * this last.
    */
  def cosineNearDupPairs(
      vectors: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      maxRows: Int = 200000
  ): DataFrame = {
    val n = vectors.select(col(idCol)).limit(maxRows + 1).count()
    require(n <= maxRows,
      s"cosineNearDupPairs is the exact O(n^2) verifier; input exceeds $maxRows rows — " +
        "use srpNearDupPairs (banded SRP-LSH) for corpus-scale near-dup detection")
    val a = vectors.select(col(idCol).as("id_a"), col(vecCol).as("vec_a"),
      norm(col(vecCol)).as("norm_a"))
    val b = vectors.select(col(idCol).as("id_b"), col(vecCol).as("vec_b"),
      norm(col(vecCol)).as("norm_b"))
    a.crossJoin(b)
      .filter(col("id_a") < col("id_b"))
      .withColumn("sim",
        dot(col("vec_a"), col("vec_b")) / (col("norm_a") * col("norm_b")))
      .filter(!isnan(col("sim")) && col("sim") >= threshold)
      .select("id_a", "id_b")
  }
}
