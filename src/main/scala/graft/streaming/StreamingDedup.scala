package graft.streaming

import org.apache.spark.sql.DataFrame

/** Streaming deduplication — the ingest-side screens of the batch dedup
  * operators: drop arriving records that duplicate a persisted corpus
  * index, before they ever hit storage. Every screen is a stateless
  * stream-static join (no watermark, no state store) and a pure
  * DataFrame→DataFrame function that also works on batch inputs
  * (unified API). First-arrival dedup WITHIN a stream is Spark's own
  * `dropDuplicates` (unbounded state) or `dropDuplicatesWithinWatermark`
  * (state evicted as the watermark advances) on the key columns.
  */
object StreamingDedup {

  /** Stream-static EXACT-dedup screen — drop arriving rows whose text
    * digest already exists in the persisted corpus index
    * ([[graft.operators.Dedup.digestIndex]]): the ingest-side half of
    * incremental exact dedup ([[graft.operators.Dedup.dedupDeltaExact]]
    * is the batch-delta shape). Stateless by construction — a
    * stream-static left-anti join on the digest runs in Append mode
    * with no watermark and no streaming state.
    *
    * Index-growth semantics (spec-pinned): the static side's FILE
    * LISTING is resolved when the streaming query starts and stays
    * frozen — digests appended to the index parquet afterwards are NOT
    * seen by later micro-batches of a running query (nor after
    * `refreshByPath`; the resolved file index lives inside the query
    * plan). To screen against a growing index, either restart the
    * query at the maintenance cadence, or run this function inside
    * `foreachBatch` over a FRESH `spark.read.parquet(indexPath)` per
    * batch — the standard pattern, same stateless join per batch.
    *
    * Within-stream repeats are a separate concern by design (state vs
    * statelessness): compose with `dropDuplicatesWithinWatermark` on
    * the digest column when first-arrival semantics across the stream
    * itself are needed.
    */
  def digestScreen(
      incoming: DataFrame,
      index: DataFrame,
      textCol: String
  ): DataFrame = {
    import org.apache.spark.sql.functions.{col, sha2, unhex}
    graft.operators.Dedup.requireBinaryDigestIndex(index, "digestScreen")
    val dcol = Iterator.iterate("__digest")(_ + "_")
      .dropWhile(incoming.columns.contains).next()
    incoming
      // 32-byte binary digest — must match [[Dedup.digestIndex]]'s key
      .withColumn(dcol, unhex(sha2(col(textCol), 256)))
      .join(index.select(col("digest").as(dcol)), Seq(dcol), "left_anti")
      .drop(dcol)
  }

  /** Pre-bucket a persisted MinHash signature index
    * ([[graft.operators.Dedup.minhashSignatures]] output) for the
    * stream-side near-dup screen: one row per (band, band_val) holding
    * that bucket's full signatures. Persist THIS (e.g.
    * `partitionBy("band")`) so each of [[neardupScreen]]'s per-band
    * joins reads only its own band's files.
    */
  def bucketSignatureIndex(index: DataFrame, k: Int, bands: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    require(k % bands == 0, "bands must divide k")
    val rows = k / bands
    index
      .select(col("signature"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => slice(col("signature"), b * lit(rows) + lit(1), lit(rows))))
          .as(Seq("band", "band_val")))
      .groupBy(col("band"), col("band_val"))
      .agg(collect_list(col("signature")).as("mates"))
  }

  /** Stream-static NEAR-dup screen — the ingest-time twin of
    * [[graft.operators.Dedup.neardupDeltaScreen]]: drop arriving docs
    * whose MinHash signature shares an LSH band with an indexed doc AND
    * whose full-signature agreement estimates Jaccard ≥ `threshold`.
    * Survivors keep all their columns; docs too short to shingle (null
    * signature) pass, exactly like the batch screen.
    *
    * Stateless by construction, so it runs in Append mode with no
    * watermark and no streaming state: the signature is one map-side
    * codegen expression per arriving row (never shuffles the stream),
    * and each of the `bands` band slices LEFT-joins its bucket of the
    * static [[bucketSignatureIndex]] table — a row multiplies into
    * nothing (one bucket row per key), and the drop test is a
    * higher-order `exists` over the joined mate arrays. A band-exploded
    * equi-join (the batch shape) would need a per-doc any-band
    * aggregation — streaming state — which is exactly what this shape
    * avoids.
    *
    * Scale note: the static side is the whole bucketed index (k·8
    * bytes/doc plus bucket arrays) scanned once per band per
    * micro-batch — broadcast-sized indexes are free; beyond that,
    * persist the bucket table `partitionBy("band")` so each join prunes
    * to its band, and screen in larger batch deltas
    * ([[graft.operators.Dedup.neardupDeltaScreen]]) when the index
    * outgrows memory. Same documented bound family as
    * [[semanticScreen]]'s per-cell arrays (dial: more bands·rows →
    * smaller buckets). Index-GROWTH semantics are [[digestScreen]]'s:
    * the static listing freezes at query start — follow growth via
    * foreachBatch re-reads or query restarts.
    */
  def neardupScreen(
      incoming: DataFrame,
      bucketed: DataFrame,
      textCol: String,
      n: Int = 3,
      k: Int = 32,
      bands: Int = 8,
      threshold: Double = 0.5
  ): DataFrame = {
    import org.apache.spark.sql.functions._
    import graft.operators.Dedup
    require(k % bands == 0, "bands must divide k")
    val rows = k / bands
    val scol = Iterator.iterate("__sig")(_ + "_")
      .dropWhile(incoming.columns.contains).next()
    val sig = graft.functions.GraftFunctions.minhashSig(
      graft.functions.GraftFunctions
        .ngramHashes(col(textCol), n, Dedup.StrHashMult, Dedup.StrHashMod),
      (0 until k).map(Dedup.hashA), (0 until k).map(Dedup.hashB), Dedup.MinhashP)
    val withSig = incoming.withColumn(scol, sig)
    val joined = (0 until bands).foldLeft(withSig) { (cur, b) =>
      val bucket = broadcast(bucketed.filter(col("band") === b)
        .select(col("band_val").as(s"__bv_$b"), col("mates").as(s"__mates_$b")))
      cur.join(bucket,
        slice(cur(scol), b * rows + 1, rows) === col(s"__bv_$b"), "left")
    }
    val anyMatch = (0 until bands).map { b =>
      col(s"__mates_$b").isNotNull && exists(col(s"__mates_$b"), m =>
        size(filter(zip_with(col(scol), m, (x, y) => x === y), e => e))
          .cast("double") / lit(k.toDouble) >= threshold)
    }.reduce(_ || _)
    joined
      .filter(!anyMatch)
      .drop(scol +: (0 until bands).flatMap(b =>
        Seq(s"__bv_$b", s"__mates_$b")): _*)
  }

  /** The composed stateless INGEST screen — the whole arrival-time
    * dedup story in one chain, cheapest-first so each stage shrinks
    * the stream before the next pays its cost:
    *
    *  1. [[digestScreen]] — exact content kill, one broadcast-able
    *     anti-join on the 32-byte digest;
    *  2. [[neardupScreen]] — MinHash band screen against the bucketed
    *     signature index;
    *  3. [[semanticScreen]] — embedding near-dup kill within the
    *     assigned centroid cell.
    *
    * Every stage is a stream-static join, so the composition still
    * runs in Append mode with NO watermark and NO streaming state —
    * the whole pipeline is a per-row map + static joins, and the same
    * DataFrame program is the oracle-checkable batch twin
    * (q_ingest_pipeline). Index-growth semantics are [[digestScreen]]'s
    * (static listings freeze at query start — foreachBatch re-reads or
    * query restarts to follow growth); the scale bounds are each
    * stage's own documented dials.
    */
  def ingestScreen(
      incoming: DataFrame,
      digests: DataFrame,
      bucketedSigs: DataFrame,
      corpus: DataFrame,
      centroids: DataFrame,
      idCol: String,
      textCol: String,
      vecCol: String,
      n: Int = 3,
      k: Int = 32,
      bands: Int = 8,
      jaccardThreshold: Double = 0.5,
      cosineThreshold: Double = 0.9
  ): DataFrame =
    semanticScreen(
      neardupScreen(
        digestScreen(incoming, digests, textCol),
        bucketedSigs, textCol, n, k, bands, jaccardThreshold),
      corpus, centroids, idCol, vecCol, cosineThreshold)

  /** Stream-static semantic screen — drop arriving vectors that are
    * near-duplicates (cosine ≥ `threshold`) of the EXISTING corpus,
    * the production shape of [[graft.operators.Similarity.semanticDedup]]
    * at ingest time: new data screens against the indexed corpus
    * instead of re-deduping everything.
    *
    * Stateless by construction, so it runs in Append mode with no
    * watermark: the static corpus collapses to one row per centroid
    * cell (id, vec, norm structs), the stream joins its assigned cell
    * (map-side broadcast argmax assignment + a stream-static equi-join),
    * and the near-dup test is a higher-order `exists` over the
    * cell-mate array — no streaming aggregation, no anti-join on a
    * stream-derived set. Rows in cells with no corpus mates pass.
    *
    * Scale note: one row per cell must hold that cell's corpus vectors
    * — size cells accordingly (more centroids → smaller cells), or
    * pre-thin mates per cell; at 100 TB the right cell count makes
    * this the same per-row cost as IVF probing. Corpus-growth
    * semantics are [[digestScreen]]'s: a file-backed corpus's listing
    * freezes at query start — follow growth via foreachBatch re-reads
    * or query restarts.
    */
  def semanticScreen(
      incoming: DataFrame,
      corpus: DataFrame,
      centroids: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double
  ): DataFrame = {
    import org.apache.spark.sql.functions._
    import graft.operators.Similarity
    val ref = Similarity.assignToCentroids(corpus, centroids, idCol, vecCol)
      .select(col("centroid_id"),
        struct(col(idCol).cast("long").as("rid"), col(vecCol).as("rvec"),
          Similarity.norm(col(vecCol)).as("rnrm")).as("r"))
      .groupBy(col("centroid_id"))
      .agg(sort_array(collect_list(col("r"))).as("__mates"))
    val inc = Similarity.assignToCentroids(incoming, centroids, idCol, vecCol)
      .withColumn("__nrm", Similarity.norm(col(vecCol)))
    inc
      .join(ref, Seq("centroid_id"), "left")
      .filter(col("__mates").isNull || !exists(col("__mates"), r => {
        val sim = Similarity.dot(col(vecCol), r("rvec")) /
          (col("__nrm") * r("rnrm"))
        r("rid") =!= col(idCol).cast("long") && !isnan(sim) && sim >= threshold
      }))
      .drop("__mates", "__nrm", "centroid_id")
  }
}
