package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Embedding-space clustering kernels: Lloyd (k-means) assignment and
  * centroid-update steps over `array<float>` embedding columns.
  *
  * Scale shape: centroids are a tiny dimension table (k rows) that is
  * BROADCAST to every executor; the corpus side never shuffles for
  * assignment — it is a map-only argmin over k distance evaluations per
  * row, fully inside whole-stage codegen (higher-order array functions,
  * no UDFs). The update step is one partial-aggregated shuffle keyed by
  * (cluster, lane) — exactly the combine-locally-then-merge shape that
  * holds at 100 TB (state per reducer is k·dim doubles, independent of
  * corpus size).
  *
  * Determinism discipline (the oracle gate hash-compares doubles
  * bit-for-bit): every distance is a left-fold over lanes in index
  * order with a fixed (x−y)·(x−y) op sequence in double precision, and
  * centroid means fold member values in vec-id order — both engines
  * reduce in the identical sequence, so the doubles match exactly.
  * (A production job would use plain `avg`; the ordered fold costs one
  * `sort_array` per group at fixture scale and buys an exact oracle.)
  *
  * Reference context: the reference pipeline has no vector operators at
  * all (SURVEY.md §2 "absent" list) — this is north-star surface for
  * embedding-store pipelines (cluster-then-shard layouts, IVF coarse
  * quantizers; see also [[Similarity]] for the IVF search path).
  */
object Clustering {

  /** Squared L2 distance between two float-array columns: lanes cast to
    * double, then a left-fold sum in lane order (deterministic).
    */
  def squaredDistance(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) =>
        (x.cast("double") - y.cast("double")) * (x.cast("double") - y.cast("double"))),
      lit(0.0),
      (acc, d) => acc + d)

  /** Deterministic initial centroids: the k lowest-id vectors. (Real
    * k-means++ seeds from a hash-salted sample; lowest-id keeps the
    * oracle trivially reproducible.)
    */
  def initialCentroids(vecs: DataFrame, idCol: String, vecCol: String, k: Int): DataFrame =
    vecs
      .orderBy(col(idCol))
      .limit(k)
      .select(col(idCol).as("cluster_id"), col(vecCol).as("centroid"))

  /** Lloyd assignment: nearest centroid per vector (ties break to the
    * smallest cluster id). Output: (id, cluster_id, dist2).
    *
    * Plan shape — ZERO shuffles on the corpus side: the k centroids are
    * collapsed into a single array row (sorted by cluster id), broadcast,
    * and attached to every corpus partition by a 1-row broadcast cross
    * join; the argmin is then a map-side left-fold over that array. A
    * naive cross-join + groupBy(id) argmin would re-shuffle the whole
    * corpus (k rows per vector through an exchange) — at 100 TB this
    * fold keeps assignment scan-bound. Strict `<` + ascending cluster
    * order makes the first minimum win, i.e. smallest-id tie-break.
    */
  /** One-row, broadcastable array of all centroids, sorted by id. */
  private def centroidArray(centroids: DataFrame): DataFrame =
    centroids.agg(
      sort_array(collect_list(struct(col("cluster_id"), col("centroid")))).as("cents"))

  /** Map-side argmin fold over a broadcast centroid array: the
    * (dist2, cluster_id) of the nearest centroid. Strict `<` + ascending
    * cluster order = smallest-id tie-break.
    */
  private def nearest(vec: Column, cents: Column): Column =
    aggregate(
      cents,
      struct(lit(Double.MaxValue).as("dist2"), lit(-1L).as("cluster_id")),
      (best, c) => {
        val d = squaredDistance(vec, c("centroid"))
        when(d < best("dist2"),
          struct(d.as("dist2"), c("cluster_id").as("cluster_id")))
          .otherwise(best)
      })

  def assign(
      vecs: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: DataFrame
  ): DataFrame =
    vecs
      .crossJoin(broadcast(centroidArray(centroids)))
      .select(col(idCol).as("id"), nearest(col(vecCol), col("cents")).as("best"))
      .select(col("id"), col("best.cluster_id").as("cluster_id"),
        col("best.dist2").as("dist2"))

  /** Per-cluster representative: the member nearest its centroid (ties
    * → smallest id) plus the member count — the exemplar-selection step
    * of coreset / cluster-based diversity sampling (keep one exemplar
    * per semantic cell, weight it by cell size).
    *
    * Plan shape: [[assign]]'s zero-shuffle broadcast argmin fold, then
    * ONE partially-aggregated shuffle — `min` over a (dist2, id) struct
    * is a lexicographic argmin that combines map-side, so each map task
    * forwards at most k rows; no per-cluster sort, no window exchange,
    * and a hot cluster costs the same as a cold one. dist2 is the
    * lane-ordered fold, so the argmin comparisons are engine-exact.
    */
  /** Topic-balanced selection: keep at most `cap` members per cluster,
    * closest-to-centroid first (ties → smallest id) — the per-topic
    * quota pass of cluster-balanced data curation (cap the dominant
    * semantic cells so one topic cannot swamp the mixture).
    *
    * Plan shape: one hash-partitioned window keyed by cluster — the
    * sort is confined to each cluster's partition, nothing global
    * sorts, and AQE splits a skewed (hot-topic) cluster's sort across
    * tasks. dist2 comparisons reuse [[assign]]'s lane-ordered fold, so
    * rank order — and therefore the kept set — is engine-exact.
    */
  def capPerCluster(assigned: DataFrame, cap: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("cluster_id")).orderBy(col("dist2"), col("id"))
    assigned
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= cap)
      .drop("__rn")
  }

  def coresetReps(
      vecs: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: DataFrame
  ): DataFrame =
    assign(vecs, idCol, vecCol, centroids)
      .groupBy(col("cluster_id"))
      .agg(
        min(struct(col("dist2"), col("id"))).as("m"),
        count(lit(1)).as("n_members"))
      .select(
        col("cluster_id"), col("m.id").as("rep_id"),
        col("m.dist2").as("dist2"), col("n_members"))

  /** Reassemble [[updateStep]]'s (cluster, lane, value) rows into
    * per-cluster centroid arrays — the input shape [[assign]] takes, so
    * Lloyd iterations compose: assign → update → centroids → assign.
    * k·dim rows aggregate to k rows; cost is independent of corpus size.
    */
  def centroidsFromUpdate(update: DataFrame): DataFrame =
    update
      .groupBy(col("cluster_id"))
      .agg(transform(
        sort_array(collect_list(struct(col("lane"), col("centroid_v")))),
        s => s("centroid_v")).as("centroid"))

  /** One Lloyd centroid-update step: per (cluster, lane), the mean of
    * member lane values — folded in vec-id order so the double sum is
    * engine-exact. Output: (cluster_id, lane, centroid_v, n_members).
    *
    * Scale note: `sort_array(collect_list(...))` buffers one group's
    * members per reducer — bounded by the largest cluster. At 100 TB
    * swap the fold for plain `avg` (order-free, approximately equal);
    * the ordered fold here exists to make the oracle exact.
    */
  def updateStep(
      vecs: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: DataFrame
  ): DataFrame = {
    val assigned = assign(vecs, idCol, vecCol, centroids)
    vecs
      .select(col(idCol).as("id"), posexplode(col(vecCol)).as(Seq("lane", "v")))
      .join(assigned.select(col("id"), col("cluster_id")), "id")
      .groupBy(col("cluster_id"), col("lane"))
      .agg(
        sort_array(collect_list(struct(col("id"), col("v").cast("double").as("v"))))
          .as("vs"),
        count(lit(1)).as("n_members"))
      .select(
        col("cluster_id"), col("lane"),
        (aggregate(col("vs"), lit(0.0), (acc, x) => acc + x("v")) /
          col("n_members").cast("double")).as("centroid_v"),
        col("n_members"))
  }

  /** The PRODUCTION centroid-update step — same output shape as
    * [[updateStep]], built for 100 TB:
    *
    *   - assignment is inlined (the broadcast argmin fold runs in the
    *     same map stage that explodes lanes), so the corpus-sized
    *     id-join [[updateStep]] pays is gone entirely;
    *   - the mean is `sum/count` with map-side partials — reducer state
    *     per (cluster, lane) is two scalars, independent of cluster
    *     size, so a mega-cluster cannot OOM a task (the `collect_list`
    *     in [[updateStep]] buffers a whole cluster's members per
    *     reducer — its oracle-exactness tradeoff).
    *
    * One partial-aggregated shuffle total. The double sum is order-free,
    * so results agree with [[updateStep]] only to fp rounding (~1e-12
    * relative) — ClusteringSpec pins the agreement; the ordered-fold
    * variant remains the oracle-gate path.
    */
  def updateStepAtScale(
      vecs: DataFrame,
      vecCol: String,
      centroids: DataFrame
  ): DataFrame =
    vecs
      .crossJoin(broadcast(centroidArray(centroids)))
      // fold in a generator-free projection (ExtractGenerator would strip
      // the struct field aliases inside the lambda), then explode
      .select(nearest(col(vecCol), col("cents")).as("best"), col(vecCol).as("vec"))
      .select(col("best.cluster_id").as("cluster_id"),
        posexplode(col("vec")).as(Seq("lane", "v")))
      .groupBy(col("cluster_id"), col("lane"))
      .agg(sum(col("v").cast("double")).as("s"), count(lit(1)).as("n_members"))
      .select(
        col("cluster_id"), col("lane"),
        (col("s") / col("n_members").cast("double")).as("centroid_v"),
        col("n_members"))
}
