package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Embedding quantization — the storage/bandwidth lever for ANN at
  * scale: int8 symmetric per-vector quantization shrinks a float
  * embedding column 4× (and the shuffle that moves it).
  *
  * Determinism discipline: rounding is `floor(x + 0.5)` (Java
  * `Math.round` semantics) rather than `round()`, whose half-way rule
  * differs across engines; every double op (widen, ·127, /maxabs,
  * +0.5) is in a fixed order, so Spark and the DuckDB oracle agree
  * bit-for-bit. All map-side built-in higher-order functions — no
  * shuffle, no UDF.
  */
object Quantize {

  /** Per-vector symmetric int8 quantization of an `array<float>` column.
    * Returns (idCol, qvec: array<int> in [−127, 127], scale: double) —
    * dequantize as q·scale. Zero vectors (maxabs 0) quantize to zeros
    * with scale 0 (the 0/0 → NaN guard).
    */
  def toInt8(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val maxabs = array_max(transform(col(vecCol), v => abs(v)))
    val q = transform(
      col(vecCol),
      v => when(maxabs === 0.0f, lit(0))
        .otherwise(floor(v.cast("double") * 127.0 / maxabs.cast("double") + 0.5).cast("int"))
    )
    df.select(
      col(idCol),
      q.as("qvec"),
      (maxabs.cast("double") / 127.0).as("scale")
    )
  }

  // ------------------------------------------------- product quantization

  /** Product-quantization codebooks: split the `dim`-dimensional space
    * into `subspaces` blocks and take the first `nCodes` vectors' (by
    * id) subvectors as each block's code centroids — the deterministic
    * stand-in for per-subspace k-means that keeps results reproducible
    * (swap in [[Clustering]]-trained sub-centroids at deployment, the
    * same composition [[Similarity.ivfTopKWith]] documents). Output:
    * (sub, code, centroid) — subspaces·nCodes tiny rows, broadcastable.
    *
    * PQ is the 100 TB embedding-store compression lever: a 64-float
    * vector becomes `subspaces` small codes (here 8 bytes at
    * nCodes ≤ 256), an 8-32× shrink of the stored corpus AND of every
    * shuffle that moves it; search runs against per-query lookup
    * tables ([[pqAdcTopK]]) instead of raw vectors.
    */
  def pqCodebooks(
      vecs: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      subspaces: Int,
      nCodes: Int
  ): DataFrame = {
    require(dim % subspaces == 0, "subspaces must divide dim")
    val d = dim / subspaces
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("cid"))
    vecs.orderBy(col(idCol)).limit(nCodes)
      .select(col(idCol).as("cid"), col(vecCol).as("v"))
      // nCodes rows: the single-partition rank window is bounded
      .withColumn("code", (row_number().over(w) - 1).cast("long"))
      .select(col("code"),
        posexplode(transform(sequence(lit(0), lit(subspaces - 1)),
          s => slice(col("v"), s * lit(d) + lit(1), lit(d))))
          .as(Seq("sub", "centroid")))
      .select(col("sub"), col("code"), col("centroid"))
  }

  /** Argmin fold over a code-ascending centroid array: smallest-code
    * tie-break, same shape as the [[Clustering]] assignment fold —
    * map-side, inside codegen, zero shuffles on the vector side.
    */
  private def nearestCode(subvec: Column, cents: Column): Column =
    aggregate(
      cents,
      struct(lit(Double.MaxValue).as("dist2"), lit(-1L).as("code")),
      (best, c) => {
        val dd = Clustering.squaredDistance(subvec, c("centroid"))
        when(dd < best("dist2"), struct(dd.as("dist2"), c("code").as("code")))
          .otherwise(best)
      })("code")

  /** PQ-encode every vector: per subspace, the code of the nearest
    * sub-centroid (L2, smallest-code tie-break). Output: (id, sub,
    * code) — `subspaces` rows per vector of two small longs, the
    * compressed index a PQ store persists instead of the vectors.
    * Broadcast codebooks + map-side fold: the corpus never shuffles.
    */
  def pqEncode(
      vecs: DataFrame,
      idCol: String,
      vecCol: String,
      codebooks: DataFrame,
      dim: Int,
      subspaces: Int
  ): DataFrame = {
    require(dim % subspaces == 0, "subspaces must divide dim")
    val d = dim / subspaces
    val cb = codebooks.groupBy(col("sub"))
      .agg(sort_array(collect_list(struct(col("code"), col("centroid"))))
        .as("cents"))
    vecs
      .select(col(idCol).as("id"),
        posexplode(transform(sequence(lit(0), lit(subspaces - 1)),
          s => slice(col(vecCol), s * lit(d) + lit(1), lit(d))))
          .as(Seq("sub", "subvec")))
      .join(broadcast(cb), "sub")
      .select(col("id"), col("sub").cast("long").as("sub"),
        nearestCode(col("subvec"), col("cents")).as("code"))
  }

  /** One Lloyd update step over PQ subspace land — the per-subspace
    * k-means that turns [[pqCodebooks]]' first-N-by-id stand-ins into
    * TRAINED codebooks. Every (vector, subspace) pair is a point in the
    * `dim/subspaces`-dimensional sub-problem; all `subspaces` problems
    * run in ONE pass: explode subvectors, argmin against the broadcast
    * codebooks (the [[nearestCode]] fold — map-side, zero shuffles on
    * the vector side), then per (sub, code, lane) the member mean with
    * scalar-only reducer state — the [[Clustering.updateStepAtScale]]
    * shape, so a mega-code cannot OOM a task and the one shuffle
    * partial-aggregates. Output: (sub, code, lane, centroid_v,
    * n_members); codes with no members produce no rows (compose with
    * [[pqCodebooksFromUpdate]] to carry their previous centroid).
    *
    * The double mean is order-FREE (`sum/count`) — gate it exactly like
    * q_kmeans_update_scale by snapping inputs to a power-of-two grid
    * upstream; ungated callers just train on raw floats.
    */
  def pqUpdateStep(
      vecs: DataFrame,
      vecCol: String,
      codebooks: DataFrame,
      dim: Int,
      subspaces: Int
  ): DataFrame = {
    require(dim % subspaces == 0, "subspaces must divide dim")
    val d = dim / subspaces
    val cb = codebooks.groupBy(col("sub"))
      .agg(sort_array(collect_list(struct(col("code"), col("centroid"))))
        .as("cents"))
    vecs
      .select(posexplode(transform(sequence(lit(0), lit(subspaces - 1)),
        s => slice(col(vecCol), s * lit(d) + lit(1), lit(d))))
        .as(Seq("sub", "subvec")))
      .join(broadcast(cb), "sub")
      // fold in a generator-free projection (ExtractGenerator would strip
      // the struct-field aliases inside the lambda), then explode lanes
      .select(col("sub").cast("long").as("sub"),
        nearestCode(col("subvec"), col("cents")).as("code"), col("subvec"))
      .select(col("sub"), col("code"),
        posexplode(col("subvec")).as(Seq("lane", "v")))
      .groupBy(col("sub"), col("code"), col("lane"))
      .agg(sum(col("v").cast("double")).as("s"), count(lit(1)).as("n_members"))
      .select(col("sub"), col("code"), col("lane"),
        (col("s") / col("n_members").cast("double")).as("centroid_v"),
        col("n_members"))
  }

  /** Reassemble [[pqUpdateStep]] rows into (sub, code, centroid)
    * codebooks — the input shape [[pqEncode]]/[[pqUpdateStep]] take, so
    * training iterates. Codes that attracted no members keep their
    * PREVIOUS centroid (the standard empty-cluster rule; a dropped code
    * would silently shrink the codebook). Centroids come back as
    * array<double> — `prev` float centroids are widened to match.
    * subspaces·nCodes rows aggregate: cost independent of corpus size.
    */
  def pqCodebooksFromUpdate(update: DataFrame, prev: DataFrame): DataFrame =
    prev
      .select(col("sub"), col("code"),
        transform(col("centroid"), v => v.cast("double")).as("__prev"))
      .join(
        update.groupBy(col("sub"), col("code"))
          .agg(transform(
            sort_array(collect_list(struct(col("lane"), col("centroid_v")))),
            s => s("centroid_v")).as("__trained")),
        Seq("sub", "code"), "left")
      .select(col("sub"), col("code"),
        coalesce(col("__trained"), col("__prev")).as("centroid"))

  /** Train PQ codebooks: seed with [[pqCodebooks]]' deterministic
    * first-N-by-id subvectors, then run `iters` Lloyd steps. Each
    * iteration costs one corpus scan + one partial-agg shuffle of
    * (sub, code, lane) scalars; the codebooks themselves never exceed
    * subspaces·nCodes rows. QuantizeSpec pins that trained codebooks
    * improve ADC recall over the stand-in seed on the fixture corpus.
    */
  def pqTrainedCodebooks(
      vecs: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      subspaces: Int,
      nCodes: Int,
      iters: Int
  ): DataFrame = {
    val seed = pqCodebooks(vecs, idCol, vecCol, dim, subspaces, nCodes)
      .select(col("sub"), col("code"),
        transform(col("centroid"), v => v.cast("double")).as("centroid"))
    (1 to iters).foldLeft(seed) { (cb, _) =>
      pqCodebooksFromUpdate(pqUpdateStep(vecs, vecCol, cb, dim, subspaces), cb)
    }
  }

  /** Coarse-cell residuals — what production IVF-PQ actually encodes:
    * each vector minus its assigned coarse centroid ([[Similarity
    * .assignToCentroids]]' broadcast argmax fold, zero corpus shuffles).
    * Residuals concentrate near the origin, so a given code budget
    * quantizes them far better than raw vectors — this is where most of
    * the recall at fixed bytes/vector comes from. The subtraction is
    * float→double widening then IEEE double subtraction: EXACT, so
    * residuals are engine-deterministic. Output: the id column,
    * `centroid_id`, and `resid` (array<double>).
    */
  def residuals(
      vectors: DataFrame,
      centroids: DataFrame,
      idCol: String,
      vecCol: String
  ): DataFrame = {
    val cent = centroids.select(col(idCol).cast("long").as("centroid_id"),
      col(vecCol).as("__cvec"))
    Similarity.assignToCentroids(vectors, centroids, idCol, vecCol)
      .join(broadcast(cent), Seq("centroid_id"))
      .select(col(idCol), col("centroid_id"),
        zip_with(col(vecCol), col("__cvec"),
          (x, y) => x.cast("double") - y.cast("double")).as("resid"))
  }

  /** IVF-PQ with RESIDUAL encoding — the full production composition:
    * corpus codes quantize (vector − coarse centroid) against
    * residual-space `codebooks` (train them on [[residuals]] output —
    * [[pqCodebooks]] for the deterministic stand-in, or
    * [[pqTrainedCodebooks]] at deployment), and each query builds one
    * distance table PER PROBED CELL against its own residual
    * (query − that cell's centroid). Joining the code rows on
    * (centroid_id, sub, code) both restricts candidates to probed cells
    * AND selects the right per-cell table — the IVF bound and the ADC
    * lookup are the same equi-join.
    *
    * Scale shape unchanged from [[ivfPqTopK]]: raw vectors are touched
    * only at index-build time, the corpus side moves only (id, cell,
    * sub, code) rows, dtab is queries·nProbe·subspaces·nCodes tiny rows
    * (broadcast). Output: (query_id, neighbor_id, rank) by ascending
    * ADC distance, id tie-break.
    */
  def ivfPqResidualTopK(
      corpus: DataFrame,
      queries: DataFrame,
      centroids: DataFrame,
      codebooks: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      subspaces: Int,
      k: Int,
      nProbe: Int
  ): DataFrame =
    ivfPqResidualTopKFromResiduals(
      residuals(corpus, centroids, idCol, vecCol),
      queries, centroids, codebooks, idCol, vecCol, dim, subspaces, k, nProbe)

  /** [[ivfPqResidualTopK]] over PRECOMPUTED residuals — the deployment
    * shape when the caller has already materialized [[residuals]] for
    * codebook training: passing that frame here makes the search reuse
    * it instead of re-running the coarse assignment over the raw
    * corpus a second time (guide §2.4 — one corpus pass, not one per
    * consumer). `resid` must be [[residuals]]' output schema:
    * (idCol, centroid_id, resid).
    */
  def ivfPqResidualTopKFromResiduals(
      resid: DataFrame,
      queries: DataFrame,
      centroids: DataFrame,
      codebooks: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      subspaces: Int,
      k: Int,
      nProbe: Int
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(dim % subspaces == 0, "subspaces must divide dim")
    val d = dim / subspaces
    val cb = codebooks.groupBy(col("sub"))
      .agg(sort_array(collect_list(struct(col("code"), col("centroid"))))
        .as("cents"))
    val codes = resid
      .select(col(idCol).as("neighbor_id"), col("centroid_id"),
        posexplode(transform(sequence(lit(0), lit(subspaces - 1)),
          s => slice(col("resid"), s * lit(d) + lit(1), lit(d))))
          .as(Seq("sub", "subvec")))
      .join(broadcast(cb), "sub")
      .select(col("neighbor_id"), col("centroid_id"),
        col("sub").cast("long").as("sub"),
        nearestCode(col("subvec"), col("cents")).as("code"))

    val cent = centroids.select(col(idCol).cast("long").as("cid"),
      col(vecCol).as("centroid"), Similarity.norm(col(vecCol)).as("cent_norm"))
    val qw = Window.partitionBy(col("query_id"))
      .orderBy(col("csim").desc, col("cid").asc)
    val probes = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("qvec"),
        Similarity.norm(col(vecCol)).as("qnorm"))
      .crossJoin(broadcast(cent))
      .withColumn("csim",
        Similarity.dot(col("qvec"), col("centroid")) / (col("qnorm") * col("cent_norm")))
      .withColumn("crank", row_number().over(qw))
      .filter(col("crank") <= nProbe)
      .select(col("query_id"), col("cid").as("centroid_id"),
        zip_with(col("qvec"), col("centroid"),
          (x, y) => x.cast("double") - y.cast("double")).as("qres"))
    val dtab = probes
      .select(col("query_id"), col("centroid_id"),
        posexplode(transform(sequence(lit(0), lit(subspaces - 1)),
          s => slice(col("qres"), s * lit(d) + lit(1), lit(d))))
          .as(Seq("sub", "qsub")))
      .join(codebooks.withColumn("sub", col("sub").cast("int")), "sub")
      .select(col("query_id"), col("centroid_id"),
        col("sub").cast("long").as("sub"), col("code"),
        Clustering.squaredDistance(col("qsub"), col("centroid")).as("dd"))

    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc").asc, col("neighbor_id").asc)
    codes
      .join(broadcast(dtab), Seq("centroid_id", "sub", "code"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sort_array(collect_list(struct(col("sub"), col("dd")))).as("ds"))
      .select(col("query_id"), col("neighbor_id"),
        aggregate(col("ds"), lit(0.0), (acc, x) => acc + x("dd")).as("adc"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
  }

  /** IVF-PQ search — the composition production ANN stores actually
    * deploy (coarse inverted lists + PQ codes): queries probe their
    * `nProbe` nearest coarse cells ([[Similarity.assignToCentroids]]'s
    * broadcast-cosine ranking), and the candidates inside those cells
    * are ranked by PQ asymmetric distance over their CODES — the raw
    * corpus vectors are touched only at index-build time. Per query,
    * work ∝ (corpus/nCells)·nProbe candidate code rows; memory ∝
    * subspaces bytes per corpus vector.
    *
    * Output: (query_id, neighbor_id, rank) by ascending ADC distance,
    * id tie-break — recall compounds the coarse-probe and quantization
    * losses; QuantizeSpec pins it against the exact baseline.
    */
  def ivfPqTopK(
      corpus: DataFrame,
      queries: DataFrame,
      centroids: DataFrame,
      codebooks: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      subspaces: Int,
      k: Int,
      nProbe: Int
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(dim % subspaces == 0, "subspaces must divide dim")
    val d = dim / subspaces
    val assigned = Similarity
      .assignToCentroids(corpus, centroids, idCol, vecCol)
      .select(col(idCol).as("neighbor_id"), col("centroid_id"))
    val cent = centroids.select(col(idCol).as("cid"), col(vecCol).as("centroid"),
      Similarity.norm(col(vecCol)).as("cent_norm"))
    val qw = Window.partitionBy(col("query_id"))
      .orderBy(col("csim").desc, col("cid").asc)
    val probes = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("qvec"),
        Similarity.norm(col(vecCol)).as("qnorm"))
      .crossJoin(broadcast(cent))
      .withColumn("csim",
        Similarity.dot(col("qvec"), col("centroid")) / (col("qnorm") * col("cent_norm")))
      .withColumn("crank", row_number().over(qw))
      .filter(col("crank") <= nProbe)
      .select(col("query_id"), col("cid").as("centroid_id"))
    val cand = assigned
      .join(broadcast(probes), Seq("centroid_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"))

    val codes = pqEncode(corpus, idCol, vecCol, codebooks, dim, subspaces)
      .withColumnRenamed("id", "neighbor_id")
    val dtab = queries
      .select(col(idCol).as("query_id"),
        posexplode(transform(sequence(lit(0), lit(subspaces - 1)),
          s => slice(col(vecCol), s * lit(d) + lit(1), lit(d))))
          .as(Seq("sub", "qsub")))
      .join(codebooks.withColumn("sub", col("sub").cast("int")), "sub")
      .select(col("query_id"), col("sub").cast("long").as("sub"), col("code"),
        Clustering.squaredDistance(col("qsub"), col("centroid")).as("dd"))

    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc").asc, col("neighbor_id").asc)
    cand
      .join(codes, Seq("neighbor_id"))
      .join(broadcast(dtab), Seq("query_id", "sub", "code"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sort_array(collect_list(struct(col("sub"), col("dd")))).as("ds"))
      .select(col("query_id"), col("neighbor_id"),
        aggregate(col("ds"), lit(0.0), (acc, x) => acc + x("dd")).as("adc"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
  }

  /** Asymmetric-distance (ADC) top-k over a PQ-encoded corpus: each
    * query precomputes a (sub, code) → squared-distance lookup table
    * against the codebooks (queries·subspaces·nCodes tiny rows,
    * broadcast); a corpus vector's approximate distance is the sum of
    * its codes' table entries, folded in subspace order so the double
    * is engine-exact. Output: (query_id, neighbor_id, rank) by
    * ascending ADC distance, id tie-break.
    *
    * The scale shape PQ exists for: the corpus side touches only its
    * (id, sub, code) rows — the raw vectors never load, never shuffle —
    * and per-query work is a broadcast-join + one partial-agg shuffle
    * of code rows. Recall < 1 by construction (quantization error);
    * QuantizeSpec pins it against the exact baseline.
    */
  def pqAdcTopK(
      codes: DataFrame,
      codebooks: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      subspaces: Int,
      k: Int
  ): DataFrame = {
    require(dim % subspaces == 0, "subspaces must divide dim")
    val d = dim / subspaces
    val dtab = queries
      .select(col(idCol).as("query_id"),
        posexplode(transform(sequence(lit(0), lit(subspaces - 1)),
          s => slice(col(vecCol), s * lit(d) + lit(1), lit(d))))
          .as(Seq("sub", "qsub")))
      .join(codebooks.withColumn("sub", col("sub").cast("int")), "sub")
      .select(col("query_id"), col("sub").cast("long").as("sub"), col("code"),
        Clustering.squaredDistance(col("qsub"), col("centroid")).as("dd"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("adc").asc, col("neighbor_id").asc)
    codes
      .join(broadcast(dtab), Seq("sub", "code"))
      .filter(col("query_id") =!= col("id"))
      .select(col("query_id"), col("id").as("neighbor_id"), col("sub"), col("dd"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sort_array(collect_list(struct(col("sub"), col("dd")))).as("ds"))
      .select(col("query_id"), col("neighbor_id"),
        aggregate(col("ds"), lit(0.0), (acc, x) => acc + x("dd")).as("adc"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
  }
}
