package graft

import org.apache.spark.sql.functions._

import graft.operators.Quantize

class QuantizeSpec extends SparkSpec {

  import spark.implicits._

  private def vecs = Seq(
    (1L, Array(1.0f, -0.5f, 0.25f, 0.0f)),
    (2L, Array(0.0f, 0.0f, 0.0f, 0.0f)), // zero vector
    (3L, Array(-2.0f, 2.0f, 1.0f, -1.0f)),
    (4L, Array(1e-8f, -1e-8f, 1e-8f, 0.0f)) // tiny but nonzero
  ).toDF("id", "vec")

  test("int8 range, max lane hits ±127, zero vector stays zero with scale 0") {
    val out = Quantize.toInt8(vecs, "id", "vec")
      .collect().map(r => r.getLong(0) ->
        (r.getSeq[Int](1), r.getDouble(2))).toMap
    out.values.foreach { case (q, _) => q.foreach(v => assert(v >= -127 && v <= 127)) }
    assert(out(1L)._1 == Seq(127, -63, 32, 0)) // -0.5→-63.5→floor(-63)… floor(-63.5+0.5)=-63; 0.25→31.75→32
    assert(out(2L)._1 == Seq(0, 0, 0, 0) && out(2L)._2 == 0.0)
    // −1.0 → −63.5 → floor(−63.5 + 0.5) = −63 (round-half-up, not half-away)
    assert(out(3L)._1 == Seq(-127, 127, 64, -63))
    assert(out(4L)._1.max == 127) // scale adapts to tiny magnitudes
  }

  test("round-trip error bounded by scale/2 per lane") {
    val out = Quantize.toInt8(vecs, "id", "vec")
      .join(vecs, "id")
      .collect()
    out.foreach { r =>
      val scale = r.getAs[Double]("scale")
      // dequantize: v ≈ q · scale
      val deq = r.getSeq[Int](r.fieldIndex("qvec")).map(_.toDouble * scale)
      val orig = r.getSeq[Float](r.fieldIndex("vec"))
      deq.zip(orig).foreach { case (d, o) =>
        assert(math.abs(d - o.toDouble) <= scale / 2 + 1e-12,
          s"id=${r.getLong(0)} deq=$d orig=$o scale=$scale")
      }
    }
  }

  test("pqEncode assigns each subvector its nearest sub-centroid") {
    // 1-D subspaces make the argmin hand-checkable: dim 4, 4 subspaces,
    // codebooks from the first 2 vectors by id
    val d = Seq(
      (1L, Array(0.0f, 0.0f, 1.0f, 1.0f)),
      (2L, Array(1.0f, 1.0f, 0.0f, 0.0f)),
      (3L, Array(0.1f, 0.9f, 0.2f, 0.8f))
    ).toDF("id", "vec")
    val cb = Quantize.pqCodebooks(d, "id", "vec", dim = 4, subspaces = 4, nCodes = 2)
    val codes = Quantize.pqEncode(d.filter(col("id") === 3L), "id", "vec", cb,
      dim = 4, subspaces = 4)
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    // 0.1->code0(0.0), 0.9->code1(1.0), 0.2->code1? sub2 centroids are
    // (v1[3]=1.0 code0, v2[3]=0.0 code1): 0.2 nearer 0.0 -> code 1
    assert(codes == Map(0L -> 0L, 1L -> 1L, 2L -> 1L, 3L -> 0L))
  }

  test("pqAdcTopK recalls most exact neighbors on the fixture corpus") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 8)
    val cb = Quantize.pqCodebooks(emb, "vec_id", "embedding",
      dim = 64, subspaces = 8, nCodes = 16)
    val codes = Quantize.pqEncode(emb, "vec_id", "embedding", cb,
      dim = 64, subspaces = 8)
    val approx = Quantize.pqAdcTopK(codes, cb, queries, "vec_id", "embedding",
      dim = 64, subspaces = 8, k = 20)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).toSet }

    // exact L2 top-5 (ADC approximates L2, not cosine)
    val withNorm = emb.select(col("vec_id"), col("embedding"))
    val exact = withNorm.as("a").crossJoin(withNorm.as("b"))
      .filter(col("a.vec_id") < 8 && col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("q"), col("b.vec_id").as("n"),
        graft.operators.Clustering.squaredDistance(
          col("a.embedding"), col("b.embedding")).as("d2"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("q"))
          .orderBy(col("d2").asc, col("n").asc)))
      .filter(col("rank") <= 5)
      .select("q", "n").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).toSet }

    // quantized recall@20 of the exact top-5: well above the ~4% chance rate
    val recalls = exact.map { case (q, e) => e.count(approx(q).contains).toDouble / e.size }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.3, s"PQ-ADC mean recall $mean")
  }

  // shared exact-L2 top-5 baseline + recall helper for the fidelity tests
  private def exactTop5(emb: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
    emb.select(col("vec_id"), col("embedding")).as("a")
      .crossJoin(emb.select(col("vec_id"), col("embedding")).as("b"))
      .filter(col("a.vec_id") < 8 && col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("q"), col("b.vec_id").as("n"),
        graft.operators.Clustering.squaredDistance(
          col("a.embedding"), col("b.embedding")).as("d2"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("q"))
          .orderBy(col("d2").asc, col("n").asc)))
      .filter(col("rank") <= 5)
      .select("q", "n").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).toSet }

  private def meanRecall(
      exact: Map[Long, Set[Long]],
      approx: org.apache.spark.sql.DataFrame): Double = {
    val a = approx.select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).toSet }
    val rs = exact.map { case (q, e) =>
      e.count(a.getOrElse(q, Set.empty).contains).toDouble / e.size }
    rs.sum / rs.size
  }

  test("trained codebooks beat the first-N stand-in on ADC recall") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 8)
    val exact = exactTop5(emb)

    val standIn = Quantize.pqCodebooks(emb, "vec_id", "embedding", 64, 8, 16)
    val base = meanRecall(exact, Quantize.pqAdcTopK(
      Quantize.pqEncode(emb, "vec_id", "embedding", standIn, 64, 8),
      standIn, queries, "vec_id", "embedding", 64, 8, k = 20))

    val trained = Quantize.pqTrainedCodebooks(emb, "vec_id", "embedding", 64, 8, 16, iters = 1)
    val tr = meanRecall(exact, Quantize.pqAdcTopK(
      Quantize.pqEncode(emb, "vec_id", "embedding", trained, 64, 8),
      trained, queries, "vec_id", "embedding", 64, 8, k = 20))

    // measured on the fixture: 0.575 stand-in vs 0.70 after one Lloyd step
    assert(tr > base, s"trained recall $tr should beat stand-in $base")
  }

  test("residual encoding with trained codebooks beats raw-vector IVF-PQ") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 8)
    val cents = emb.orderBy(col("vec_id")).limit(16)
    val exact = exactTop5(emb)

    val raw = meanRecall(exact, Quantize.ivfPqTopK(
      emb, queries, cents,
      Quantize.pqCodebooks(emb, "vec_id", "embedding", 64, 8, 16),
      "vec_id", "embedding", 64, 8, k = 20, nProbe = 8))

    val res = Quantize.residuals(emb, cents, "vec_id", "embedding")
    val rcb = Quantize.pqTrainedCodebooks(res, "vec_id", "resid", 64, 8, 16, iters = 1)
    val rt = meanRecall(exact, Quantize.ivfPqResidualTopK(
      emb, queries, cents, rcb, "vec_id", "embedding", 64, 8, k = 20, nProbe = 8))

    // measured: 0.725 raw stand-in vs 0.775 trained-residual — the
    // recall-at-fixed-code-budget win residual encoding exists for
    assert(rt > raw, s"trained-residual recall $rt should beat raw $raw")
  }

  test("pqCodebooksFromUpdate carries empty codes' previous centroids") {
    // two codes; every vector sits at the origin, so code 1 (far away)
    // attracts no members and must keep its previous centroid
    val vecs = Seq(
      (1L, Array(0.0f, 0.0f)),
      (2L, Array(0.1f, -0.1f)),
      (3L, Array(-0.1f, 0.1f))
    ).toDF("id", "vec")
    val prev = Seq(
      (0, 0L, Array(0.0, 0.0)),
      (0, 1L, Array(9.0, 9.0))
    ).toDF("sub", "code", "centroid")
    val upd = Quantize.pqUpdateStep(vecs, "vec", prev, dim = 2, subspaces = 1)
    assert(upd.select("code").distinct().as[Long].collect().toSet == Set(0L))
    val out = Quantize.pqCodebooksFromUpdate(upd, prev)
      .collect().map(r => r.getLong(1) -> r.getSeq[Double](2)).toMap
    assert(out(1L) == Seq(9.0, 9.0)) // empty code carried
    assert(out(0L) == Seq(0.0, 0.0)) // mean of members
  }

  test("ivfPqTopK recalls exact neighbors through coarse probe + codes") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 8)
    val approx = Quantize.ivfPqTopK(
      emb, queries, emb.orderBy(col("vec_id")).limit(16),
      Quantize.pqCodebooks(emb, "vec_id", "embedding", 64, 8, 16),
      "vec_id", "embedding", dim = 64, subspaces = 8, k = 20, nProbe = 8)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).toSet }

    val exact = emb.select(col("vec_id"), col("embedding")).as("a")
      .crossJoin(emb.select(col("vec_id"), col("embedding")).as("b"))
      .filter(col("a.vec_id") < 8 && col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("q"), col("b.vec_id").as("n"),
        graft.operators.Clustering.squaredDistance(
          col("a.embedding"), col("b.embedding")).as("d2"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("q"))
          .orderBy(col("d2").asc, col("n").asc)))
      .filter(col("rank") <= 5)
      .select("q", "n").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).toSet }

    // coarse-probe loss compounds quantization loss; still far above chance
    val recalls = exact.map { case (q, e) =>
      e.count(approx.getOrElse(q, Set.empty).contains).toDouble / e.size }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.25, s"IVF-PQ mean recall $mean")
  }
}
