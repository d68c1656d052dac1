package graft.tools

import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.operators.Quantize

/** One-off measurement harness for PQ codebook fidelity: mean recall of
  * the exact L2 top-5 within the approximate top-20, for the stand-in,
  * trained, residual, and trained-residual variants — the numbers
  * QuantizeSpec pins. Not part of the driver contract.
  */
object RecallProbe {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.forMain("ERROR")
    val emb = spark.read.parquet(
      args.headOption.getOrElse("/root/testdata/sf0.001") + "/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 8)

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
      .select("q", "n").collect()
      .groupBy(_.getLong(0)).map { case (q, xs) => q -> xs.map(_.getLong(1)).toSet }

    def meanRecall(approx: Map[Long, Set[Long]]): Double = {
      val rs = exact.map { case (q, e) =>
        e.count(approx.getOrElse(q, Set.empty).contains).toDouble / e.size }
      rs.sum / rs.size
    }
    def collectTopK(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.select("query_id", "neighbor_id").collect()
        .groupBy(_.getLong(0)).map { case (q, xs) => q -> xs.map(_.getLong(1)).toSet }

    val standIn = Quantize.pqCodebooks(emb, "vec_id", "embedding", 64, 8, 16)
    val codesS = Quantize.pqEncode(emb, "vec_id", "embedding", standIn, 64, 8)
    println(f"adc stand-in : ${meanRecall(collectTopK(Quantize.pqAdcTopK(codesS, standIn, queries, "vec_id", "embedding", 64, 8, 20)))}%.4f")

    for (iters <- Seq(1, 2, 3)) {
      val trained = Quantize.pqTrainedCodebooks(emb, "vec_id", "embedding", 64, 8, 16, iters)
      val codesT = Quantize.pqEncode(emb, "vec_id", "embedding", trained, 64, 8)
      println(f"adc trained$iters: ${meanRecall(collectTopK(Quantize.pqAdcTopK(codesT, trained, queries, "vec_id", "embedding", 64, 8, 20)))}%.4f")
    }

    val cents = emb.orderBy(col("vec_id")).limit(16)
    println(f"ivfpq raw    : ${meanRecall(collectTopK(Quantize.ivfPqTopK(emb, queries, cents, standIn, "vec_id", "embedding", 64, 8, 20, 8)))}%.4f")

    val res = Quantize.residuals(emb, cents, "vec_id", "embedding")
    val rcbS = Quantize.pqCodebooks(res, "vec_id", "resid", 64, 8, 16)
    println(f"ivfpq resid  : ${meanRecall(collectTopK(Quantize.ivfPqResidualTopK(emb, queries, cents, rcbS, "vec_id", "embedding", 64, 8, 20, 8)))}%.4f")
    for (iters <- Seq(1, 2)) {
      val rcbT = Quantize.pqTrainedCodebooks(res, "vec_id", "resid", 64, 8, 16, iters)
      println(f"ivfpq res+tr$iters: ${meanRecall(collectTopK(Quantize.ivfPqResidualTopK(emb, queries, cents, rcbT, "vec_id", "embedding", 64, 8, 20, 8)))}%.4f")
    }
    spark.stop()
  }
}
