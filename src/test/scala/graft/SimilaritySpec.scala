package graft

import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** Similarity-search semantics: exact brute-force top-k, IVF recall vs
  * the exact baseline, cosine near-dup pairs.
  */
class SimilaritySpec extends SparkSpec {

  import spark.implicits._

  private def vecs(rows: (Long, Seq[Float])*) =
    rows.toDF("vec_id", "embedding")

  test("brute-force top-k ranks by cosine, excludes self, breaks ties by id") {
    // axis-aligned: 1 ~ 2 (same direction), orthogonal 3
    val d = vecs(
      1L -> Seq(1f, 0f, 0f),
      2L -> Seq(2f, 0f, 0f),
      3L -> Seq(0f, 1f, 0f),
      4L -> Seq(1f, 1f, 0f)
    )
    val top = Similarity.bruteForceTopK(d, d.filter(col("vec_id") === 1), "vec_id", "embedding", k = 3)
      .orderBy("rank")
      .select("neighbor_id").as[Long].collect()
    // cos(1,2)=1 > cos(1,4)=0.707 > cos(1,3)=0
    assert(top.sameElements(Array(2L, 4L, 3L)))
  }

  test("hardNegatives: band ceiling excludes positives, ranks the rest") {
    val d = vecs(
      1L -> Seq(1f, 0f, 0f),
      2L -> Seq(2f, 0f, 0f),  // cos = 1.0 with 1 → positive, excluded
      3L -> Seq(0f, 1f, 0f),  // cos = 0
      4L -> Seq(1f, 1f, 0f),  // cos ≈ 0.707 → excluded at 0.6
      5L -> Seq(1f, 2f, 0f)   // cos ≈ 0.447 → hardest admissible negative
    )
    val got = Similarity.hardNegatives(
      d, d.filter(col("vec_id") === 1), "vec_id", "embedding", k = 2, maxSim = 0.6)
      .orderBy("rank").select("neighbor_id").as[Long].collect().toSeq
    assert(got == Seq(5L, 3L))
  }

  test("hardNegatives with an open band equals brute-force top-k") {
    val d = vecs((1L to 20L).map(i =>
      i -> Seq((i % 5).toFloat + 1f, (i % 3).toFloat, (i % 7).toFloat)): _*)
    val q = d.filter(col("vec_id") <= 2)
    val hard = Similarity.hardNegatives(d, q, "vec_id", "embedding", k = 5, maxSim = 2.0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val brute = Similarity.bruteForceTopK(d, q, "vec_id", "embedding", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(hard == brute)
  }

  test("IVF with full probing equals brute force; partial probing recalls most") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 8)

    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet

    // probing every cell ⇒ identical result set
    val full = Similarity.ivfTopK(emb, queries, "vec_id", "embedding",
      k = 5, nCells = 16, nProbe = 16)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(full == exact)

    // probing 4/16 cells ⇒ recall well above chance (4/16 = 25%)
    val partial = Similarity.ivfTopK(emb, queries, "vec_id", "embedding",
      k = 5, nCells = 16, nProbe = 4)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = exact.count(partial.contains).toDouble / exact.size
    assert(recall >= 0.25, s"IVF recall $recall")
  }

  test("SRP-LSH near-dup recalls planted near-duplicates of a real corpus") {
    // plant near-dups: copy vectors 0..19 with a tiny perturbation on one
    // coordinate -> cosine ~0.999; LSH must recover essentially all of them
    val base = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val planted = base.filter(col("vec_id") < 20)
      .select((col("vec_id") + 10000).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          when(i === 0, x * lit(1.01f)).otherwise(x)).cast("array<float>").as("embedding"))
    val all = base.unionByName(planted)

    val exact = Similarity.cosineNearDupPairs(all, "vec_id", "embedding", 0.99)
      .as[(Long, Long)].collect().toSet
    assert(exact.size >= 20) // the 20 planted pairs are all above 0.99

    val lsh = Similarity.srpNearDupPairs(all, "vec_id", "embedding", 0.99,
      planes = 64, bandBits = 16)
      .as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(exact)) // exact verify -> no false positives
    val recall = exact.count(lsh.contains).toDouble / exact.size
    assert(recall >= 0.9, s"SRP recall $recall")
  }

  test("appendToIndex: append+probe equals rebuild-from-scratch on the union") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cents = emb.orderBy(col("vec_id")).limit(16)
    val queries = emb.filter(col("vec_id") < 8)

    val path = graft.queries.Q.scratch("ivf_append_spec")
    Similarity.assignToCentroids(
        emb.filter(col("vec_id") < 300), cents, "vec_id", "embedding")
      .write.mode("overwrite").partitionBy("centroid_id").parquet(path)
    Similarity.appendToIndex(
      emb.filter(col("vec_id") >= 300), cents, "vec_id", "embedding", path)
    val grown = Similarity.ivfTopKIndexed(
      spark.read.parquet(path), queries, cents, "vec_id", "embedding", k = 5, nProbe = 4)
      .as[(Long, Long, Int)].collect().toSet

    val rebuilt = Similarity.ivfTopKWith(
      emb, queries, cents, "vec_id", "embedding", k = 5, nProbe = 4)
      .as[(Long, Long, Int)].collect().toSet
    assert(grown == rebuilt)
  }

  test("purgeFromIndex rewrites only affected cells; a cell it empties is removed") {
    // two well-separated cells; cell 2's only member is the centroid row
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (10L, Array(0.9f, 0.1f, 0.0f)),
      (11L, Array(0.95f, 0.05f, 0.0f))
    ).toDF("vec_id", "embedding")
    val cents = corpus.filter($"vec_id" < 3)
    val path = graft.queries.Q.scratch("purge_spec")
    Similarity.assignToCentroids(corpus, cents, "vec_id", "embedding")
      .write.mode("overwrite").partitionBy("centroid_id").parquet(path)

    // typical purge: survivors remain in the affected cell
    Similarity.purgeFromIndex(spark, path,
      Seq(Tuple1(10L)).toDF("vec_id"), "vec_id")
    assert(spark.read.parquet(path).select("vec_id").as[Long].collect().toSet
      == Set(1L, 2L, 11L))

    // deleting a cell's LAST row leaves no survivor for the dynamic
    // overwrite to replace the cell with: the purge removes the cell,
    // so the deleted id is not readable, and the other cell's files
    // are left untouched
    import org.apache.hadoop.fs.Path
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def cellFiles(c: Long) = fs.listStatus(new Path(root, s"centroid_id=$c")).toSeq
      .filter(_.isFile).map(st => (st.getPath.getName, st.getLen, st.getModificationTime)).toSet
    val cell1 = cellFiles(1L)
    Similarity.purgeFromIndex(spark, path,
      Seq(Tuple1(2L)).toDF("vec_id"), "vec_id")
    val after = spark.read.parquet(path).select("vec_id").as[Long].collect().toSet
    assert(after == Set(1L, 11L))
    assert(!fs.exists(new Path(root, "centroid_id=2")))
    assert(cellFiles(1L) == cell1)
  }

  test("twoStageTopK recalls most single-stage exact neighbors") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 8)
    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 5)
      .as[(Long, Long, Int)].collect()
      .groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).toSet }
    val staged = Similarity.twoStageTopK(emb, queries, "vec_id", "embedding",
      dPrefix = 16, kCand = 64, k = 5)
      .as[(Long, Long, Int)].collect()
      .groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).toSet }
    val recalls = exact.map { case (q, e) =>
      e.count(staged.getOrElse(q, Set.empty).contains).toDouble / e.size }
    val mean = recalls.sum / recalls.size
    // this fixture's embeddings are synthetic — the first 16 dims are
    // just 16 random dims (no matryoshka information ordering), the
    // hardest case for a prefix screen; kCand=64 of 500 still recalls
    // over half of the true top-5 vs 1% by chance. Real matryoshka
    // embeddings concentrate information in the prefix and do far
    // better at smaller kCand.
    assert(mean >= 0.5, s"two-stage mean recall $mean")
  }

  test("cosine near-dup pairs finds exactly the planted duplicate") {
    val d = vecs(
      1L -> Seq(1f, 2f, 3f),
      2L -> Seq(2f, 4f, 6f), // same direction as 1
      3L -> Seq(-3f, 1f, 0f)
    )
    val pairs = Similarity.cosineNearDupPairs(d, "vec_id", "embedding", 0.99)
      .as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("semanticDedup drops within-cell near-dups, keeps distinct cell-mates") {
    // axis centroids; members sit at ~45 deg off-axis (cos ~0.70 to
    // their centroid, well under the 0.99 threshold)
    val d = vecs(
      1L -> Seq(1f, 0f, 0f),          // centroid A (also a corpus row)
      2L -> Seq(0f, 1f, 0f),          // centroid B
      10L -> Seq(0.7f, 0.1f, 0.7f),   // cell A
      11L -> Seq(0.7f, 0.09f, 0.71f), // cell A, cos(10,11) ~ 0.9999 -> dropped
      12L -> Seq(0.1f, 0.7f, 0.7f),   // cell B
      13L -> Seq(0.1f, 0.72f, 0.69f), // cell B, cos(12,13) ~ 0.9998 -> dropped
      14L -> Seq(0.7f, 0.1f, -0.7f)   // cell A, cos(10,14) ~ 0.01 -> kept
    )
    val cents = d.filter(col("vec_id") <= 2L)
    val kept = Similarity.semanticDedup(d, cents, "vec_id", "embedding", 0.99)
      .select("vec_id").as[Long].collect().toSet
    assert(kept === Set(1L, 2L, 10L, 12L, 14L))
  }

  test("semanticDedup matches the exact verifier restricted to shared cells") {
    // on the real fixture: every dropped id must have a lower-id
    // same-cell mate in the exact pair list, and every survivor none
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cents = emb.orderBy(col("vec_id")).limit(16)
    val kept = Similarity.semanticDedup(emb, cents, "vec_id", "embedding", 0.4)
      .select("vec_id").as[Long].collect().toSet
    val cells = Similarity.assignToCentroids(emb, cents, "vec_id", "embedding")
      .select(col("vec_id"), col("centroid_id"))
      .as[(Long, Long)].collect().toMap
    val exactPairs = Similarity.cosineNearDupPairs(emb, "vec_id", "embedding", 0.4)
      .as[(Long, Long)].collect()
    val shouldDrop = exactPairs
      .filter { case (a, b) => cells(a) == cells(b) }.map(_._2).toSet
    assert(kept === cells.keySet -- shouldDrop)
  }

  test("cosineNearDupPairs refuses oversize inputs (verifier scope guard)") {
    val d = vecs(
      1L -> Seq(1f, 0f), 2L -> Seq(0f, 1f), 3L -> Seq(1f, 1f)
    )
    val e = intercept[IllegalArgumentException] {
      Similarity.cosineNearDupPairs(d, "vec_id", "embedding", 0.5, maxRows = 2)
    }
    assert(e.getMessage.contains("srpNearDupPairs"))
    // at-or-under the bound still runs
    assert(Similarity.cosineNearDupPairs(d, "vec_id", "embedding", 0.99,
      maxRows = 3).count() == 0)
  }

  test("purgeFromIndex of a whole cell: no deleted row stays readable") {
    import org.apache.hadoop.fs.Path
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cents = emb.orderBy($"vec_id").limit(8)
    val path = graft.queries.Q.scratch("purge_guard")
    Similarity.assignToCentroids(emb, cents, "vec_id", "embedding")
      .write.mode("overwrite").partitionBy("centroid_id").parquet(path)

    // delete EVERY member of cell 0 (nonempty by construction: centroid
    // 0 is its own nearest centroid) plus one member of another cell
    val cell0Ids = spark.read.parquet(path).filter($"centroid_id" === 0)
      .select("vec_id").as[Long].collect().toSeq
    assert(cell0Ids.nonEmpty)
    val other = spark.read.parquet(path).filter($"centroid_id" =!= 0)
      .select("vec_id").as[Long].head()
    val deleted = cell0Ids :+ other
    Similarity.purgeFromIndex(spark, path, deleted.toDF("vec_id"), "vec_id")

    // no deleted id is readable, the emptied cell is gone, and the read
    // equals a rebuild from the filtered corpus against the same frozen
    // centroids
    val back = spark.read.parquet(path)
    assert(back.filter($"vec_id".isin(deleted: _*)).count() == 0L)
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new Path(s"$path/centroid_id=0")))
    val rebuilt = Similarity.assignToCentroids(
        emb.filter(!$"vec_id".isin(deleted: _*)), cents, "vec_id", "embedding")
      .select($"vec_id", $"centroid_id").as[(Long, Long)].collect().toSet
    assert(back.select($"vec_id", $"centroid_id".cast("long").as("centroid_id"))
      .as[(Long, Long)].collect().toSet == rebuilt)
  }

  test("dot/norm/cosine column math is exact on known values") {
    val row = Seq((Seq(1.0f, 2.0f, 2.0f), Seq(2.0f, 0.0f, 1.0f)))
      .toDF("a", "b")
      .select(
        Similarity.dot(col("a"), col("b")).as("dot"),
        Similarity.norm(col("a")).as("na"),
        Similarity.cosine(col("a"), col("b")).as("cos")
      ).head()
    assert(row.getAs[Double]("dot") == 4.0)
    assert(row.getAs[Double]("na") == 3.0)
    assert(math.abs(row.getAs[Double]("cos") - 4.0 / (3.0 * math.sqrt(5.0))) < 1e-12)
  }
}
