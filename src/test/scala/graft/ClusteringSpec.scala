package graft

import org.apache.spark.sql.functions._
import graft.operators.Clustering

/** Lloyd-step semantics: nearest-centroid assignment with deterministic
  * tie-breaks, and member-mean centroid updates.
  */
class ClusteringSpec extends SparkSpec {
  import spark.implicits._

  private def vecs = Seq(
    (0L, Array(0.0f, 0.0f)),
    (1L, Array(10.0f, 10.0f)),
    (2L, Array(1.0f, 0.0f)),   // nearer centroid 0
    (3L, Array(9.0f, 10.0f)),  // nearer centroid 1
    (4L, Array(5.0f, 5.0f))    // equidistant -> ties to cluster 0
  ).toDF("vec_id", "embedding")

  test("assign picks the nearest centroid; ties break to the smallest cluster id") {
    val cents = Clustering.initialCentroids(vecs, "vec_id", "embedding", 2)
    assert(cents.collect().map(_.getLong(0)).toSet === Set(0L, 1L))
    val out = Clustering.assign(vecs, "vec_id", "embedding", cents)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(0L -> 0L, 1L -> 1L, 2L -> 0L, 3L -> 1L, 4L -> 0L))
  }

  test("assign reports the exact squared distance") {
    val cents = Clustering.initialCentroids(vecs, "vec_id", "embedding", 2)
    val d = Clustering.assign(vecs, "vec_id", "embedding", cents)
      .filter(col("id") === 3L).select("dist2").as[Double].head()
    assert(d === 1.0) // (9-10)^2 + (10-10)^2
  }

  test("coresetReps: centroid-nearest exemplar per cluster, no window exchange") {
    val cents = Clustering.initialCentroids(vecs, "vec_id", "embedding", 2)
    val reps = Clustering.coresetReps(vecs, "vec_id", "embedding", cents)
    val got = reps.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getLong(3))).toMap
    // cluster 0 = {0,2,4}: seed 0 itself is at distance 0; n=3
    // cluster 1 = {1,3}: seed 1 at distance 0; n=2
    assert(got === Map(0L -> (0L, 0.0, 3L), 1L -> (1L, 0.0, 2L)))
    // argmin runs as a partial-agg struct-min, not a window
    val plan = reps.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
  }

  test("coresetReps: distance ties break to the smallest member id") {
    // two members equidistant from the seed: ids 2 and 3 both at dist2 1
    val v = Seq(
      (0L, Array(0.0f, 0.0f)),
      (2L, Array(1.0f, 0.0f)),
      (3L, Array(0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val cents = Clustering.initialCentroids(v, "vec_id", "embedding", 1)
    val rep = Clustering.coresetReps(v, "vec_id", "embedding", cents)
      .filter(col("cluster_id") === 0L).collect().head
    assert(rep.getLong(1) == 0L && rep.getLong(3) == 3L)
    // drop the seed itself: tie between 2 and 3 → smallest id 2
    val repNoSeed = Clustering.coresetReps(
      v.filter(col("vec_id") =!= 0L), "vec_id", "embedding", cents)
      .collect().head
    assert(repNoSeed.getLong(1) == 2L && repNoSeed.getDouble(2) == 1.0)
  }

  test("updateStep means the members of each cluster per lane") {
    val cents = Clustering.initialCentroids(vecs, "vec_id", "embedding", 2)
    val up = Clustering.updateStep(vecs, "vec_id", "embedding", cents)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> (r.getDouble(2), r.getLong(3)))
      .toMap
    // cluster 0 members: {0,2,4} -> lane0 mean (0+1+5)/3 = 2, lane1 (0+0+5)/3
    assert(up((0L, 0)) === ((2.0, 3L)))
    assert(up((0L, 1)) === ((5.0 / 3.0, 3L)))
    // cluster 1 members: {1,3} -> lane0 (10+9)/2, lane1 (10+10)/2
    assert(up((1L, 0)) === ((9.5, 2L)))
    assert(up((1L, 1)) === ((10.0, 2L)))
  }

  test("updateStepAtScale agrees with updateStep within fp rounding") {
    // real fixture data: 500 x 64-dim embeddings, 8 trained-ish cells
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cents = Clustering.initialCentroids(emb, "vec_id", "embedding", 8)
    val exact = Clustering.updateStep(emb, "vec_id", "embedding", cents)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> (r.getDouble(2), r.getLong(3)))
      .toMap
    val scale = Clustering.updateStepAtScale(emb, "embedding", cents)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> (r.getDouble(2), r.getLong(3)))
      .toMap
    assert(scale.keySet === exact.keySet)
    assert(scale.keySet.size === 8 * 64)
    scale.foreach { case (k, (v, n)) =>
      val (ev, en) = exact(k)
      assert(n === en)
      // order-free double sum vs ordered fold: same value to ~1e-12 rel
      assert(math.abs(v - ev) <= 1e-9 * math.max(1.0, math.abs(ev)),
        s"$k: $v vs $ev")
    }
  }

  test("updateStepAtScale plan: one partial-aggregated shuffle, no join, no collect_list") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cents = Clustering.initialCentroids(emb, "vec_id", "embedding", 8)
    val plan = Clustering.updateStepAtScale(emb, "embedding", cents)
      .queryExecution.executedPlan.toString
    // exactly one corpus shuffle (the grouped mean); centroids ride a
    // broadcast; nothing joins on id and no reducer buffers members
    assert(plan.sliding("Exchange hashpartitioning".length)
      .count(_ == "Exchange hashpartitioning") == 1, plan)
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"), plan)
    // the corpus-side (cluster, lane) reducer must be scalar sum/count —
    // collect_list may appear only in the k-row centroid-array build
    assert(!plan.linesIterator.exists(l =>
      l.contains("collect_list") && l.contains("lane")), plan)
    assert(plan.contains("partial_sum"), plan)
  }

  test("assign output is keyed by every input vector exactly once") {
    val cents = Clustering.initialCentroids(vecs, "vec_id", "embedding", 2)
    val ids = Clustering.assign(vecs, "vec_id", "embedding", cents)
      .select("id").as[Long].collect().sorted
    assert(ids === Array(0L, 1L, 2L, 3L, 4L))
  }

  test("capPerCluster plans a Partial WindowGroupLimit (hot-cluster safety)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val assigned = Clustering.assign(emb, "vec_id", "embedding",
      Clustering.initialCentroids(emb, "vec_id", "embedding", 4))
    val plan = Clustering.capPerCluster(assigned, cap = 40)
      .queryExecution.executedPlan.toString
    // each map task forwards at most cap rows per cluster below the
    // exchange, so a hot topic's full mass never crosses the shuffle
    assert(plan.contains("row_number(), 40, Partial"), plan)
  }

  test("capPerCluster: closest-first with (dist2, id) tie-break, per-cluster cap") {
    val assigned = Seq(
      (1L, 0L, 0.5), (2L, 0L, 0.1), (3L, 0L, 0.5), (4L, 0L, 0.9),
      (5L, 1L, 0.2)
    ).toDF("id", "cluster_id", "dist2")
    val kept = Clustering.capPerCluster(assigned, cap = 2)
      .select("id").as[Long].collect().toSet
    // cluster 0: id 2 (0.1) then the 0.5 tie broken to id 1; id 3, 4 dropped
    assert(kept == Set(1L, 2L, 5L))
  }
}
