package graft

import graft.operators.Decontaminate

class DecontaminateSpec extends SparkSpec {

  import spark.implicits._

  private val bench = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "pack my box with five dozen liquor jugs")
  ).toDF("id", "text")

  private val corpus = Seq(
    (10L, "a document containing the quick brown fox jumps over nothing"), // shares 5-grams with bench 1
    (11L, "completely unrelated content about spark query engines at scale"),
    (12L, "pack my box with five dozen liquor jugs verbatim plus tail"), // shares with bench 2
    (13L, "short doc") // too short for any 5-gram
  ).toDF("id", "text")

  test("flags exactly the docs sharing 5-gram shingles, with hit counts") {
    val out = Decontaminate.contaminatedDocs(corpus, bench, "id", "text", n = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.keySet == Set(10L, 12L), s"flagged ${out.keySet}")
    // doc 10 shares "the quick brown fox jumps" and "quick brown fox jumps over"
    assert(out(10L) == 2L)
    // doc 12 embeds the full 8-token bench doc: 4 shared 5-grams
    assert(out(12L) == 4L)
  }

  test("dropContaminated removes flagged docs and keeps the rest") {
    val kept = Decontaminate.dropContaminated(corpus, bench, "id", "text", n = 5)
      .select("id").as[Long].collect().toSet
    assert(kept == Set(11L, 13L))
  }

  test("minHits raises the flagging bar") {
    val out = Decontaminate.contaminatedDocs(corpus, bench, "id", "text", n = 5, minHits = 3)
      .select("id").as[Long].collect().toSet
    assert(out == Set(12L))
  }

  test("bench shingle set rides a broadcast (corpus side never shuffles pre-join)") {
    val plan = Decontaminate.contaminatedDocs(corpus, bench, "id", "text", n = 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"no broadcast in plan:\n$plan")
  }
}
