package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.StreamingDedup

/** Streaming dedup screens over a MemoryStream: arriving rows that
  * duplicate a static corpus index (by digest, LSH band or embedding
  * cell) are dropped statelessly, like the batch twin on the same data.
  */
class StreamingDedupSpec extends SparkSpec {

  import spark.implicits._

  test("digest screen drops arriving rows already in the static index, statelessly") {
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq((1L, "seen before"), (2L, "also seen"))
      .toDF("doc_id", "text")
    val path = graft.queries.Q.scratch("digidx_stream")
    graft.operators.Dedup.digestIndex(corpus, "text")
      .write.mode("overwrite").parquet(path)

    val in = MemoryStream[(Long, String)]
    val screened = StreamingDedup.digestScreen(
      in.toDF().toDF("doc_id", "text"), spark.read.parquet(path), "text")
    // stateless: Append mode with no watermark must be accepted
    val q = screened.writeStream
      .format("memory").queryName("digest_screen_out")
      .outputMode(OutputMode.Append())
      .start()
    try {
      in.addData((10L, "seen before"), (11L, "novel text"))
      q.processAllAvailable()
      in.addData((12L, "also seen"), (13L, "another novel"))
      q.processAllAvailable()
      val rows = spark.table("digest_screen_out")
        .as[(Long, String)].collect().sortBy(_._1)
      assert(rows.map(_._1).sameElements(Array(11L, 13L)))
    } finally q.stop()

    // batch twin: same function, same survivors
    val batch = Seq((10L, "seen before"), (11L, "novel text")).toDF("doc_id", "text")
    val kept = StreamingDedup.digestScreen(batch, spark.read.parquet(path), "text")
      .select("doc_id").as[Long].collect()
    assert(kept.sameElements(Array(11L)))
  }

  test("near-dup screen drops stream docs banding with the signature index, statelessly") {
    implicit val sqlCtx = spark.sqlContext
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text")
    val corpus = docs.filter($"doc_id" < 400)
    val path = graft.queries.Q.scratch("sigidx_stream")
    graft.operators.Dedup.minhashSignatures(corpus, "doc_id", "text", 3, 32)
      .write.mode("overwrite").parquet(path)
    val bucketed = StreamingDedup.bucketSignatureIndex(
      spark.read.parquet(path), k = 32, bands = 8)

    // two micro-batches: fresh docs + planted near-dups of corpus texts
    // (token appended — high Jaccard, not exact) + a too-short doc
    val b1 = docs.filter($"doc_id" >= 400 && $"doc_id" < 420)
      .as[(Long, String)].collect().toSeq
    val planted = docs.filter($"doc_id" < 10).as[(Long, String)].collect()
      .map { case (id, t) => (id + 300000L, t + " zz") }.toSeq
    val b2 = planted :+ (999999L, "one two")

    val in = MemoryStream[(Long, String)]
    val screened = StreamingDedup.neardupScreen(
      in.toDF().toDF("doc_id", "text"), bucketed, "text")
    val q = screened.writeStream
      .format("memory").queryName("neardup_screen_out")
      .outputMode(OutputMode.Append())
      .start()
    try {
      in.addData(b1: _*)
      q.processAllAvailable()
      in.addData(b2: _*)
      q.processAllAvailable()
      // stateless: no streaming state operator materialized
      assert(q.lastProgress.stateOperators.isEmpty ||
        q.lastProgress.stateOperators.forall(_.numRowsTotal == 0))
      val kept = spark.table("neardup_screen_out")
        .select("doc_id").as[Long].collect().toSet

      // parity: batch delta screen over the SAME union delta
      val delta = (b1 ++ b2).toDF("doc_id", "text")
      val batchKept = graft.operators.Dedup.neardupDeltaScreen(
        delta, "doc_id", "text", spark.read.parquet(path))
        .select("doc_id").as[Long].collect().toSet
      assert(kept === batchKept)
      // the screen actually fires (most planted near-dups die; exact
      // count is pinned by the parity assert above) and the too-short
      // doc (null signature) passes
      assert(planted.count { case (id, _) => !kept.contains(id) } >= 5)
      assert(kept.contains(999999L))
    } finally q.stop()
  }

  test("digest screen: frozen listing on a running query; foreachBatch re-read grows") {
    implicit val sqlCtx = spark.sqlContext
    val path = graft.queries.Q.scratch("digidx_grow")
    graft.operators.Dedup.digestIndex(
        Seq((1L, "original corpus text")).toDF("doc_id", "text"), "text")
      .write.mode("overwrite").parquet(path)

    // 1) the built-in stream-static join: the static side's file
    //    listing is resolved at query start and FROZEN — appended
    //    digests are not seen by later micro-batches (the documented
    //    bound; restart or foreachBatch is the remedy)
    val in = MemoryStream[(Long, String)]
    val screened = StreamingDedup.digestScreen(
      in.toDF().toDF("doc_id", "text"), spark.read.parquet(path), "text")
    val q = screened.writeStream
      .format("memory").queryName("digest_grow_out")
      .outputMode(OutputMode.Append())
      .start()
    try {
      in.addData((10L, "novel in batch one"), (11L, "original corpus text"))
      q.processAllAvailable()
      graft.operators.Dedup.digestIndex(
          Seq((10L, "novel in batch one")).toDF("doc_id", "text"), "text")
        .write.mode("append").parquet(path)
      in.addData((20L, "novel in batch one"), (21L, "genuinely new"))
      q.processAllAvailable()
      val kept = spark.table("digest_grow_out")
        .select("doc_id").as[Long].collect().sorted
      // 20 SURVIVES despite the appended digest: frozen listing
      assert(kept.sameElements(Array(10L, 20L, 21L)), kept.mkString(","))
    } finally q.stop()

    // 2) the growth-following deployment shape: foreachBatch re-reads
    //    the index per micro-batch, so appends take effect immediately
    val survivors = scala.collection.mutable.SortedSet.empty[Long]
    val in2 = MemoryStream[(Long, String)]
    val q2 = in2.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val ids = StreamingDedup.digestScreen(
          batch, batch.sparkSession.read.parquet(path), "text")
          .select("doc_id").as[Long](org.apache.spark.sql.Encoders.scalaLong)
          .collect()
        survivors.synchronized { survivors ++= ids }: Unit
      }
      .start()
    try {
      in2.addData((40L, "second wave novel"), (41L, "novel in batch one"))
      q2.processAllAvailable()
      // 41 dies on the digest appended BEFORE q2 started; now append
      // 40's digest and its copy dies in the very next batch
      graft.operators.Dedup.digestIndex(
          Seq((40L, "second wave novel")).toDF("doc_id", "text"), "text")
        .write.mode("append").parquet(path)
      in2.addData((50L, "second wave novel"), (51L, "brand new finale"))
      q2.processAllAvailable()
      assert(survivors.toSeq == Seq(40L, 51L), survivors.mkString(","))
    } finally q2.stop()
  }

  test("semantic screen drops stream vectors near-duplicating the static corpus") {
    implicit val sqlCtx = spark.sqlContext
    // static corpus + axis centroids (same fixture shape as
    // SimilaritySpec's semanticDedup test)
    val corpus = Seq(
      (10L, Array(0.7f, 0.1f, 0.7f)),   // cell A
      (12L, Array(0.1f, 0.7f, 0.7f))    // cell B
    ).toDF("vec_id", "embedding")
    val cents = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f))
    ).toDF("vec_id", "embedding")

    val in = MemoryStream[(Long, Array[Float])]
    val screened = StreamingDedup.semanticScreen(
      in.toDF().toDF("vec_id", "embedding"), corpus, cents,
      "vec_id", "embedding", threshold = 0.99)
    val q = screened.writeStream
      .format("memory").queryName("sem_screen_out")
      .outputMode(OutputMode.Append())
      .start()
    try {
      val arriving = Seq(
        (100L, Array(0.7f, 0.09f, 0.71f)),  // cell A, dup of 10 -> dropped
        (101L, Array(0.7f, 0.1f, -0.7f)),   // cell A, far from 10 -> kept
        (102L, Array(0.1f, 0.72f, 0.69f)),  // cell B, dup of 12 -> dropped
        (103L, Array(0.9f, 0.1f, 0.0f))     // cell A, cos(10,.) ~ 0.56 -> kept
      )
      in.addData(arriving: _*)
      q.processAllAvailable()
      val kept = spark.table("sem_screen_out")
        .select("vec_id").as[Long].collect().toSet
      assert(kept === Set(101L, 103L))

      // unified API: the SAME function on a bounded input agrees
      val batchKept = StreamingDedup.semanticScreen(
        arriving.toDF("vec_id", "embedding"), corpus, cents,
        "vec_id", "embedding", threshold = 0.99)
        .select("vec_id").as[Long].collect().toSet
      assert(batchKept === kept)
    } finally q.stop()
  }

  test("composed ingest screen: digest, band, semantic stages each kill their victim") {
    implicit val sqlCtx = spark.sqlContext
    val base = "the quick brown fox jumps over the lazy dog again and again ok"
    val far = Array(0.5f, 0.5f, -0.5f, -0.5f) // cos ±0.5 to every axis
    val corpus = Seq(
      (1L, base + " one", Array(1f, 0f, 0f, 0f)),
      (2L, base + " two", Array(0f, 1f, 0f, 0f)),
      (3L, "completely different text with nothing shared here at all",
        Array(0f, 0f, 1f, 0f)),
      (4L, "fourth corpus document totally unlike the others in words",
        Array(0f, 0f, 0f, 1f))
    ).toDF("doc_id", "text", "embedding")
    val digPath = graft.queries.Q.scratch("ing_dig_s")
    val sigPath = graft.queries.Q.scratch("ing_sig_s")
    graft.operators.Dedup.digestIndex(corpus, "text")
      .write.mode("overwrite").parquet(digPath)
    graft.operators.Dedup.minhashSignatures(corpus, "doc_id", "text", 3, 32)
      .write.mode("overwrite").parquet(sigPath)
    val digests = spark.read.parquet(digPath)
    val bucketed = StreamingDedup.bucketSignatureIndex(
      spark.read.parquet(sigPath), 32, 8)

    // victims carry FAR embeddings so a missed earlier stage cannot be
    // silently rescued by the semantic stage — each kill is attributable
    val incoming = Seq(
      (10L, base + " one", far),                                   // digest kill
      (11L, base + " two zz", far),                                // band kill
      (12L, "novel words entirely fresh in this arriving row",
        Array(0f, 0f, 1f, 0f)),                                    // semantic kill (dup of 3)
      (13L, "another novel arrival with its own distinct phrasing", far) // survives
    )
    def screen(df: org.apache.spark.sql.DataFrame) =
      StreamingDedup.ingestScreen(df, digests, bucketed,
        corpus.select($"doc_id", $"embedding"),
        corpus.select($"doc_id", $"embedding"),
        "doc_id", "text", "embedding")

    val batchKept = screen(incoming.toDF("doc_id", "text", "embedding"))
      .select("doc_id").as[Long].collect().sorted
    assert(batchKept.sameElements(Array(13L)), batchKept.mkString(","))

    // the SAME composed chain runs as one stateless Append-mode stream
    val in = MemoryStream[(Long, String, Array[Float])]
    val q = screen(in.toDF().toDF("doc_id", "text", "embedding"))
      .select("doc_id")
      .writeStream.format("memory").queryName("ingest_out")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(incoming: _*)
      q.processAllAvailable()
      val streamed = spark.table("ingest_out").as[Long].collect().sorted
      assert(streamed.sameElements(batchKept), streamed.mkString(","))
    } finally q.stop()
  }

  test("semantic screen passes rows whose cell has no corpus mates") {
    // corpus occupies only cell A; a cell-B arrival must pass the
    // left-join null branch
    val corpus = Seq((10L, Array(0.9f, 0.1f, 0.0f))).toDF("vec_id", "embedding")
    val cents = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val arrivals = Seq((200L, Array(0.05f, 0.95f, 0.0f))).toDF("vec_id", "embedding")
    val kept = StreamingDedup.semanticScreen(
      arrivals, corpus, cents, "vec_id", "embedding", threshold = 0.5)
      .select("vec_id").as[Long].collect().toSet
    assert(kept === Set(200L))
  }
}
