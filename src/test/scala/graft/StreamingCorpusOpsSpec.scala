package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.operators.{Multimodal, Sampling, TextAnalysis}

/** The corpus-shaping operators are pure column expressions, so the
  * SAME code runs on streaming inputs unchanged (Spark's unified API —
  * the capability the reference's duplicated bounded/unbounded
  * pipelines lack). Pinned here for sampling and chunking: streaming
  * results equal the batch twin on identical data.
  */
class StreamingCorpusOpsSpec extends SparkSpec {

  import spark.implicits._

  test("hash sampling filters a stream exactly like the batch twin") {
    implicit val sqlCtx = spark.sqlContext
    val data = (0L until 500L).map(i => (i, s"doc $i"))

    val in = MemoryStream[(Long, String)]
    val sampled = Sampling.sampleByHash(
      in.toDF().toDF("doc_id", "text"), "doc_id", keepBuckets = 20)
    val q = sampled.writeStream
      .format("memory").queryName("sc_sample_out")
      .outputMode(OutputMode.Append())
      .start()
    try {
      in.addData(data: _*)
      q.processAllAvailable()
      val streamed = spark.table("sc_sample_out").select("doc_id")
        .as[Long].collect().toSet
      val batch = Sampling.sampleByHash(
        data.toDF("doc_id", "text"), "doc_id", keepBuckets = 20)
        .select("doc_id").as[Long].collect().toSet
      assert(streamed == batch)
      assert(batch.nonEmpty && batch.size < 500)
    } finally q.stop()
  }

  test("HTML strip + quality floor screen a stream exactly like the batch twin") {
    implicit val sqlCtx = spark.sqlContext
    val data = (0L until 40L).map(i => (i,
      s"<html><script>var x = 1 < 2;</script><body><p>" +
        (0 to i.toInt).map(j => s"w$j").mkString(" ") +
        "</p>&amp; &lt;t&gt;</body></html>"))
    def screen(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc_id"), TextAnalysis.stripHtml(col("text")).as("clean"))
      .withColumn("n", TextAnalysis.tokenCount(col("clean")).cast("long"))
      .filter(col("n") >= 20L)
    val in = MemoryStream[(Long, String)]
    val q = screen(in.toDF().toDF("doc_id", "text")).writeStream
      .format("memory").queryName("sc_html_out")
      .outputMode(OutputMode.Append())
      .start()
    try {
      in.addData(data: _*)
      q.processAllAvailable()
      val streamed = spark.table("sc_html_out")
        .select("doc_id", "clean", "n").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      val batch = screen(data.toDF("doc_id", "text")).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      assert(streamed == batch)
      // the screen bites: short docs dropped, survivors carry decoded
      // entities and no tag/script residue
      assert(batch.nonEmpty && batch.size < 40)
      assert(batch.forall { case (_, c, _) =>
        c.endsWith("& <t>") && !c.contains("var x") && !c.contains("<p>") })
    } finally q.stop()
  }

  test("count-min hot-token screen rates a stream exactly like the batch twin") {
    implicit val sqlCtx = spark.sqlContext
    // fit on a batch corpus where "hot" dominates; rate a stream with
    // the collected decision table — pure projection, stream-safe
    val fitData = (0L until 50L).map(i => (i, s"hot cold$i other${i % 5}"))
    val arr = graft.operators.Sketch.countMinArrays(
      graft.operators.Sketch.countMin(fitData.toDF("doc_id", "text"), "text", 32), 32)
    def screen(df: org.apache.spark.sql.DataFrame) = df.select(
      col("doc_id"),
      aggregate(
        transform(graft.operators.TextAnalysis.tokens(col("text")),
          t => graft.operators.Sketch.countMinEstimate(t, arr, 32)),
        lit(0L), (a, e) => greatest(a, e)).as("max_est"))
    val streamData = Seq((100L, "hot alone"), (101L, "coldish unseen words"))
    val in = MemoryStream[(Long, String)]
    val q = screen(in.toDF().toDF("doc_id", "text")).writeStream
      .format("memory").queryName("sc_cms_out")
      .outputMode(OutputMode.Append())
      .start()
    try {
      in.addData(streamData: _*)
      q.processAllAvailable()
      val streamed = spark.table("sc_cms_out").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val batch = screen(streamData.toDF("doc_id", "text")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(streamed == batch)
      // the fitted signal carries over: the doc containing the hot
      // token rates at least its training frequency
      assert(streamed(100L) >= 50L)
    } finally q.stop()
  }

  test("context-window chunking explodes a stream exactly like the batch twin") {
    implicit val sqlCtx = spark.sqlContext
    val doc = (1 to 100).map(i => s"tok$i").mkString(" ")
    val data = Seq((1L, doc), (2L, "short text"))

    val in = MemoryStream[(Long, String)]
    val chunked = in.toDF().toDF("doc_id", "text")
      .select(col("doc_id"),
        posexplode(TextAnalysis.chunkTokens(col("text"), window = 32, stride = 16))
          .as(Seq("chunk_id", "chunk_text")))
    val q = chunked.writeStream
      .format("memory").queryName("sc_chunk_out")
      .outputMode(OutputMode.Append())
      .start()
    try {
      in.addData(data: _*)
      q.processAllAvailable()
      val streamed = spark.table("sc_chunk_out")
        .as[(Long, Int, String)].collect().toSet
      val batch = data.toDF("doc_id", "text")
        .select(col("doc_id"),
          posexplode(TextAnalysis.chunkTokens(col("text"), window = 32, stride = 16))
            .as(Seq("chunk_id", "chunk_text")))
        .as[(Long, Int, String)].collect().toSet
      assert(streamed == batch)
      // 100 tokens, window 32, stride 16: chunks start at 0,16,...,80 (ceil(68/16)=5 → 6 chunks)
      assert(batch.count(_._1 == 1L) == 6)
      assert(batch.count(_._1 == 2L) == 1)
    } finally q.stop()
  }

  test("mixture resampling multiplies a stream exactly like the batch twin") {
    implicit val sqlCtx = spark.sqlContext
    val data = (0L until 300L).map(i => (i, if (i % 2 == 0) "a" else "b"))

    val in = MemoryStream[(Long, String)]
    val resampled = Sampling.mixtureResample(
      in.toDF().toDF("doc_id", "s"), "doc_id", "s", epochs = Map("a" -> 2.5, "b" -> 0.4))
    val q = resampled.writeStream
      .format("memory").queryName("sc_mix_out")
      .outputMode(OutputMode.Append())
      .start()
    try {
      in.addData(data: _*)
      q.processAllAvailable()
      val streamed = spark.table("sc_mix_out")
        .as[(Long, String, Int)].collect().sorted.toSeq
      val batch = Sampling.mixtureResample(
        data.toDF("doc_id", "s"), "doc_id", "s", epochs = Map("a" -> 2.5, "b" -> 0.4))
        .as[(Long, String, Int)].collect().sorted.toSeq
      assert(streamed == batch)
      assert(batch.count(_._2 == "a") > 300 && batch.count(_._2 == "b") < 150)
    } finally q.stop()
  }

  test("repetition filter and PII scrub run stateless on a stream, same rows as batch") {
    implicit val sqlCtx = spark.sqlContext
    val data = Seq(
      (1L, "clean doc with plenty of distinct words mail me a.b@ex.org today"),
      (2L, "spam spam spam spam spam spam spam spam"))

    val in = MemoryStream[(Long, String)]
    val out = in.toDF().toDF("doc_id", "text")
      .filter(TextAnalysis.dupTokenFrac(col("text")) <= 0.5 &&
        TextAnalysis.dupNgramFrac(col("text"), 3) <= 0.5)
      .select(col("doc_id"), TextAnalysis.redactPii(col("text")).as("clean"))
    val q = out.writeStream
      .format("memory").queryName("sc_rep_out")
      .outputMode(OutputMode.Append())
      .start()
    try {
      in.addData(data: _*)
      q.processAllAvailable()
      val rows = spark.table("sc_rep_out").as[(Long, String)].collect().toSeq
      assert(rows.map(_._1) == Seq(1L))
      assert(rows.head._2.contains("<EMAIL>") && !rows.head._2.contains("@"), rows.head._2)
    } finally q.stop()
  }

  test("entropy screen scores a stream bitwise like the batch twin") {
    implicit val sqlCtx = spark.sqlContext
    val data = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "aaaaaaaaaaaaaaaaaaaaaaaa"),
      (3L, "key agg row scan slow fast table value part"))

    val in = MemoryStream[(Long, String)]
    val scored = in.toDF().toDF("doc_id", "text")
      .select(col("doc_id"), TextAnalysis.charEntropy(col("text")).as("h"))
    val q = scored.writeStream
      .format("memory").queryName("sc_ent_out")
      .outputMode(OutputMode.Append())
      .start()
    try {
      in.addData(data: _*)
      q.processAllAvailable()
      val streamed = spark.table("sc_ent_out").as[(Long, Double)].collect().toMap
      val batch = data.toDF("doc_id", "text")
        .select(col("doc_id"), TextAnalysis.charEntropy(col("text")).as("h"))
        .as[(Long, Double)].collect().toMap
      assert(streamed.keySet == batch.keySet)
      batch.foreach { case (k, v) =>
        assert(java.lang.Double.doubleToLongBits(streamed(k)) ==
          java.lang.Double.doubleToLongBits(v))
      }
      // the screen separates degenerate repetition from natural text
      assert(streamed(2L) == 0.0 && streamed(1L) > 2.0)
    } finally q.stop()
  }

  test("z-score against batch moments scores a stream bitwise like batch") {
    implicit val sqlCtx = spark.sqlContext
    val reference = Seq( // the batch corpus the moments come from
      (1L, "a", 10L), (2L, "a", 20L), (3L, "a", 33L), (4L, "b", 7L), (5L, "b", 9L))
      .toDF("doc_id", "lang", "n_chars")
    val moments = graft.operators.Normalize.groupMoments(reference, "lang", "n_chars")

    val incoming = Seq((100L, "a", 15L), (101L, "b", 7L), (102L, "a", 40L))
    val in = MemoryStream[(Long, String, Long)]
    val scored = graft.operators.Normalize.zscoreAgainst(
      in.toDF().toDF("doc_id", "lang", "n_chars"), moments,
      "lang", "n_chars", keep = Seq("doc_id"))
    val q = scored.writeStream
      .format("memory").queryName("sc_z_out")
      .outputMode(OutputMode.Append())
      .start()
    try {
      in.addData(incoming: _*)
      q.processAllAvailable()
      val streamed = spark.table("sc_z_out").as[(Long, Double)].collect().toMap
      val batch = graft.operators.Normalize.zscoreAgainst(
        incoming.toDF("doc_id", "lang", "n_chars"), moments,
        "lang", "n_chars", keep = Seq("doc_id"))
        .as[(Long, Double)].collect().toMap
      assert(streamed.keySet == batch.keySet && streamed.keySet == Set(100L, 101L, 102L))
      batch.foreach { case (k, v) =>
        assert(java.lang.Double.doubleToLongBits(streamed(k)) ==
          java.lang.Double.doubleToLongBits(v))
      }
    } finally q.stop()
  }

  test("lane-stats outlier screen scores a stream bit-identically to batch") {
    implicit val sqlCtx = spark.sqlContext
    // static reference corpus: 40 inliers; stats persisted once
    val corpus = (1L to 40L).map(i =>
      (i, Array((i % 5).toFloat / 100f, (i % 7).toFloat / 100f)))
    val stats = graft.operators.Normalize
      .laneStats(corpus.toDF("vec_id", "embedding"), "embedding")
    // arriving vectors: one inlier-like, one corrupt on lane 1
    val arriving = Seq((100L, Array(0.01f, 0.02f)), (101L, Array(0.02f, 50f)))

    val in = MemoryStream[(Long, Array[Float])]
    val screened = graft.operators.Normalize.scoreAgainstLaneStats(
      in.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding", stats, tau = 4.0)
    val q = screened.writeStream
      .format("memory").queryName("sc_outlier_out")
      .outputMode(OutputMode.Append())
      .start()
    try {
      in.addData(arriving: _*)
      q.processAllAvailable()
      val streamed = spark.table("sc_outlier_out")
        .as[(Long, Double, Boolean)].collect().map(r => r._1 -> (r._2, r._3)).toMap
      val batch = graft.operators.Normalize.scoreAgainstLaneStats(
        arriving.toDF("vec_id", "embedding"), "vec_id", "embedding", stats, tau = 4.0)
        .as[(Long, Double, Boolean)].collect().map(r => r._1 -> (r._2, r._3)).toMap
      assert(streamed.keySet == Set(100L, 101L))
      assert(!streamed(100L)._2 && streamed(101L)._2)
      batch.foreach { case (k, (score, flag)) =>
        assert(java.lang.Double.doubleToLongBits(streamed(k)._1) ==
          java.lang.Double.doubleToLongBits(score))
        assert(streamed(k)._2 == flag)
      }
    } finally q.stop()
  }

  test("audio decode runs on a stream identically to batch (map-only ingest)") {
    implicit val sqlCtx = spark.sqlContext
    val arriving = Seq(
      (1L, Multimodal.syntheticWav(1L, 2, 8000, 96)),
      (2L, Multimodal.syntheticWav(2L, 1, 8000, 96)),
      (3L, "ID3corrupt".getBytes))
    def decode(df: org.apache.spark.sql.DataFrame) =
      Multimodal.decodeAudio(df, "media_id", "payload")
        .select("media_id", "format", "n_channels", "n_frames", "ssq_c0", "zc_c0")

    val in = MemoryStream[(Long, Array[Byte])]
    val q = decode(in.toDF().toDF("media_id", "payload")).writeStream
      .format("memory").queryName("sc_audio_out")
      .outputMode(OutputMode.Append())
      .start()
    try {
      in.addData(arriving: _*)
      q.processAllAvailable()
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => r.getLong(0) ->
          (r.getString(1), r.getInt(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
      val streamed = rows(spark.table("sc_audio_out"))
      val batch = rows(decode(arriving.toDF("media_id", "payload")))
      assert(streamed == batch)
      assert(streamed(1L)._1 == "wav" && streamed(3L)._1 == "mp3")
    } finally q.stop()
  }

  test("DSIR screen rates a stream bit-identically to batch (fitted model, map-side)") {
    implicit val sqlCtx = spark.sqlContext
    // fit the bucket model once on a static training corpus
    val train = (
      (1L to 20L).map(i => (i, "alpha beta alpha", true)) ++
        (21L to 50L).map(i => (i, "gamma delta gamma", false))
    ).toDF("doc_id", "text", "is_tgt")
    val deltas = Sampling.dsirModelArrayCentered(
      Sampling.dsirBucketModel(train, "text", col("is_tgt"), buckets = 32), 32)
    // arrivals the model never saw: one target-like, one background-like
    val arriving = Seq((100L, "alpha beta"), (101L, "gamma delta"))
    def screen(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"),
        Sampling.dsirScore(col("text"), deltas.toSeq, 32).as("score"))

    val in = MemoryStream[(Long, String)]
    val q = screen(in.toDF().toDF("doc_id", "text")).writeStream
      .format("memory").queryName("sc_dsir_out")
      .outputMode(OutputMode.Append())
      .start()
    try {
      in.addData(arriving: _*)
      q.processAllAvailable()
      val streamed = spark.table("sc_dsir_out")
        .as[(Long, Double)].collect().toMap
      val batch = screen(arriving.toDF("doc_id", "text"))
        .as[(Long, Double)].collect().toMap
      assert(streamed.keySet == Set(100L, 101L))
      assert(streamed(100L) > streamed(101L)) // target-like outranks background
      batch.foreach { case (k, v) =>
        assert(java.lang.Double.doubleToLongBits(streamed(k)) ==
          java.lang.Double.doubleToLongBits(v))
      }
    } finally q.stop()
  }

  test("gunzip + NFC ingest screens a stream exactly like the batch twin") {
    implicit val sqlCtx = spark.sqlContext
    // both are pure codegen column expressions — stateless, so the
    // compressed-text ingest runs on a stream unchanged
    def gz(s: String): Array[Byte] = Multimodal.syntheticGzipText(s)
    val payloads = Seq(
      (1L, gz("plain text")),
      (2L, gz("decomposed é accent")),
      (3L, Array[Byte](1, 2, 3)), // corrupt -> NULL -> dropped
      (4L, gz("composed \u00e9 accent")))
    def screen(df: org.apache.spark.sql.DataFrame) = df
      .select(col("id"),
        graft.functions.GraftFunctions.gunzip(col("payload")).as("t"))
      .filter(col("t").isNotNull)
      .select(col("id"), graft.functions.GraftFunctions.nfc(col("t")).as("t"))
    val in = MemoryStream[(Long, Array[Byte])]
    val q = screen(in.toDF().toDF("id", "payload")).writeStream
      .format("memory").queryName("sc_gz_out")
      .outputMode(OutputMode.Append())
      .start()
    try {
      in.addData(payloads: _*)
      q.processAllAvailable()
      val streamed = spark.table("sc_gz_out")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val batch = screen(payloads.toDF("id", "payload"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(streamed == batch)
      assert(!streamed.contains(3L), "corrupt member must drop on the stream too")
      // NFC unified the two accent forms' byte sequences
      assert(streamed(2L).contains("\u00e9") && streamed(4L).contains("\u00e9"))
    } finally q.stop()
  }

  test("adjacency maintenance: streamed per-batch collapse merges to the batch rebuild") {
    implicit val sqlCtx = spark.sqlContext
    // the graph layer's mergeable-summary contract on a STREAM: each
    // micro-batch collapses alone (Complete-mode streaming aggregation
    // = the running adjacency), and the final state equals collapsing
    // the full history in one batch — history never rescanned
    val b1 = Seq(("a.com", "b.com"), ("a.com", "b.com"), ("b.com", "c.org"))
    val b2 = Seq(("a.com", "b.com"), ("c.org", "a.com"))
    val in = MemoryStream[(String, String)]
    val agg = graft.operators.Graph.collapseEdges(
      in.toDF().toDF("src", "dst"), "src", "dst")
    val q = agg.writeStream
      .format("memory").queryName("sc_adj_out")
      .outputMode(OutputMode.Complete())
      .start()
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
      val streamed = spark.table("sc_adj_out")
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      val batch = graft.operators.Graph.collapseEdges(
        (b1 ++ b2).toDF("src", "dst"), "src", "dst")
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(streamed == batch, s"stream $streamed vs batch $batch")
      // and mergeAdj over the per-batch collapses equals the same rebuild
      val merged = graft.operators.Graph.mergeAdj(
        graft.operators.Graph.collapseEdges(b1.toDF("src", "dst"), "src", "dst"),
        graft.operators.Graph.collapseEdges(b2.toDF("src", "dst"), "src", "dst"))
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(merged == batch, s"merge $merged vs rebuild $batch")
    } finally q.stop()
  }

  test("HLL registers: streamed Complete-mode build equals the batch rebuild") {
    implicit val sqlCtx = spark.sqlContext
    // the distinct-counting summary's streaming contract: the register
    // MAX is a Complete-mode streaming aggregation (the running
    // cardinality sketch), and its final state equals the one-shot
    // batch build — duplicates across micro-batches are absorbed, the
    // history never rescanned
    val b1 = (0 until 400).map(i => s"key$i")
    val b2 = (200 until 700).map(i => s"key$i") // half overlap
    val in = MemoryStream[String]
    val agg = graft.operators.Sketch.hllRegisters(in.toDF().toDF("t"), "t")
    val q = agg.writeStream
      .format("memory").queryName("sc_hll_out")
      .outputMode(OutputMode.Complete())
      .start()
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
      def m(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => r.getAs[Long]("bucket") -> r.getAs[Long]("register")).toMap
      val streamed = m(spark.table("sc_hll_out"))
      val batch = m(graft.operators.Sketch.hllRegisters((b1 ++ b2).toDF("t"), "t"))
      assert(streamed == batch, "streamed registers must equal the batch rebuild")
      // and the per-batch builds MERGE to the same state
      val merged = m(graft.operators.Sketch.hllMerge(
        graft.operators.Sketch.hllRegisters(b1.toDF("t"), "t"),
        graft.operators.Sketch.hllRegisters(b2.toDF("t"), "t")))
      assert(merged == batch)
    } finally q.stop()
  }

  test("crawl screen: the map-side canon + robots chain streams unchanged") {
    implicit val sqlCtx = spark.sqlContext
    // the frontier admission chain — canonicalize, NULL-degrade, rate
    // against literal robots rules — is pure column expressions, so
    // the SAME code screens a live crawl stream: streamed admissions
    // equal the batch twin row for row
    val rules = graft.operators.Robots.effectiveRules(
      graft.operators.Robots.parseRobots("site0.example",
        "User-agent: *\nDisallow: /a1\n") ++
        graft.operators.Robots.parseRobots("site1.example",
          "User-agent: *\nDisallow: /\n"),
      "graftbot")
    def screen(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      df.withColumn("canon", graft.functions.GraftFunctions.urlCanon(col("u")))
        .filter(col("canon").isNotNull)
        .filter(graft.operators.Robots.allowedColumn(rules,
          expr("parse_url(canon, 'HOST')"), expr("parse_url(canon, 'PATH')")))
        .select(col("canon"))
    val urls = Seq(
      "HTTP://Site0.EXAMPLE:80/ok/./page",  // messy but admitted
      "http://site0.example/a1/blocked",    // robots-blocked
      "http://site1.example/anything",      // whole site disallowed
      "ftp://site0.example/x",              // canonicalizer NULLs
      "http://site2.example/no/rules")      // unknown domain: allowed
    val in = MemoryStream[String]
    val q = screen(in.toDF().toDF("u")).writeStream
      .format("memory").queryName("sc_crawl_out")
      .outputMode(OutputMode.Append())
      .start()
    try {
      in.addData(urls: _*); q.processAllAvailable()
      val streamed = spark.table("sc_crawl_out")
        .collect().map(_.getString(0)).toSet
      val batch = screen(urls.toDF("u")).collect().map(_.getString(0)).toSet
      assert(streamed == batch)
      assert(streamed == Set(
        "http://site0.example/ok/page", "http://site2.example/no/rules"))
    } finally q.stop()
  }

  test(".warc.gz ingest streams: per-record members split identically on a stream") {
    implicit val sqlCtx = spark.sqlContext
    // recordsGz is a stateless map over blobs — the SAME code ingests
    // a live .warc.gz stream; streamed rows equal the batch walk
    val blobs = Seq(
      (1L, graft.operators.Warc.syntheticWarcGz(1L, 4)),
      (2L, graft.operators.Warc.syntheticWarcGz(2L, 4)))
    val in = MemoryStream[(Long, Array[Byte])]
    val q = graft.operators.Warc.recordsGz(
      in.toDF().toDF("media_id", "payload"), "media_id", "payload")
      .writeStream.format("memory").queryName("sc_warcgz_out")
      .outputMode(OutputMode.Append())
      .start()
    try {
      in.addData(blobs: _*); q.processAllAvailable()
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
        (r.getAs[Long]("media_id"), r.getAs[Int]("rec_idx"),
          r.getAs[String]("target_uri"), r.getAs[String]("body"))).toSet
      val batch = rows(graft.operators.Warc.recordsGz(
        blobs.toDF("media_id", "payload"), "media_id", "payload"))
      assert(rows(spark.table("sc_warcgz_out")) == batch)
      assert(batch.size == 8)
    } finally q.stop()
  }

  test(".warc.zst ingest streams: frames (incl. a dictionary blob) split identically") {
    implicit val sqlCtx = spark.sqlContext
    // recordsZst is the same stateless map shape — and blob 3 carries
    // the Common-Crawl layout (leading dictionary skippable frame +
    // a dict-REFERENCING frame whose first bytes come from the
    // dictionary window, the way a shared-preamble dictionary actually
    // pays off), so the dictionary path is certified on the streaming
    // API too. The dict content is the record preamble itself.
    val dictContent = "WARC/1.0\r\n".getBytes("US-ASCII")
    val dictRec = ("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: u3\r\n" +
      "Content-Length: 9\r\n\r\n" + "dict body" + "\r\n\r\n").getBytes("US-ASCII")
    // the frame's ONE sequence copies the 10-byte preamble from the
    // dictionary window; the rest rides as literals — decoded == dictRec
    val blob3 = graft.operators.ZstdDecode.dictFrame(dictContent) ++
      graft.operators.ZstdDecode.zstdFrameDictSeq(dictContent, 1,
        java.util.Arrays.copyOfRange(dictRec, dictContent.length, dictRec.length),
        checksum = true)
    val blobs = Seq(
      (1L, graft.operators.Warc.syntheticWarcZst(1L, 4)),
      (2L, graft.operators.Warc.syntheticWarcZst(2L, 4)),
      (3L, blob3))
    val in = MemoryStream[(Long, Array[Byte])]
    val q = graft.operators.Warc.recordsZst(
      in.toDF().toDF("media_id", "payload"), "media_id", "payload")
      .writeStream.format("memory").queryName("sc_warczst_out")
      .outputMode(OutputMode.Append())
      .start()
    try {
      in.addData(blobs.take(2): _*); q.processAllAvailable()
      in.addData(blobs.drop(2): _*); q.processAllAvailable()
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
        (r.getAs[Long]("media_id"), r.getAs[Int]("rec_idx"),
          r.getAs[String]("target_uri"), r.getAs[String]("body"))).toSet
      val batch = rows(graft.operators.Warc.recordsZst(
        blobs.toDF("media_id", "payload"), "media_id", "payload"))
      val streamed = rows(spark.table("sc_warczst_out"))
      assert(streamed == batch)
      assert(batch.size == 9) // 4 + 4 + the dictionary-framed record
      assert(streamed.exists { case (id, _, uri, body) =>
        id == 3L && uri == "u3" && body == "dict body"
      })
    } finally q.stop()
  }

  test("byte-path drop-reasons ledger streams identically to batch (map-only)") {
    implicit val sqlCtx = spark.sqlContext
    // the audit layer must hold on a LIVE archive stream: full-stream
    // rows (revisit/request status 0, torn −1, encoded bodies decoded,
    // out-of-contract br → NULL text) equal the batch walk
    val blobs = Seq(
      (1L, graft.operators.Warc.syntheticWarcCrawl(1L, 8,
        withNonResponses = true, withEncodings = true, badEncodingEvery = 3)),
      (2L, graft.operators.Warc.syntheticWarcEncodings(2L)))
    def chain(df: org.apache.spark.sql.DataFrame) =
      graft.operators.Warc.httpLedgerBytes(
        graft.operators.Warc.recordsBinary(df, "media_id", "payload"))
    val in = MemoryStream[(Long, Array[Byte])]
    val q = chain(in.toDF().toDF("media_id", "payload")).writeStream
      .format("memory").queryName("sc_ledgerbytes_out")
      .outputMode(OutputMode.Append())
      .start()
    try {
      in.addData(blobs.take(1): _*); q.processAllAvailable()
      in.addData(blobs.drop(1): _*); q.processAllAvailable()
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getAs[Long]("media_id"), r.getAs[Int]("rec_idx")) ->
          ((r.getAs[String]("warc_type"), r.getAs[Int]("status"),
            r.getAs[String]("content_encoding"), r.getAs[String]("text")))).toMap
      val streamed = rows(spark.table("sc_ledgerbytes_out"))
      val batch = rows(chain(blobs.toDF("media_id", "payload")))
      assert(streamed == batch)
      // the 'encoding'-stage raw material survives the stream: a 200
      // response with ce=br and NULL text
      assert(streamed.values.exists(v =>
        v._1 == "response" && v._2 == 200 && v._3 == "br" && v._4 == null))
      assert(streamed.values.exists(v => v._1 == "revisit" && v._2 == 0))
    } finally q.stop()
  }

  test("charset + encoding ingest runs on a stream identically to batch (map-only)") {
    implicit val sqlCtx = spark.sqlContext
    // the full byte-level honesty layer — recordsBinary → httpTexts —
    // certified on the streaming API over BOTH decode matrices: the
    // 19-cell charset matrix (incl. the CJK/Cyrillic families) and
    // the 9-cell on-the-wire encoding matrix (chunked/gzip/deflate/
    // layered/torn). Map-only, so the chain must be streaming-legal
    // with no extra plumbing.
    val arriving = Seq(
      (1L, graft.operators.Warc.syntheticWarcCharsets(1L)),
      (2L, graft.operators.Warc.syntheticWarcCharsets(2L)),
      (3L, graft.operators.Warc.syntheticWarcEncodings(3L)),
      (4L, graft.operators.Warc.syntheticWarcEncodings(4L)))
    def chain(df: org.apache.spark.sql.DataFrame) =
      graft.operators.Warc.httpTexts(
        graft.operators.Warc.recordsBinary(df, "media_id", "payload"))

    val in = MemoryStream[(Long, Array[Byte])]
    val q = chain(in.toDF().toDF("media_id", "payload")).writeStream
      .format("memory").queryName("sc_charset_out")
      .outputMode(OutputMode.Append())
      .start()
    try {
      in.addData(arriving.take(2): _*)
      q.processAllAvailable()
      in.addData(arriving.drop(2): _*) // a later micro-batch
      q.processAllAvailable()
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getAs[Long]("media_id"), r.getAs[Int]("rec_idx")) ->
          ((r.getAs[String]("charset"), r.getAs[String]("charset_source"),
            r.getAs[String]("transfer_encoding"), r.getAs[String]("content_encoding"),
            r.getAs[String]("text")))).toMap
      val streamed = rows(spark.table("sc_charset_out"))
      val batch = rows(chain(arriving.toDF("media_id", "payload")))
      assert(streamed == batch)
      assert(streamed.size == 60) // 21 charset arms × 2 + 9 encoding arms × 2
      // the undeclared-charset fallback holds on a stream too
      assert(streamed((1L, 19))._5 == "legacy café 1")
      assert(streamed((2L, 20))._5 == null)
      // spot-pin one cell of each matrix on the STREAMED side
      assert(streamed((1L, 1))._5 == "café résumé 1") // latin-1 decode
      assert(streamed((3L, 4))._5 == "both café 3")   // chunked-over-gzip
      assert(streamed((3L, 5))._5 == null)            // torn chunk stays NULL
      assert(streamed((2L, 8))._5 == "日本語ページ 2") // CJK family on a stream
      assert(streamed((2L, 18))._5 == null)           // corrupt CJK stays NULL
    } finally q.stop()
  }

  test("HTML outlink extraction streams identically to batch (map-only)") {
    implicit val sqlCtx = spark.sqlContext
    // archive -> charset-aware text -> base-rebased RFC 3986 resolution
    // is three codegen expressions and an explode — it must be
    // streaming-legal with no extra plumbing, arm for arm
    val blobs = Seq(
      (1L, graft.operators.Warc.syntheticWarcHtml(1L, 8)),
      (2L, graft.operators.Warc.syntheticWarcHtml(2L, 8)))
    def chain(df: org.apache.spark.sql.DataFrame) =
      graft.operators.Html.outlinks(
        graft.operators.Warc.httpTexts(
          graft.operators.Warc.recordsBinary(df, "media_id", "payload"))
          .select(org.apache.spark.sql.functions.col("media_id"),
            org.apache.spark.sql.functions.col("rec_idx"),
            org.apache.spark.sql.functions.col("target_uri"),
            org.apache.spark.sql.functions.col("text")),
        "target_uri", "text")
    val in = MemoryStream[(Long, Array[Byte])]
    val q = chain(in.toDF().toDF("media_id", "payload")).writeStream
      .format("memory").queryName("sc_htmllinks_out")
      .outputMode(OutputMode.Append())
      .start()
    try {
      in.addData(blobs.take(1): _*); q.processAllAvailable()
      in.addData(blobs.drop(1): _*); q.processAllAvailable()
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getAs[Long]("media_id"),
          r.getAs[Int]("rec_idx"), r.getAs[String]("href"))).toSet
      val streamed = rows(spark.table("sc_htmllinks_out"))
      val batch = rows(chain(blobs.toDF("media_id", "payload")))
      assert(streamed == batch && streamed.nonEmpty)
      // a base-rebased relative link resolved on the stream
      assert(streamed.contains((1L, 1, "http://site3.example/l/1")))
    } finally q.stop()
  }

  test("bz2 dump ingest streams: members → pages → strip identically to batch") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.{DumpDecode, XmlDump}
    // the dump walk is a stateless map over blobs — the same flatMap
    // shape ingests a live stream of multistream-bz2 page batches
    def blob(k: Long): Array[Byte] =
      DumpDecode.bz2Member("<mediawiki>\n".getBytes("UTF-8")) ++
        DumpDecode.bz2Member((XmlDump.pageXml(k * 10, 0, s"Page $k", None,
          s"'''B''' [[T|t]] $k") +
          XmlDump.pageXml(k * 10 + 1, 1, s"Talk $k", None, "talk")).getBytes("UTF-8"))
    def pipeline(df: org.apache.spark.sql.DataFrame) = {
      val pages = df.as[(Long, Array[Byte])].flatMap { case (id, p) =>
        DumpDecode.bz2Members(p)
          .flatMap(m => XmlDump.pages(new String(m, "UTF-8")))
          .map(pg => (id, pg.page_id, pg.ns, XmlDump.stripWikitext(pg.text)))
      }.toDF("media_id", "page_id", "ns", "plain")
      pages.where(col("ns") === 0)
    }
    val blobs = Seq((1L, blob(1L)), (2L, blob(2L)))
    val in = MemoryStream[(Long, Array[Byte])]
    val q = pipeline(in.toDF().toDF("media_id", "payload"))
      .writeStream.format("memory").queryName("sc_dump_out")
      .outputMode(OutputMode.Append())
      .start()
    try {
      in.addData(blobs: _*); q.processAllAvailable()
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getString(3))).toSet
      val batch = rows(pipeline(blobs.toDF("media_id", "payload")))
      assert(rows(spark.table("sc_dump_out")) == batch)
      assert(batch == Set((1L, 10L, "B t 1"), (2L, 20L, "B t 2")))
    } finally q.stop()
  }

  test("feed discovery streams: RSS and Atom items extract identically to batch") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Feeds
    val rss = "<rss><channel><item><link>http://a.example/1</link>" +
      "<title>T1</title></item></channel></rss>"
    val atom = """<feed><entry><link href="http://b.example/2"/><title>T2</title></entry></feed>"""
    val blobs = Seq(("a.example", rss), ("b.example", atom))
    val in = MemoryStream[(String, String)]
    val q = Feeds.itemRows(in.toDF().toDF("domain", "xml"), "domain", "xml")
      .writeStream.format("memory").queryName("sc_feed_out")
      .outputMode(OutputMode.Append())
      .start()
    try {
      in.addData(blobs: _*); q.processAllAvailable()
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
        (r.getString(0), r.getString(2), r.getString(3))).toSet
      val batch = rows(Feeds.itemRows(blobs.toDF("domain", "xml"), "domain", "xml"))
      assert(rows(spark.table("sc_feed_out")) == batch)
      assert(batch == Set(("a.example", "http://a.example/1", "T1"),
        ("b.example", "http://b.example/2", "T2")))
    } finally q.stop()
  }

  test("anchor extraction streams: pairs + base resolution identically to batch") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Html
    val html = """<html><head><base href="http://s.example/d/"></head>""" +
      """<body><a href="p1">one</a><a href="http://x.example/a">two <b>b</b></a></body></html>"""
    val pages = Seq((1L, "http://s.example/i.html", html))
    val in = MemoryStream[(Long, String, String)]
    val q = Html.anchors(in.toDF().toDF("media_id", "page_url", "html"), "page_url", "html")
      .writeStream.format("memory").queryName("sc_anchor_out")
      .outputMode(OutputMode.Append())
      .start()
    try {
      in.addData(pages: _*); q.processAllAvailable()
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
        (r.getLong(0), r.getString(2), r.getString(3))).toSet
      val batch = rows(Html.anchors(pages.toDF("media_id", "page_url", "html"),
        "page_url", "html"))
      assert(rows(spark.table("sc_anchor_out")) == batch)
      assert(batch == Set((1L, "http://s.example/d/p1", "one"),
        (1L, "http://x.example/a", "two b")))
    } finally q.stop()
  }

  test("tar-shard samples stream: within-blob assembly needs no state") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.TarShard
    // sample grouping happens INSIDE the per-blob walk, so streaming
    // needs no stateful operator — a shard is one self-contained batch
    def shard(k: Long): Array[Byte] = TarShard.tar(Seq(
      (f"$k%06d.txt", "0", s"cap $k".getBytes("UTF-8")),
      (f"$k%06d.cls", "0", s"${k % 10}".getBytes("UTF-8"))))
    val blobs = Seq((1L, shard(1L)), (2L, shard(2L)))
    val in = MemoryStream[(Long, Array[Byte])]
    val q = TarShard.sampleRows(in.toDF().toDF("media_id", "payload"), "media_id", "payload")
      .writeStream.format("memory").queryName("sc_tar_out")
      .outputMode(OutputMode.Append())
      .start()
    try {
      in.addData(blobs: _*); q.processAllAvailable()
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
        (r.getLong(0), r.getString(2), r.getString(3), new String(r.getAs[Array[Byte]](4), "UTF-8"))).toSet
      val batch = rows(TarShard.sampleRows(blobs.toDF("media_id", "payload"), "media_id", "payload"))
      assert(rows(spark.table("sc_tar_out")) == batch)
      assert(batch.contains((1L, "000001", "txt", "cap 1")))
      assert(batch.size == 4)
    } finally q.stop()
  }

  test("pdf text extraction streams identically to batch (map-only)") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Pdf
    val blobs = Seq(
      (1L, Pdf.pdf(Seq(Pdf.Page(Pdf.contentOps(Seq("alpha doc", "line two")))))),
      (2L, Pdf.pdfXrefStream(Seq(Pdf.Page(Pdf.contentOps(Seq("modern")))),
        predictor = true, objStm = true)),
      (3L, Pdf.pdf(Seq(Pdf.Page(Pdf.contentOps(Seq("cid")), cid = true)))),
      (4L, "junk".getBytes("UTF-8")))
    val in = MemoryStream[(Long, Array[Byte])]
    val q = Pdf.textRows(in.toDF().toDF("media_id", "payload"), "media_id", "payload")
      .writeStream.format("memory").queryName("sc_pdf_out")
      .outputMode(OutputMode.Append())
      .start()
    try {
      in.addData(blobs.take(2): _*); q.processAllAvailable()
      in.addData(blobs.drop(2): _*); q.processAllAvailable()
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
        (r.getLong(0), r.getInt(1), r.getString(2), r.getString(3))).toSet
      val batch = rows(Pdf.textRows(blobs.toDF("media_id", "payload"), "media_id", "payload"))
      assert(rows(spark.table("sc_pdf_out")) == batch)
      assert(batch == Set(
        (1L, 1, "ok", "alpha doc\nline two"),
        (2L, 1, "ok", "modern"),
        (3L, 1, "cid_font", null),
        (4L, 0, "parse", null)))
    } finally q.stop()
  }

  test("epub chapters + notebook cells stream identically to batch (map-only)") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.{Epub, Notebook}
    val books = Seq(
      (1L, Epub.epub(Seq(("a.xhtml", "<p>one</p>"), ("b.xhtml", "<p>two</p>")))),
      (2L, "junk".getBytes("UTF-8")))
    val inE = MemoryStream[(Long, Array[Byte])]
    val qE = Epub.chapterRows(inE.toDF().toDF("media_id", "payload"), "media_id", "payload")
      .writeStream.format("memory").queryName("sc_epub_out")
      .outputMode(OutputMode.Append()).start()
    try {
      inE.addData(books: _*); qE.processAllAvailable()
      val got = spark.table("sc_epub_out").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getString(3))).toSet
      assert(got == Set((1L, 0, "a.xhtml", "<p>one</p>"), (1L, 1, "b.xhtml", "<p>two</p>")))
    } finally qE.stop()

    val nbs = Seq(
      (1L, """{"nbformat": 4, "cells": [{"cell_type": "code", "source": "x = 1"}]}"""),
      (2L, "junk"))
    val inN = MemoryStream[(Long, String)]
    val qN = Notebook.cellRows(inN.toDF().toDF("media_id", "json"), "media_id", "json")
      .writeStream.format("memory").queryName("sc_nb_out")
      .outputMode(OutputMode.Append()).start()
    try {
      inN.addData(nbs: _*); qN.processAllAvailable()
      val got = spark.table("sc_nb_out").collect()
        .map(r => (r.getLong(0), r.getString(2), r.getString(3))).toSet
      assert(got == Set((1L, "code", "x = 1")))
    } finally qN.stop()
  }

  test("markdown section chunking streams identically to batch (map-only)") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Html
    val pages = Seq((1L, "<h1>G</h1><p>a</p><h2>S</h2><p>b</p>"))
    def chain(df: org.apache.spark.sql.DataFrame) =
      Html.markdownSectionRows(
        Html.markdownRows(df, "media_id", "html"), "media_id", "markdown")
    val in = MemoryStream[(Long, String)]
    val q = chain(in.toDF().toDF("media_id", "html")).writeStream
      .format("memory").queryName("sc_mdsec_out")
      .outputMode(OutputMode.Append())
      .start()
    try {
      in.addData(pages: _*); q.processAllAvailable()
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
        (r.getLong(0), r.getInt(1), r.getString(2), r.getString(3))).toSet
      val batch = rows(chain(pages.toDF("media_id", "html")))
      assert(rows(spark.table("sc_mdsec_out")) == batch)
      assert(batch == Set((1L, 0, "G", "a"), (1L, 1, "G > S", "b")))
    } finally q.stop()
  }

  test("html markdown conversion streams identically to batch (map-only)") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Html
    val pages = Seq(
      (1L, "<h1>T</h1><ul><li>a</li><li>b</li></ul>"),
      (2L, "<blockquote><p>q</p></blockquote><pre>c()</pre>"))
    val in = MemoryStream[(Long, String)]
    val q = Html.markdownRows(in.toDF().toDF("media_id", "html"), "media_id", "html")
      .writeStream.format("memory").queryName("sc_md_out")
      .outputMode(OutputMode.Append())
      .start()
    try {
      in.addData(pages: _*); q.processAllAvailable()
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getString(1))).toSet
      val batch = rows(Html.markdownRows(pages.toDF("media_id", "html"), "media_id", "html"))
      assert(rows(spark.table("sc_md_out")) == batch)
      assert(batch == Set(
        (1L, "# T\n- a\n- b"),
        (2L, "> q\n```\nc()\n```")))
    } finally q.stop()
  }

  test("xlsx shared strings stream identically to batch (map-only)") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Xlsx
    val blobs = Seq(
      (1L, Xlsx.xlsx(Seq("alpha", "beta sheet"))),
      (2L, "junk".getBytes("UTF-8")))
    val in = MemoryStream[(Long, Array[Byte])]
    val q = Xlsx.textRows(in.toDF().toDF("media_id", "payload"), "media_id", "payload")
      .writeStream.format("memory").queryName("sc_xlsx_out")
      .outputMode(OutputMode.Append())
      .start()
    try {
      in.addData(blobs: _*); q.processAllAvailable()
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
        (r.getLong(0), r.getString(1), r.getInt(2), r.getString(3))).toSet
      val batch = rows(Xlsx.textRows(blobs.toDF("media_id", "payload"), "media_id", "payload"))
      assert(rows(spark.table("sc_xlsx_out")) == batch)
      assert(batch == Set((1L, "ok", 2, "alpha\nbeta sheet"), (2L, "zip", 0, null)))
    } finally q.stop()
  }

  test("rtf text streams identically to batch (map-only)") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Rtf
    val blobs = Seq(
      (1L, "{\\rtf1\\ansi alpha\\par beta}".getBytes("ISO-8859-1")),
      (2L, "junk".getBytes("UTF-8")))
    val in = MemoryStream[(Long, Array[Byte])]
    val q = Rtf.textRows(in.toDF().toDF("media_id", "payload"), "media_id", "payload")
      .writeStream.format("memory").queryName("sc_rtf_out")
      .outputMode(OutputMode.Append())
      .start()
    try {
      in.addData(blobs: _*); q.processAllAvailable()
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
        (r.getLong(0), r.getString(1), r.getInt(2), r.getString(3))).toSet
      val batch = rows(Rtf.textRows(blobs.toDF("media_id", "payload"), "media_id", "payload"))
      assert(rows(spark.table("sc_rtf_out")) == batch)
      assert(batch == Set((1L, "ok", 2, "alpha\nbeta"), (2L, "parse", 0, null)))
    } finally q.stop()
  }

  test("odt text streams identically to batch (map-only)") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Odt
    val blobs = Seq(
      (1L, Odt.odt(Seq("alpha doc"))),
      (2L, Odt.odt(Seq("x"), encrypted = true)),
      (3L, "junk".getBytes("UTF-8")))
    val in = MemoryStream[(Long, Array[Byte])]
    val q = Odt.textRows(in.toDF().toDF("media_id", "payload"), "media_id", "payload")
      .writeStream.format("memory").queryName("sc_odt_out")
      .outputMode(OutputMode.Append())
      .start()
    try {
      in.addData(blobs: _*); q.processAllAvailable()
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
        (r.getLong(0), r.getString(1), r.getInt(2), r.getString(3))).toSet
      val batch = rows(Odt.textRows(blobs.toDF("media_id", "payload"), "media_id", "payload"))
      assert(rows(spark.table("sc_odt_out")) == batch)
      assert(batch == Set(
        (1L, "ok", 2, "alpha doc\ntail end"),
        (2L, "encrypted", 0, null),
        (3L, "zip", 0, null)))
    } finally q.stop()
  }

  test("pptx slide text streams identically to batch (map-only)") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Pptx
    val blobs = Seq(
      (1L, Pptx.pptx(Seq(Seq("s1 title"), Seq("s2 body")))),
      (2L, graft.operators.Cfb.encryptedOoxmlFixture(2L)),
      (3L, "junk".getBytes("UTF-8")))
    val in = MemoryStream[(Long, Array[Byte])]
    val q = Pptx.textRows(in.toDF().toDF("media_id", "payload"), "media_id", "payload")
      .writeStream.format("memory").queryName("sc_pptx_out")
      .outputMode(OutputMode.Append())
      .start()
    try {
      in.addData(blobs: _*); q.processAllAvailable()
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
        (r.getLong(0), r.getString(1), r.getInt(2), r.getString(3))).toSet
      val batch = rows(Pptx.textRows(blobs.toDF("media_id", "payload"), "media_id", "payload"))
      assert(rows(spark.table("sc_pptx_out")) == batch)
      assert(batch == Set(
        (1L, "ok", 2, "s1 title\ns2 body"),
        (2L, "encrypted", 0, null),
        (3L, "zip", 0, null)))
    } finally q.stop()
  }

  test("latex text extraction streams identically to batch (map-only)") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.{CompressedMeta, Latex, TarShard}
    val blobs = Seq(
      (1L, CompressedMeta.gzipMember(TarShard.tar(Seq(
        ("a.tex", "0", "\\section{S} body $m$ \\cite{r}".getBytes("UTF-8")))))),
      (2L, "junk".getBytes("UTF-8")))
    val in = MemoryStream[(Long, Array[Byte])]
    val q = Latex.texRows(in.toDF().toDF("media_id", "payload"), "media_id", "payload")
      .writeStream.format("memory").queryName("sc_latex_out")
      .outputMode(OutputMode.Append())
      .start()
    try {
      in.addData(blobs: _*); q.processAllAvailable()
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
        (r.getLong(0), r.getString(2), r.getString(3), r.getInt(4), r.getInt(5))).toSet
      val batch = rows(Latex.texRows(blobs.toDF("media_id", "payload"),
        "media_id", "payload"))
      assert(rows(spark.table("sc_latex_out")) == batch)
      assert(batch == Set((1L, "a.tex", "S\nbody [MATH]", 1, 1)))
    } finally q.stop()
  }

  test("unigram encoding streams identically to batch (map-only + broadcast vocab)") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Unigram
    val vocab = Seq(("a", 2L), ("b", 2L), ("ab", 8L), ("c", 1L))
      .toDF("piece", "count")
    val words = Seq(("abab", 3L), ("cab", 1L), ("xq", 1L))
    val in = MemoryStream[(String, Long)]
    val q = Unigram.encodeWords(in.toDF().toDF("word", "freq"), vocab)
      .writeStream.format("memory").queryName("sc_unigram_out")
      .outputMode(OutputMode.Append())
      .start()
    try {
      in.addData(words: _*); q.processAllAvailable()
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
        (r.getString(0), r.getLong(1), r.getString(2), r.getInt(3))).toSet
      val batch = rows(Unigram.encodeWords(words.toDF("word", "freq"), vocab))
      assert(rows(spark.table("sc_unigram_out")) == batch)
      assert(batch == Set(
        ("abab", 3L, "ab|ab", 2),
        ("cab", 1L, "c|ab", 2),
        ("xq", 1L, null, 0)))
    } finally q.stop()
  }

  test("webp decode streams identically to batch (map-only)") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Multimodal
    val blobs = Seq(
      (1L, Multimodal.syntheticWebp(1L, 4, 4)),
      (2L, Multimodal.webpLossyStub(2L)),
      (3L, "junk".getBytes("UTF-8")))
    val in = MemoryStream[(Long, Array[Byte])]
    val q = Multimodal.decodeImages(in.toDF().toDF("media_id", "payload"),
        "media_id", "payload")
      .writeStream.format("memory").queryName("sc_webp_out")
      .outputMode(OutputMode.Append())
      .start()
    try {
      in.addData(blobs: _*); q.processAllAvailable()
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
        (r.getAs[Long]("media_id"), r.getAs[String]("format"),
          r.getAs[Long]("n_pixels"))).toSet
      val batch = rows(Multimodal.decodeImages(
        blobs.toDF("media_id", "payload"), "media_id", "payload"))
      assert(rows(spark.table("sc_webp_out")) == batch)
      assert(batch == Set((1L, "webp", 16L), (2L, "webp", 0L), (3L, "unknown", 0L)))
    } finally q.stop()
  }

  test("docx text extraction streams identically to batch (map-only)") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Docx
    val blobs = Seq(
      (1L, Docx.docx(Seq(Seq("alpha ", "doc"), Seq("tab\there")))),
      (2L, graft.operators.Cfb.encryptedOoxmlFixture(2L)),
      (3L, "junk".getBytes("UTF-8")))
    val in = MemoryStream[(Long, Array[Byte])]
    val q = Docx.textRows(in.toDF().toDF("media_id", "payload"), "media_id", "payload")
      .writeStream.format("memory").queryName("sc_docx_out")
      .outputMode(OutputMode.Append())
      .start()
    try {
      in.addData(blobs.take(1): _*); q.processAllAvailable()
      in.addData(blobs.drop(1): _*); q.processAllAvailable()
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
        (r.getLong(0), r.getString(1), r.getInt(2), r.getString(3))).toSet
      val batch = rows(Docx.textRows(blobs.toDF("media_id", "payload"), "media_id", "payload"))
      assert(rows(spark.table("sc_docx_out")) == batch)
      assert(batch == Set(
        (1L, "ok", 2, "alpha doc\ntab\there"),
        (2L, "encrypted", 0, null),
        (3L, "zip", 0, null)))
    } finally q.stop()
  }

  test("cdx index parse streams identically to batch (map-only)") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Cdx
    val text =
      """com,a)/ 2026 {"url": "http://a.com/", "filename": "f.warc.gz", "offset": "0", "length": "100", "status": "200", "mime": "text/html"}
        |junk line
        |com,b)/ 2026 {"url": "http://b.com/", "filename": "f.warc.gz", "offset": "200", "length": "50", "status": "404", "mime": "text/html"}""".stripMargin
    val shards = Seq((1L, text))
    val in = MemoryStream[(Long, String)]
    val q = Cdx.indexRows(in.toDF().toDF("media_id", "text"), "media_id", "text")
      .writeStream.format("memory").queryName("sc_cdx_out")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(shards: _*); q.processAllAvailable()
      val got = spark.table("sc_cdx_out").collect()
        .map(r => (r.getString(1), r.getLong(5), r.getInt(7))).toSet
      assert(got == Set(("com,a)/", 0L, 200), ("com,b)/", 200L, 404)))
    } finally q.stop()
  }

  test("mbox messages stream identically to batch (map-only)") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Mbox
    val mb = "From a@x Thu Jan  1 00:00:00 2026\nSubject: s1\n\nbody one\n" +
      "From b@x Thu Jan  1 00:00:00 2026\n" +
      "Subject: =?iso-8859-1?Q?caf=E9?=\n" +
      "Content-Type: text/plain; charset=iso-8859-1\n" +
      "Content-Transfer-Encoding: quoted-printable\n\ncaf=E9\n"
    val archives = Seq((1L, mb), (2L, "junk"))
    val in = MemoryStream[(Long, String)]
    val q = Mbox.messageRows(in.toDF().toDF("media_id", "mbox"), "media_id", "mbox")
      .writeStream.format("memory").queryName("sc_mbox_out")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(archives: _*); q.processAllAvailable()
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getString(3), r.getString(6))).toSet
      val batch = rows(Mbox.messageRows(archives.toDF("media_id", "mbox"), "media_id", "mbox"))
      assert(rows(spark.table("sc_mbox_out")) == batch)
      // the FINAL message keeps the archive's trailing newline
      assert(batch == Set((1L, 0, "s1", "body one"), (1L, 1, "café", "café\n")))
    } finally q.stop()
  }

  test("avro records + license detection + main content stream identically to batch") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.{Avro, Html, License}
    // three independent map-only extractors certified streaming-legal
    // in one pass each
    val schema = """{"type":"record","name":"R","fields":[{"name":"id","type":"long"}]}"""
    val avroBlobs = Seq(
      (1L, Avro.ocf(schema, Seq(Seq(Avro.AVLong(7L)), Seq(Avro.AVLong(8L))), codec = "deflate")),
      (2L, "junk".getBytes("UTF-8")))
    val inA = MemoryStream[(Long, Array[Byte])]
    val qA = Avro.recordRows(inA.toDF().toDF("media_id", "payload"), "media_id", "payload")
      .writeStream.format("memory").queryName("sc_avro_out")
      .outputMode(OutputMode.Append()).start()
    try {
      inA.addData(avroBlobs: _*); qA.processAllAvailable()
      val got = spark.table("sc_avro_out").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getString(3))).toSet
      assert(got == Set((1L, 0, "id", "7"), (1L, 1, "id", "8")))
    } finally qA.stop()

    val docs = Seq(
      (1L, "// SPDX-License-Identifier: MIT\nx"),
      (2L, "no license"))
    val inL = MemoryStream[(Long, String)]
    val qL = License.licenseRows(inL.toDF().toDF("doc_id", "text"), "doc_id", "text")
      .writeStream.format("memory").queryName("sc_lic_out")
      .outputMode(OutputMode.Append()).start()
    try {
      inL.addData(docs: _*); qL.processAllAvailable()
      val got = spark.table("sc_lic_out").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
      assert(got == Set((1L, "MIT", "spdx"), (2L, null, "none")))
    } finally qL.stop()

    val pages = Seq((1L,
      "<nav><a href=\"/\">Home</a></nav><p>one two three four five six seven eight nine</p>"))
    val inM = MemoryStream[(Long, String)]
    val qM = Html.blockRows(inM.toDF().toDF("media_id", "html"), "media_id", "html")
      .writeStream.format("memory").queryName("sc_main_out")
      .outputMode(OutputMode.Append()).start()
    try {
      inM.addData(pages: _*); qM.processAllAvailable()
      val got = spark.table("sc_main_out").collect()
        .map(r => (r.getInt(1), r.getBoolean(5), r.getString(6))).toSet
      assert(got == Set(
        (0, false, "Home"),
        (1, true, "one two three four five six seven eight nine")))
    } finally qM.stop()
  }

  test("legacy .doc text streams identically to batch (map-only)") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.{Cfb, Doc}
    val blobs = Seq(
      (1L, Doc.doc(Seq("legacy alpha", "beta"))),
      (2L, Doc.doc(Seq("locked"), encrypted = true)),
      (3L, Cfb.cfb(Seq(("Workbook", "xls".getBytes("UTF-8"))))),
      (4L, "junk".getBytes("UTF-8")))
    val in = MemoryStream[(Long, Array[Byte])]
    val q = Doc.textRows(in.toDF().toDF("media_id", "payload"), "media_id", "payload")
      .writeStream.format("memory").queryName("sc_doc_out")
      .outputMode(OutputMode.Append())
      .start()
    try {
      in.addData(blobs.take(2): _*); q.processAllAvailable()
      in.addData(blobs.drop(2): _*); q.processAllAvailable()
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
        (r.getLong(0), r.getString(1), r.getInt(2), r.getString(3))).toSet
      val batch = rows(Doc.textRows(blobs.toDF("media_id", "payload"), "media_id", "payload"))
      assert(rows(spark.table("sc_doc_out")) == batch)
      assert(batch == Set(
        (1L, "ok", 2, "legacy alpha\nbeta"),
        (2L, "encrypted", 0, null),
        (3L, "part", 0, null),
        (4L, "cfb", 0, null)))
    } finally q.stop()
  }

  test("xlsx sheet grid streams identically to batch (map-only)") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Xlsx
    val blobs = Seq(
      (1L, Xlsx.xlsxGrid(Seq(
        (1, Seq(("s", "Name"), ("n", "7"))),
        (2, Seq(("is", "widget")))))),
      (2L, "junk".getBytes("UTF-8")))
    val in = MemoryStream[(Long, Array[Byte])]
    val q = Xlsx.cellRows(in.toDF().toDF("media_id", "payload"), "media_id", "payload")
      .writeStream.format("memory").queryName("sc_grid_out")
      .outputMode(OutputMode.Append())
      .start()
    try {
      in.addData(blobs: _*); q.processAllAvailable()
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
        (r.getLong(0), r.getInt(2), r.getInt(3), r.getString(4))).toSet
      val batch = rows(Xlsx.cellRows(blobs.toDF("media_id", "payload"), "media_id", "payload"))
      assert(rows(spark.table("sc_grid_out")) == batch)
      assert(batch == Set(
        (1L, 1, 1, "Name"), (1L, 1, 2, "7"), (1L, 2, 1, "widget")))
    } finally q.stop()
  }

  test("odp/ods text and the routed triage stream identically to batch") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.{Odt, Office}
    val blobs = Seq(
      (1L, Odt.odp(Seq(Seq("deck title")))),
      (2L, Odt.ods(Seq(Seq("cell a", "cell b")))),
      (3L, graft.operators.Doc.doc(Seq("word legacy"))))
    val in = MemoryStream[(Long, Array[Byte])]
    val q = Office.routedText(in.toDF().toDF("media_id", "payload"), "media_id", "payload")
      .writeStream.format("memory").queryName("sc_route_out")
      .outputMode(OutputMode.Append())
      .start()
    try {
      in.addData(blobs: _*); q.processAllAvailable()
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
        (r.getLong(0), r.getString(1), r.getInt(2), r.getString(3))).toSet
      val batch = rows(Office.routedText(blobs.toDF("media_id", "payload"), "media_id", "payload"))
      assert(rows(spark.table("sc_route_out")) == batch)
      assert(batch == Set(
        (1L, "odp", 1, "deck title"),
        (2L, "ods", 2, "cell a\ncell b"),
        (3L, "doc", 1, "word legacy")))
    } finally q.stop()
  }
}
