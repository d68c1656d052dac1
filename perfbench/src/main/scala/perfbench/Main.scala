package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.GraftSession
import graft.operators.AuditJson
import graft.sources.AuditSource
import graft.streaming.AuditSessionPipeline

/** The benchmark's JVM side: runs one workload of the audit-session pipeline
  * through its public entry points and writes what it measured to a JSON
  * file. The Python side (`run.py`) generates the inputs, publishes the
  * stream, checks every output against its reference sessionizer and turns
  * these raw timings into metrics.
  *
  * The jobs, one per workload:
  *   - backfill: `AuditSource.stream` (or `streamPruned` +
  *     `filterByPathDate` with a min date) → `formatted` → `writer` (files
  *     sink, exactly-once parquet) with `Trigger.AvailableNow`;
  *   - batch_pruned: `batchLines` (min date) → `formatted` → parquet write;
  *   - stream_steady: a live query with the writer's `ProcessingTime`
  *     trigger while `run.py` publishes files on a fixed schedule.
  *
  * Usage: `perfbench.Main <spec.json>` (written by `run.py`).
  */
object Main {
  private val mapper = new ObjectMapper()

  final case class Input(tree: String, minDate: Option[String], gapS: Long, watermark: String)

  private def input(n: JsonNode) = Input(
    n.get("tree").asText(),
    Option(n.get("min_date")).filter(!_.isNull).map(_.asText()),
    n.get("gap_s").asLong(),
    n.get("watermark").asText())

  private def config(in: Input, out: Option[String], checkpoint: Option[String]) =
    AuditSessionPipeline.Config(
      auditPath = in.tree, pollSeconds = 1, minDate = in.minDate, gapSeconds = in.gapS,
      output = "files", checkpoint = checkpoint, kafkaTopic = None,
      kafkaOptions = Map.empty, outputPath = out)

  private def session(cores: Int): SparkSession = {
    val s = GraftSession.local(cores)
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = {
    val spec = mapper.readTree(new File(args(0)))
    val workload = spec.get("workload").asText()
    val traced = spec.get("trace").asBoolean()
    val work = spec.get("work").asText()
    val warm = input(spec.get("warm"))
    val main = input(spec.get("main"))
    val result = mapper.createObjectNode()
    val passes = result.putArray("passes")
    var outSeq = 0
    def fresh(kind: String): String = { outSeq += 1; s"$work/out/$kind-$outSeq" }

    def record(phase: String, shape: String, in: Input, t0: Long, t1: Long, out: String,
        q: Option[StreamingQuery]): Unit = {
      val p = passes.addObject()
      p.put("phase", phase).put("shape", shape).put("tree", in.tree)
        .put("start_ms", t0).put("end_ms", t1).put("out", out)
        .put("cpu_ms", java.lang.management.ManagementFactory.getOperatingSystemMXBean
          .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1000000L)
      val prog = p.putArray("progress")
      q.foreach(_.recentProgress.foreach(x => prog.add(mapper.readTree(x.json))))
    }

    def backfill(spark: SparkSession, in: Input, phase: String): Double = Trace.span("backfill") {
      val out = fresh("backfill")
      val t0 = System.currentTimeMillis()
      val lines = in.minDate match {
        case Some(d) => AuditSource.filterByPathDate(AuditSource.streamPruned(spark, in.tree, d), d)
        case None => AuditSource.stream(spark, in.tree)
      }
      val results = AuditSessionPipeline.formatted(lines, in.gapS, in.watermark)
      val q = AuditSessionPipeline.writer(results, config(in, Some(out), Some(out + ".cp")))
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val t1 = System.currentTimeMillis()
      record(phase, "backfill", in, t0, t1, out, Some(q))
      (t1 - t0) / 1000.0
    }

    def batch(spark: SparkSession, in: Input, phase: String): Double = Trace.span("batch") {
      val out = fresh("batch")
      val t0 = System.currentTimeMillis()
      val lines = AuditSessionPipeline.batchLines(spark, config(in, Some(out), None))
      AuditSessionPipeline.formatted(lines, in.gapS, in.watermark).write.parquet(out)
      val t1 = System.currentTimeMillis()
      record(phase, "batch", in, t0, t1, out, None)
      (t1 - t0) / 1000.0
    }

    /** Live query over a fresh directory while run.py publishes into it:
      * signal ready, wait for run.py's done marker (it holds the watermark
      * the final flush record produces), then wait until a micro-batch has
      * run with that watermark, which is the batch that emits the last
      * sessions.
      */
    def live(spark: SparkSession, phase: String): Input = Trace.span("live") {
      val k = passes.size()
      val in = main.copy(tree = s"${main.tree}-$k")
      new File(in.tree).mkdirs()
      val out = fresh("live")
      val results = AuditSessionPipeline.formatted(AuditSource.stream(spark, in.tree), in.gapS, in.watermark)
      val t0 = System.currentTimeMillis()
      val q = AuditSessionPipeline.writer(results, config(in, Some(out), Some(out + ".cp"))).start()
      val ready = Files.writeString(Paths.get(s"$work/.ready-$k"), in.tree)
      Files.move(ready, Paths.get(s"$work/ready-$k"), java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      val done = Paths.get(s"$work/done-$k")
      val deadline = t0 + spec.get("live_timeout_s").asLong() * 1000
      def waitFor(cond: => Boolean): Unit = {
        while (!cond && q.isActive && System.currentTimeMillis() < deadline) Thread.sleep(20)
        if (!cond) q.exception.foreach(throw _)
        if (!cond) throw new IllegalStateException(s"live query did not finish (${in.tree})")
      }
      waitFor(Files.exists(done))
      val finalWatermark = Files.readString(done).trim.toLong
      def watermark = Option(q.lastProgress).flatMap(p => Option(p.eventTime.get("watermark")))
        .map(java.time.Instant.parse(_).toEpochMilli).getOrElse(Long.MinValue)
      waitFor(watermark >= finalWatermark)
      q.stop()
      record(phase, "live", in, t0, System.currentTimeMillis(), out, Some(q))
      in
    }

    /** One run of the workload's job; returns the tree it read. */
    def job(spark: SparkSession, phase: String): Input = workload match {
      case "backfill" => backfill(spark, main, phase); main
      case "batch_pruned" => batch(spark, main, phase); main
      case "stream_steady" => live(spark, phase)
    }

    // set-up: session creation plus an untimed warm-up pass (the job on
    // the small warm-up tree; AvailableNow for the stream, which runs the
    // same stateful plan), several times
    val setups = result.putArray("setup_s")
    var spark: SparkSession = null
    for (_ <- 1 to spec.get("setups").asInt()) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(spec.get("cores").asInt())
      if (workload == "batch_pruned") batch(spark, warm, "warmup")
      else backfill(spark, warm, "warmup")
      setups.add((System.nanoTime() - t0) / 1e9)
    }

    // The window: the job, repeated for `seconds`. Its first half warms
    // the JIT (jobs keep getting faster for about ten seconds of work);
    // run.py counts only jobs that start in the second half, and the loop
    // runs until at least `min_reps` have. The stream is one live query of
    // `seconds` published files, of which run.py counts all but the first
    // few. A traced run pairs every untraced job with a traced
    // one, alternating which of the two goes first and ending on a whole
    // number of both orders, so neither sees more warm-up than the other;
    // their difference is the tracing overhead.
    // the live query's own code (trigger loop, state store commits) warms
    // on one short, untimed live query before the window
    if (workload == "stream_steady") live(spark, "warmup")

    val listener = new LayerListener
    var gcTraced = 0.0
    def tracing[T](body: => T): T = {
      spark.sparkContext.addSparkListener(listener)
      Trace.enabled = true
      val gc0 = gcSeconds()
      try body
      finally {
        gcTraced += gcSeconds() - gc0
        Trace.enabled = false
        org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(listener)
      }
    }
    val seconds = spec.get("seconds").asDouble()
    val t0 = System.currentTimeMillis()
    result.put("window_start_ms", t0)
    def elapsed = (System.currentTimeMillis() - t0) / 1000.0
    var counted = 0
    var pairs = 0
    var tree = main
    def tracedJob(): Input = tracing(Trace.span("job")(job(spark, "traced")))
    do {
      if (elapsed >= seconds / 2) counted += 1
      if (pairs % 2 == 0) {
        tree = job(spark, "measure")
        if (traced) tree = tracedJob()
      } else {
        tree = tracedJob()
        tree = job(spark, "measure")
      }
      if (traced) pairs += 1
    } while (pairs % 2 == 1 || workload != "stream_steady" &&
      (elapsed < seconds || counted < spec.get("min_reps").asInt()))

    if (traced) {
      tracing(layers(spark, tree, listener, result.putObject("layers"), fresh("layers")))
      result.put("gc_s", gcTraced)
      // single-threaded baseline: the backfill shape over the same tree at
      // nproc cores, then at one
      Trace.enabled = true
      Trace.span("local1") {
        result.put("nproc_backfill_s", backfill(spark, tree, "local1"))
        spark.stop()
        spark = session(1)
        backfill(spark, warm, "warmup")
        result.put("local1_backfill_s", backfill(spark, tree, "local1"))
      }
      Trace.writeJsonl(Paths.get(s"$work/spans.jsonl"))
    }

    // parse accounting over the job's input, for the malformed-line check
    val lines = AuditSessionPipeline.batchLines(spark, config(tree, None, None))
    val stats = AuditJson.parseStats(lines).collect()(0)
    val ps = result.putObject("parse_stats")
    for (f <- Seq("n_lines", "n_corrupt", "n_missing_user", "n_good"))
      ps.put(f, stats.getAs[Long](f))
    val corrupt = result.putArray("corrupt_lines")
    AuditJson.corruptLines(lines).collect().foreach(r => corrupt.add(r.getString(0)))
    spark.stop()

    result.put("peak_rss_mb", peakRssMb())
    mapper.writerWithDefaultPrettyPrinter().writeValue(new File(s"$work/result.json"), result)
  }

  /** Layer self times by difference: scan only, then parse, then
    * transform (each written to the no-op sink), then the full output
    * written as parquet. Each step runs three times; medians are kept. One
    * more, untimed listing counts the entries the file index listed.
    */
  private def layers(spark: SparkSession, in: Input, listener: LayerListener, out: ObjectNode,
      outDir: String): Unit = {
    val reps = 3
    def timed(label: String)(body: => Unit): Double = {
      spark.sparkContext.setLocalProperty(LayerListener.Key, label)
      val ts = (1 to reps).map { _ =>
        Trace.span(label) {
          val t0 = System.nanoTime()
          body
          (System.nanoTime() - t0) / 1e9
        }
      }
      spark.sparkContext.setLocalProperty(LayerListener.Key, null)
      ts.sorted.apply(reps / 2)
    }
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    def lines = AuditSessionPipeline.batchLines(spark, config(in, None, None))

    var kept = 0
    val list = timed("sources.list") { kept = lines.inputFiles.length }
    val listed = CountingLocalFileSystem.count(spark.sparkContext.hadoopConfiguration) {
      lines.inputFiles
    }
    val scan = timed("sources.scan")(noop(lines))
    val parse = timed("AuditJson.parse")(noop(AuditJson.parse(lines)))
    val transform = timed("Sessionize")(noop(AuditSessionPipeline.transform(lines, in.gapS)))
    var n = 0
    val full = timed("AuditSessionPipeline.sink") {
      n += 1
      AuditSessionPipeline.formatted(lines, in.gapS).write.parquet(s"$outDir-$n")
    }
    org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
    def roll(label: String) = listener.rolls.get(label)
    out.put("list_s", list).put("scan_s", scan).put("parse_s", parse)
      .put("transform_s", transform).put("full_s", full)
      .put("files_kept", kept).put("entries_listed", listed)
      .put("bytes_read", roll("sources.scan").map(_.bytesRead / reps).getOrElse(0L))
      .put("shuffle_write_bytes", roll("Sessionize").map(_.shuffleWrite / reps).getOrElse(0L))
      .put("spill_bytes", roll("Sessionize").map(_.spill / reps).getOrElse(0L))
      .put("task_skew", listener.skew("Sessionize"))
      .put("sessions_out", spark.read.parquet(s"$outDir-1").count())
  }

  private def gcSeconds(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1000.0

  /** High-water resident set size of this process (Linux `VmHWM`). */
  private def peakRssMb(): Double = {
    val status = scala.io.Source.fromFile("/proc/self/status")
    try status.getLines().find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(0.0)
    finally status.close()
  }
}
