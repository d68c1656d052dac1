package graft

import java.io.File
import java.nio.file.Files

import org.apache.hadoop.fs.{AbstractFileSystem, FileSystem}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.Trigger

import graft.operators.{AuditJson, Sessionize}
import graft.sources.AuditSource
import graft.streaming.AuditSessionPipeline

/** A streaming checkpoint written under one local file system restarts
  * under the other, both ways: the files-sink pipeline drains half the
  * input with `Trigger.AvailableNow`, stops, and drains the rest on the
  * same checkpoint after the switch. Sessions open across the stop live
  * only in the state store, so the output is exact only if the second
  * file system reads the first one's offsets, commits, state deltas and
  * sink manifest (each with its `.crc` sidecar).
  *
  * The same holds across the source's reader: a checkpoint whose file
  * source log Spark's own `text` stream wrote restarts under
  * `AuditSource.stream`, and the other way round.
  */
class CheckpointCompatSpec extends SparkSpec {
  import GraftLocalFileSystemSpec.{graft, local, stock}

  private val gapSeconds = 1200L

  private def line(user: String, minute: String, result: Int, count: Int): String =
    s"""{"repoType":9,"repo":"cm_kafka","reqUser":"$user","evtTime":"2021-04-01 $minute:00.000",""" +
      s""""access":"describe","result":$result,"policy":5,"event_count":$count,""" +
      s""""seq_num":1,"event_dur_ms":0,"tags":[],"cluster_name":"cl1"}"""

  /** Gap 20 min, watermark 10 min. After the first half the watermark is
    * 10:30: bob's and carol's first sessions close, alice's (10:00–10:30)
    * and bob's second (10:40) stay open and take events after the
    * restart; dave's allowed-only session has no denies; zz's 12:00 event
    * closes everything else and has no denies either.
    */
  private val firstHalf = Seq(
    "audit-1.log" -> Seq(
      line("alice", "10:00", 0, 3), line("bob", "10:01", 1, 1), line("bob", "10:02", 0, 1),
      "{malformed json", line("carol", "10:03", 0, 4), line("alice", "10:15", 0, 2)),
    "audit-2.log" -> Seq(
      line("dave", "10:20", 1, 1), line("alice", "10:30", 0, 1), line("bob", "10:40", 0, 2)))
  private val secondHalf = Seq(
    "audit-3.log" -> Seq(
      line("erin", "10:41", 0, 2), line("alice", "10:45", 0, 5), line("carol", "11:00", 0, 1)),
    "audit-4.log" -> Seq(line("bob", "10:50", 0, 1), line("zz", "12:00", 1, 1)))

  private def publish(day: File, files: Seq[(String, Seq[String])]): Unit =
    files.foreach { case (name, lines) =>
      Files.writeString(new File(day, name).toPath, lines.mkString("", "\n", "\n"))
    }

  /** Runs `body` with the session's `file:` scheme on `impls`, for every
    * path the query touches (it reads its Hadoop settings from the
    * session). The `FileSystem` cache is off meanwhile: it would otherwise
    * serve the JVM's first `file:` instance, whatever its class.
    */
  private def under[T](impls: Map[String, String])(body: => T): T = {
    val settings = impls + ("fs.file.impl.disable.cache" -> "true")
    withRestoredConf(settings.keys) {
      settings.foreach { case (k, v) => spark.conf.set(k, v) }
      val conf = spark.sessionState.newHadoopConf()
      assert(FileSystem.get(local, conf).getClass.getName == impls("fs.file.impl"))
      assert(AbstractFileSystem.get(local, conf).getClass.getName == impls("fs.AbstractFileSystem.file.impl"))
      body
    }
  }

  /** The audit stream, and the one Spark's `text` reader served before
    * `AuditSource` had its own (deployed checkpoints hold its source log).
    */
  private def audit(path: String): DataFrame = AuditSource.stream(spark, path)
  private def sparkText(path: String): DataFrame =
    spark.readStream.format("text").option("recursiveFileLookup", "true").load(path)

  private def restartAcross(
      first: Map[String, String],
      second: Map[String, String],
      sources: (String => DataFrame, String => DataFrame) = (audit, audit)
  ): Unit = {
    val root = Files.createTempDirectory("audit_compat").toFile
    val day = new File(root, "20210401")
    day.mkdirs()
    val outDir = Files.createTempDirectory("audit_compat_sink").toFile
    val cpDir = Files.createTempDirectory("audit_compat_cp").toFile
    val config = AuditSessionPipeline.Config(
      auditPath = root.getAbsolutePath,
      pollSeconds = 1,
      minDate = None,
      gapSeconds = gapSeconds,
      output = "files",
      checkpoint = Some(cpDir.getAbsolutePath),
      kafkaTopic = None,
      kafkaOptions = Map.empty,
      outputPath = Some(outDir.getAbsolutePath))

    def drain(source: String => DataFrame): Unit = {
      val results = AuditSessionPipeline.transform(
        source(root.getAbsolutePath), gapSeconds, watermark = "10 minutes")
      val q = AuditSessionPipeline.writer(results, config).trigger(Trigger.AvailableNow()).start()
      try assert(q.awaitTermination(120000), "query did not self-terminate")
      finally q.stop()
    }

    publish(day, firstHalf)
    under(first)(drain(sources._1))
    publish(day, secondHalf)
    under(second)(drain(sources._2))

    def rows(df: DataFrame) = df.collect().map(_.toSeq.mkString("|")).sorted.toSeq
    val streamed = rows(spark.read.parquet(outDir.getAbsolutePath))
    val batch = rows(Sessionize.auditDeniedCounts(
      AuditJson.parse(AuditSource.batch(spark, root.getAbsolutePath)), gapSeconds))
    assert(streamed.distinct.length == streamed.length, streamed)
    assert(streamed == batch)
    assert(batch.length == 6, batch) // alice, bob ×2, carol ×2, erin

    // both runs' checkpoint entries carry their checksum sidecars
    for (sub <- Seq("offsets", "commits")) {
      val entries = new File(cpDir, sub).list().filterNot(_.startsWith("."))
      assert(entries.length >= 2, s"$sub: ${entries.toSeq}")
      entries.foreach(e => assert(new File(cpDir, s"$sub/.$e.crc").isFile, s"$sub/$e"))
    }
  }

  test("a checkpoint written under Hadoop's local file system restarts under graft's") {
    restartAcross(first = stock, second = graft)
  }

  test("a checkpoint written under graft's local file system restarts under Hadoop's") {
    restartAcross(first = graft, second = stock)
  }

  test("a checkpoint written through Spark's text reader restarts under AuditSource's") {
    restartAcross(first = graft, second = graft, sources = (sparkText, audit))
  }

  test("a checkpoint written through AuditSource's reader restarts under Spark's text reader") {
    restartAcross(first = graft, second = graft, sources = (audit, sparkText))
  }
}
