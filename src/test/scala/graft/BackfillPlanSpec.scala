package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.catalyst.expressions.JsonToStructs
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.operators.Sessionize
import graft.queries.Q
import graft.sources.AuditSource
import graft.streaming.AuditSessionPipeline

/** What a backfill pays for beyond its batch twin, pinned on the plans
  * and jobs it runs: every line is parsed once and only for the four
  * fields the sessionizer reads, and on a local master a micro-batch's
  * files are listed without a Spark job.
  */
class BackfillPlanSpec extends SparkSpec {

  /** A fresh tree of `files` one-line audit files spread over day
    * directories.
    */
  private def tree(files: Int): String = {
    val root = Files.createTempDirectory("backfill_plan")
    for (i <- 0 until files) {
      val d = f"${i % 20 + 1}%02d"
      val day = Files.createDirectories(root.resolve(s"202104$d"))
      Files.writeString(day.resolve(s"audit-$i.log"),
        s"""{"repoType":9,"reqUser":"u${i % 7}","evtTime":"2021-04-$d 10:00:00.000",""" +
          s""""result":${i % 2},"event_count":1,"tags":[],"cluster_name":"cl1"}""" + "\n")
    }
    root.toString
  }

  /** The schema of every `from_json` in the plan's nodes. */
  private def parses(nodes: Seq[SparkPlan]): Seq[StructType] =
    nodes.flatMap(_.expressions).flatMap(_.collect {
      case j: JsonToStructs => j.schema.asInstanceOf[StructType]
    })

  private def assertOneNarrowParse(nodes: Seq[SparkPlan]): Unit = {
    val found = parses(nodes)
    assert(found.size == 1, found.map(_.simpleString).mkString("\n"))
    assert(found.head.fieldNames.toSeq == Sessionize.AuditFields, found.head.simpleString)
  }

  private def lastPlan(q: StreamingQuery): SparkPlan =
    q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan

  test("transform parses each line once, for the four fields it reads (batch)") {
    val sessions = AuditSessionPipeline.transform(AuditSource.batch(spark, tree(3)), 600)
    sessions.collect()
    assertOneNarrowParse(Q.planNodes(sessions))
  }

  test("transform parses each line once, for the four fields it reads (AvailableNow stream)") {
    val root = tree(3)
    // no trailing no-data batch, so the last execution is the one that read files
    withRestoredConf(Seq("spark.sql.streaming.noDataMicroBatches.enabled")) {
      spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
      val q = AuditSessionPipeline.transform(AuditSource.stream(spark, root), 600)
        .writeStream.format("noop")
        .option("checkpointLocation", s"$root-cp")
        .trigger(Trigger.AvailableNow()).start()
      try assert(q.awaitTermination(120000), "query did not self-terminate")
      finally q.stop()
      assertOneNarrowParse(lastPlan(q).collect { case p => p })
    }
  }

  test("GraftSession lists files on the driver only on a local master") {
    for (m <- Seq("local", "local[4]", "local[*]", "local[4,2]"))
      assert(GraftSession.serialListing(m), m)
    for (m <- Seq("yarn", "spark://host:7077", "k8s://https://host:443",
        "mesos://host:5050", "local-cluster[2,1,1024]"))
      assert(!GraftSession.serialListing(m), m)
  }

  test("an AvailableNow backfill of 40 files on GraftSession.local starts no listing job") {
    val root = tree(40)
    // Spark names a listing job by its description; its stages carry the
    // caller's call site, which says nothing about what they run
    val jobs = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .foreach(jobs.add(_))
    }
    val sentinel = "backfill-plan-spec: listener drained"
    withRestoredConf(GraftSessionSpec.localTouches) {
      val local = GraftSession.local(cores = 4)
      val sc = local.sparkContext
      sc.addSparkListener(listener)
      try {
        val config = AuditSessionPipeline.Config(
          auditPath = root, pollSeconds = 1, minDate = None, gapSeconds = 600, output = "files",
          checkpoint = Some(s"$root-cp"), kafkaTopic = None, kafkaOptions = Map.empty,
          outputPath = Some(s"$root-out"))
        val q = AuditSessionPipeline
          .writer(AuditSessionPipeline.formatted(AuditSource.stream(local, root), 600, "0 seconds"), config)
          .trigger(Trigger.AvailableNow()).start()
        try assert(q.awaitTermination(120000), "query did not self-terminate")
        finally q.stop()
        assert(local.read.parquet(s"$root-out").count() > 0)
        // listener events arrive in order: once the sentinel job is seen,
        // every job of the query has been
        sc.setJobDescription(sentinel)
        sc.parallelize(Seq(1), 1).count()
        sc.setJobDescription(null)
        val deadline = System.currentTimeMillis() + 60000
        while (!jobs.contains(sentinel) && System.currentTimeMillis() < deadline) Thread.sleep(10)
        assert(jobs.contains(sentinel), "listener bus did not drain")
      } finally sc.removeSparkListener(listener)
    }
    val listings = jobs.asScala.filter(_.startsWith("Listing leaf files"))
    assert(listings.isEmpty, listings.mkString("\n"))
  }
}
