package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The lifetime of [[Guard.pin]]/[[Guard.unpin]]: a pinned frame fills
  * on its first action, a pinned loop keeps a constant-size plan, and
  * the iterative operators leave the same number of pinned RDDs behind
  * however many rounds they run.
  */
class GuardSpec extends SparkSpec {
  import spark.implicits._

  private def rddOf(df: DataFrame): RDD[_] =
    df.queryExecution.logical.collectFirst { case r: LogicalRDD => r.rdd }.get

  private def cachedPartitions(rdd: RDD[_]): Int =
    spark.sparkContext.getRDDStorageInfo.find(_.id == rdd.id)
      .map(_.numCachedPartitions).getOrElse(0)

  /** `body`'s result and how many pinned RDDs it left behind (the
    * result is held, so the ContextCleaner cannot free its blocks in
    * between).
    */
  private def residue[T](body: => T): (T, Int) = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val out = body
    (out, (spark.sparkContext.getPersistentRDDs.keySet.toSet -- before).size)
  }

  test("pin: the first action fills the frame; unpin frees it") {
    val p = Guard.pin(spark.range(0, 1000, 1, 4).select((col("id") * 2).as("v")))
    assert(p.queryExecution.logical.isInstanceOf[LogicalRDD])
    val rdd = rddOf(p)
    assert(cachedPartitions(rdd) == 0 && !rdd.isCheckpointed, "pin alone must not fill")
    assert(p.agg(sum("v")).first().getLong(0) == 999000L)
    assert(cachedPartitions(rdd) == rdd.getNumPartitions && rdd.isCheckpointed)
    // later readers scan the blocks: same rows, nothing recomputed
    assert(p.agg(max("v")).first().getLong(0) == 1998L)
    Guard.unpin(p)
    assert(!spark.sparkContext.getPersistentRDDs.contains(rdd.id))
    assert(cachedPartitions(rdd) == 0)
  }

  test("unpin logs nothing; RDD.unpersist on the same checkpoint logs Spark's WARN") {
    import scala.jdk.CollectionConverters._
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val capture = new AbstractAppender("unpin-capture", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = lines.add(e.getMessage.getFormattedMessage): Unit
    }
    capture.start()
    val root = LogManager.getRootLogger.asInstanceOf[Logger]
    root.addAppender(capture)
    def filled() = {
      val p = Guard.pin(spark.range(0, 100, 1, 2).toDF("v"))
      assert(p.count() == 100L)
      p
    }
    def warned = lines.asScala.count(_.contains("was locally checkpointed"))
    try {
      val p = filled()
      Guard.unpin(p)
      assert(!spark.sparkContext.getPersistentRDDs.contains(rddOf(p).id))
      assert(warned == 0, lines.asScala.mkString("\n"))
      // the capture sees the line when Spark's own unpersist emits it
      rddOf(filled()).unpersist()
      assert(warned == 1, lines.asScala.mkString("\n"))
    } finally {
      root.removeAppender(capture)
      capture.stop()
    }
  }

  test("a 30-round pinned loop keeps a constant-size plan and size estimate") {
    val (last, left) = residue {
      var cur = Guard.pin(spark.range(0, 100, 1, 2).toDF("v"))
      val sizes = (1 to 30).map { _ =>
        // a self-join: its size estimate is the product of its sides',
        // so an uncapped estimate would square every round
        val next = Guard.pin(cur.join(cur.select(col("v").as("w")), col("v") === col("w"))
          .select((col("v") + 1).as("v")))
        next.count(): Unit
        Guard.unpin(cur)
        cur = next
        assert(cur.queryExecution.optimizedPlan.stats.sizeInBytes <= Long.MaxValue)
        (cur.queryExecution.optimizedPlan.collect { case n => n }.size,
          cur.queryExecution.executedPlan.collect { case n => n }.size)
      }
      assert(sizes.distinct.size == 1, s"plan grew: $sizes")
      cur
    }
    assert(left == 1, s"pinned RDDs left: $left")
    assert(last.agg(sum("v")).first().getLong(0) == 4950L + 30L * 100L)
  }

  test("pinned RDDs left by the iterative operators do not grow with the rounds") {
    val adj = Graph.collapseEdges(
      Seq(("A", "B"), ("B", "C"), ("C", "A"), ("A", "C"), ("C", "B")).toDF("src", "dst"),
      "src", "dst")
    val pr = Seq(2, 10).map { k =>
      val (res, left) = residue {
        val r = Graph.pageRankConverged(adj, maxIters = k, tolMicro = 0L)
        assert(r.ranks.count() == 3L)
        r
      }
      assert(res.itersRun == k)
      left
    }
    assert(pr.distinct.size == 1, s"pageRankConverged left $pr pinned RDDs at 2 and 10 rounds")

    val docs = Seq((1L, "aab aab aab ab abb abab baba"), (2L, "ab ba ab ba aab bba"))
      .toDF("doc_id", "text")
    val md = Seq(1, 4).map { k =>
      val (dict, left) = residue {
        val d = Vocab.mergedDict(docs, "text", k)
        assert(d.count() > 0L)
        d
      }
      assert(dict.count() > 0L) // still readable after its loop's unpins
      left
    }
    assert(md.distinct.size == 1, s"mergedDict left $md pinned RDDs at 1 and 4 merges")

    // a chain of L near-duplicates (doc i and i+1 share 8 of 10
    // bigrams, doc i and i+2 only 7 of 11) needs L propagation rounds
    def chain(len: Int) = (1 to len).map { i =>
      (i.toLong, (i until i + 10).map(w => s"w$w").mkString(" "))
    }.toDF("doc_id", "text")
    val nd = Seq(3, 8).map { len =>
      val (out, left) = residue {
        val c = Dedup.nearDupClusters(chain(len), "doc_id", "text", n = 2, threshold = 0.75)
        c.count(): Unit
        c
      }
      val clusters = out.as[(Long, Long)].collect().toMap
      assert(clusters == (1 to len).map(i => i.toLong -> 1L).toMap, clusters.toString)
      left
    }
    assert(nd.distinct.size == 1, s"nearDupClusters left $nd pinned RDDs at 3 and 8 rounds")
  }
}
