package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path

import graft.operators.{Layout, Similarity}

/** The settings every graft session gets, and the one place graft looks
  * file systems up.
  */
class GraftSessionSpec extends SparkSpec {

  import spark.implicits._
  import GraftSessionSpec.RecordingFs

  test("every GraftSession entry point turns artifact isolation off") {
    val key = GraftSession.ArtifactIsolation
    withRestoredConf(GraftSessionSpec.localTouches) {
      assert(GraftSession.local(cores = 4).conf.get(key) == "false")
      assert(GraftSession.forMain("WARN").conf.get(key) == "false")
      assert(GraftSession.create(GraftSession.builder(2).master("local[2]")).conf.get(key) == "false")
    }
    assert(spark.conf.get(key) == "false")
  }

  test("a Hadoop key set with spark.conf.set reaches purgeFromIndex's and compactDir's lookups") {
    val path = graft.queries.Q.scratch("session_fs_purge")
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (10L, Array(0.9f, 0.1f, 0.0f))
    ).toDF("vec_id", "embedding")
    Similarity.assignToCentroids(corpus, corpus.filter($"vec_id" < 3), "vec_id", "embedding")
      .write.mode("overwrite").partitionBy("centroid_id").parquet(path)
    val part = graft.queries.Q.scratch("session_fs_compact")
    spark.range(40).repartition(4).write.mode("overwrite").parquet(part)

    // the default file system is cached per scheme, whatever the conf:
    // the recording one is built only with the cache off
    withRestoredConf(Seq("fs.file.impl", "fs.file.impl.disable.cache")) {
      spark.conf.set("fs.file.impl", classOf[RecordingFs].getName)
      spark.conf.set("fs.file.impl.disable.cache", "true")
      RecordingFs.calls.clear()
      // cell 2's only row is deleted: graft removes the emptied cell
      // itself, where Spark's dynamic overwrite cannot reach it
      Similarity.purgeFromIndex(spark, path, Seq(Tuple1(2L)).toDF("vec_id"), "vec_id")
      assert(RecordingFs.calls.contains("delete centroid_id=2"), RecordingFs.calls)
      Layout.compactDir(spark, part, targetBytes = 1L << 26)
      assert(RecordingFs.calls.asScala.exists(_.startsWith("rename compacted-")), RecordingFs.calls)
    }
    assert(spark.read.parquet(path).select("vec_id").as[Long].collect().toSet == Set(1L, 10L))
    assert(spark.read.parquet(part).count() == 40)
  }
}

object GraftSessionSpec {

  /** getOrCreate on a pre-existing session applies non-static configs
    * (Spark ≥3.4), so `GraftSession.local` would leak
    * shuffle.partitions=4 etc. into every later spec in this JVM:
    * specs that call it restore these around the call.
    */
  val localTouches: Seq[String] = Seq(
    "spark.sql.session.timeZone",
    "spark.sql.shuffle.partitions",
    "spark.sql.adaptive.enabled",
    "spark.sql.sources.parallelPartitionDiscovery.threshold",
    GraftSession.ArtifactIsolation) ++ GraftSession.localFileSystem.keys

  /** graft's local file system, recording the name each `delete` and
    * `rename` targets.
    */
  class RecordingFs extends GraftLocalFileSystem {
    override def delete(f: Path, recursive: Boolean): Boolean = {
      RecordingFs.calls.add(s"delete ${f.getName}")
      super.delete(f, recursive)
    }

    override def rename(src: Path, dst: Path): Boolean = {
      RecordingFs.calls.add(s"rename ${dst.getName}")
      super.rename(src, dst)
    }
  }

  object RecordingFs {
    val calls = new ConcurrentLinkedQueue[String]
  }
}
