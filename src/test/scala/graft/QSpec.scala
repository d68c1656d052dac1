package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Pmod
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, LongType}

import graft.queries.Q

/** The gates' shared frame: the fixture helper builds exactly the rows a
  * hand-built frame did, and each typed plan assertion accepts a plan
  * with its fact and rejects one without.
  */
class QSpec extends SparkSpec {

  /** 400 rows in 4 `p=` partitions of one parquet directory. */
  private lazy val parted: DataFrame = {
    val dir = Files.createTempDirectory("qspec_parted").toString
    spark.range(0, 400, 1, 4).select(col("id").as("v"), (col("id") % 4).as("p"))
      .write.mode("overwrite").partitionBy("p").parquet(dir)
    spark.read.parquet(dir)
  }

  private def rejects(check: => Unit): Unit =
    intercept[IllegalArgumentException](check): Unit

  test("fixture: the nation keys as BIGINT plus f(key), map-only") {
    // a sf directory holding only the nation table's INT key column
    val sf = Files.createTempDirectory("qspec_sf").toString
    spark.range(0, 25).select(col("id").cast("int").as("n_nationkey"))
      .write.parquet(s"$sf/nation.parquet")
    val f = (k: Long) => Array.fill((k % 3).toInt + 1)(k.toByte)
    val df = Q.fixture(Q.nationKeys(spark, sf, "media_id"), "media_id", "payload")(f)
    assert(df.schema.map(s => s.name -> s.dataType) == Seq("media_id" -> LongType, "payload" -> BinaryType))
    val rows = df.collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
    assert(rows.keySet == (0L until 25L).toSet)
    rows.foreach { case (k, p) => assert(p == f(k).toSeq, s"key $k") }
    Q.requireNoShuffle(df)
  }

  test("requirePartitionFilter: a partition-column predicate passes; none, or another column, fails") {
    Q.requirePartitionFilter(parted.filter(col("p") === 1), "p")
    rejects(Q.requirePartitionFilter(parted, "p"))
    rejects(Q.requirePartitionFilter(parted.filter(col("v") > 10), "p"))
    rejects(Q.requirePartitionFilter(parted.filter(col("p") === 1), "v"))
  }

  test("requireDynamicPruning: a join that selects partitions passes; a static filter fails") {
    val dim = spark.range(0, 8).select(col("id").as("p"), (col("id") * 10).as("w"))
      .filter(col("w") < 20)
    Q.requireDynamicPruning(parted.join(dim, "p"))
    rejects(Q.requireDynamicPruning(parted.filter(col("p") === 1)))
  }

  test("requireDataFilter: a pmod scan predicate passes; a plain comparison fails") {
    Q.requireDataFilter[Pmod](parted.filter(pmod(col("v"), lit(7)) === 3))
    rejects(Q.requireDataFilter[Pmod](parted.filter(col("v") > 3)))
    rejects(Q.requireDataFilter[Pmod](parted.filter(pmod(col("p"), lit(2)) === 0)))
  }

  test("requireFileScans: counts the plan's file scans") {
    Q.requireFileScans(parted.groupBy("p").count(), 1)
    rejects(Q.requireFileScans(parted.unionByName(parted), 1))
    Q.requireFileScans(parted.unionByName(parted), 2)
  }
}
