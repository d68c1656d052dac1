package graft

import org.apache.spark.sql.functions._

/** Co-located joins via bucketing: two tables bucketed on the join key
  * with the same bucket count join with ZERO exchanges — the
  * pre-shuffle-once, join-many-times layout for 100 TB fact tables.
  */
class BucketingSpec extends SparkSpec {

  test("dynamic partition pruning: dim filter prunes fact partitions at runtime") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_dpp").toFile.getAbsolutePath
    val events = graft.queries.Q.events(spark, "/root/testdata/sf0.001")
    events.withColumn("dt", date_format(col("ts"), "yyyyMMdd"))
      .write.partitionBy("dt").mode("append").parquet(tmp)

    val fact = spark.read.parquet(tmp)
    // dim filtered on a NON-join column, so fact partitions are not
    // statically known — DPP must inject a runtime subquery into the
    // fact scan's PartitionFilters (a filter on dt itself would get
    // pushed statically instead)
    val dim = fact.groupBy(col("dt"))
      .agg(min(col("event_id")).as("first_event"))
      .filter(col("first_event") < 100)
    val joined = fact.join(dim, Seq("dt"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"), plan.take(4000))
    assert(joined.count() > 0)
  }

  test("q_bucketed_join gate survives a pre-polluted warehouse and reruns clean") {
    // Reproduce the round-10 failure mode: a PREVIOUS JVM wrote the
    // bucketed tables, its in-memory catalog died with it, and the
    // orphaned warehouse directories remain on disk. A bare
    // `DROP TABLE IF EXISTS` cannot see them, so `saveAsTable` dies
    // with LOCATION_ALREADY_EXISTS. The gate must pre-clean the
    // locations themselves and leave no state behind.
    val sf = "/root/testdata/sf0.001"
    val tag = s"g${math.abs(sf.hashCode).toString.take(6)}"
    val wh = new java.io.File(spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))
    wh.mkdirs()
    for (t <- Seq(s"orders_bk_$tag", s"customer_bk_$tag")) {
      spark.sql(s"DROP TABLE IF EXISTS `$t`") // catalog must NOT know the orphan
      val orphan = new java.io.File(wh, t)
      orphan.mkdirs()
      java.nio.file.Files.write(
        new java.io.File(orphan, "part-orphan.parquet").toPath,
        Array[Byte](1, 2, 3))
      assert(orphan.exists())
    }
    val gate = graft.queries.RelationalQueries.all.find(_.name == "q_bucketed_join").get
    // first run: must clear the orphans and succeed
    assert(gate.run(spark, sf).count() > 0)
    // second run in the same session: the create-or-replace path again
    assert(gate.run(spark, sf).count() > 0)
    // and the gate cleans up after itself — no orphan for the NEXT JVM
    assert(!new java.io.File(wh, s"orders_bk_$tag").exists())
    assert(!new java.io.File(wh, s"customer_bk_$tag").exists())
  }

  test("dropManagedTable: qualified name in a non-default db deletes the real location") {
    // the warehouse-path heuristic alone would compute wh/<db.table> —
    // the wrong directory — for a qualified name; the fix resolves the
    // location from the catalog while the table still exists
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_qdb")
    spark.sql("DROP TABLE IF EXISTS graft_qdb.qt")
    spark.range(5).write.mode("overwrite").saveAsTable("graft_qdb.qt")
    val loc = new java.io.File(
      spark.sessionState.catalog.getTableMetadata(
        spark.sessionState.sqlParser.parseTableIdentifier("graft_qdb.qt")).location)
    assert(loc.exists())
    graft.queries.Q.dropManagedTable(spark, "graft_qdb.qt")
    assert(!spark.catalog.tableExists("graft_qdb.qt"))
    assert(!loc.exists(), s"location $loc must be deleted with the table")
    // and the orphan case still works for the qualified layout
    loc.mkdirs()
    java.nio.file.Files.write(
      new java.io.File(loc, "part-orphan.parquet").toPath, Array[Byte](1))
    graft.queries.Q.dropManagedTable(spark, "graft_qdb.qt")
    assert(!loc.exists(), s"orphaned $loc must be cleared by the fallback")
    spark.sql("DROP DATABASE IF EXISTS graft_qdb CASCADE")
  }

  test("same-bucketed tables sort-merge join without any exchange") {
    val sf = "/root/testdata/sf0.001"
    spark.sql("DROP TABLE IF EXISTS orders_b")
    spark.sql("DROP TABLE IF EXISTS customer_b")
    spark.read.parquet(s"$sf/orders.parquet")
      .write.bucketBy(8, "o_custkey").sortBy("o_custkey")
      .mode("overwrite").saveAsTable("orders_b")
    spark.read.parquet(s"$sf/customer.parquet")
      .write.bucketBy(8, "c_custkey").sortBy("c_custkey")
      .mode("overwrite").saveAsTable("customer_b")

    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // forbid broadcast so the co-location is what avoids the shuffle
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("orders_b")
        .join(spark.table("customer_b"),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      // the join itself needs no exchange; only the final small
      // aggregation repartitions
      val joinPart = plan.substring(plan.indexOf("SortMergeJoin"))
      assert(!joinPart.contains("Exchange"), joinPart)

      // and it computes the right thing
      val viaParquet = spark.read.parquet(s"$sf/orders.parquet")
        .join(spark.read.parquet(s"$sf/customer.parquet"),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val viaBuckets = joined.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(viaBuckets == viaParquet)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS customer_b")
    }
  }
}
