package graft

import org.apache.spark.sql.functions._

import graft.operators.Layout

/** Z-order correctness (against a reference bit-interleave) and the
  * locality property that justifies the layout: a z-sorted partition
  * covers compact ranges of BOTH source columns.
  */
class LayoutSpec extends SparkSpec {

  import spark.implicits._

  private def refInterleave(x: Long, y: Long): Long = {
    var out = 0L
    var i = 0
    while (i < 32) {
      out |= ((x >>> i) & 1L) << (2 * i)
      out |= ((y >>> i) & 1L) << (2 * i + 1)
      i += 1
    }
    out
  }

  test("zValue matches the reference bit-interleave, incl. 32-bit extremes") {
    val cases = Seq(
      (0L, 0L), (1L, 0L), (0L, 1L), (5L, 3L), (123456L, 654321L),
      (0xFFFFFFFFL, 0L), (0L, 0xFFFFFFFFL), (0xFFFFFFFFL, 0xFFFFFFFFL),
      (0x80000000L, 0x7FFFFFFFL))
    val got = cases.toDF("x", "y")
      .select(col("x"), col("y"), Layout.zValue(col("x"), col("y")).as("z"))
      .collect()
    got.foreach { r =>
      val (x, y, z) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(z == refInterleave(x, y), s"x=$x y=$y")
    }
  }

  test("property: zValue is monotone along each axis with the other fixed") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val coords = Gen.listOfN(60, Gen.choose(0L, 0xFFFFFFFFL))
      .apply(Gen.Parameters.default, Seed(42L)).get.sorted.distinct
    val df = coords.map(c => (c, 7L, c)).toDF("x", "fixed", "orig")
    val zx = df.select(Layout.zValue(col("x"), col("fixed")).as("z"), col("orig"))
      .collect().sortBy(_.getLong(1)).map(_.getLong(0))
    // unsigned comparison (bit 63 can be set when y's bit 31 is — here y=7, so plain)
    assert(zx.toSeq == zx.sorted.toSeq, "z not monotone in x")
    val zy = df.select(Layout.zValue(col("fixed"), col("x")).as("z"), col("orig"))
      .collect().sortBy(_.getLong(1)).map(r => r.getLong(0) ^ Long.MinValue) // unsigned order
    assert(zy.toSeq == zy.sorted.toSeq, "z not monotone in y (unsigned)")
  }

  test("zValue ignores bits above 32 (documented domain)") {
    val got = Seq((0x100000001L, 2L)).toDF("x", "y")
      .select(Layout.zValue(col("x"), col("y"))).as[Long].head()
    assert(got == refInterleave(1L, 2L))
  }

  test("compactionGroups bins contiguous files to ~target bytes per partition") {
    val files = Seq(
      ("a", 1L, 40L), ("a", 2L, 40L), ("a", 3L, 40L), // 40+40 < 100, third crosses
      ("a", 4L, 250L), // oversized file: own group
      ("a", 5L, 10L),
      ("b", 1L, 10L)
    ).toDF("dir", "f", "bytes")
    val out = graft.operators.Layout
      .compactionGroups(files, "dir", "f", "bytes", targetBytes = 100L)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(3)).toMap
    assert(out(("a", 1L)) == 0L && out(("a", 2L)) == 0L) // start offsets 0, 40
    assert(out(("a", 3L)) == 0L) // starts at 80 — still bin 0
    assert(out(("a", 4L)) == 1L) // starts at 120
    assert(out(("a", 5L)) == 3L) // starts at 370 — after the oversized file
    assert(out(("b", 1L)) == 0L) // partitions bin independently
  }

  test("planGroupsLocal matches the compactionGroups binning") {
    val files = Seq(("f3", 40L), ("f1", 70L), ("f2", 50L), ("f4", 10L))
    val local = Layout.planGroupsLocal(files, targetBytes = 100L).toMap
    val viaSpark = Layout.compactionGroups(
      files.map { case (f, b) => ("p", f, b) }.toDF("part", "file", "bytes"),
      "part", "file", "bytes", targetBytes = 100L)
      .select("file", "group_id").as[(String, Long)].collect().toMap
    assert(local == viaSpark)
    // start-offset binning: f1 starts at 0 -> g0, f2 at 70 -> g0,
    // f3 at 120 -> g1, f4 at 160 -> g1
    assert(local == Map("f1" -> 0L, "f2" -> 0L, "f3" -> 1L, "f4" -> 1L))
  }

  test("compactDir rewrites a partition to one file per group, preserving rows") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"lang", $"text")
    val root = graft.queries.Q.scratch("compact_spec")
    docs.repartition(8).write.partitionBy("lang").mode("overwrite").parquet(root)

    val enDir = s"$root/lang=en"
    val fs = new org.apache.hadoop.fs.Path(enDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def listData() = fs.listStatus(new org.apache.hadoop.fs.Path(enDir)).toSeq
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith("."))
    val origFiles = listData()
    assert(origFiles.size >= 4, s"fixture should write several small files, got ${origFiles.size}")
    val total = origFiles.map(_.getLen).sum
    val before = spark.read.parquet(root).orderBy("doc_id")
      .as[(Long, String, String)].collect().toSeq

    val (nBefore, nAfter) = Layout.compactDir(spark, enDir, targetBytes = total / 3 + 1)
    assert(nBefore == origFiles.size)
    assert(nAfter < nBefore && nAfter >= 1, s"nAfter=$nAfter")
    assert(listData().size == nAfter)

    // rows byte-identical through the rewrite, partition pruning intact
    val back = spark.read.parquet(root)
    val after = back.orderBy("doc_id").as[(Long, String, String)].collect().toSeq
    assert(after == before)
    val plan = back.filter($"lang" === "en").queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l =>
      l.contains("PartitionFilters") && l.contains("lang")), plan)
  }

  test("compactDir survives URI-escaped file names and is idempotent") {
    import org.apache.hadoop.fs.Path
    val root = graft.queries.Q.scratch("compact_uri")
    val dir = s"$root/part"
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text").filter($"doc_id" < 200)
    docs.repartition(4).write.mode("overwrite").parquet(dir)

    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def listData() = fs.listStatus(new Path(dir)).toSeq
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith("."))
    // rename one data file to a name that needs URI escaping: joining
    // rows to the plan on the DECODED basename would miss every row of
    // this file (input_file_name carries %20), delete the original, and
    // silently lose its rows — the ADVICE hazard this pins
    val victim = listData().head.getPath
    assert(fs.rename(victim, new Path(dir, "with space " + victim.getName)))

    val before = spark.read.parquet(dir).orderBy("doc_id")
      .as[(Long, String)].collect().toSeq
    val (n1, m1) = Layout.compactDir(spark, dir, targetBytes = 1L << 26)
    assert(n1 >= 4 && m1 == 1, s"($n1, $m1)")
    val afterOnce = spark.read.parquet(dir).orderBy("doc_id")
      .as[(Long, String)].collect().toSeq
    assert(afterOnce == before, "rows must survive an escaped-name rewrite")

    // re-compacting an already-compacted directory must not collide on
    // promote names (rename to an existing destination returns false)
    val (n2, m2) = Layout.compactDir(spark, dir, targetBytes = 1L << 26)
    assert(n2 == 1 && m2 == 1, s"($n2, $m2)")
    val afterTwice = spark.read.parquet(dir).orderBy("doc_id")
      .as[(Long, String)].collect().toSeq
    assert(afterTwice == before)
  }

  test("maintainTable sweeps purge+compaction across partitions in one job") {
    import org.apache.hadoop.fs.Path
    val root = graft.queries.Q.scratch("maint_spec")
    val path = s"$root/docs"
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"lang", $"text")

    // de/fr/zh: one file each; en/es: three appended small files — the
    // nightly-append accumulation maintenance exists to clean up
    docs.filter(!$"lang".isin("en", "es")).repartition(1)
      .write.partitionBy("lang").mode("overwrite").parquet(path)
    (0 until 3).foreach { k =>
      docs.filter($"lang".isin("en", "es") && $"doc_id" % 3 === k)
        .repartition(1).write.partitionBy("lang").mode("append").parquet(path)
    }

    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def snapshot(lang: String) = fs.listStatus(new Path(s"$path/lang=$lang")).toSeq
      .filter(_.isFile).map(st => (st.getPath.getName, st.getLen, st.getModificationTime))
      .sortBy(_._1)
    val zhBefore = snapshot("zh")

    // purge: every de doc (empties the partition), some fr docs, and
    // some en docs — en is BOTH purge-affected and compact-worthy, the
    // overlap case (one rewrite must do both jobs at once)
    val deletes = docs
      .filter($"lang" === "de" ||
        ($"lang".isin("fr", "en") && $"doc_id" % 10 === 3))
      .select("doc_id")
    val expected = docs.join(deletes, Seq("doc_id"), "left_anti")
      .select("doc_id", "lang").orderBy("doc_id")
      .as[(Long, String)].collect().toSeq

    val report = Layout.maintainTable(
      spark, path, "lang", deletes, "doc_id", targetBytes = 1L << 26, maxFiles = 2)
    assert(report.affected == Seq("de", "en", "es", "fr"), report.toString)
    assert(report.emptied == Seq("de"), report.toString)
    assert(report.untouched == Seq("zh"), report.toString)
    assert(report.filesAfter < report.filesBefore, report.toString)

    // untouched partition byte-identical; emptied partition's dir gone;
    // compacted partitions down to one file each
    assert(snapshot("zh") == zhBefore)
    assert(!fs.exists(new Path(s"$path/lang=de")))
    assert(snapshot("en").size == 1 && snapshot("es").size == 1)

    // table content == purge semantics, and re-running is a no-op
    val back = spark.read.parquet(path).select("doc_id", "lang")
      .orderBy("doc_id").as[(Long, String)].collect().toSeq
    assert(back == expected)
    val again = Layout.maintainTable(
      spark, path, "lang", deletes.filter(lit(false)), "doc_id",
      targetBytes = 1L << 26, maxFiles = 2)
    assert(again.affected.isEmpty && again.filesBefore == again.filesAfter)
  }

  test("compactDir on a persisted IVF cell: probe results and pruning survive") {
    import graft.operators.Similarity
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cents = emb.orderBy($"vec_id").limit(8)
    val path = graft.queries.Q.scratch("ivf_compact")

    // build, then append three small deltas into the same tree — the
    // nightly-append lifecycle that accumulates small files per cell
    Similarity.assignToCentroids(emb.filter($"vec_id" < 200), cents, "vec_id", "embedding")
      .write.mode("overwrite").partitionBy("centroid_id").parquet(path)
    Seq((200L, 300L), (300L, 400L), (400L, 500L)).foreach { case (lo, hi) =>
      Similarity.appendToIndex(
        emb.filter($"vec_id" >= lo && $"vec_id" < hi), cents, "vec_id", "embedding", path)
    }

    val queries = emb.filter($"vec_id" < 8)
    def probe() = Similarity.ivfTopKIndexed(
      spark.read.parquet(path), queries, cents, "vec_id", "embedding", k = 5, nProbe = 2)
    val before = probe().orderBy("query_id", "rank")
      .as[(Long, Long, Int)].collect().toSeq

    // compact the busiest cell (cell of the first centroid exists by
    // construction: centroid 0 is its own nearest centroid)
    val cellDir = s"$path/centroid_id=0"
    val fs = new org.apache.hadoop.fs.Path(cellDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def nFiles = fs.listStatus(new org.apache.hadoop.fs.Path(cellDir))
      .count(st => st.isFile && !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith("."))
    val filesBefore = nFiles
    assert(filesBefore >= 3, s"appends should leave several files, got $filesBefore")
    val (nB, nA) = graft.operators.Layout.compactDir(spark, cellDir, targetBytes = 1L << 26)
    assert(nB == filesBefore && nA == 1, s"($nB, $nA)")

    // probe results identical through the rewrite, and the probe still
    // prunes to its cells via dynamic partition pruning
    val after = probe().orderBy("query_id", "rank")
      .as[(Long, Long, Int)].collect().toSeq
    assert(after == before)
    val plan = probe().queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"), plan.take(4000))
  }

  test("zValue range partitions cover compact ranges of both columns") {
    val n = 1 << 12
    // a 64x64 grid, shuffled input order
    val grid = (0 until n).map(i => ((i * 2654435761L) % 64, (i * 40503L) % 64))
      .toDF("x", "y")
    val parts = grid.repartitionByRange(16, Layout.zValue(col("x"), col("y")))
      .select(spark_partition_id().as("p"), col("x"), col("y"))
      .groupBy("p")
      .agg(count(lit(1)).as("cnt"),
        (max("x") - min("x")).as("xspan"), (max("y") - min("y")).as("yspan"))
      .collect()
    assert(parts.length > 4)
    // each roughly-equal partition of a 64x64 z-curve covers a bounded
    // sub-square, far below the full 63-wide span on both axes at once
    parts.foreach { r =>
      val (xspan, yspan) = (r.getAs[Long]("xspan"), r.getAs[Long]("yspan"))
      assert(xspan.min(yspan) <= 32, s"partition spans x=$xspan y=$yspan — no 2-D locality")
    }
  }
}
