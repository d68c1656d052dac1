package graft

import java.io.{ByteArrayOutputStream, File}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicLong
import java.util.zip.GZIPOutputStream

import org.apache.hadoop.fs.{FileStatus, LocalFileSystem, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, input_file_name}

import graft.sources.AuditSource

/** S1/S2: recursive file source + date-directory pruning semantics
  * (`DateFileFilter.java:14-38`): date dirs older than min_date are
  * skipped, non-date paths always pass.
  */
class AuditSourceSpec extends SparkSpec {
  import AuditSourceSpec._

  test("recursive batch source reads nested date directories") {
    val root = Files.createTempDirectory("audits").toFile
    for ((d, line) <- Seq("20210101" -> "a", "20210301" -> "b", "notadate" -> "c")) {
      val dir = new java.io.File(root, d)
      dir.mkdirs()
      Files.writeString(new java.io.File(dir, "audit.log").toPath, line + "\n")
    }
    val all = AuditSource.batch(spark, root.getAbsolutePath)
    assert(all.count() == 3)

    val pruned = AuditSource.filterByPathDate(all, "20210201")
    val kept = pruned.collect().map(_.getString(0)).sorted.toSeq
    // 20210101 pruned; 20210301 kept; non-date dir passes (reference
    // behavior: unparseable path segments are not filtered)
    assert(kept == Seq("b", "c"))
  }

  test("DatePrunedFileIndex skips below-min-date dirs at listing time") {
    val root = Files.createTempDirectory("audits_fi").toFile
    for ((d, line) <- Seq(
        "20210101" -> "old1", "20210115" -> "old2",
        "20210301" -> "new1", "notadate" -> "misc",
        "99999999" -> "baddate")) {
      val dir = new java.io.File(root, d)
      dir.mkdirs()
      Files.writeString(new java.io.File(dir, "audit.log").toPath, line + "\n")
    }
    val (df, index) = AuditSource.batchPrunedWithIndex(
      spark, root.getAbsolutePath, Some("20210201"))

    // correctness: pruned rows gone, non-date and unparseable dirs pass
    // (99999999 fails BASIC_ISO_DATE parse -> passes, DateFileFilter parity)
    assert(df.collect().map(_.getString(0)).sorted.toSeq ==
      Seq("baddate", "misc", "new1"))

    // the load-bearing claim: the walk never ENTERED the old dirs —
    // enumeration-time pruning, not row filtering after a full listing
    val visited = index.visitedDirs.map(p => new org.apache.hadoop.fs.Path(p).getName)
    assert(!visited.contains("20210101") && !visited.contains("20210115"))
    assert(visited.contains("20210301") && visited.contains("notadate"))

    // and the scan reads only surviving files
    assert(index.inputFiles.length == 3)

    // downstream relational ops compose on top of the custom index
    assert(df.filter(org.apache.spark.sql.functions.col("value").startsWith("new"))
      .count() == 1)
  }

  test("DatePrunedFileIndex without minDate lists everything; refresh sees new files") {
    val root = Files.createTempDirectory("audits_fi2").toFile
    val d1 = new java.io.File(root, "20210101"); d1.mkdirs()
    Files.writeString(new java.io.File(d1, "a.log").toPath, "a\n")
    val (df, index) = AuditSource.batchPrunedWithIndex(
      spark, root.getAbsolutePath, None)
    assert(df.count() == 1)

    // the reference re-lists every poll interval; refresh() is that hook
    val d2 = new java.io.File(root, "20210102"); d2.mkdirs()
    Files.writeString(new java.io.File(d2, "b.log").toPath, "b\n")
    index.refresh()
    assert(index.inputFiles.length == 2)
  }

  test("DatePrunedFileIndex terminates on a symlink cycle") {
    val root = Files.createTempDirectory("audits_loop").toFile
    val day = new java.io.File(root, "20210301"); day.mkdirs()
    Files.writeString(new java.io.File(day, "audit.log").toPath, "x\n")
    // day/loop -> root: an unguarded recursive walk never terminates
    Files.createSymbolicLink(
      new java.io.File(day, "loop").toPath, root.toPath)
    val (df, index) = AuditSource.batchPrunedWithIndex(
      spark, root.getAbsolutePath, Some("20210101"))
    assert(df.collect().map(_.getString(0)).toSeq == Seq("x"))
    assert(index.inputFiles.length == 1)
  }

  test("DatePrunedFileIndex lists through the session's Hadoop settings, read when it walks") {
    val root = Files.createTempDirectory("audits_conf").toFile
    for (d <- Seq("20210101", "20210301", "20210302")) {
      val dir = new File(root, d)
      dir.mkdirs()
      Files.writeString(new File(dir, "audit.log").toPath, d + "\n")
    }
    // built before the setting: the walk, not the constructor, reads it
    val (df, index) = AuditSource.batchPrunedWithIndex(spark, root.getAbsolutePath, Some("20210201"))
    withRestoredConf(Seq("fs.file.impl", "fs.file.impl.disable.cache")) {
      spark.conf.set("fs.file.impl", classOf[CountingFs].getName)
      spark.conf.set("fs.file.impl.disable.cache", "true")
      CountingFs.entries.set(0)
      assert(index.inputFiles.length == 2)
      // the root's three day dirs, then one file in each kept day
      assert(CountingFs.entries.get == 5)
      assert(df.collect().map(_.getString(0)).sorted.toSeq == Seq("20210301", "20210302"))
    }
  }

  /** A tree of files whose bytes stress a line reader: LF, CRLF, CR and
    * mixed line endings, multi-byte characters, a UTF-8 BOM (and a file
    * of only a BOM), an empty file, a file of blank lines, 170 KB lines
    * and a gzip file.
    */
  private def lineCorpus(): File = {
    val root = Files.createTempDirectory("audit_lines").toFile
    def write(rel: String, bytes: Array[Byte]): Unit = {
      val f = new File(root, rel)
      f.getParentFile.mkdirs()
      Files.write(f.toPath, bytes)
    }
    def lines(tag: String, n: Int, end: String): Array[Byte] =
      (1 to n).map(i => s"$tag é line $i " + "z" * (i % 23)).mkString("", end, end).getBytes(UTF_8)
    val bom = Array(0xEF, 0xBB, 0xBF).map(_.toByte)
    write("20210101/lf.log", lines("lf", 60, "\n"))
    write("20210101/crlf.log", lines("crlf", 60, "\r\n"))
    write("20210101/cr.log", lines("cr", 60, "\r"))
    write("20210102/mixed.log", "a\nb\r\nc\rd\r\n\re\n\n\rf ü".getBytes(UTF_8))
    write("20210102/bom.log", bom ++ lines("bom", 20, "\r\n"))
    write("20210102/bom_only.log", bom)
    write("20210103/empty.log", Array.emptyByteArray)
    write("20210103/blank.log", "\n\n\r\n\r\r\n \n".getBytes(UTF_8))
    write("20210103/long.log", ("x" * 170000 + "\r\nshort\n" + "y" * 170000).getBytes(UTF_8))
    val gz = new ByteArrayOutputStream()
    val out = new GZIPOutputStream(gz)
    out.write(bom ++ lines("gz", 30, "\n"))
    out.close()
    write("20210104/packed.log.gz", gz.toByteArray)
    root
  }

  test("audit reads return Spark's text rows at every split size; the stream returns the batch's") {
    val root = lineCorpus()
    def pairs(df: DataFrame): Seq[(String, String)] =
      df.collect().map(r => (r.getString(0), r.getString(1))).toSeq.sorted
    def rows(df: DataFrame): Seq[(String, String)] = pairs(df.select(input_file_name(), col("value")))
    def text(): DataFrame =
      spark.read.format("text").option("recursiveFileLookup", "true").load(root.getAbsolutePath)
    val maxBytes = "spark.sql.files.maxPartitionBytes"
    val maxLine = "mapreduce.input.linerecordreader.line.maxlength"
    // (split size, line length limit); no open cost, so tiny splits stay tiny
    val settings = Seq(Some("64") -> None, Some("1000") -> None, None -> None, Some("1000") -> Some("100"))
    for ((split, limit) <- settings)
      withRestoredConf(Seq(maxBytes, maxLine, "spark.sql.files.openCostInBytes")) {
        spark.conf.set("spark.sql.files.openCostInBytes", "0")
        split.foreach(spark.conf.set(maxBytes, _))
        limit.foreach(spark.conf.set(maxLine, _))
        val expected = rows(text())
        assert(expected.nonEmpty)
        if (split.contains("64")) assert(text().rdd.getNumPartitions > 1000)
        for ((read, df) <- Seq(
            "batch" -> AuditSource.batch(spark, root.getAbsolutePath),
            "pruned" -> AuditSource.batchPruned(spark, root.getAbsolutePath, Some("20210101")))) {
          // counted first: a reader that splits lines wrongly can return
          // thousands of copies of the 170 KB lines
          assert(df.count() == expected.length, s"$read at split $split, limit $limit")
          assert(rows(df) == expected, s"$read at split $split, limit $limit")
        }
      }

    val query = AuditSource.stream(spark, root.getAbsolutePath)
      .select(input_file_name().as("file"), col("value"))
      .writeStream.format("memory").queryName("audit_lines_stream").start()
    try {
      query.processAllAvailable()
      assert(pairs(spark.table("audit_lines_stream")) == rows(AuditSource.batch(spark, root.getAbsolutePath)))
    } finally query.stop()
  }

  test("minDateGlob keeps exactly the names the min-date rule keeps") {
    val glob = AuditSource.minDateGlob("20240315")
    val p = new org.apache.hadoop.fs.GlobPattern(glob)
    val kept = Seq("20240315", "20240316", "20240399", "20241231", "20250101",
      "21000101", "99999999", // 8-digit above min (even unparseable) pass
      "notadate", "abc", "2024031", "202403157", "dt=20240101", "a20240101",
      // below min but NOT parseable as dates -> DateFileFilter keeps them,
      // and so do the nonParse branches (month 00/13-99, day 00/32-99)
      "00000000", "00001332", "20231490", "20230100", "20230132",
      // below min and invalid only BY MONTH LENGTH: the reference keeps
      // them, and so does the glob's superset (Feb 29-31, 31st of a
      // 30-day month) — with the real date 20200229, which the row
      // filter then drops
      "20230230", "20230231", "20200431", "20230631", "20230931", "20231131",
      "20190229", "20200229")
    val pruned = Seq("20240314", "20240101", "19991231", "20230228", "20230131",
      "20230430", "20231031")
    kept.foreach(n => assert(p.matches(n), s"expected glob to keep $n"))
    pruned.foreach(n => assert(!p.matches(n), s"expected glob to prune $n"))
  }

  test("streamPruned never lists below-min-date dirs; new day dirs arrive mid-stream") {
    val root = Files.createTempDirectory("audits_stream").toFile
    def writeDay(day: String, lines: Seq[String]): Unit = {
      val dir = new java.io.File(root, day); dir.mkdirs()
      Files.writeString(new java.io.File(dir, s"audit_${day}.log").toPath,
        lines.mkString("", "\n", "\n"))
    }
    writeDay("20210101", Seq("old1", "old2")) // below min: must never be LISTED
    writeDay("20210301", Seq("new1"))
    writeDay("notadate", Seq("misc"))

    // no row filter anywhere in this query: rows from 20210101 can only
    // be absent if the source's listing itself pruned the directory
    val lines = AuditSource.streamPruned(spark, root.getAbsolutePath, "20210201")
    val query = lines.writeStream
      .format("memory").queryName("stream_pruned_e2e")
      .outputMode("append").start()
    try {
      query.processAllAvailable()
      val batch1 = spark.table("stream_pruned_e2e").collect().map(_.getString(0)).sorted.toSeq
      assert(batch1 == Seq("misc", "new1"))

      // dynamism: a day dir created AFTER stream start still matches the
      // range glob (an enumerate-at-start glob would miss it)
      writeDay("20210401", Seq("later1"))
      query.processAllAvailable()
      val batch2 = spark.table("stream_pruned_e2e").collect().map(_.getString(0)).sorted.toSeq
      assert(batch2 == Seq("later1", "misc", "new1"))
    } finally query.stop()
  }

  test("stream fallback filter keeps exactly batchPruned's rows, non-date 8-digit dirs included") {
    val root = Files.createTempDirectory("audits_parity").toFile
    for ((d, line) <- Seq("20210101" -> "old", "20210301" -> "new",
        "00001332" -> "month13", "20201490" -> "month14", "notadate" -> "misc",
        // invalid only by month length (kept by the reference) around a
        // real leap day below min (dropped)
        "20210230" -> "feb30", "20200431" -> "apr31", "20190229" -> "feb29",
        "20200229" -> "leapday")) {
      val dir = new java.io.File(root, d)
      dir.mkdirs()
      Files.writeString(new java.io.File(dir, "audit.log").toPath, line + "\n")
    }
    val min = "20210201"
    val batch = AuditSource.batchPruned(spark, root.getAbsolutePath, Some(min))
      .collect().map(_.getString(0)).sorted.toSeq
    // 00001332, 20201490, 20200431 and 20190229 are below min but do not
    // parse as dates, so the reference (and the batch walk) keeps them;
    // 20210230 is above min either way
    assert(batch == Seq("apr31", "feb29", "feb30", "misc", "month13", "month14", "new"))

    // the pipeline's stream composition: listing-time glob + row filter
    val lines = AuditSource.filterByPathDate(
      AuditSource.streamPruned(spark, root.getAbsolutePath, min), min)
    val query = lines.writeStream
      .format("memory").queryName("stream_fallback_parity")
      .outputMode("append").start()
    try {
      query.processAllAvailable()
      val streamed = spark.table("stream_fallback_parity")
        .collect().map(_.getString(0)).sorted.toSeq
      assert(streamed == batch)
    } finally query.stop()
  }

  test("a min date that is not a strict BASIC_ISO_DATE fails fast on every path") {
    val root = Files.createTempDirectory("audits_baddate").toFile
    for (d <- Seq("20210301", "20210801")) {
      val dir = new java.io.File(root, d)
      dir.mkdirs()
      Files.writeString(new java.io.File(dir, "audit.log").toPath, d + "\n")
    }
    val path = root.getAbsolutePath
    // dashed ISO (a string compare kept 20210301 for it, as '0' > '-'),
    // month 13, Feb 30, and an offset suffix BASIC_ISO_DATE would accept
    for (bad <- Seq("2021-06-15", "20211340", "20210230", "20210615+0100")) {
      intercept[IllegalArgumentException](AuditSource.batchPruned(spark, path, Some(bad)))
      intercept[IllegalArgumentException](AuditSource.minDateGlob(bad))
      intercept[IllegalArgumentException](
        AuditSource.filterByPathDate(AuditSource.batch(spark, path), bad))
    }
    // a real date still prunes as before
    assert(AuditSource.batchPruned(spark, path, Some("20210615"))
      .collect().map(_.getString(0)).toSeq == Seq("20210801"))
  }
}

object AuditSourceSpec {

  /** The local file system, counting the entries `listStatus` returns. */
  class CountingFs extends LocalFileSystem {
    override def listStatus(f: Path): Array[FileStatus] = {
      val out = super.listStatus(f)
      CountingFs.entries.addAndGet(out.length.toLong)
      out
    }
  }

  object CountingFs {
    val entries = new AtomicLong
  }
}
