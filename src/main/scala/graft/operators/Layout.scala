package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftSession

/** Data-layout operators for 100 TB table maintenance: Z-order (Morton)
  * interleaving so multi-column range predicates prune well under a
  * single sort order.
  *
  * At scale, a table range-partitioned and sorted by `zValue(a, b)`
  * serves selective predicates on EITHER column from a small fraction
  * of files (each file covers a compact Z-curve segment ⇒ compact
  * ranges of both a and b), where sorting by (a, b) only prunes on a.
  * The z-value is pure integer bit arithmetic on built-in expressions —
  * codegen'd, map-side, engine-portable (oracle-checkable).
  */
object Layout {

  private val Masks = Seq(
    (16, 0x0000FFFF0000FFFFL),
    (8, 0x00FF00FF00FF00FFL),
    (4, 0x0F0F0F0F0F0F0F0FL),
    (2, 0x3333333333333333L),
    (1, 0x5555555555555555L)
  )

  /** Spread the low 32 bits of a non-negative long over the even bit
    * positions (classic part1by1 magic-mask cascade, 5 steps).
    */
  private[operators] def part1by1(c: Column): Column =
    Masks.foldLeft(c.bitwiseAND(lit(0xFFFFFFFFL))) { case (v, (s, m)) =>
      (v.bitwiseOR(shiftleft(v, s))).bitwiseAND(lit(m))
    }

  /** 64-bit Morton value interleaving the low 32 bits of two
    * non-negative integer columns: bit i of x lands at bit 2i, bit i of
    * y at bit 2i+1. Monotone along the Z-curve; the result is a plain
    * LongType (negative when bit 31 of y is set — still a total order
    * per unsigned comparison is NOT preserved then, so keep inputs
    * below 2^31 when the sign matters for range partitioning). To
    * cluster a table, `repartitionByRange` and `sortWithinPartitions`
    * by it: each partition then covers a compact z-range ⇒ compact
    * ranges of both source columns, which file-skipping statistics
    * (min/max) exploit on either predicate.
    */
  def zValue(x: Column, y: Column): Column =
    part1by1(x).bitwiseOR(shiftleft(part1by1(y), 1))

  /** Small-file compaction planning: assign each file of a partitioned
    * table to a rewrite group of ~`targetBytes`, preserving sort order
    * within the partition (sequential cumulative-sum binning — groups
    * stay contiguous, so compacted files keep their clustering).
    *
    * Runs on file-listing METADATA (path, bytes) — tiny data even for a
    * 100 TB table (~10^6 rows), but the plan it emits is what keeps the
    * table's file count bounded. Group id is
    * `floor(startOffset / targetBytes)` where startOffset is the
    * partition-local cumulative byte count before the file: groups are
    * contiguous and average ~targetBytes, though a group containing an
    * oversized file exceeds the target by that file's size (start-offset
    * binning never splits a file).
    */
  def compactionGroups(
      files: DataFrame,
      partitionCol: String,
      fileCol: String,
      bytesCol: String,
      targetBytes: Long
  ): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(partitionCol))
      .orderBy(col(fileCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    // explicit floor: Column `/` is double division, and a bare cast
    // would truncate in Spark but round in DuckDB
    files.select(
      col(partitionCol), col(fileCol), col(bytesCol),
      floor((sum(col(bytesCol)).over(w) - col(bytesCol)) / targetBytes)
        .as("group_id"))
  }

  /** Driver-side twin of [[compactionGroups]] for one partition's
    * listing (the input [[compactDir]] already holds as a local Seq):
    * same start-offset binning — `floor(cumBytesBefore / targetBytes)`
    * over name-sorted files — without spinning up a Spark job for
    * metadata that fits in a driver list. LayoutSpec pins the two
    * formulations against each other.
    */
  def planGroupsLocal(
      files: Seq[(String, Long)],
      targetBytes: Long
  ): Seq[(String, Long)] = {
    require(targetBytes > 0, "targetBytes must be positive")
    var cum = 0L
    files.sortBy(_._1).map { case (name, bytes) =>
      val g = cum / targetBytes
      cum += bytes
      (name, g)
    }
  }

  /** EXECUTE a compaction plan on one partition directory — the
    * maintenance job [[compactionGroups]] plans for: rewrite the
    * directory's data files into ONE file per plan group, in place.
    * Returns (filesBefore, filesAfter).
    *
    * Shape: the plan (file → group) is tiny driver metadata joined onto
    * the rows BY SOURCE FILE NAME (`input_file_name`, matched on the
    * basename — unique within a directory), so grouping respects the
    * plan's contiguous, sort-preserving bins; one `repartition` on the
    * group id moves each group's rows to a single task; the writer's
    * `partitionBy` then emits exactly one file per group, and the
    * promote step swaps the new files in for the old — the swap a real
    * table format wraps in a commit protocol (non-transactional here:
    * readers racing the swap can see a partial directory; run it like
    * any table maintenance, fenced from readers or behind a format
    * with atomic commit).
    *
    * Scale: data moves once through one shuffle bounded by the
    * partition's bytes; everything else is listing metadata. Compacting
    * many partitions = many independent `compactDir` calls (or the same
    * join generalized over `partitionCol` — deliberately not done here
    * to keep the blast radius one directory).
    */
  def compactDir(
      spark: SparkSession,
      partDir: String,
      targetBytes: Long
  ): (Int, Int) = {
    import org.apache.hadoop.fs.Path
    val dir = new Path(partDir)
    val fs = GraftSession.fileSystem(spark, dir)
    def dataFiles() = fs.listStatus(dir).toSeq
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith("."))
    val before = dataFiles()
    // Key the plan by the URI-ENCODED basename: `input_file_name()`
    // carries the URI form of the path (a space reads back as %20),
    // while `FileStatus.getName` is decoded — joining on the decoded
    // name silently excludes every row from a file whose name needs
    // escaping, and the promote step would then delete its original.
    // `getPath.toUri.toString` is the same encoded form, and both sides
    // take the segment after the last '/' (an encoded name cannot
    // contain a raw '/').
    val plan = planGroupsLocal(
      before.map(st => st.getPath.toUri.toString.split('/').last -> st.getLen),
      targetBytes)
    val planDf = spark.createDataFrame(plan).toDF("__file", "__group")

    val tmp = new Path(dir.getParent, s".compact_tmp_${dir.getName}")
    fs.delete(tmp, true)
    spark.read.parquet(partDir)
      .withColumn("__file", element_at(split(input_file_name(), "/"), -1))
      .join(broadcast(planDf), Seq("__file"), "left")
      .drop("__file")
      .repartition(col("__group"))
      .write.partitionBy("__group").mode("overwrite").parquet(tmp.toString)

    // Loss guard: the join is LEFT, so a plan miss cannot silently drop
    // rows — an unmatched row carries a null __group and lands in the
    // writer's default-value partition, whose mere presence aborts the
    // promote before any original is deleted (a listing check, no extra
    // scan or count job).
    val outDirs = fs.listStatus(tmp).toSeq.filter(_.isDirectory)
    require(
      !outDirs.exists(_.getPath.getName.contains("HIVE_DEFAULT_PARTITION")),
      s"compactDir: rows in $partDir matched no compaction-plan file " +
        "(file-name join miss) — aborting before deleting originals")

    // promote: move each group's single output file in, then drop the
    // originals and the tmp tree (metadata ops ∝ file count). The target
    // name embeds the tmp part-file's own name — unique per write job —
    // so re-compacting a directory that already holds promoted files
    // never collides (fs.rename returns false on an existing
    // destination); compactDir is idempotent.
    val compacted = outDirs
      .filter(_.getPath.getName.startsWith("__group="))
      .flatMap(d => fs.listStatus(d.getPath).toSeq.filter(st =>
        st.isFile && st.getPath.getName.endsWith(".parquet")))
    compacted.zipWithIndex.foreach { case (st, i) =>
      val target = new Path(dir, f"compacted-$i%05d-${st.getPath.getName}")
      val ok = fs.rename(st.getPath, target)
      require(ok, s"compactDir: failed to promote ${st.getPath} to $target")
    }
    before.foreach(st => fs.delete(st.getPath, false))
    fs.delete(tmp, true)
    (before.size, dataFiles().size)
  }

  /** What [[maintainTable]] did, per partition value: which partitions
    * were rewritten, which came out fully emptied by the purge (their
    * directories are removed, as [[graft.operators.Similarity
    * .purgeFromIndex]] removes an emptied cell), and which were left
    * byte-untouched.
    */
  final case class MaintenanceReport(
      affected: Seq[String],
      emptied: Seq[String],
      untouched: Seq[String],
      filesBefore: Int,
      filesAfter: Int)

  /** The partition-sweeping maintenance job — [[compactDir]] and
    * [[graft.operators.Similarity.purgeFromIndex]] generalized to the
    * WHOLE table in one pass: purge a delete list and compact
    * small-file partitions across every partition of a
    * `partitionBy(partitionCol)` parquet layout, rewriting ONLY the
    * partitions that need it.
    *
    * A partition is rewritten when it holds a deleted id (purge) or
    * more than `maxFiles` data files (compaction); every other
    * partition's files are left byte-identical. The sweep is one
    * bounded Spark job over the AFFECTED partitions only:
    *
    *  1. one column-pruned scan of `idCol`/`partitionCol` finds the
    *     purge-affected partitions (the listing finds compact-worthy
    *     ones — driver metadata); the collected result is at most one
    *     value per partition — metadata-scale by definition, like the
    *     listing itself, never row-scale;
    *  2. a partition-pruned read of the affected partitions anti-joins
    *     the broadcast delete list;
    *  3. survivors join the [[planGroupsLocal]] file→group plan (URI
    *     -encoded basename within partition, same discipline as
    *     [[compactDir]]) and move through ONE shuffle on the globally
    *     unique group id into a staging tree laid out
    *     `__gid=G/partitionCol=V` — exactly one file per group;
    *  4. promote is pure metadata: rename each group file into its
    *     final partition dir (names embed the write-job-unique part
    *     name — idempotent), delete the originals, and remove the
    *     directory of any partition the purge fully emptied.
    *
    * Data moves once (affected bytes through one shuffle + one write);
    * untouched partitions cost only listing metadata. At 100 TB the
    * nightly maintenance bill is ∝ churn, not table size. Same
    * non-transactional caveat as [[compactDir]]: fence from readers or
    * wrap in a table format's commit protocol. Partition values that
    * need Hive dir-name escaping are not supported (the row↔dir value
    * equality would need the escaping rules); ints, dates, and plain
    * tokens — the usual partition keys — are fine.
    */
  def maintainTable(
      spark: SparkSession,
      path: String,
      partitionCol: String,
      deletes: DataFrame,
      idCol: String,
      targetBytes: Long,
      maxFiles: Int = 1
  ): MaintenanceReport = {
    import org.apache.hadoop.fs.Path
    val root = new Path(path)
    val fs = GraftSession.fileSystem(spark, root)
    val prefix = s"$partitionCol="
    def partDirs() = fs.listStatus(root).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(prefix))
    def dataFiles(d: Path) = fs.listStatus(d).toSeq
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith("."))
    val before: Map[String, Seq[org.apache.hadoop.fs.FileStatus]] =
      partDirs().map(d => d.getPath.getName.stripPrefix(prefix) -> dataFiles(d.getPath)).toMap
    val filesBefore = before.valuesIterator.map(_.size).sum

    val compactWorthy = before.collect {
      case (v, files) if files.size > maxFiles => v
    }.toSet
    val purgeAffected = spark.read.parquet(path)
      .join(broadcast(deletes.select(col(idCol))), Seq(idCol), "left_semi")
      .select(col(partitionCol).cast("string"))
      .distinct().collect().map(_.getString(0)).toSet
    val affected = (compactWorthy ++ purgeAffected).toSeq.sorted

    if (affected.isEmpty)
      return MaintenanceReport(Nil, Nil, before.keys.toSeq.sorted, filesBefore, filesBefore)

    // file→group plan for the affected partitions, group ids unique
    // across the whole sweep so one repartition column drives the write
    var gid = -1L
    val plan: Seq[(String, String, Long)] = affected.flatMap { v =>
      val listed = before(v).map(st =>
        st.getPath.toUri.toString.split('/').last -> st.getLen)
      var lastGroup = -1L
      planGroupsLocal(listed, targetBytes).map { case (name, g) =>
        if (g != lastGroup) { gid += 1; lastGroup = g }
        (v, name, gid)
      }
    }
    val planDf = spark.createDataFrame(plan).toDF("__part", "__file", "__gid")

    // input_file_name() only binds to a single source — stamp the file
    // and partition keys straight off the scan, before any join
    val survivors = spark.read.parquet(path)
      .filter(col(partitionCol).cast("string").isin(affected: _*))
      .withColumn("__file", element_at(split(input_file_name(), "/"), -1))
      .withColumn("__part", col(partitionCol).cast("string"))
      .join(broadcast(deletes.select(col(idCol))), Seq(idCol), "left_anti")
      .join(broadcast(planDf), Seq("__part", "__file"), "left")
      .drop("__part", "__file")

    val tmp = new Path(root.getParent, s"maint_tmp_${root.getName}")
    fs.delete(tmp, true)
    survivors
      .repartition(col("__gid"))
      .write.partitionBy("__gid", partitionCol).mode("overwrite")
      .parquet(tmp.toString)

    // same loss guard as compactDir: a survivor row that matched no
    // plan file carries a null __gid and surfaces as the writer's
    // default-value partition — abort before touching the originals
    val gidDirs = fs.listStatus(tmp).toSeq.filter(_.isDirectory)
    require(
      !gidDirs.exists(_.getPath.getName.contains("HIVE_DEFAULT_PARTITION")),
      s"maintainTable: rows in $path matched no plan file — aborting")

    // promote: one rename per group file, then drop the affected
    // partitions' original files; a partition with no surviving group
    // was fully emptied by the purge — remove its directory outright
    val producedParts = scala.collection.mutable.Set[String]()
    gidDirs.filter(_.getPath.getName.startsWith("__gid=")).foreach { g =>
      fs.listStatus(g.getPath).toSeq
        .filter(st => st.isDirectory && st.getPath.getName.startsWith(prefix))
        .foreach { pd =>
          val v = pd.getPath.getName.stripPrefix(prefix)
          producedParts += v
          val gidName = g.getPath.getName.stripPrefix("__gid=")
          fs.listStatus(pd.getPath).toSeq
            .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
            .foreach { st =>
              val target = new Path(new Path(root, s"$prefix$v"),
                s"maint-$gidName-${st.getPath.getName}")
              require(fs.rename(st.getPath, target),
                s"maintainTable: failed to promote ${st.getPath} to $target")
            }
        }
    }
    affected.foreach(v => before(v).foreach(st => fs.delete(st.getPath, false)))
    val emptied = affected.filterNot(producedParts)
    emptied.foreach(v => fs.delete(new Path(root, s"$prefix$v"), true))
    fs.delete(tmp, true)

    val filesAfter = partDirs().map(d => dataFiles(d.getPath).size).sum
    MaintenanceReport(
      affected = affected,
      emptied = emptied,
      untouched = before.keys.toSeq.filterNot(affected.contains).sorted,
      filesBefore = filesBefore,
      filesAfter = filesAfter)
  }
}
