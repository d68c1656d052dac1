package graft.sources

import java.time.LocalDate
import java.time.format.{DateTimeFormatter, DateTimeParseException}

import scala.collection.mutable

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.types.StructType

import graft.GraftSession

/** Enumeration-time date pruning for bare `YYYYMMDD/` directory trees —
  * the exact effect of the reference's `DateFileFilter`
  * (`DateFileFilter.java:19-38`): a directory whose name parses as
  * `BASIC_ISO_DATE` and sorts before `minDate` is skipped DURING
  * listing, so the walk never descends into it; names that don't parse
  * as dates always pass (`DateFileFilter.java:29-33`).
  *
  * Why a custom [[FileIndex]] and not a row filter: at 100 TB the
  * listing itself is the cost — a years-deep audit tree has millions of
  * files, and `input_file_name()`-based pruning
  * ([[AuditSource.filterByPathDate]]) enumerates (and splits, and
  * schedules) all of them before dropping rows. This index hands Spark's
  * `FileSourceScanExec` only the surviving files, so splits, tasks, and
  * scheduler state all scale with the days you keep, not the days you
  * have. A Hive-partitioned `dt=` layout gets the same effect from
  * Catalyst partition pruning (the `q_date_prune_partitioned` gate);
  * this class is for the reference's bare `YYYYMMDD/` trees.
  *
  * Listing cost note: directories are walked serially on the driver —
  * right for the reference's tree shape (one dir per day, thousands of
  * dirs at most, after pruning). A tree with a huge SURVIVING dir count
  * would want Spark's parallel lister underneath; the pruning decision
  * per directory name is the same either way.
  */
class DatePrunedFileIndex(
    spark: SparkSession,
    root: Path,
    minDate: Option[String]
) extends FileIndex {

  /** Directories the walk actually entered (absolute paths) — exposed so
    * tests can assert pruned dirs were never visited, not merely that
    * their rows were filtered later.
    */
  @volatile private[graft] var visitedDirs: Seq[String] = Nil

  /** Listed lazily on first use (not in the constructor), so building the
    * relation is cheap; `refresh()` invalidates. The walk tracks visited
    * canonical paths, so a symlink cycle in the tree terminates instead of
    * hanging the driver. The slow path synchronizes (double-checked on
    * the volatile) so concurrent planning over one relation lists once
    * instead of duplicating the walk.
    */
  @volatile private var cachedLeafFiles: Seq[FileStatus] = null
  private val listLock = new Object
  private def leafFiles: Seq[FileStatus] = {
    val cached = cachedLeafFiles
    if (cached != null) cached
    else listLock.synchronized {
      if (cachedLeafFiles == null) cachedLeafFiles = listPruned()
      cachedLeafFiles
    }
  }

  /** Mirrors `DateFileFilter.accept`: skip only when the name is a
    * well-formed BASIC_ISO_DATE older than minDate. Lexicographic
    * compare == chronological for this format.
    */
  private def keepDir(name: String): Boolean =
    minDate.forall { min =>
      if (!name.matches("[0-9]{8}")) true
      else
        try {
          LocalDate.parse(name, DateTimeFormatter.BASIC_ISO_DATE)
          name >= min
        } catch { case _: DateTimeParseException => true }
    }

  /** Canonical identity of a directory for cycle detection: symlinks on a
    * local filesystem resolve to their target, so a link loop revisits a
    * path we have already walked and is skipped. Non-local schemes fall
    * back to the qualified path string (object stores have no symlinks).
    */
  private def canonical(fs: org.apache.hadoop.fs.FileSystem, dir: Path): String =
    if (dir.toUri.getScheme == null || dir.toUri.getScheme == "file")
      try new java.io.File(dir.toUri.getPath).getCanonicalPath
      catch { case _: java.io.IOException => fs.makeQualified(dir).toString }
    else fs.makeQualified(dir).toString

  /** Lists through the session's Hadoop conf
    * ([[GraftSession.fileSystem]]) as the walk runs — as
    * Spark's own index and the scan of the walk's files do — so settings
    * made with `spark.conf.set` (a per-session `fs.s3a.*` credential, a
    * file system implementation) reach the listing too.
    */
  private def listPruned(): Seq[FileStatus] = {
    val fs = GraftSession.fileSystem(spark, root)
    val visited = mutable.ArrayBuffer.empty[String]
    val seen = mutable.HashSet.empty[String]
    val out = mutable.ArrayBuffer.empty[FileStatus]
    def walk(dir: Path): Unit = {
      if (!seen.add(canonical(fs, dir))) return // symlink cycle / dup entry
      visited += dir.toString
      fs.listStatus(dir).foreach { st =>
        val name = st.getPath.getName
        // same hidden-file convention as Spark's own listers
        if (!name.startsWith("_") && !name.startsWith(".")) {
          if (st.isDirectory) { if (keepDir(name)) walk(st.getPath) }
          else out += st
        }
      }
    }
    walk(root)
    visitedDirs = visited.toSeq
    out.toSeq
  }

  override def rootPaths: Seq[Path] = Seq(root)

  /** All surviving files as one unpartitioned directory; partition and
    * data filters are handled downstream (there is no partition schema
    * to prune on — the date pruning already happened at walk time).
    */
  override def listFiles(
      partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]
  ): Seq[PartitionDirectory] =
    Seq(PartitionDirectory(InternalRow.empty, leafFiles.toArray))

  override def inputFiles: Array[String] =
    leafFiles.map(_.getPath.toString).toArray

  override def refresh(): Unit = { cachedLeafFiles = null }

  override def sizeInBytes: Long = leafFiles.map(_.getLen).sum

  override def partitionSchema: StructType = StructType(Nil)
}
