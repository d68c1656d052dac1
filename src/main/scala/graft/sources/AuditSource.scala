package graft.sources

import java.time.LocalDate
import java.time.format.DateTimeFormatter

import scala.util.Try

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** S1 + S2 of the reference: the continuously-monitored audit-log
  * directory source with optional min-date pruning.
  *
  * Reference behavior (`App.java:36-47`, `DateFileFilter.java:14-38`):
  * recursively tail a directory tree of newline-delimited JSON files,
  * re-listing every `audit.poll` seconds; optionally skip directories
  * named `YYYYMMDD` older than `audit.min_date`; hidden/`_`-prefixed
  * files are always skipped (Spark file sources do this by default too).
  *
  * Spark-first mapping: a file stream with `recursiveFileLookup`; the
  * poll interval becomes the query trigger (`Trigger.ProcessingTime`),
  * configured at sink time. Every read here, batch or stream, pruned or
  * not, goes through one line reader, [[AuditLines]]: Spark's `text`
  * rows, with Hadoop's reader set up once per task instead of once per
  * file (most of a scan over many small rolled files). Date pruning for
  * a bare `YYYYMMDD/` tree (the reference's layout):
  *
  *   - **Batch:** [[batchPruned]] lists through [[DatePrunedFileIndex]],
  *     which never descends into a below-min-date directory — full
  *     `DateFileFilter` parity at listing time.
  *   - **Stream:** [[streamPruned]] puts [[minDateGlob]] on the load
  *     path, so every poll skips below-min-date day directories while
  *     day directories created later still match.
  *   - **Fallback:** [[filterByPathDate]] judges every 8-digit
  *     directory of `input_file_name()` with the same parse check as
  *     [[DatePrunedFileIndex]] and filters rows. Correct, but prunes
  *     after listing; only the row scan is saved. Composed on
  *     [[streamPruned]] it keeps exactly [[batchPruned]]'s rows.
  */
object AuditSource {

  /** `audit.min_date` read as the reference reads it
    * (`DateFileFilter.java:15`): strict BASIC_ISO_DATE, eight digits
    * naming a real calendar date. Anything else fails fast — compared
    * as a string, a malformed min keeps or prunes date directories by
    * character order (`20210301` kept for `2021-06-15`, as '0' > '-').
    * The one check behind [[batchPruned]], [[minDateGlob]] and
    * [[filterByPathDate]].
    */
  private[graft] def checkedMinDate(minDate: String): String = {
    require(minDate.matches("[0-9]{8}") &&
      Try(LocalDate.parse(minDate, DateTimeFormatter.BASIC_ISO_DATE)).isSuccess,
      s"audit.min_date must be BASIC_ISO_DATE (YYYYMMDD), got: $minDate")
    minDate
  }

  /** Streaming text source over a directory tree. The schema is the one
    * `text` infers; a file stream over any format but Spark's own text
    * class must be given it.
    */
  def stream(spark: SparkSession, path: String): DataFrame =
    spark.readStream
      .format(classOf[AuditLines].getName)
      .schema("value STRING")
      .option("recursiveFileLookup", "true")
      .load(path)

  /** Batch twin — identical downstream operators apply (unified API). */
  def batch(spark: SparkSession, path: String): DataFrame =
    spark.read
      .format(classOf[AuditLines].getName)
      .option("recursiveFileLookup", "true")
      .load(path)

  /** Compatibility pruning for `YYYYMMDD/` trees: a row survives unless
    * a directory on its file's path is an 8-digit name that PARSES as a
    * date (strict `yyyyMMdd`) older than `minDate` — the same per-
    * directory rule as [[DatePrunedFileIndex]]'s walk. Names that don't
    * parse (`00001332`, `20201490`, `notadate`) always pass, matching
    * `DateFileFilter.java:29-33`. Prunes AFTER listing — prefer
    * [[batchPruned]] (enumeration-time skip).
    */
  def filterByPathDate(df: DataFrame, minDate: String): DataFrame = {
    val dirs = regexp_extract_all(input_file_name(), lit("/([0-9]{8})(?=/)"), lit(1))
    val min = lit(checkedMinDate(minDate))
    df.filter(forall(dirs, d => try_to_date(d, "yyyyMMdd").isNull || d >= min))
  }

  /** Glob alternation matching the level-1 directory names the min-date
    * rule keeps (and the month-length superset below), so a file source
    * can prune at LISTING time without freezing the directory set:
    *
    *   - 8-digit names `>= minDate` lexicographically — one branch per
    *     digit position (the standard prefix-range decomposition), so
    *     day directories created AFTER stream start still match (unlike
    *     an enumerate-the-survivors-at-start glob, which would go stale
    *     the first midnight);
    *   - every non-8-digit name and every name containing a non-digit
    *     (the reference passes names that don't parse as dates,
    *     `DateFileFilter.java:29-33`), except names starting with `.`
    *     or `_`, which every other read here skips as hidden (a
    *     writer's `_temporary` or `.staging` directory).
    *
    * Hadoop compiles `{a,b,...}` to ONE regex alternation, so a name
    * matching several branches lists once — no duplicate reads.
    *
    * Parse-check parity for 8-digit NON-dates: names whose month is not
    * 01–12 or whose day is not 01–31 cannot parse, so `DateFileFilter`
    * keeps them regardless of the min — six keep-branches below
    * enumerate exactly those shapes (`00001332`, `20241490`, …).
    *
    * Month length and leap years are not glob-expressible, so for the
    * names invalid only by them (`20210230`, `20200431`, `20190229`)
    * the glob keeps a SUPERSET: every 8-digit name with day 29–31 of
    * February or day 31 of April, June, September or November. The
    * real dates in that superset (`20200229`) are left to
    * [[filterByPathDate]], which runs the strict parse; composed on
    * [[streamPruned]] it keeps exactly [[batchPruned]]'s rows. Every
    * other parseable date compares identically (lexicographic ==
    * chronological for BASIC_ISO_DATE), and 8-digit non-dates ABOVE
    * the min (`99999999`) pass either way.
    */
  private[graft] def minDateGlob(minDate: String): String = {
    checkedMinDate(minDate)
    val ge = minDate +: (0 until 8).collect {
      case i if minDate(i) < '9' =>
        minDate.take(i) + s"[${(minDate(i) + 1).toChar}-9]" + "[0-9]" * (7 - i)
    }
    val d = "[0-9]"
    // 8-digit shapes that cannot be dates: month 00 / 13-99, day 00 / 32-99
    val nonParse = Seq(
      d * 4 + "00" + d * 2,
      d * 4 + "1[3-9]" + d * 2,
      d * 4 + "[2-9]" + d * 3,
      d * 6 + "00",
      d * 6 + "3[2-9]",
      d * 6 + "[4-9]" + d)
    // the superset around month-length non-dates: Feb 29-31, 31st of a 30-day month
    val monthLength = Seq(d * 4 + "0229", d * 4 + "023[01]", d * 4 + "0[469]31", d * 4 + "1131")
    // every branch that can match a non-digit first character is kept
    // off a leading `.` or `_`: those roots are hidden to batch reads,
    // but Spark's hidden-path filter never sees a root a glob matched
    val visible = "[^._]"
    val nonDate = (0 to 6).map(visible + "?" * _) ++
      Seq("[^._0-9]*", d + "*[^0-9]*", d * 9 + "*")
    (ge ++ nonParse ++ monthLength ++ nonDate).mkString("{", ",", "}")
  }

  /** Streaming source with ENUMERATION-time date pruning for bare
    * `YYYYMMDD/` trees: the [[minDateGlob]] pattern rides the load path,
    * so the file-stream source's recurring poll never lists — let alone
    * splits or schedules — a below-min-date day directory, while new
    * surviving days appearing later still match. This is the streaming
    * twin of [[batchPruned]] (the reference prunes during every poll,
    * `DateFileFilter.java:19-38` wired at `App.java:39-41`); the glob
    * prunes the day level, and [[filterByPathDate]] composed on top
    * drops the real dates in the glob's month-length superset and date
    * dirs deeper in the tree.
    */
  def streamPruned(spark: SparkSession, path: String, minDate: String): DataFrame =
    stream(spark, s"${path.stripSuffix("/")}/${minDateGlob(minDate)}")

  /** Enumeration-time pruning for bare `YYYYMMDD/` trees — full
    * `DateFileFilter` parity: the listing itself never descends into
    * below-min-date directories ([[DatePrunedFileIndex]]), so file
    * splits and tasks scale with the surviving days only.
    */
  def batchPruned(spark: SparkSession, path: String, minDate: Option[String]): DataFrame =
    batchPrunedWithIndex(spark, path, minDate)._1

  /** As [[batchPruned]], also returning the index (tests assert which
    * directories the walk visited).
    */
  private[graft] def batchPrunedWithIndex(
      spark: SparkSession,
      path: String,
      minDate: Option[String]
  ): (DataFrame, DatePrunedFileIndex) = {
    import org.apache.spark.sql.execution.datasources.HadoopFsRelation
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    minDate.foreach(checkedMinDate)
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val index = new DatePrunedFileIndex(spark, new org.apache.hadoop.fs.Path(path), minDate)
    val relation = HadoopFsRelation(
      location = index,
      partitionSchema = StructType(Nil),
      dataSchema = StructType(Seq(StructField("value", StringType))),
      bucketSpec = None,
      fileFormat = new AuditLines(),
      options = Map.empty)(classic)
    (classic.baseRelationToDataFrame(relation), index)
  }
}
