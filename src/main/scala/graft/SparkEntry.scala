package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.operators.Sessionize
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY.md §2 (and the north-star
  * extensions) is exposed as a named query over the driver's parquet
  * fixtures, each paired (when ANSI-expressible) with DuckDB oracle SQL.
  */
object SparkEntry {

  /** All registered queries, in registration order. */
  def registry: Seq[Q] =
    SessionQueries.all ++ RelationalQueries.all ++ WindowQueries.all ++
      CompositeQueries.all ++ NorthStarQueries.all ++ ExtendedQueries.all ++
      TpchQueries.all ++ CorpusQueries.all ++ TokenizerQueries.all ++
      DumpQueries.all ++ PdfQueries.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    *
    * The reference pipeline's kernel (keyBy → session window → conditional
    * weighted count → non-zero filter) on the events table.
    */
  def entry(spark: SparkSession): DataFrame =
    Sessionize
      .deniedCounts(
        Q.events(spark, "/root/testdata/sf0.001"),
        timeCol = "ts",
        keyCol = "user_id",
        gap = s"${SessionQueries.GapSeconds} seconds",
        denied = col("event_type") === "error",
        weight = col("value").cast(DecimalType(18, 4))
      )
      .withColumn("denies", col("denies").cast("double"))

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.run).toMap

  /** The queries `names` lists, in its order and with its repeats — the
    * one name check of the mains that take query names. Throws
    * IllegalArgumentException naming every unknown name, so a mistyped
    * name fails before a session starts.
    */
  def named(names: Seq[String]): Seq[(String, (SparkSession, String) => DataFrame)] = {
    val all = queries
    val unknown = names.filterNot(all.contains).distinct
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    names.map(n => n -> all(n))
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    registry.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
