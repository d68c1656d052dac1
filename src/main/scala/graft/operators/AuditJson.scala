package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}

import graft.model.Audit

/** P1 + P2 of the reference pipeline: parse newline-delimited JSON audit
  * lines into typed rows and drop unusable records.
  *
  * Reference semantics (`Audit.java:39-47`, `App.java:49-53`):
  *   - unknown JSON properties are ignored;
  *   - a malformed line parses to `null` (never throws);
  *   - records with a null `reqUser` are dropped (parse-nulls collapse
  *     into the same predicate, since every field of a failed parse is
  *     null).
  *
  * Spark-first mapping: `from_json` in PERMISSIVE mode gives exactly the
  * lenient-parse / null-on-corrupt contract with zero custom code.
  * Catalyst does not narrow the parse to the fields downstream operators
  * read: `OptimizeJsonExprs` leaves a `from_json` with options (ours has
  * `timestampFormat`) alone, so a caller that reads a few fields names
  * them ([[parse]]'s `fields`) and the parser skips the rest unconverted.
  */
object AuditJson {

  /** `lines` must have a single string column named `value` (the schema
    * of `spark.read.text` / `readStream.text`). Works identically on
    * batch and streaming DataFrames.
    *
    * Returns the `Audit` columns named in `fields` (default: all 23, in
    * schema order), in that order; `reqUser` must be one of them. A field
    * left out is skipped by the parser, and the kept rows and values are
    * exactly those of the whole-record parse.
    *
    * Each line is parsed once. The struct leaves `from_json` through
    * `inline(array(...))`, a generator: a filter on its columns (ours on
    * `reqUser`, `session_window`'s on the event time) cannot be pushed
    * below a generator, whereas through a plain projection the
    * optimizer pushes the filter down with the `from_json` copied into
    * it, and every line is parsed again.
    */
  def parse(lines: DataFrame, fields: Seq[String] = Audit.schema.fieldNames.toSeq): DataFrame = {
    require(fields.contains("reqUser"), s"parse needs reqUser among its fields, got: $fields")
    val schema = StructType(fields.map(Audit.schema(_)))
    lines
      .select(inline(array(
        from_json(col("value"), schema, Map("timestampFormat" -> Audit.TimestampFormat)))))
      .filter(col("reqUser").isNotNull)
  }

  /** PERMISSIVE `from_json` yields an all-null struct for malformed
    * input (never a null struct), so distinguishing corrupt from merely
    * key-less records needs the corrupt-record column: malformed lines
    * land verbatim in `_corrupt_record`, valid ones leave it null.
    */
  private def parsedWithCorrupt(lines: DataFrame) =
    lines.select(
      from_json(
        col("value"),
        Audit.schema.add("_corrupt_record", StringType),
        Map(
          "timestampFormat" -> Audit.TimestampFormat,
          "columnNameOfCorruptRecord" -> "_corrupt_record")
      ).as("a"))

  /** The raw lines [[parse]] drops as unusable — the dead-letter side
    * of the lenient parse, for quarantine sinks / alerting.
    *
    * Spark's partial-results JSON parsing can flag a record corrupt
    * (one bad field) while still extracting `reqUser`; such records
    * flow through [[parse]], so quarantining on the corrupt flag alone
    * would double-process them. Dead-letter = corrupt AND key-less —
    * exactly the complement of what `parse` keeps among flagged lines.
    */
  def corruptLines(lines: DataFrame): DataFrame =
    parsedWithCorrupt(lines)
      .filter(col("a._corrupt_record").isNotNull && col("a.reqUser").isNull)
      .select(col("a._corrupt_record").as("value"))

  /** One-pass parse accounting, reconciling exactly with [[parse]]:
    * `n_good` counts the rows parse keeps (usable key, even if some
    * other field was corrupt under partial-results parsing), `n_corrupt`
    * the malformed key-less lines, `n_missing_user` the well-formed but
    * key-less ones; the three always sum to `n_lines`. The observability
    * counter the reference lacks (it silently drops, `App.java:52`).
    */
  def parseStats(lines: DataFrame): DataFrame =
    parsedWithCorrupt(lines).agg(
      count(lit(1)).as("n_lines"),
      sum(when(col("a._corrupt_record").isNotNull && col("a.reqUser").isNull, 1L)
        .otherwise(0L)).as("n_corrupt"),
      sum(when(col("a._corrupt_record").isNull && col("a.reqUser").isNull, 1L)
        .otherwise(0L)).as("n_missing_user"),
      sum(when(col("a.reqUser").isNotNull, 1L).otherwise(0L)).as("n_good"))
}
