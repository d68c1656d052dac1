package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series regularization: resample an irregular event stream onto
  * a fixed-width grid per key, forward-filling gaps — the standard
  * feature-engineering step before windowed models (and the batch twin
  * of a stream's tumbling-window latest-value state).
  *
  * Scale shape: bucket assignment is map-side integer arithmetic on
  * epoch micros; last-per-bucket, grid bounds, the grid join, and the
  * forward-fill window all hash on the key, so the whole operator is
  * key-partitioned work with no corpus-wide sort. The grid explode is
  * bounded by (span / width) per key.
  *
  * Timestamps must be at/after the epoch: bucketing is integer `div`
  * of epoch micros, and the truncating/flooring split on negative
  * values differs across engines (Spark `div` truncates toward zero,
  * DuckDB `//` floors).
  */
object TimeSeries {

  /** Rolling z-score anomaly screen: each event scored against the
    * trailing `window` observations of ITS key (current row excluded —
    * an outlier must not dilute its own baseline). One window pass per
    * key: at 100 TB this shuffles once on the key and each partition
    * keeps `window` rows of frame state.
    *
    * Determinism discipline: frame sums accumulate in DECIMAL(18,4)
    * (exact and order-free — the fixtures' values carry ≤ 4 fractional
    * digits), and the per-row double chain (two divisions, multiply,
    * subtract, sqrt, divide) is a fixed op order, so z is bit-exact
    * across engines. Rows with fewer than 2 trailing observations, or
    * a degenerate (zero-variance) baseline, score 0.
    *
    * Output: (keep columns) + z.
    */
  def rollingZscore(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      valueCol: String,
      tieCol: String,
      window: Int,
      keep: Seq[String]
  ): DataFrame = {
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol).asc, col(tieCol).asc)
      .rowsBetween(-window, -1)
    val vd = col(valueCol).cast(org.apache.spark.sql.types.DecimalType(18, 4))
    val sx = sum(vd).over(w).cast("double")
    val sx2 = sum(vd * vd).over(w).cast("double")
    val n = count(lit(1)).over(w).cast("double")
    val mean = sx / n
    val variance = sx2 / n - mean * mean
    val z = when(n < 2.0 || variance <= 0.0, lit(0.0))
      .otherwise((col(valueCol).cast("double") - mean) / sqrt(variance))
    df.select(keep.map(col) :+ z.as("z"): _*)
  }

  /** Resample to `widthSec`-wide buckets per key: the last observed
    * value in each bucket (ties on the timestamp broken by `tieCol`,
    * e.g. an event id), empty buckets between a key's first and last
    * event forward-filled from the previous value. Returns
    * (key, bucket_ts, value) — one row per key per grid step.
    */
  def resampleFfill(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      valueCol: String,
      tieCol: String,
      widthSec: Long
  ): DataFrame = {
    val widthUs = widthSec * 1000000L
    // true integer `div` (not double `/` + cast): exact for any epoch
    // micros, no 2^53 rounding
    val ev = df.select(
      col(keyCol).as("k"),
      col(tsCol).as("ts"),
      col(valueCol).as("v"),
      col(tieCol).as("tie"),
      expr(s"unix_micros(`$tsCol`) div ${widthUs}L").as("b"))

    // last value per observed (key, bucket)
    val rn = Window.partitionBy(col("k"), col("b"))
      .orderBy(col("ts").desc, col("tie").desc)
    val lastPerBucket = ev
      .withColumn("__rn", row_number().over(rn))
      .filter(col("__rn") === 1)
      .select(col("k"), col("b"), col("v"))

    // dense grid between each key's first and last bucket
    val grid = ev.groupBy(col("k"))
      .agg(min(col("b")).as("b0"), max(col("b")).as("b1"))
      .select(col("k"), explode(sequence(col("b0"), col("b1"))).as("b"))

    val ffill = Window.partitionBy(col("k")).orderBy(col("b"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid
      .join(lastPerBucket, Seq("k", "b"), "left")
      .select(
        col("k").as(keyCol),
        timestamp_micros(col("b") * widthUs).as("bucket_ts"),
        last(col("v"), ignoreNulls = true).over(ffill).as(valueCol))
  }
}
