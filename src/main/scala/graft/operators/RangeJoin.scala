package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Range (interval) join — match points to `[lo, hi)` intervals. Spark
  * plans a bare inequality join as BroadcastNestedLoopJoin (every point
  * against every interval): fine for a broadcastable interval table,
  * quadratic death otherwise.
  *
  * `pointInInterval` is the bucketized formulation: quantize points to
  * `floor(p/width)` buckets, explode each interval over the buckets it
  * overlaps, and equi-join on the bucket before applying the exact range
  * predicate. Shuffle is hash-partitioned on the bucket id — both sides
  * distribute, no replication of the point side, and interval-side blowup
  * is `span/width` rows per interval (pick `width` near the typical
  * interval span).
  */
object RangeJoin {

  /** Naive twin (kept for the equivalence spec + broadcastable cases). */
  private[graft] def pointInIntervalNaive(
      points: DataFrame,
      intervals: DataFrame,
      pointCol: String,
      loCol: String,
      hiCol: String
  ): DataFrame =
    points.join(intervals,
      col(pointCol) >= col(loCol) && col(pointCol) < col(hiCol))

  /** Bucketized range join: result rows are identical to the naive
    * formulation (pinned by spec).
    *
    * @param width bucket width in the units of `pointCol`
    */
  def pointInInterval(
      points: DataFrame,
      intervals: DataFrame,
      pointCol: String,
      loCol: String,
      hiCol: String,
      width: Double
  ): DataFrame = {
    def bucketOf(c: Column): Column = floor(c / lit(width)).cast("long")
    val p = points.withColumn("__bucket", bucketOf(col(pointCol)))
    // an interval [lo, hi) overlaps buckets floor(lo/w) .. floor(hi/w)
    // (hi exclusive, but floor(hi/w) is kept: hi may share a bucket with
    // points below it)
    val iv = intervals.withColumn("__bucket",
      explode(sequence(bucketOf(col(loCol)), bucketOf(col(hiCol)))))
    p.join(iv, Seq("__bucket"))
      .filter(col(pointCol) >= col(loCol) && col(pointCol) < col(hiCol))
      .drop("__bucket")
  }
}
