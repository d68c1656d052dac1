package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{Dataset, ExpressionUtils}
import org.apache.spark.sql.execution.LogicalRDD

/** Column ⇄ Expression bridge, and the other `private[sql]`/`private[spark]`
  * access graft needs (a checkpoint's size estimate, [[capSizeEstimate]];
  * freeing its blocks, [[freeBlocks]]; a reader's Hadoop conf,
  * [[broadcastConf]]).
  *
  * Spark 4 hides the classic Column↔Expression converters behind
  * `private[sql]`; libraries that ship native Catalyst expressions (the
  * codegen'd kernels in `graft.functions`) conventionally expose them via
  * a small shim compiled inside the `org.apache.spark.sql` package tree.
  * Keep this file tiny — everything else lives under `graft.*`.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `df`, a local checkpoint (a `LogicalRDD`), with its size estimate
    * capped at Long.MaxValue bytes and rows — the estimate Spark gives a
    * frame it knows nothing about. A checkpoint inherits the estimate of
    * the plan it materialized, and a join's estimate is the product of
    * its sides', so a loop that checkpoints each round from the last
    * compounds it: ~16 HITS rounds in, multiplying the BigInt estimates
    * stalled query planning for minutes. (`Dataset.ofRows` is
    * `private[sql]`.)
    */
  def capSizeEstimate(df: DataFrame): DataFrame = df.queryExecution.logical match {
    case r: LogicalRDD if r.stats.sizeInBytes > Long.MaxValue =>
      val spark = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      val cap = BigInt(Long.MaxValue)
      val stats = r.stats.copy(sizeInBytes = cap, rowCount = r.stats.rowCount.map(_.min(cap)))
      Dataset.ofRows(spark, r.copy()(spark, Some(stats), Some(r.constraints)))
    case _ => df
  }

  /** Drop `rdd`'s cached blocks (`SparkContext.unpersistRDD`, which is
    * `private[spark]`). `RDD.unpersist` does the same but first logs a
    * WARN for every locally checkpointed RDD — one line per
    * `Guard.unpin`, which frees such checkpoints by design.
    */
  def freeBlocks(rdd: org.apache.spark.rdd.RDD[_], blocking: Boolean): Unit =
    rdd.sparkContext.unpersistRDD(rdd.id, blocking)

  /** `conf` broadcast serialized-only, as Spark's own file readers ship
    * it to their tasks (`SerializableConfiguration.broadcast` is
    * `private[spark]`): only its serialized bytes are kept.
    */
  def broadcastConf(
      sc: org.apache.spark.SparkContext,
      conf: org.apache.hadoop.conf.Configuration
  ): org.apache.spark.broadcast.Broadcast[org.apache.spark.util.SerializableConfiguration] =
    org.apache.spark.util.SerializableConfiguration.broadcast(sc, conf)
}
