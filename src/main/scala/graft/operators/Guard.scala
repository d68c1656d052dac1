package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.broadcast
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.storage.StorageLevel

/** The one materialization mechanism ([[pin]]/[[unpin]]) and the
  * row-guarded broadcast ([[guardedSide]]): the profile audits, the
  * frontier/robots lookup joins, the iteration loops of [[Graph]],
  * [[Vocab]] and [[Dedup.nearDupClusters]], and the gates that reuse a
  * frame across consumers all materialize here and nowhere else.
  */
private[graft] object Guard {

  /** Materialize `df` once and cut its lineage: a LAZY local checkpoint
    * at MEMORY_AND_DISK. The first action that reads the frame fills
    * its blocks (so a loop whose convergence scalar is that action pays
    * one action per round); every later reader scans the blocks. The
    * plan is a constant-size `LogicalRDD` whose size estimate is capped
    * ([[ColumnBridge.capSizeEstimate]]), so a k-round loop plans round k
    * as cheaply as round 1.
    *
    * A frame that several consumers of ONE query read is filled first
    * (`pin(df)` then `count()`): left to the query, the consumers'
    * concurrent tasks queue on each block instead of sharing the work.
    *
    * Lifetime: free an intermediate with [[unpin]] once its successor
    * has had ITS first action — a dropped local checkpoint cannot be
    * recomputed. A pinned frame an operator returns carries no release
    * duty: Spark's ContextCleaner frees its blocks once it is
    * unreachable.
    */
  def pin(df: DataFrame): DataFrame = ColumnBridge.capSizeEstimate(
    df.localCheckpoint(eager = false, StorageLevel.MEMORY_AND_DISK))

  /** Free now the blocks of every pinned frame `df` reads directly (the
    * `LogicalRDD` leaves of its plan); a frame with none is a no-op.
    * Frees through [[ColumnBridge.freeBlocks]]: `RDD.unpersist` would log
    * a WARN per call that a local checkpoint cannot be recomputed, which
    * is the contract above.
    */
  def unpin(df: DataFrame): Unit =
    df.queryExecution.logical.foreach {
      case r: LogicalRDD => ColumnBridge.freeBlocks(r.rdd, blocking = false)
      case _ =>
    }

  /** Past this many rows a lookup table stops riding a broadcast
    * (≈ tens of MB of driver memory at 2^20 rows) and the join
    * degrades to a shuffle.
    */
  val DefaultMaxBroadcastRows: Long = 1L << 20

  /** Cap for the iteration loops' |nodes|-bounded frames (rank vectors,
    * label frames): 4M rows ≈ a few hundred MB built. Above it the
    * broadcast hint is withheld and the planner's shuffle join stands —
    * results are identical either way.
    */
  val MaxLoopBroadcastRows: Long = 4000000L

  /** Broadcast hint when an ALREADY-KNOWN row count `n` is at most
    * [[MaxLoopBroadcastRows]], identity otherwise. For frames whose
    * plan was rebased onto a materialized RDD or checkpoint, where
    * Catalyst has no size statistics and would sort-merge-join every
    * round against a tiny side.
    */
  def broadcastIfSmall(n: Long): DataFrame => DataFrame =
    if (n <= MaxLoopBroadcastRows) broadcast else identity

  /** Guarded join side for a "small by construction" frame: collect at
    * most `maxRows + 1` of its rows in ONE query; when it holds at most
    * `maxRows`, they become a driver-local relation — the identical
    * driver footprint a `broadcast` would pay anyway when shipping the
    * table, and the frame's derivation drops out of the consumer's plan
    * — broadcast as the side, with NOTHING materialized behind. Returns
    * (side, whether it is that local broadcast). Past the guard:
    *
    *   - `keepPinned = true` (callers that MATERIALIZE before
    *     returning, e.g. Profile.tCloseness): return the frame pinned
    *     and filled for a shuffle join (its derivation runs a second
    *     time for that, the price of a one-query small path). The
    *     caller unpins it once its own result has materialized.
    *   - `keepPinned = false` (callers returning a LAZY plan, e.g.
    *     kAnonymity, the frontier/robots joins): return the lazy frame;
    *     a long-lived session keeps no audit residue.
    */
  def guardedSide(
      small: DataFrame,
      maxRows: Long,
      keepPinned: Boolean
  ): (DataFrame, Boolean) = {
    val rows = small.limit(math.min(maxRows + 1, Int.MaxValue.toLong).toInt).collectAsList()
    if (rows.size <= maxRows) {
      (broadcast(small.sparkSession.createDataFrame(rows, small.schema)), true)
    } else if (keepPinned) {
      val pinned = pin(small)
      pinned.count(): Unit
      (pinned, false)
    } else {
      (small, false)
    }
  }
}
