package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.broadcast

/** The count-guarded broadcast, ONE definition for every operator that
  * decides "count it, then broadcast if small, else shuffle": the
  * profile audits, the frontier/robots lookup joins, and the iteration
  * loops of [[Graph]] and [[Dedup.nearDupClusters]].
  */
private[operators] object Guard {

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

  /** Count-guarded join side for a "small by construction" frame:
    * persist and count it once; when it holds at most `maxRows`,
    * collect it to a driver-local relation — the identical driver
    * footprint a `broadcast` would pay anyway when shipping the table,
    * and the frame's derivation drops out of the consumer's plan — and
    * broadcast that, leaving NOTHING persisted behind. Returns
    * (side, row count, release). Past the guard, the behavior depends
    * on who can release a cache:
    *
    *   - `keepPersisted = true` (callers that MATERIALIZE before
    *     returning, e.g. Profile.tCloseness): return the persisted
    *     frame for a shuffle join — the over-threshold case is exactly
    *     when the input aggregation is largest, so discarding the
    *     materialization would double-scan the corpus — and release it
    *     via the returned thunk after materializing.
    *   - `keepPersisted = false` (callers returning a LAZY plan, e.g.
    *     kAnonymity, the frontier/robots joins): unpersist immediately
    *     and return the lazy frame. The recompute of a bounded
    *     derivation is the accepted price of a leak-free contract —
    *     Spark's CacheManager holds caches until an explicit
    *     unpersist, so a plan-lifetime persist from a lazy-returning
    *     operator would accumulate with no owner to release it.
    */
  def guardedSide(
      small: DataFrame,
      maxRows: Long,
      keepPersisted: Boolean
  ): (DataFrame, Long, () => Unit) = {
    val persisted = small.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n =
      try persisted.count()
      catch { case t: Throwable => persisted.unpersist(); throw t }
    if (n <= maxRows) {
      val local = broadcast(small.sparkSession.createDataFrame(
        persisted.collectAsList(), small.schema))
      persisted.unpersist()
      (local, n, () => ())
    } else if (keepPersisted) {
      (persisted, n, () => { persisted.unpersist(): Unit })
    } else {
      persisted.unpersist()
      (small, n, () => ())
    }
  }
}
