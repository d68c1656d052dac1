package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Stream-static composition: enrich or screen an unbounded stream
  * against bounded reference data — the join family Structured
  * Streaming supports without state, and the streaming face of the
  * batch reference-data operators.
  *
  * Both operators are STATELESS on the stream side (no watermark, no
  * state store): the static side broadcasts, so every micro-batch is a
  * map-side pass — the only shape that holds up when the stream is the
  * 100 TB side.
  */
object StreamEnrich {

  /** Broadcast-enrich a stream with a static dimension (left join keeps
    * un-matched stream rows). Works identically on batch inputs.
    */
  def withDim(
      stream: DataFrame,
      dim: DataFrame,
      streamKey: String,
      dimKey: String,
      joinType: String = "left"
  ): DataFrame =
    stream.join(broadcast(dim), stream(streamKey) === dim(dimKey), joinType)

  /** Streaming benchmark decontamination: drop stream documents sharing
    * any n-gram shingle with the static benchmark corpus.
    *
    * The batch variant ([[graft.operators.Decontaminate]]) counts hits
    * with a per-doc aggregation; a stream can't re-group its documents
    * without state, so here the bench shingle set rides as ONE
    * broadcast array value and the screen is a per-row
    * `arrays_overlap` — append-safe, zero state, exact same keep/drop
    * decision as the batch anti-join for minHits = 1.
    */
  def dropContaminated(
      stream: DataFrame,
      bench: DataFrame,
      textCol: String,
      n: Int
  ): DataFrame = {
    val benchSet = bench
      .select(explode(Dedup.shingleHashes(col(textCol), n)).as("sh"))
      .agg(collect_set(col("sh")).as("__bench_sh"))
    stream
      .crossJoin(broadcast(benchSet))
      // coalesce: NULL text → NULL shingles → NULL overlap; the batch
      // anti-join KEEPS such docs (they can't be flagged), so must we
      .filter(coalesce(
        !arrays_overlap(Dedup.shingleHashes(col(textCol), n), col("__bench_sh")),
        lit(true)))
      .drop("__bench_sh")
  }
}
