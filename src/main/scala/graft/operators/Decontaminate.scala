package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Benchmark decontamination — the training-data hygiene operator:
  * find corpus documents that share word n-grams with an evaluation
  * set, so eval material can be held out of training.
  *
  * Scale shape: the benchmark side is tiny relative to the corpus
  * (thousands of eval documents vs billions of training docs), so its
  * distinct shingle-hash set is BROADCAST — the corpus never shuffles;
  * the whole screen is a map-side semi-join inside the corpus scan,
  * followed by one aggregation over only the matching (doc, shingle)
  * rows. Shingle hashes are the same engine-portable polynomial family
  * as [[Dedup.shingleHashes]], so the oracle reproduces them exactly.
  */
object Decontaminate {

  /** Distinct benchmark shingle hashes (the broadcast side). */
  private def benchShingles(bench: DataFrame, textCol: String, n: Int): DataFrame =
    bench
      .select(explode(Dedup.shingleHashes(col(textCol), n)).as("sh"))
      .distinct()

  /** Corpus documents sharing at least `minHits` distinct n-gram
    * shingles with the benchmark: (id, n_hits). Documents with no
    * overlap are absent (at crawl scale: almost all of them — the
    * output is contamination-sized, not corpus-sized).
    */
  def contaminatedDocs(
      corpus: DataFrame,
      bench: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      minHits: Long = 1
  ): DataFrame =
    corpus
      .select(col(idCol).as("id"), explode(Dedup.shingleHashes(col(textCol), n)).as("sh"))
      .join(broadcast(benchShingles(bench, textCol, n)), "sh")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_hits")) // shingleHashes is distinct per doc
      .filter(col("n_hits") >= minHits)

  /** GRADED overlap instead of the binary drop: per corpus document,
    * its distinct-shingle count, how many of those appear in the
    * reference set, and the novelty ratio 1 − hits/shingles — the
    * signal for policies between "any overlap drops" and "ignore"
    * (quote-heavy docs, partial benchmark leaks, boilerplate overlap
    * quantification). Same broadcast-shingle scale shape as
    * [[contaminatedDocs]]; documents too short to carry one n-gram
    * score novelty 1 with zero counts (nothing measurable overlaps).
    * The ratio is one subtraction of one division — engine-exact.
    */
  def noveltyScores(
      corpus: DataFrame,
      bench: DataFrame,
      idCol: String,
      textCol: String,
      n: Int
  ): DataFrame = {
    val marked = benchShingles(bench, textCol, n).withColumn("__hit", lit(1L))
    val per = corpus
      .select(col(idCol).as("__id"), explode(Dedup.shingleHashes(col(textCol), n)).as("sh"))
      .join(broadcast(marked), Seq("sh"), "left")
      .groupBy(col("__id"))
      .agg(
        count(lit(1)).as("n_shingles"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_hits"))
    corpus
      .select(col(idCol).as("__id"))
      .join(per, Seq("__id"), "left")
      .select(
        col("__id").as(idCol),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        when(coalesce(col("n_shingles"), lit(0L)) === 0L, lit(1.0))
          .otherwise(lit(1.0) -
            col("n_hits").cast("double") / col("n_shingles").cast("double"))
          .as("novelty"))
  }

  /** The clean corpus: drop contaminated documents (anti-join against
    * the flagged set — still broadcast-sized).
    */
  def dropContaminated(
      corpus: DataFrame,
      bench: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      minHits: Long = 1
  ): DataFrame =
    corpus.join(
      broadcast(contaminatedDocs(corpus, bench, idCol, textCol, n, minHits)
        .select(col("id").as(idCol))),
      Seq(idCol), "left_anti")
}
