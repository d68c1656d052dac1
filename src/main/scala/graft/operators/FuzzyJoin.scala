package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Approximate string self-join (entity resolution): pairs of rows
  * whose strings are within `maxDist` Levenshtein edits, candidates
  * from shared character 3-grams — the q-gram filter that makes
  * edit-distance joins sub-quadratic.
  *
  * Same scale skeleton as [[Dedup.jaccardPairs]]: one map-side pass
  * computes each row's gram set; grams group once (the only shuffle of
  * exploded data) with a hot-gram cap that keeps bucket sizes — and so
  * candidate work — bounded under skew; within-bucket pairs explode in
  * place carrying both strings, so verification (`levenshtein`, a
  * codegen'd built-in) needs no second join.
  *
  * Recall caveat (mirrored exactly by the oracle): candidates need ≥1
  * shared 3-gram, which the q-gram bound guarantees only for strings
  * longer than `3·(maxDist+1)` chars; and grams in more than
  * `maxGramFreq` rows don't generate candidates (the stop-gram guard).
  */
object FuzzyJoin {

  /** (id_a, id_b, dist) with id_a < id_b and dist ≤ maxDist. */
  def selfPairs(
      df: DataFrame,
      idCol: String,
      strCol: String,
      maxDist: Int,
      maxGramFreq: Int = 1000
  ): DataFrame = {
    // strings shorter than 3 chars have no 3-grams: guard explicitly —
    // sequence(1, 0) is the DESCENDING [1, 0] in Spark, which would
    // fabricate grams for 1–2-char strings and self-pair them
    val exploded = df
      .select(col(idCol).as("id"), col(strCol).as("s"))
      .filter(length(col("s")) >= 3)
      .select(col("id"), col("s"),
        explode(array_distinct(transform(
          sequence(lit(1), length(col("s")) - 2),
          i => col("s").substr(i, lit(3))))).as("g"))

    val buckets = exploded
      .groupBy(col("g"))
      .agg(sort_array(collect_list(struct(col("id"), col("s")))).as("ids"))

    Dedup.bucketPairsRaw(buckets, maxGramFreq)
      .select(
        col("a.id").as("id_a"), col("a.s").as("s_a"),
        col("b.id").as("id_b"), col("b.s").as("s_b"))
      .distinct()
      .withColumn("dist", levenshtein(col("s_a"), col("s_b")))
      .filter(col("dist") <= maxDist)
      .select("id_a", "id_b", "dist")
  }
}
