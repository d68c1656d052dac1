package graft

import graft.functions.GraftExtensions

/** The SQL surface of the native expressions: runtime registration on
  * an existing session (works regardless of how the session was built)
  * must make the SQL results agree with the DataFrame API.
  * `GraftSession.builder` wires the same functions in via
  * `spark.sql.extensions` at session build; `GraftSession.local` falls
  * back to runtime registration when getOrCreate returns a
  * pre-existing session — which is exactly the situation in this test
  * JVM (SparkSpec's shared session), so this spec exercises that path.
  */
class GraftSessionSpec extends SparkSpec {

  test("GraftSession.local registers SQL functions even on a reused session") {
    withRestoredConf(GraftSessionSpec.localTouches) {
      val viaLocal = GraftSession.local(cores = 4)
      // shared-session JVM: getOrCreate reuses; functions must still work
      assert(viaLocal.sql("SELECT graft_simhash64('a b c')").collect().nonEmpty)
    }
  }

  test("registerAll makes SQL functions resolve and match the DataFrame API") {
    import spark.implicits._
    GraftExtensions.registerAll(spark)

    val df = Seq((1L, "the quick brown fox")).toDF("id", "text")
    df.createOrReplaceTempView("gs_docs")

    val viaSql = spark.sql(
      "SELECT graft_simhash64(text) AS sh, graft_poly_hash(text, 31, 1000000007) AS ph FROM gs_docs")
      .collect().head
    val viaApi = df.select(
      graft.functions.GraftFunctions.simhash64($"text").as("sh"),
      graft.functions.GraftFunctions.polyHash($"text", 31L, 1000000007L).as("ph"))
      .collect().head

    assert(viaSql.getLong(0) == viaApi.getLong(0))
    assert(viaSql.getLong(1) == viaApi.getLong(1))

    val entSql = spark.sql(
      "SELECT graft_char_entropy(text) AS h, graft_distinct_ngrams(text, 2) AS g FROM gs_docs")
      .collect().head
    val entApi = df.select(
      graft.operators.TextAnalysis.charEntropy($"text").as("h"),
      graft.functions.GraftFunctions.distinctNgrams($"text", 2).as("g"))
      .collect().head
    assert(java.lang.Double.doubleToLongBits(entSql.getDouble(0)) ==
      java.lang.Double.doubleToLongBits(entApi.getDouble(0)))
    assert(entSql.getSeq[String](1) == entApi.getSeq[String](1))
  }
}

object GraftSessionSpec {

  /** getOrCreate on a pre-existing session applies non-static configs
    * (Spark ≥3.4), so `GraftSession.local` would leak
    * shuffle.partitions=4 etc. into every later spec in this JVM:
    * specs that call it restore these around the call.
    */
  val localTouches: Seq[String] = Seq(
    "spark.sql.session.timeZone",
    "spark.sql.shuffle.partitions",
    "spark.sql.adaptive.enabled",
    "spark.sql.sources.parallelPartitionDiscovery.threshold") ++ GraftSession.localFileSystem.keys
}
