package graft

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
