package graft.model

import org.apache.spark.sql.types._

/** Input record of the audit pipeline.
  *
  * Mirrors the reference's input schema — all 23 fields of
  * `Audit.java:14-37` in WillDyson/flink-audit-sessions-example — as a
  * Spark `StructType`. Every field is nullable, so a malformed or
  * partially-populated JSON record round-trips through Spark's
  * PERMISSIVE `from_json` without inventing zeros.
  */
object Audit {

  /** JSON timestamp pattern used by the reference's Jackson binding
    * (`Audit.java:17-18`). Interpreted in the Spark session time zone —
    * pin `spark.sql.session.timeZone=UTC` for reproducible epoch millis.
    */
  val TimestampFormat = "yyyy-MM-dd HH:mm:ss.SSS"

  /** Explicit schema — never infer; inference over a stream is both slow
    * and unstable at 100 TB.
    */
  val schema: StructType = StructType(Seq(
    StructField("repoType", IntegerType),
    StructField("repo", StringType),
    StructField("reqUser", StringType),
    StructField("evtTime", TimestampType),
    StructField("action", StringType),
    StructField("access", StringType),
    StructField("resource", StringType),
    StructField("resType", StringType),
    StructField("result", IntegerType),
    StructField("agent", StringType),
    StructField("policy", IntegerType),
    StructField("policy_version", IntegerType),
    StructField("enforcer", StringType),
    StructField("cliIP", StringType),
    StructField("reqData", StringType),
    StructField("agentHost", StringType),
    StructField("logType", StringType),
    StructField("id", StringType),
    StructField("seq_num", IntegerType),
    StructField("event_count", IntegerType),
    StructField("event_dur_ms", IntegerType),
    StructField("tags", ArrayType(StringType)),
    StructField("cluster_name", StringType)
  ))
}
