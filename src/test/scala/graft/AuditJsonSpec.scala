package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{ArrayType, IntegerType, StringType, TimestampType}

import graft.model.Audit
import graft.operators.{AuditJson, Sessionize}

/** Conformance port of the reference's JSON parse golden test
  * (`TestJson.java:21-33`): a realistic Ranger kafka audit record must
  * parse with `repoType == 9` and `reqUser == "wdyson"`; unknown
  * properties are ignored; malformed lines yield no rows (not errors).
  */
class AuditJsonSpec extends SparkSpec {
  import spark.implicits._

  // Ranger audit shape (Apache Ranger's AuthzAuditEvent JSON layout, as in
  // the reference's golden record audit-examples/kafka-1.json) — authored
  // here field-by-field from the Audit schema, not copied.
  private val golden =
    """{"repoType":9,"repo":"cm_kafka","reqUser":"wdyson",""" +
      """"evtTime":"2021-04-29 16:08:31.025","access":"publish","resource":"test-topic",""" +
      """"resType":"topic","action":"publish","result":1,"agent":"kafka","policy":5,""" +
      """"enforcer":"ranger-acl","cliIP":"10.0.0.1","agentHost":"broker-1.example.com",""" +
      """"logType":"RangerAudit","id":"8a6c6e32-d0ee-4e32-a39a-a6bc0a1e21c0-1",""" +
      """"seq_num":1,"event_count":1,"event_dur_ms":0,"tags":[],""" +
      """"cluster_name":"cluster","policy_version":3,"extra_unknown_key":{"x":1}}"""

  test("golden Ranger record parses with correct fields") {
    val rows = AuditJson.parse(Seq(golden).toDF("value")).collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getAs[Int]("repoType") == 9)
    assert(r.getAs[String]("reqUser") == "wdyson")
    assert(r.getAs[java.sql.Timestamp]("evtTime").getTime == 1619712511025L)
    assert(r.getAs[Int]("result") == 1)
    assert(r.getSeq[String](r.fieldIndex("tags")).isEmpty)
  }

  test("malformed and user-less lines are dropped, not failed") {
    val lines = Seq(
      "not json at all {{{",
      """{"repoType":9,"result":1}""", // valid JSON, null reqUser
      golden
    ).toDF("value")
    val out = AuditJson.parse(lines).collect()
    assert(out.length == 1)
    assert(out.head.getAs[String]("reqUser") == "wdyson")
  }

  test("parse accounting: corrupt / missing-user / good counted in one pass") {
    // the partially-corrupt line (bad evtTime, good reqUser) is KEPT by
    // parse under partial-results parsing, so it must count as good and
    // must NOT be quarantined — otherwise it would be double-processed
    val partial = """{"reqUser":"bob","evtTime":"not a time","repoType":1,"result":0}"""
    val lines = Seq(
      "not json at all {{{",
      "{broken",
      """{"repoType":9,"result":1}""", // valid JSON, null reqUser
      partial,
      golden
    ).toDF("value")
    val kept = AuditJson.parse(lines).count()
    val s = AuditJson.parseStats(lines).collect().head
    assert(s.getAs[Long]("n_lines") == 5L)
    assert(s.getAs[Long]("n_corrupt") == 2L)
    assert(s.getAs[Long]("n_missing_user") == 1L)
    assert(s.getAs[Long]("n_good") == 2L)
    assert(s.getAs[Long]("n_good") == kept) // reconciles with parse()

    val dead = AuditJson.corruptLines(lines).as[String].collect().toSet
    assert(dead == Set("not json at all {{{", "{broken"))
  }

  /** `golden` with `field` set to the raw JSON `value`. */
  private def withField(field: String, value: String): String =
    golden.stripSuffix("}") + s""","$field":$value}"""

  /** The lines the narrow parse must read exactly as the whole-record
    * parse does.
    */
  private val adversarial: Seq[String] = {
    val truncated = golden.indices.map(golden.take)
    // a value of every other JSON kind, for each of the 23 fields (the
    // later duplicate key wins, so appending overrides the golden value)
    val wrongTypes = for {
      f <- Audit.schema.fields.toSeq
      v <- (f.dataType match {
        case IntegerType => Seq("\"9\"", "9.5", "true", "99999999999")
        case StringType => Seq("7", "false")
        case TimestampType => Seq("1619712511025", "true")
        case ArrayType(_, _) => Seq("\"tag\"", "3", "[1,{\"a\":2}]")
        case other => fail(s"no wrong values for $other")
      }) ++ Seq("{\"reqUser\":\"inner\",\"result\":0}", "[\"reqUser\",1]", "null")
    } yield withField(f.name, v)
    val badTimes = Seq("2021-04-29", "2021-04-29T16:08:31.025Z", "2021-04-29 16:08:31",
      "29/04/2021 16:08:31.025", "2021-13-45 25:61:61.000", "", " 2021-04-29 16:08:31.025")
      .map(t => withField("evtTime", s"\"$t\""))
    val keys = Seq(
      """{"reqUser":"a","reqUser":"b","evtTime":"2021-04-29 16:08:31.025","result":0}""",
      """{"reqUser":"a","result":0,"result":1,"event_count":2,"event_count":null}""",
      """{"reqUser":"a","extra":{"reqUser":"b","evtTime":{"result":[{"event_count":9}]}},"result":0}""",
      """{"deep":[[[{"reqUser":"x"}]]],"reqUser":"a","event_count":3}""")
    val shapes = Seq(s"[$golden,$golden]", "[]", "42", "\"wdyson\"", "null", "true", "", "   ", "{}")
    truncated ++ wrongTypes ++ badTimes ++ keys ++ shapes
  }

  test("the four-field parse keeps exactly the whole-record parse's rows and values") {
    val lines = (adversarial.map(Option(_)) :+ None).toDF("value")
    val fields = Sessionize.AuditFields
    def bag(df: DataFrame): Map[Row, Int] =
      df.collect().toSeq.groupBy(identity).map { case (r, rs) => r -> rs.size }
    val narrow = AuditJson.parse(lines, fields)
    assert(narrow.columns.toSeq == fields)
    val kept = bag(narrow)
    assert(kept == bag(AuditJson.parse(lines).select(fields.map(col): _*)))
    // the corpus reaches both sides of the filter
    assert(kept.nonEmpty && kept.values.sum < adversarial.size)
    val good = AuditJson.parseStats(lines).collect().head.getAs[Long]("n_good")
    assert(good == kept.values.sum)
  }

  test("parse rejects a field list without the key and names it doesn't know") {
    val lines = Seq(golden).toDF("value")
    intercept[IllegalArgumentException](AuditJson.parse(lines, Seq("evtTime", "result")))
    intercept[IllegalArgumentException](AuditJson.parse(lines, Seq("reqUser", "no_such_field")))
  }
}
