package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.prop.TableDrivenPropertyChecks

import graft.operators.Sessionize

/** Conformance port of the reference's end-to-end pipeline test
  * (`TestAuditSession.java:30-82`): 4 crafted events, gap 1200 s, expected
  * two sessions — (wdyson, 10) and (bob, 2). Pins the three load-bearing
  * semantics: `event_count` weighting, allowed-events-extend-but-add-0,
  * and gap-merge of events 600 s apart. Results sorted (the reference
  * relies on parallelism=1 ordering; we don't).
  */
class SessionizeSpec extends SparkSpec with TableDrivenPropertyChecks {
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  private val fourEvents = Seq(
    // (reqUser, repo, result, event_count, evtTime)
    ("wdyson", "cm_kafka", 0, 10, ts("2022-09-26 10:00:00")),
    ("wdyson", "cm_hive", 1, 1, ts("2022-09-26 10:10:00")),
    ("bob", "cm_hive", 0, 1, ts("2022-09-26 10:10:00")),
    ("bob", "cm_hive", 0, 1, ts("2022-09-26 10:20:00"))
  ).toDF("reqUser", "repo", "result", "event_count", "evtTime")

  test("four-event reference scenario: gap 1200s -> (wdyson,10), (bob,2)") {
    val out = Sessionize
      .auditDeniedCounts(fourEvents, gapSeconds = 1200)
      .orderBy("reqUser")
      .collect()
    assert(out.length == 2)

    val bob = out(0)
    assert(bob.getAs[String]("reqUser") == "bob")
    assert(bob.getAs[Long]("denies") == 2L) // 600s apart < 1200s gap: merged
    assert(bob.getAs[Timestamp]("session_start") == ts("2022-09-26 10:10:00"))
    assert(bob.getAs[Timestamp]("session_end") == ts("2022-09-26 10:40:00"))

    val wdyson = out(1)
    assert(wdyson.getAs[String]("reqUser") == "wdyson")
    // weighted by event_count (10, not 1); allowed event adds 0 but
    // extends the session to 10:10 + gap
    assert(wdyson.getAs[Long]("denies") == 10L)
    assert(wdyson.getAs[Timestamp]("session_start") == ts("2022-09-26 10:00:00"))
    assert(wdyson.getAs[Timestamp]("session_end") == ts("2022-09-26 10:30:00"))
  }

  test("a zero or negative session gap fails fast instead of yielding no sessions") {
    // Spark's session_window returns zero rows for such a gap; the
    // reference's Flink EventTimeSessionWindows rejects it
    for (gap <- Seq(0L, -5L)) {
      val e = intercept[IllegalArgumentException](
        Sessionize.auditDeniedCounts(fourEvents, gapSeconds = gap))
      assert(e.getMessage.contains("session.duration"), e.getMessage)
    }
  }

  test("all-allowed sessions are suppressed (HAVING != 0)") {
    val allAllowed = Seq(
      ("alice", "cm_hive", 1, 5, ts("2022-09-26 10:00:00")),
      ("alice", "cm_hive", 1, 5, ts("2022-09-26 10:05:00"))
    ).toDF("reqUser", "repo", "result", "event_count", "evtTime")
    assert(Sessionize.auditDeniedCounts(allAllowed, 1200).count() == 0)
  }

  test("gap boundary: exactly-gap-apart merges (closed-interval semantics)") {
    // Both engines merge exactly-gap-apart events: Flink's
    // TimeWindow.intersects() uses `end >= other.start`, so touching
    // session windows merge there too, matching Spark's session_window.
    // Pinned here so the oracle SQL (`>` not `>=`) stays aligned.
    val edge = Seq(
      ("u", "r", 0, 1, ts("2022-09-26 10:00:00")),
      ("u", "r", 0, 1, ts("2022-09-26 10:20:00")) // exactly 1200s later
    ).toDF("reqUser", "repo", "result", "event_count", "evtTime")
    val out = Sessionize.auditDeniedCounts(edge, 1200).collect()
    assert(out.length == 1)
    assert(out.head.getAs[Long]("denies") == 2L)

    val past = Seq(
      ("u", "r", 0, 1, ts("2022-09-26 10:00:00")),
      ("u", "r", 0, 1, ts("2022-09-26 10:20:00.001")) // 1200.001s later
    ).toDF("reqUser", "repo", "result", "event_count", "evtTime")
    assert(Sessionize.auditDeniedCounts(past, 1200).count() == 2)
  }

  test("session bounds span contained events; count is non-negative") {
    val gap = 900L
    val out = Sessionize
      .auditDeniedCounts(
        Seq(
          ("u1", "r", 0, 3, ts("2022-09-26 10:00:00")),
          ("u1", "r", 1, 1, ts("2022-09-26 10:05:00")),
          ("u1", "r", 0, 2, ts("2022-09-26 10:14:00")),
          ("u1", "r", 0, 7, ts("2022-09-26 12:00:00"))
        ).toDF("reqUser", "repo", "result", "event_count", "evtTime"),
        gap
      )
      .collect()
    assert(out.length == 2)
    out.foreach { r =>
      assert(r.getAs[Long]("denies") > 0)
      val start = r.getAs[Timestamp]("session_start").getTime
      val end = r.getAs[Timestamp]("session_end").getTime
      assert(end - start >= gap * 1000) // end = last event + gap
    }
    // transitive merge: 10:00 + 10:05 + 10:14 chain into one session
    assert(out.map(_.getAs[Long]("denies")).sorted.toSeq == Seq(5L, 7L))
  }

  test("dynamic gap: error events shorten the lull; earlier long gaps still extend") {
    import org.apache.spark.sql.functions.{col, when, lit}
    val events = Seq(
      // u1: error at 10:00 (gap 60 s) but a prior view at 09:59:30 with
      // gap 600 s extends the session window to 10:09:30 — the 10:05
      // event must MERGE (running-max semantics, not last-event-gap)
      ("u1", "view", ts("2022-09-26 09:59:30")),
      ("u1", "error", ts("2022-09-26 10:00:00")),
      ("u1", "view", ts("2022-09-26 10:05:00")),
      // u2: lone error at 10:00 (gap 60 s); next event at 10:05 is past
      // 10:01 — NEW session (and the first, error-only session is kept)
      ("u2", "error", ts("2022-09-26 10:00:00")),
      ("u2", "error", ts("2022-09-26 10:05:00"))
    ).toDF("user", "et", "t")
    val out = Sessionize.deniedCountsDynamic(
      events, "t", "user",
      gapExpr = when(col("et") === "error", "60 seconds").otherwise("600 seconds"),
      denied = col("et") === "error",
      weight = lit(1L)
    ).collect().map(r => (r.getString(0), r.getAs[Long]("denies"),
      r.getAs[Timestamp]("session_start").toString)).sortBy(t => (t._1, t._3))
    assert(out.toSeq == Seq(
      ("u1", 1L, "2022-09-26 09:59:30.0"),
      ("u2", 1L, "2022-09-26 10:00:00.0"),
      ("u2", 1L, "2022-09-26 10:05:00.0")))
  }

  test("constant gap: String and Column forms give the same analyzed plan and rows") {
    val denied = col("result") =!= 1
    val weight = col("event_count")
    val viaString = Sessionize.deniedCounts(
      fourEvents, "evtTime", "reqUser", "1200 seconds", denied, weight)
    val viaColumn = Sessionize.deniedCountsDynamic(
      fourEvents, "evtTime", "reqUser", lit("1200 seconds"), denied, weight)
    // Spark's own String overload, spelled out: what deniedCounts must
    // keep planning as
    val viaSpark = fourEvents
      .groupBy(session_window(col("evtTime"), "1200 seconds").as("session"), col("reqUser"))
      .agg(sum(when(denied, weight).otherwise(lit(0))).as("denies"))
      .filter(col("denies") =!= 0)
      .select(col("reqUser"), col("denies"),
        col("session.start").as("session_start"), col("session.end").as("session_end"))
    def plan(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.analyzed.toString.replaceAll("#\\d+", "#_")
    assert(plan(viaString) == plan(viaColumn))
    assert(plan(viaString) == plan(viaSpark))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq.sortBy(_.mkString("|"))
    assert(rows(viaString) == rows(viaColumn))
    assert(rows(viaString) == rows(viaSpark))
    assert(rows(viaString).size == 2)
  }

  test("format projection matches the reference's output pattern") {
    val formatted = Sessionize
      .formatResults(Sessionize.auditDeniedCounts(fourEvents, 1200))
      .as[String]
      .collect()
      .sorted
    assert(formatted.length == 2)
    // epoch millis for 2022-09-26 10:10:00 UTC / 10:40:00 UTC
    assert(formatted(0) == "user='bob' denies=2 start=1664187000000 end=1664188800000")
    assert(formatted(1) == "user='wdyson' denies=10 start=1664186400000 end=1664188200000")
  }
}
