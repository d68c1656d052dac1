package graft

import java.sql.Timestamp

import graft.operators.TimeSeries

class TimeSeriesSpec extends SparkSpec {

  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  // user 1: values at 00:10, 00:40 (same bucket), 03:20 — gap over 01,02
  // user 2: single event
  private lazy val events = Seq(
    (1L, ts("2024-01-01 00:10:00"), 10.0, 100L),
    (1L, ts("2024-01-01 00:40:00"), 11.0, 101L),
    (1L, ts("2024-01-01 03:20:00"), 12.0, 102L),
    (2L, ts("2024-01-01 05:00:00"), 99.0, 103L)
  ).toDF("user_id", "ts", "value", "event_id")

  test("hourly grid: last-in-bucket wins, gaps forward-fill, span is per-key") {
    val out = TimeSeries.resampleFfill(events, "user_id", "ts", "value", "event_id", 3600L)
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).toString, r.getDouble(2)))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(out == Seq(
      (1L, "2024-01-01 00:00:00.0", 11.0), // last of the two in bucket 0
      (1L, "2024-01-01 01:00:00.0", 11.0), // filled
      (1L, "2024-01-01 02:00:00.0", 11.0), // filled
      (1L, "2024-01-01 03:00:00.0", 12.0),
      (2L, "2024-01-01 05:00:00.0", 99.0)  // span starts at user 2's first event
    ))
  }

  test("rollingZscore: trailing baseline excludes the current row; degenerate -> 0") {
    val ev = Seq(
      (1L, ts("2024-01-01 00:00:00"), 10.0, 1L),
      (1L, ts("2024-01-01 01:00:00"), 10.0, 2L),  // n=1 trailing -> 0
      (1L, ts("2024-01-01 02:00:00"), 10.0, 3L),  // baseline {10,10}: var 0 -> 0
      (1L, ts("2024-01-01 03:00:00"), 16.0, 4L),  // baseline {10,10,10}: var 0 -> 0
      (1L, ts("2024-01-01 04:00:00"), 13.0, 5L)   // baseline {10,10,10,16}
    ).toDF("user_id", "ts", "value", "event_id")
    val z = TimeSeries.rollingZscore(ev, "user_id", "ts", "value", "event_id",
      window = 5, keep = Seq("event_id"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(z(1L) == 0.0 && z(2L) == 0.0 && z(3L) == 0.0 && z(4L) == 0.0)
    // baseline mean 11.5, var = (100*3+256)/4 - 132.25 = 6.75
    val expected = (13.0 - 11.5) / math.sqrt(556.0 / 4 - 11.5 * 11.5)
    assert(math.abs(z(5L) - expected) < 1e-12, s"z=${z(5L)} expected=$expected")
  }

  test("timestamp tie within a bucket breaks by the tie column") {
    val tied = Seq(
      (1L, ts("2024-01-01 00:00:00"), 1.0, 1L),
      (1L, ts("2024-01-01 00:00:00"), 2.0, 2L)
    ).toDF("user_id", "ts", "value", "event_id")
    val out = TimeSeries.resampleFfill(tied, "user_id", "ts", "value", "event_id", 3600L)
      .select("value").as[Double].collect()
    assert(out.toSeq == Seq(2.0))
  }
}
