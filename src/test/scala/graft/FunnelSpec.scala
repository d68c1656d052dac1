package graft

import java.sql.Timestamp

import graft.operators.Funnel

class FunnelSpec extends SparkSpec {

  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  // u1 completes A→B→C in order; u2 has B before A (B must not count);
  // u3 only A; u4 never enters the funnel
  private lazy val events = Seq(
    (1L, ts("2024-01-01 00:00:00"), "A"),
    (1L, ts("2024-01-01 00:10:00"), "B"),
    (1L, ts("2024-01-01 00:20:00"), "C"),
    (2L, ts("2024-01-01 00:00:00"), "B"),
    (2L, ts("2024-01-01 00:10:00"), "A"),
    (2L, ts("2024-01-01 00:30:00"), "C"),
    (3L, ts("2024-01-01 01:00:00"), "A"),
    (4L, ts("2024-01-01 02:00:00"), "X")
  ).toDF("user_id", "ts", "event_type")

  test("stage times require strict ordering; n_steps counts the reached prefix") {
    val out = Funnel.steps(events, "user_id", "ts", "event_type", Seq("A", "B", "C"))
      .collect()
      .map(r => r.getLong(0) ->
        (Option(r.getTimestamp(1)), Option(r.getTimestamp(2)), Option(r.getTimestamp(3)), r.getInt(4)))
      .toMap
    assert(out(1L)._4 == 3)
    assert(out(1L)._2.contains(ts("2024-01-01 00:10:00")))
    // u2: B at 00:00 precedes A — no qualifying B, so C can't qualify either
    assert(out(2L) == ((Some(ts("2024-01-01 00:10:00")), None, None, 1)))
    assert(out(3L)._4 == 1)
    assert(out(4L) == ((None, None, None, 0)))
  }

  test("same-timestamp stage events do NOT advance (strictly-after rule)") {
    val sameTs = Seq(
      (1L, ts("2024-01-01 00:00:00"), "A"),
      (1L, ts("2024-01-01 00:00:00"), "B")
    ).toDF("user_id", "ts", "event_type")
    val r = Funnel.steps(sameTs, "user_id", "ts", "event_type", Seq("A", "B")).head()
    assert(r.getInt(3) == 1)
  }

  test("property: input row order/partitioning never changes funnel results") {
    val rng = new scala.util.Random(7)
    val types = Array("A", "B", "C", "X")
    val evts = (1 to 400).map { i =>
      ((i % 23).toLong, ts(f"2024-01-01 ${rng.nextInt(24)}%02d:${rng.nextInt(60)}%02d:00"),
        types(rng.nextInt(types.length)))
    }
    def run(rows: Seq[(Long, java.sql.Timestamp, String)], parts: Int) =
      Funnel.steps(rows.toDF("user_id", "ts", "event_type").repartition(parts),
        "user_id", "ts", "event_type", Seq("A", "B", "C"))
        .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
          r.getTimestamp(3), r.getInt(4))).toSet
    val a = run(evts, 1)
    val b = run(rng.shuffle(evts), 7)
    assert(a == b)
    assert(a.size == 23)
  }

  test("funnel plans a single exchange (windows + final collapse share the user hash)") {
    val plan = Funnel.steps(events, "user_id", "ts", "event_type", Seq("A", "B", "C"))
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected 1 exchange, got $exchanges:\n$plan")
  }
}
