package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.operators.Sessionize

/** Queries exercising the reference-derived operators (SURVEY.md §2) on the
  * driver's `events` table. Mapping (FIXTURES.md §3): `user_id` ↔ reqUser,
  * `ts` ↔ evtTime, `event_type='error'` ↔ denied (`result != 1`),
  * `value` ↔ `event_count` weight, `props` ↔ the raw-JSON parse surface.
  */
object SessionQueries {

  /** Inactivity gap for the sessionization queries (seconds). */
  val GapSeconds = 1800L

  /** DuckDB gaps-and-islands equivalent of `session_window`:
    * lag → new-session flag at gap boundary → running sum = session id.
    * Spark merges closed-interval (events exactly `gap` apart share a
    * session — pinned in SessionizeSpec), so a new session starts only
    * when diff > gap. Deterministic tie-break on event_id.
    */
  private def islands(gapSec: Long): String =
    s"""WITH lagged AS (
       |  SELECT user_id, ts, event_type, value, event_id,
       |         LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
       |  FROM events
       |), flagged AS (
       |  SELECT *, CASE WHEN prev_ts IS NULL
       |                   OR ts > prev_ts + INTERVAL $gapSec SECOND
       |                 THEN 1 ELSE 0 END AS new_sess
       |  FROM lagged
       |), sess AS (
       |  SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |              ROWS UNBOUNDED PRECEDING) AS sid
       |  FROM flagged
       |)""".stripMargin

  val all: Seq[Q] = Seq(

    // Dynamic-gap sessionization (per-event gap expression): error
    // events allow only a 300 s lull, others 1800 s. The oracle's
    // gaps-and-islands must use a RUNNING MAX of per-event ends (a
    // later short-gap event never shrinks a window already extended) —
    // the lag-only form of the fixed-gap oracle is wrong here.
    Q(
      "q_sessionize_dynamic",
      (spark, dir) =>
        Sessionize
          .deniedCountsDynamic(
            Q.t(spark, dir, "events"),
            timeCol = "ts",
            keyCol = "user_id",
            gapExpr = when(col("event_type") === "error", "300 seconds")
              .otherwise(s"$GapSeconds seconds"),
            denied = col("event_type") === "error",
            weight = col("value").cast(DecimalType(18, 4))
          )
          .withColumn("denies", col("denies").cast("double")),
      Some(
        s"""WITH ev AS (
           |  SELECT user_id, ts, event_type, value, event_id, epoch_us(ts) AS eus,
           |         CASE WHEN event_type = 'error' THEN 300000000
           |              ELSE ${GapSeconds * 1000000L} END AS gap_us
           |  FROM events
           |), lagged AS (
           |  SELECT *, MAX(eus + gap_us) OVER (PARTITION BY user_id ORDER BY ts, event_id
           |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS run_end
           |  FROM ev
           |), flagged AS (
           |  SELECT *, CASE WHEN run_end IS NULL OR eus > run_end THEN 1 ELSE 0 END AS new_sess
           |  FROM lagged
           |), sess AS (
           |  SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
           |              ROWS UNBOUNDED PRECEDING) AS sid
           |  FROM flagged
           |)
           |SELECT user_id,
           |       CAST(SUM(CASE WHEN event_type = 'error'
           |                     THEN CAST(value AS DECIMAL(18,4))
           |                     ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) AS denies,
           |       make_timestamp(MIN(eus)) AS session_start,
           |       make_timestamp(MAX(eus + gap_us)) AS session_end
           |FROM sess
           |GROUP BY user_id, sid
           |HAVING SUM(CASE WHEN event_type = 'error'
           |                THEN CAST(value AS DECIMAL(18,4))
           |                ELSE CAST(0 AS DECIMAL(18,4)) END) <> 0""".stripMargin
      )
    ),

    // Per-EVENT session attribution — the feature-engineering join
    // that tags every event with its session's start and size: ALL
    // sessions (no deny filter) from the same session_window
    // aggregation, then an equi-join on the user with the range
    // predicate as residual. The shuffle hashes on user_id and each
    // user has few sessions, so there is no interval replication;
    // every event matches exactly one session (sessions are disjoint
    // and end = last event + gap).
    Q(
      "q_session_attribution",
      (spark, dir) => {
        val ev = Q.events(spark, dir)
        val sessions = ev
          .groupBy(session_window(col("ts"), s"$GapSeconds seconds").as("session"),
            col("user_id"))
          .agg(count(lit(1)).as("n_events"))
          .select(col("user_id"), col("session.start").as("session_start"),
            col("session.end").as("session_end"), col("n_events"))
        ev.select(col("event_id"), col("user_id"), col("ts"))
          .join(sessions, Seq("user_id"))
          .filter(col("ts") >= col("session_start") && col("ts") < col("session_end"))
          .select(col("event_id"), col("user_id"), col("session_start"),
            col("n_events"))
      },
      Some(
        s"""${islands(GapSeconds)}, s AS (
           |  SELECT user_id, sid, MIN(ts) AS session_start, COUNT(*) AS n_events
           |  FROM sess GROUP BY user_id, sid
           |)
           |SELECT e.event_id, e.user_id, s.session_start, s.n_events
           |FROM sess e JOIN s ON e.user_id = s.user_id AND e.sid = s.sid""".stripMargin
      )
    ),

    // W1 + A1 + A2 + F1: event-time session window, incremental
    // conditional weighted count, window finalizer, HAVING != 0.
    Q(
      "q_sessionize",
      (spark, dir) =>
        Sessionize
          .deniedCounts(
            Q.t(spark, dir, "events"),
            timeCol = "ts",
            keyCol = "user_id",
            gap = s"$GapSeconds seconds",
            denied = col("event_type") === "error",
            weight = col("value").cast(DecimalType(18, 4))
          )
          .withColumn("denies", col("denies").cast("double")),
      Some(
        s"""${islands(GapSeconds)}
           |SELECT user_id,
           |       CAST(SUM(CASE WHEN event_type = 'error'
           |                     THEN CAST(value AS DECIMAL(18,4))
           |                     ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) AS denies,
           |       MIN(ts) AS session_start,
           |       MAX(ts) + INTERVAL $GapSeconds SECOND AS session_end
           |FROM sess
           |GROUP BY user_id, sid
           |HAVING SUM(CASE WHEN event_type = 'error'
           |                THEN CAST(value AS DECIMAL(18,4))
           |                ELSE CAST(0 AS DECIMAL(18,4)) END) <> 0""".stripMargin
      )
    ),

    // F2: the stdout/Kafka string projection (App.java:69-74) over an
    // integer-weighted session count (weight 1 per denied event).
    Q(
      "q_session_format",
      (spark, dir) =>
        Sessionize.formatResults(
          Sessionize.deniedCounts(
            Q.t(spark, dir, "events"),
            timeCol = "ts",
            keyCol = "user_id",
            gap = s"$GapSeconds seconds",
            denied = col("event_type") === "error",
            weight = lit(1L)
          ),
          keyCol = "user_id"
        ),
      Some(
        s"""${islands(GapSeconds)}
           |SELECT printf('user=''%d'' denies=%d start=%d end=%d',
           |              user_id,
           |              CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT),
           |              epoch_ms(MIN(ts)),
           |              epoch_ms(MAX(ts) + INTERVAL $GapSeconds SECOND)) AS value
           |FROM sess
           |GROUP BY user_id, sid
           |HAVING SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) <> 0""".stripMargin
      )
    ),

    // P1: lenient JSON parse (from_json PERMISSIVE) of the props column.
    Q(
      "q_parse_json",
      (spark, dir) =>
        Q.t(spark, dir, "events")
          .select(
            col("event_id"),
            get_json_object(col("props"), "$.k").cast("int").as("k")
          ),
      Some(
        """SELECT event_id,
          |       CAST(json_extract_string(props, '$.k') AS INT) AS k
          |FROM events""".stripMargin
      )
    ),

    // S2 analog: date-partition pruning predicate (DateFileFilter) as a
    // pushed-down min-date filter.
    Q(
      "q_date_prune",
      (spark, dir) =>
        Q.t(spark, dir, "events")
          .filter(col("ts") >= lit("2024-01-03 00:00:00").cast("timestamp"))
          .select(col("event_id"), col("ts"), col("user_id")),
      Some(
        """SELECT event_id, ts, user_id
          |FROM events
          |WHERE ts >= TIMESTAMP '2024-01-03 00:00:00'""".stripMargin
      )
    ),

    // S2 proper: an ACTUAL dt=YYYYMMDD partition prune, load-bearing in
    // the gate. The query round-trips events through a Hive-partitioned
    // scratch layout (30 dt partitions), reads it back with a dt
    // predicate, and REQUIREs the scan's PartitionFilters to carry it —
    // Catalyst skips the below-min-date directories at listing time,
    // the exact DateFileFilter effect the bare-tree path approximates.
    // The oracle reads the same rows via the equivalent ts predicate
    // (dt is the UTC day of ts, so a whole-day dt bound == a midnight
    // ts bound).
    Q(
      "q_date_prune_partitioned",
      (spark, dir) => {
        val scratch = Q.scratch("dtprune")
        Q.t(spark, dir, "events")
          .withColumn("dt", date_format(col("ts"), "yyyyMMdd"))
          .write.mode("overwrite").partitionBy("dt").parquet(scratch)
        val df = spark.read.parquet(scratch)
          .filter(col("dt") >= lit(20240115))
          .select(col("event_id"), col("ts"), col("user_id"))
        Q.requirePartitionFilter(df, "dt")
        df
      },
      Some(
        """SELECT event_id, ts, user_id
          |FROM events
          |WHERE ts >= TIMESTAMP '2024-01-15 00:00:00'""".stripMargin
      )
    ),

    // T1 analog (batch twin of the 2-day bounded-out-of-orderness
    // watermark): drop rows older than max event time minus 2 days.
    Q(
      "q_late_drop",
      (spark, dir) => {
        val ev = Q.t(spark, dir, "events")
        val bound = ev.agg(
          (max(col("ts")) - expr("INTERVAL 2 DAYS")).as("wm")
        )
        // broadcast the 1-row bound — no driver collect, no shuffle
        ev.crossJoin(broadcast(bound))
          .filter(col("ts") >= col("wm"))
          .select(col("event_id"), col("ts"), col("user_id"))
      },
      Some(
        """SELECT event_id, ts, user_id
          |FROM events
          |WHERE ts >= (SELECT MAX(ts) - INTERVAL 2 DAY FROM events)""".stripMargin
      )
    ),

    // Composability: per-user statistics over the sessionized output
    // (count/sum/max of denied sessions, longest session duration).
    Q(
      "q_session_stats",
      (spark, dir) => {
        val sessions = Sessionize.deniedCounts(
          Q.t(spark, dir, "events"),
          timeCol = "ts", keyCol = "user_id",
          gap = s"$GapSeconds seconds",
          denied = col("event_type") === "error",
          weight = lit(1L))
        sessions
          .groupBy(col("user_id"))
          .agg(
            count(lit(1)).as("n_sessions"),
            sum(col("denies")).as("total_denies"),
            max(col("denies")).as("max_denies"),
            max(unix_millis(col("session_end")) -
              unix_millis(col("session_start"))).as("max_dur_ms"))
      },
      Some(
        s"""${islands(GapSeconds)}, s AS (
           |  SELECT user_id,
           |         CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS denies,
           |         epoch_ms(MIN(ts)) AS st,
           |         epoch_ms(MAX(ts) + INTERVAL $GapSeconds SECOND) AS en
           |  FROM sess GROUP BY user_id, sid
           |  HAVING SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) <> 0)
           |SELECT user_id,
           |       COUNT(*) AS n_sessions,
           |       CAST(SUM(denies) AS BIGINT) AS total_denies,
           |       MAX(denies) AS max_denies,
           |       MAX(en - st) AS max_dur_ms
           |FROM s GROUP BY user_id""".stripMargin
      )
    )
  )
}
