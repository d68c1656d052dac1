package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference's query kernel (`App.java:126-134` +
  * `AggregateDeniedCounts.java` + `WrapUserAndWindowWithCount.java`):
  * per (user, event-time session) compute a weighted conditional count of
  * denied accesses and drop all-allowed sessions.
  *
  * Spark-first mapping (SURVEY.md §2 G1/W1/A1/A2/F1):
  *
  *   groupBy(session_window(evtTime, gap), user)
  *     .agg(sum(when(denied, weight).otherwise(0)) as "denies")
  *     .filter('denies =!= 0)
  *
  * This plans as partial HashAggregate → Exchange hashpartitioning(user)
  * → session merge → final HashAggregate: the exact incremental-agg +
  * accumulator-merge structure of the reference
  * (`AggregateDeniedCounts.java:31-33`), with one shuffle, map-side
  * combine, and per-session state of a single long — no buffered rows.
  * The same function works on batch and streaming inputs (Spark's
  * unified API); on streams, call `withWatermark` upstream and run in
  * Append mode.
  */
object Sessionize {

  /** Generic sessionized conditional weighted count.
    *
    * @param events   input rows (batch or streaming)
    * @param timeCol  event-time column name (must be TimestampType; on
    *                 streams, the watermarked column)
    * @param keyCol   session key column name
    * @param gap      inactivity gap, e.g. "600 seconds"
    * @param denied   predicate marking a "counted" event
    * @param weight   per-event weight added when `denied` holds
    * @return         (key, denies, session_start, session_end); rows with
    *                 denies == 0 are dropped (HAVING of `App.java:132`).
    *                 `session_end` is last-event-time + gap (Spark
    *                 session_window semantics).
    */
  def deniedCounts(
      events: DataFrame,
      timeCol: String,
      keyCol: String,
      gap: String,
      denied: Column,
      weight: Column
  ): DataFrame =
    // Spark's own `session_window(Column, String)` is
    // `session_window(timeColumn, lit(gapDuration))`: same plan
    deniedCountsDynamic(events, timeCol, keyCol, lit(gap), denied, weight)

  /** Dynamic-gap variant: the inactivity gap is a per-EVENT expression
    * (e.g. shorter sessions after error events) — Spark's dynamic
    * `session_window(time, gapExpr)`. Merge semantics: an event extends
    * its session to `ts + gap(event)`; sessions merge while the next
    * event's time is ≤ the running max of those ends, so a later
    * small-gap event never shrinks a window already extended. Same
    * single-shuffle plan and per-session one-number state as the fixed
    * form.
    */
  def deniedCountsDynamic(
      events: DataFrame,
      timeCol: String,
      keyCol: String,
      gapExpr: Column,
      denied: Column,
      weight: Column
  ): DataFrame =
    events
      .groupBy(session_window(col(timeCol), gapExpr).as("session"), col(keyCol))
      .agg(sum(when(denied, weight).otherwise(lit(0))).as("denies"))
      .filter(col("denies") =!= 0)
      .select(
        col(keyCol),
        col("denies"),
        col("session.start").as("session_start"),
        col("session.end").as("session_end")
      )

  /** The reference pipeline verbatim: key = reqUser, denied = result != 1,
    * weight = event_count (`AggregateDeniedCounts.java:8-13`). The gap
    * must be positive: Spark's `session_window` silently yields no
    * sessions for a zero or negative gap, and Flink's
    * `EventTimeSessionWindows` rejects one.
    */
  def auditDeniedCounts(audits: DataFrame, gapSeconds: Long): DataFrame = {
    require(gapSeconds > 0, s"session.duration must be positive, got: $gapSeconds")
    val Seq(key, time, result, weight) = AuditFields
    deniedCounts(
      audits,
      timeCol = time,
      keyCol = key,
      gap = s"$gapSeconds seconds",
      denied = col(result) =!= 1,
      weight = col(weight)
    )
  }

  /** The `Audit` fields [[auditDeniedCounts]] reads — key, event time,
    * result, weight — and so all a caller needs to parse for it
    * ([[AuditJson.parse]]).
    */
  val AuditFields: Seq[String] = Seq("reqUser", "evtTime", "result", "event_count")

  /** F2 of the reference: the stdout/Kafka string projection
    * (`App.java:69-74`), epoch millis for the window bounds.
    */
  def formatResults(results: DataFrame, keyCol: String = "reqUser"): DataFrame =
    results.select(
      format_string(
        "user='%s' denies=%d start=%d end=%d",
        col(keyCol),
        col("denies"),
        unix_millis(col("session_start")),
        unix_millis(col("session_end"))
      ).as("value")
    )
}
