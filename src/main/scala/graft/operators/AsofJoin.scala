package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** As-of join — for each probe row, the nearest build-side event time
  * at or before (backward) / at or after (forward) the probe's time,
  * per key. Spark has no native as-of operator; the naive formulation
  * (equi-join on key + time inequality + per-pair rank) shuffles the
  * full cross product of each key group.
  *
  * This implementation is the single-shuffle union trick: tag both
  * inputs, union them, and take a per-key windowed `first`/`last` of
  * the build times over (time, side) ordering, with side tags chosen
  * so that a build row at the exact probe time falls inside the frame
  * (ASOF tie semantics, DuckDB / pandas `merge_asof`). One exchange on
  * the key, no join blowup, state is one column — this is the 100 TB
  * shape.
  */
object AsofJoin {

  /** The shared union kernel. Direction is fully described by the
    * probe/build side tags (which decide tie order), the window frame,
    * and the first/last aggregate — everything else is identical, so
    * both directions share one source of truth.
    */
  /** Tag + union the two inputs: probe rows carry their full row as a
    * struct, build rows carry a NULL struct; both expose
    * (__key, __t, __side, __row). Shared by every direction.
    */
  private def taggedUnion(
      probe: DataFrame,
      build: DataFrame,
      keyCol: String,
      timeCol: String,
      probeSide: Int,
      buildSide: Int
  ): DataFrame = {
    val pu = probe.select(
      col(keyCol).as("__key"), col(timeCol).as("__t"), lit(probeSide).as("__side"),
      struct(probe.columns.toSeq.map(col): _*).as("__row"))
    val bu = build.select(
      col(keyCol).as("__key"), col(timeCol).as("__t"), lit(buildSide).as("__side"))
      .withColumn("__row", lit(null).cast(pu.schema("__row").dataType))
    pu.unionByName(bu)
  }

  /** Keep probe rows and unpack the packed probe struct + out columns. */
  private def unpack(df: DataFrame, probeCols: Seq[String], probeSide: Int, outCols: Seq[String]): DataFrame =
    df.filter(col("__side") === probeSide)
      .select(probeCols.map(c => col(s"__row.$c")) ++ outCols.map(col): _*)

  private def unionKernel(
      probe: DataFrame,
      build: DataFrame,
      keyCol: String,
      timeCol: String,
      outCol: String,
      probeSide: Int,
      buildSide: Int,
      frame: WindowSpec => WindowSpec,
      pick: Column => Column
  ): DataFrame = {
    val w = frame(Window.partitionBy(col("__key"))
      .orderBy(col("__t").asc, col("__side").asc))

    val annotated = taggedUnion(probe, build, keyCol, timeCol, probeSide, buildSide)
      // ASOF semantics: a probe row with NULL time matches nothing
      // (t >= NULL / t <= NULL are never true) — without the guard a
      // NULL would sort first and see every build row in a following
      // frame. Build rows with NULL time are skipped by ignoreNulls.
      .withColumn(outCol,
        when(col("__t").isNotNull,
          pick(when(col("__side") === buildSide, col("__t"))).over(w)))
    unpack(annotated, probe.columns.toSeq, probeSide, Seq(outCol))
  }

  /** Backward as-of: the latest build time ≤ each probe row's time,
    * per key; null if none. Build rows sort before probe rows at equal
    * times (side 0 < 1) and the frame is strictly-previous rows, so
    * exact ties are included.
    *
    * @param probe    rows to annotate (any schema)
    * @param build    rows providing the as-of times
    * @param keyCol   equi-key present in both inputs
    * @param timeCol  orderable time column present in both inputs
    * @param outCol   name of the appended column
    */
  def lastTimeBefore(
      probe: DataFrame,
      build: DataFrame,
      keyCol: String,
      timeCol: String,
      outCol: String
  ): DataFrame =
    unionKernel(probe, build, keyCol, timeCol, outCol,
      probeSide = 1, buildSide = 0,
      frame = _.rowsBetween(Window.unboundedPreceding, -1),
      pick = c => last(c, ignoreNulls = true))

  /** Forward as-of: the earliest build time ≥ each probe row's time,
    * per key; null if none (merge_asof "forward"). Probe rows sort
    * before build rows at equal times and the frame looks strictly
    * ahead, so exact ties are included.
    */
  def firstTimeAfter(
      probe: DataFrame,
      build: DataFrame,
      keyCol: String,
      timeCol: String,
      outCol: String
  ): DataFrame =
    unionKernel(probe, build, keyCol, timeCol, outCol,
      probeSide = 0, buildSide = 1,
      frame = _.rowsBetween(1, Window.unboundedFollowing),
      pick = c => first(c, ignoreNulls = true))

  /** Nearest as-of (merge_asof "nearest"): whichever of the backward /
    * forward matches is closer in time; exact ties go backward. Both
    * directions ride ONE union and one key exchange — the second
    * window only re-sorts within the same hash partitioning (ties need
    * opposite side ordering, which a shared sort can't express).
    */
  def nearestTime(
      probe: DataFrame,
      build: DataFrame,
      keyCol: String,
      timeCol: String,
      outCol: String
  ): DataFrame = {
    // backward: build (side 0) sorts before probe at ties; the
    // strictly-previous frame then includes exact-tie build rows
    val wBack = Window.partitionBy(col("__key"))
      .orderBy(col("__t").asc, col("__side").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    // forward: probe sorts before build at ties (side desc), so the
    // strictly-following frame includes exact-tie build rows
    val wFwd = Window.partitionBy(col("__key"))
      .orderBy(col("__t").asc, col("__side").desc)
      .rowsBetween(1, Window.unboundedFollowing)

    val buildT = when(col("__side") === 0, col("__t"))
    val back = col("__back")
    val fwd = col("__fwd")
    val annotated = taggedUnion(probe, build, keyCol, timeCol, probeSide = 1, buildSide = 0)
      .withColumn("__back",
        when(col("__t").isNotNull, last(buildT, ignoreNulls = true).over(wBack)))
      .withColumn("__fwd",
        when(col("__t").isNotNull, first(buildT, ignoreNulls = true).over(wFwd)))
      // distance via direct subtraction: timestamps yield comparable
      // day-time intervals, numerics stay numeric — any orderable
      // subtractable time type works (matching the sibling kernels)
      .withColumn(outCol,
        when(back.isNull, fwd)
          .when(fwd.isNull, back)
          .when(col("__t") - back <= fwd - col("__t"), back)
          .otherwise(fwd))
    unpack(annotated, probe.columns.toSeq, probeSide = 1, Seq(outCol))
  }
}
