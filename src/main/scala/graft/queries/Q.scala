package graft.queries

import scala.reflect.ClassTag
import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, IsNotNull}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.GraftSession

/** One named, driver-checkable query: a Spark DataFrame program plus (when
  * SQL-expressible) an equivalent ANSI SQL string the driver runs in DuckDB
  * on the same parquet tables. Column names AND types must match between
  * the two — the driver sorts columns by name and hash-compares values.
  */
final case class Q(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String]
)

object Q {

  /** Load one of the driver-generated tables from the given sf directory. */
  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") events(spark, dir) else spark.read.parquet(s"$dir/$name.parquet")

  /** The events table's `ts` unit depends on the fixture generation:
    * earlier driver testdata wrote parquet TIMESTAMP(NANOS) (which Spark
    * cannot read natively — the legacy conf surfaces it as a nanos long),
    * current testdata writes TIMESTAMP(MICROS) (a native TimestampType).
    * Adapt on the observed schema instead of assuming either: a hardcoded
    * nanos path threw on the micros fixture and silently killed every
    * events-table query in round 8. The ns→us truncation is lossless here
    * (generator emits whole microseconds; DuckDB truncates identically).
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(s"$dir/events.parquet")
    val ts = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => expr("timestamp_micros(ts div 1000)")
      // micros fixture surfaces as TIMESTAMP_NTZ (no UTC-adjust flag in the
      // file). The session is pinned to UTC (GraftSession), so the cast to
      // the instant type is wall-clock-identical — and downstream operators
      // (session windows, unix_millis) require TimestampType.
      case org.apache.spark.sql.types.TimestampNTZType => col("ts").cast("timestamp")
      case _                                           => col("ts")
    }
    raw
      .withColumn("ts", ts)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
  }

  /** The decoder gates' key source: the nation table's 25 keys as one
    * BIGINT column named `key`. Gate and oracle enumerate the same keys
    * (`CAST(n_nationkey AS BIGINT)` on the DuckDB side).
    */
  def nationKeys(spark: SparkSession, dir: String, key: String): DataFrame =
    t(spark, dir, "nation").select(col("n_nationkey").cast("long").as(key))

  /** Fixture frame: `keys` plus a column `value` holding `f(key)`, which
    * the executor computes per row from the BIGINT column `key`. The
    * one way a gate or probe turns keys into synthetic input rows; the
    * byte writers `f` calls stay in their operator objects, next to the
    * decoders they share format code with.
    */
  def fixture[T: TypeTag](keys: DataFrame, key: String, value: String)(f: Long => T): DataFrame =
    keys.withColumn(value, udf(f).apply(col(key)))

  /** Exact decimal sum cast back to double.
    *
    * Cross-engine float discipline: double sums depend on reduction order,
    * so a Spark `sum(double)` will not hash-match DuckDB bit-for-bit.
    * Summing in decimal is exact and order-independent in both engines;
    * the final cast to double is then deterministic. The data's numeric
    * columns carry ≤2 fractional digits, so DECIMAL(18,4) is lossless.
    */
  def dsum(c: Column): Column = sum(c.cast(DecimalType(18, 4))).cast("double")

  /** Order-independent average: exact decimal sum / count, divided as
    * doubles (single deterministic division in both engines).
    */
  def davg(c: Column): Column = dsum(c) / count(lit(1))

  /** Per-invocation scratch directory for source/sink round-trip queries,
    * deleted recursively on JVM exit so repeated Bench/Verify runs don't
    * accumulate temp data. Unique per call: a shared path would race when
    * two processes (Bench + Verify) hit the same sf dir concurrently.
    * One static shutdown hook drains a shared queue — repeated calls in
    * a long-lived session (Bench repeats) don't grow the hook list.
    */
  private val scratchDirs = new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]()
  private lazy val scratchHook: Unit = Runtime.getRuntime.addShutdownHook(new Thread(() => {
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete(): Unit
    }
    scratchDirs.forEach(rm(_))
  }))

  def scratch(prefix: String): String = {
    scratchHook
    val dir = java.nio.file.Files
      .createTempDirectory(s"graft_${prefix}_")
      .toFile
    scratchDirs.add(dir)
    dir.getAbsolutePath
  }

  /** Drop a managed table AND its warehouse directory, covering the
    * orphan case: a directory written by a PREVIOUS JVM whose
    * in-memory-catalog entry died with that JVM. `DROP TABLE IF EXISTS`
    * alone removes only what the current catalog knows; a later
    * `saveAsTable` then dies with LOCATION_ALREADY_EXISTS on the
    * orphaned dir (this silently cost `q_bucketed_join` its round-10
    * correctness entry). Deleting the location explicitly makes
    * create-or-replace gates idempotent across sessions.
    */
  def dropManagedTable(spark: SparkSession, name: String): Unit = {
    // resolve the REAL location from the catalog while the table still
    // exists (covers qualified names and a non-default current
    // database); the warehouse-path heuristic remains only for the
    // orphan case, where no catalog entry survives to ask
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(name)
    val catalogLoc: Option[org.apache.hadoop.fs.Path] =
      try {
        if (spark.catalog.tableExists(name)) {
          val meta = spark.sessionState.catalog.getTableMetadata(ident)
          if (meta.tableType == org.apache.spark.sql.catalyst.catalog.CatalogTableType.MANAGED)
            Some(new org.apache.hadoop.fs.Path(meta.location))
          else None // never delete data an EXTERNAL table points at
        } else None
      } catch { case _: Exception => None }
    spark.sql(s"DROP TABLE IF EXISTS ${ident.quotedString}")
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val lower = (s: String) => s.toLowerCase(java.util.Locale.ROOT)
    // orphan fallback mirrors the in-memory catalog's layout:
    // wh/<table> for the default database, wh/<db>.db/<table> otherwise
    val path = catalogLoc.getOrElse(
      ident.database.filter(_ != "default") match {
        case Some(db) => new org.apache.hadoop.fs.Path(
          new org.apache.hadoop.fs.Path(wh, s"${lower(db)}.db"), lower(ident.table))
        case None => new org.apache.hadoop.fs.Path(wh, lower(ident.table))
      })
    val fs = GraftSession.fileSystem(spark, path)
    if (fs.exists(path)) { fs.delete(path, true): Unit }
  }

  /** Recursive plan walk shared by [[planNodes]] and the subtree scans
    * of individual gate assertions: after execution AQE folds subtrees
    * into materialized query stages whose plan hangs off a field
    * (children is empty) — an assertion made post-collect must still
    * see inside them. ReusedExchange stays a leaf: a reused exchange
    * is ONE physical shuffle, and recursing would double-count it.
    */
  private def walkPlan(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    p +: (p match {
      case a: AdaptiveSparkPlanExec => walkPlan(a.executedPlan)
      case s: QueryStageExec        => walkPlan(s.plan)
      case other                    => other.children.flatMap(walkPlan)
    })
  }

  /** Every physical node of the frame's executed plan, with AQE's
    * wrapper unwrapped (AdaptiveSparkPlanExec is a leaf to `collect` —
    * its current plan hangs off a field, not `children`). Gates assert
    * scale-critical plan facts against TYPED nodes from this list
    * instead of substring-matching `toString` output, whose shape is
    * not a stable API across Spark versions.
    */
  def planNodes(df: DataFrame): Seq[org.apache.spark.sql.execution.SparkPlan] =
    walkPlan(df.queryExecution.executedPlan)

  private def fileScans(df: DataFrame): Seq[FileSourceScanExec] =
    planNodes(df).collect { case s: FileSourceScanExec => s }

  /** Gate assertion: a file scan prunes at the file index on partition
    * column `column` — a partition filter on it other than the
    * `isnotnull` Spark adds to every such filter set.
    */
  def requirePartitionFilter(df: DataFrame, column: String): Unit = {
    val hit = fileScans(df).exists(_.partitionFilters.exists(f =>
      !f.isInstanceOf[IsNotNull] && f.references.exists(_.name == column)))
    require(hit,
      s"expected a partition filter on `$column` at the file scan:\n" +
        df.queryExecution.executedPlan)
  }

  /** Gate assertion: a file scan carries a dynamic partition-pruning
    * filter — the join's other side selects the partitions it lists.
    */
  def requireDynamicPruning(df: DataFrame): Unit = {
    import org.apache.spark.sql.catalyst.expressions.DynamicPruning
    val hit = fileScans(df).exists(_.partitionFilters.exists(
      _.exists(_.isInstanceOf[DynamicPruning])))
    require(hit,
      s"expected dynamic partition pruning at a file scan:\n" +
        df.queryExecution.executedPlan)
  }

  /** Gate assertion: a file scan's data filters contain an `E` node —
    * the predicate evaluates at the scan, below any exchange.
    */
  def requireDataFilter[E <: Expression](df: DataFrame)(implicit e: ClassTag[E]): Unit = {
    val hit = fileScans(df).exists(_.dataFilters.exists(_.exists(e.runtimeClass.isInstance)))
    require(hit,
      s"expected a ${e.runtimeClass.getSimpleName} data filter at the file scan:\n" +
        df.queryExecution.executedPlan)
  }

  /** Gate assertion: the plan reads its input through exactly `n` file
    * scans.
    */
  def requireFileScans(df: DataFrame, n: Int): Unit = {
    val found = fileScans(df).size
    require(found == n,
      s"expected $n file scan(s), found $found:\n${df.queryExecution.executedPlan}")
  }

  /** Gate assertion: a map-side (Partial-mode) WindowGroupLimit with
    * exactly this cap sits in the plan — each map task forwards at most
    * `cap` rows per group BELOW the exchange, so a pathologically hot
    * group's full mass never crosses the shuffle.
    */
  def requireMapSideGroupLimit(df: DataFrame, cap: Int): Unit = {
    import org.apache.spark.sql.execution.window.{Partial, WindowGroupLimitExec}
    val hit = planNodes(df).exists {
      case w: WindowGroupLimitExec => w.mode == Partial && w.limit == cap
      case _                       => false
    }
    require(hit,
      s"expected a map-side (Partial) WindowGroupLimit with limit=$cap below the exchange:\n" +
        df.queryExecution.executedPlan)
  }

  /** Gate assertion: at least one broadcast hash join in the plan (the
    * small side rides a broadcast; the big side never repartitions).
    */
  def requireBroadcastJoin(df: DataFrame): Unit = {
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val hit = planNodes(df).exists(_.isInstanceOf[BroadcastHashJoinExec])
    require(hit,
      s"expected a broadcast hash join in the plan:\n${df.queryExecution.executedPlan}")
  }

  /** Gate assertion: the plan's top-k runs as TakeOrderedAndProject —
    * per-partition heaps + one driver merge — never a global sort.
    */
  def requireTakeOrdered(df: DataFrame): Unit = {
    import org.apache.spark.sql.execution.TakeOrderedAndProjectExec
    val hit = planNodes(df).exists(_.isInstanceOf[TakeOrderedAndProjectExec])
    require(hit,
      s"expected TakeOrderedAndProject (top-k without a global sort):\n" +
        df.queryExecution.executedPlan)
  }

  /** Gate assertion: at least one sort-merge join whose ENTIRE subtree
    * contains no shuffle exchange — the co-located (bucketed) join:
    * both sides arrive pre-partitioned on the join key, so the join
    * itself moves no data.
    */
  def requireColocatedJoin(df: DataFrame): Unit = {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    val hit = planNodes(df).exists {
      case j: SortMergeJoinExec =>
        // the subtree scan must use the SAME stage-piercing walk as
        // planNodes: post-collect a shuffled input hides inside a
        // ShuffleQueryStage leaf, and a plain collect would certify a
        // shuffled join as co-located. A ReusedExchangeExec is a leaf
        // to the walk (one physical shuffle, counted at its original
        // site) but for THIS existence check an AQE-reused shuffle
        // feeding the join still means the join's input shuffled —
        // treat a reused shuffle exchange as a shuffle here.
        !walkPlan(j).drop(1).exists {
          case _: ShuffleExchangeLike => true
          case r: ReusedExchangeExec  => r.child.isInstanceOf[ShuffleExchangeLike]
          case _                      => false
        }
      case _ => false
    }
    require(hit,
      s"expected a shuffle-free (co-located) sort-merge join:\n" +
        df.queryExecution.executedPlan)
  }

  /** Gate assertion: at least one window-function operator in the plan
    * — the distributed formulation of a ranking/prefix-sum step (vs a
    * driver-side collect-and-sort, which leaves no WindowExec behind).
    */
  def requireWindow(df: DataFrame): Unit = {
    import org.apache.spark.sql.execution.window.WindowExec
    val hit = planNodes(df).exists(_.isInstanceOf[WindowExec])
    require(hit,
      s"expected a window-function operator in the plan:\n" +
        df.queryExecution.executedPlan)
  }

  /** Gate assertion: ZERO shuffle exchanges anywhere in the plan — the
    * query is map-only end to end (decode/screen/projection gates).
    */
  def requireNoShuffle(df: DataFrame): Unit = requireMaxShuffles(df, 0)

  /** Gate assertion: at most `n` shuffle exchanges in the plan — the
    * typed shuffle BUDGET for composed pipelines whose scale story is
    * "the corpus crosses the wire exactly k times".
    */
  def requireMaxShuffles(df: DataFrame, n: Int): Unit = {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val shuffles = planNodes(df).filter(_.isInstanceOf[ShuffleExchangeLike])
    require(shuffles.size <= n,
      s"expected at most $n shuffle(s), found ${shuffles.size}:\n" +
        df.queryExecution.executedPlan)
  }
}
