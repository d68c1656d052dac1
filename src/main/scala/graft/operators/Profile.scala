package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Data profiling — the intake report a pipeline runs before trusting a
  * new source: per column, row count, null count, and exact distinct
  * count. One aggregation job per profiled column unioned into a single
  * result (each is one partial-aggregated shuffle; `count distinct`
  * plans as the standard two-phase expand — swap in HLL
  * (`approx_count_distinct`) at 100 TB when exactness isn't required,
  * mirroring the q_hll_distinct / q_approx_distinct pair).
  *
  * Output: (column, n_rows, n_null, n_distinct) — all exact integers,
  * so the oracle is a UNION ALL of per-column SELECTs.
  */
object Profile {

  def columns(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "Profile.columns: need at least one column")
    cols.map { c =>
      df.agg(
        count(lit(1)).as("n_rows"),
        count(when(col(c).isNull, lit(1))).as("n_null"),
        countDistinct(col(c)).as("n_distinct"))
        .select(lit(c).as("column"), col("n_rows"), col("n_null"),
          col("n_distinct"))
    }.reduce(_ unionAll _)
  }

  /** The intake-scale profile: same (column, n_rows, n_null,
    * n_distinct) report as [[columns]] from ONE scan of the table —
    * every per-column counter and an HLL++ distinct sketch
    * (`approx_count_distinct`, relative error `rsd`) ride a single
    * aggregation into one wide row, which a map-side explode then
    * unpivots back to one row per column. Profiling C columns of a
    * 100 TB table costs one scan + one scalar-state shuffle instead of
    * [[columns]]'s C scans and C exact-distinct expands; keep the
    * exact variant for narrow tables where exactness matters more
    * than passes.
    */
  def columnsFast(df: DataFrame, cols: Seq[String], rsd: Double = 0.05): DataFrame = {
    require(cols.nonEmpty, "Profile.columnsFast: need at least one column")
    val aggs = count(lit(1)).as("n_rows") +:
      cols.flatMap(c => Seq(
        count(when(col(c).isNull, lit(1))).as(s"__null_$c"),
        approx_count_distinct(col(c), rsd).as(s"__dist_$c")))
    val entries = cols.map(c => struct(
      lit(c).as("column"), col("n_rows"),
      col(s"__null_$c").as("n_null"), col(s"__dist_$c").as("n_distinct")))
    df.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(entries: _*)).as("p"))
      .select("p.*")
  }

  /** k-anonymity audit: annotate every row with the size of its
    * quasi-identifier group and whether that group clears `k` — the
    * release gate for training exports carrying attributes that could
    * re-identify a person when combined (Sweeney's k-anonymity model).
    * Rows with `keep = false` are the ones a privacy-preserving export
    * must suppress or generalize.
    *
    * Scale shape: quasi-identifier combinations are low-cardinality by
    * construction (that is what makes them quasi-identifiers), so the
    * group-size table partial-aggregates to a tiny frame that joins
    * back by BROADCAST — the corpus is scanned twice but never
    * shuffled. The window-count alternative would hash-partition the
    * full corpus by group; this shape stays scan-bound at 100 TB.
    */
  def kAnonymity(
      df: DataFrame,
      quasiIds: Seq[String],
      k: Long,
      maxBroadcastGroups: Long = DefaultMaxBroadcastGroups
  ): DataFrame = {
    require(quasiIds.nonEmpty, "Profile.kAnonymity: need at least one quasi-identifier")
    val groups = df
      .groupBy(quasiIds.map(col): _*)
      .agg(count(lit(1)).as("k_group"))
    // QI cardinality is CALLER-controlled (a near-unique attribute or a
    // too-fine bucket makes the "small by construction" claim false), and
    // a force-broadcast of a huge group table OOMs the driver instead of
    // degrading. guardedSide collects at most one row past the
    // threshold and only broadcasts under it, leaving nothing
    // materialized behind; past the guard the
    // join degrades to a shuffle (keepPinned=false: this audit returns
    // a lazy plan, so it leaves nothing materialized behind).
    val (side, _) = Guard.guardedSide(
      renameKeys(groups, quasiIds), maxBroadcastGroups, keepPinned = false)
    // NULL-SAFE join: groupBy already treats NULL as a QI value (its own
    // group), but a plain equi-join would silently DROP every NULL-QI row
    // from the audit — a privacy gate failing open for exactly the rows
    // with missing attributes. <=> matches the NULL group back.
    df.join(side, nullSafeCond(quasiIds))
      .drop(quasiIds.map(c => s"__g_$c"): _*)
      .withColumn("keep", col("k_group") >= k)
  }

  /** Rename a group table's join keys to `__g_`-prefixed names so an
    * explicit null-safe join condition can reference both sides
    * unambiguously (and fresh exprIds break the self-join lineage).
    */
  private def renameKeys(groups: DataFrame, keys: Seq[String]): DataFrame =
    keys.foldLeft(groups)((a, c) => a.withColumnRenamed(c, s"__g_$c"))

  private def nullSafeCond(keys: Seq[String]): org.apache.spark.sql.Column =
    keys.map(c => col(c) <=> col(s"__g_$c")).reduce(_ && _)

  /** Past this many quasi-identifier combinations the group table stops
    * riding a broadcast and the join degrades to a shuffle — [[Guard]]'s
    * shared threshold, far above any legitimate QI table.
    */
  val DefaultMaxBroadcastGroups: Long = Guard.DefaultMaxBroadcastRows

  /** The k-anonymity REMEDY a release pipeline actually executes when
    * [[kAnonymity]] flags rows: local-recoding GENERALIZATION. `levels`
    * is a generalization ladder — level 0 the raw quasi-identifier set,
    * each later level a coarsening (a wider bucket, a dropped
    * attribute). Every row is assigned the FIRST level whose group —
    * computed over ALL rows at that coarsening — reaches `k`; rows no
    * level can save are suppressed (`gen_level = levels.size`,
    * `keep = false`). Appends (gen_level, k_group, keep).
    *
    * Deterministic and engine-exact: each level's group table is plain
    * integer counting over the whole corpus at that coarsening (no
    * iterative re-partitioning), so the decision is a pure function of
    * the data — oracle-checkable as a CASE over per-level counts.
    *
    * Scale shape: one small group table per ladder level, each joined
    * back by broadcast (same [[kAnonymity]] guard per level) — L levels
    * cost L broadcast joins over one corpus scan lineage; the corpus
    * never shuffles.
    */
  def kAnonymityGeneralize(
      df: DataFrame,
      levels: Seq[Seq[(String, org.apache.spark.sql.Column)]],
      k: Long,
      maxBroadcastGroups: Long = DefaultMaxBroadcastGroups
  ): DataFrame = {
    require(levels.nonEmpty, "Profile.kAnonymityGeneralize: need at least one ladder level")
    // materialize every level's QI columns once so group tables and the
    // join-back key on identical child expressions
    val withQi = levels.zipWithIndex.foldLeft(df) { case (acc, (lvl, i)) =>
      lvl.foldLeft(acc) { case (a, (n, c)) => a.withColumn(s"__qi${i}_$n", c) }
    }
    val joined = levels.zipWithIndex.foldLeft(withQi) { case (acc, (lvl, i)) =>
      val keys = lvl.map { case (n, _) => s"__qi${i}_$n" }
      val g = withQi
        .groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as(s"__k$i"))
      val (side, _) =
        Guard.guardedSide(renameKeys(g, keys), maxBroadcastGroups, keepPinned = false)
      // null-safe: a NULL quasi-identifier value is a group like any
      // other — an equi-join would drop those rows from the remedy
      acc.join(side, nullSafeCond(keys))
        .drop(keys.map(c => s"__g_$c"): _*)
    }
    val genLevel = levels.indices.foldRight(lit(levels.size)) { (i, acc) =>
      when(col(s"__k$i") >= k, lit(i)).otherwise(acc)
    }
    // suppressed rows report the LAST level's count — the best any
    // generalization achieved — rather than a meaningless zero
    val kAtLevel = levels.indices.foldRight(col(s"__k${levels.size - 1}")) { (i, acc) =>
      when(col("gen_level") === i, col(s"__k$i")).otherwise(acc)
    }
    joined
      .withColumn("gen_level", genLevel)
      .withColumn("k_group", kAtLevel)
      .withColumn("keep", col("gen_level") < levels.size)
      .drop(levels.indices.flatMap(i =>
        s"__k$i" +: levels(i).map { case (n, _) => s"__qi${i}_$n" }): _*)
  }

  /** Corpus snapshot diff — what changed between two versions of a
    * table: per id, `added` (only in `after`), `removed` (only in
    * `before`), `changed` (both, content digest differs) or
    * `unchanged`. The release-notes / audit artifact a dataset
    * versioning workflow derives before publishing an update.
    *
    * Scale shape: each side reduces map-side to (id, digest) — no
    * payload crosses the exchange — then ONE full-outer id-keyed join.
    */
  def snapshotDiff(
      before: DataFrame,
      after: DataFrame,
      idCol: String,
      textCol: String
  ): DataFrame = {
    def digests(df: DataFrame, as: String) =
      df.select(col(idCol), sha2(col(textCol), 256).as(as))
    digests(before, "__da")
      .join(digests(after, "__db"), Seq(idCol), "full_outer")
      .select(
        col(idCol),
        when(col("__da").isNull, lit("added"))
          .when(col("__db").isNull, lit("removed"))
          .when(col("__da") =!= col("__db"), lit("changed"))
          .otherwise(lit("unchanged")).as("status"))
  }

  /** Curation-decision audit — the "why was my document dropped"
    * artifact: given the FULL input and each pipeline stage's survivor
    * set (in stage order), attribute every input row to the FIRST
    * stage that dropped it, or "kept". This is the per-row lineage
    * record a takedown/appeal/debugging workflow reads; the flagship
    * pipelines emit only the survivors, so without it the drop reason
    * is unrecoverable.
    *
    * @param stages (stageName, survivors) in pipeline order — each
    *               survivor frame must contain `idCol`; rows absent
    *               from stage i's survivors (but present in stage
    *               i-1's) are attributed to stage i's name
    * @return (idCol, drop_stage)
    *
    * Scale shape: one id-keyed left join per stage, each carrying only
    * (id, flag) — after the first exchange every join is co-partitioned
    * on the id, and no payload column rides along. Cost is linear in
    * stages × ids, never in document bytes.
    */
  def dropReasons(
      all: DataFrame,
      idCol: String,
      stages: Seq[(String, DataFrame)]
  ): DataFrame = {
    require(stages.nonEmpty, "Profile.dropReasons: need at least one stage")
    val flagged = stages.zipWithIndex.foldLeft(all.select(col(idCol))) {
      case (acc, ((_, survivors), i)) =>
        acc.join(
          survivors.select(col(idCol)).withColumn(s"__s$i", lit(true)),
          Seq(idCol), "left")
    }
    val attributed = stages.zipWithIndex.reverse.foldLeft(lit("kept")) {
      case (tail, ((name, _), i)) =>
        when(col(s"__s$i").isNull, lit(name)).otherwise(tail)
    }
    flagged.select(col(idCol), attributed.as("drop_stage"))
  }

  /** l-diversity release audit — k-anonymity's companion check
    * (Machanavajjhala et al.): a quasi-identifier group whose rows all
    * share one SENSITIVE value leaks that value even when the group is
    * k-large, so each group must also carry at least `l` DISTINCT
    * sensitive values. Appends per row the group's distinct-sensitive
    * count (`l_distinct`) and `keep = l_distinct >= l`.
    *
    * Scale shape: the distinct count partial-aggregates over (QI,
    * sensitive) — never more rows than the corpus, usually far fewer —
    * then collapses to the QI-sized group table that joins back by
    * broadcast under the same cardinality guard as [[kAnonymity]];
    * the corpus itself never shuffles.
    */
  def lDiversity(
      df: DataFrame,
      quasiIds: Seq[String],
      sensitiveCol: String,
      l: Long,
      maxBroadcastGroups: Long = DefaultMaxBroadcastGroups
  ): DataFrame = {
    require(quasiIds.nonEmpty, "Profile.lDiversity: need at least one quasi-identifier")
    val groups = df
      .groupBy(quasiIds.map(col): _*)
      .agg(countDistinct(col(sensitiveCol)).as("l_distinct"))
    val (side, _) = Guard.guardedSide(
      renameKeys(groups, quasiIds), maxBroadcastGroups, keepPinned = false)
    // null-safe join-back, as kAnonymity: NULL-QI rows stay in the audit
    // (countDistinct ignores NULL sensitive values — a group whose only
    // sensitive "values" are NULL reports l_distinct = 0 and fails
    // closed, the conservative reading for a privacy gate)
    df.join(side, nullSafeCond(quasiIds))
      .drop(quasiIds.map(c => s"__g_$c"): _*)
      .withColumn("keep", col("l_distinct") >= l)
  }

  /** t-closeness release audit (Li et al.) with total-variation
    * distance: a quasi-identifier group still leaks when its SENSITIVE
    * values are diverse but skewed far from the corpus-wide
    * distribution, so each group's distribution must sit within `t` of
    * the global one. Emits ONE row per QI group — the release-gate
    * decision table, not a corpus-sized frame — with the group size,
    * the exact integer TVD numerator, the per-mille distance, and
    * `keep`.
    *
    * Exactness: TVD = ½ Σ_v |cnt_gv/n_g − cnt_v/N| is evaluated in
    * CROSS-MULTIPLIED integers carried as DECIMAL(38,0) — Σ_v
    * |cnt_gv·N − cnt_v·n_g| compared against 2·t‰·n_g·N/1000 — so the
    * decision is bit-exact in every engine (no float division; the
    * reported per-mille is an exact integral `div`). Plain Long math
    * would silently wrap once 2000·n_g·N passes 2^63 (n_g·N ≈ 4.6e15,
    * well inside a 100 TB corpus); Decimal(38,0) keeps the decision
    * exact through ~10^17-row corpora (products stay under 10^38) —
    * far past any real corpus. The REPORTED `tvd_num` column stays
    * BIGINT for schema stability and saturates past 2^63; `keep` and
    * `tvd_pm` are computed on the decimal value and never wrap.
    * Sensitive values absent from a group contribute cnt_v·n_g without
    * materializing (g, v) zero rows: their sum is (N − Σ_present
    * cnt_v)·n_g. NULL sensitive values are a value like any other —
    * the marginal join-back is null-safe, so all-NULL groups stay in
    * the release gate instead of silently failing open.
    *
    * Scale shape: one partial-agg shuffle to (QI, v) counts (bounded by
    * corpus rows, typically far smaller), the |values|-sized marginal
    * table and QI-sized group table joined back by count-guarded
    * broadcast, then a QI-keyed rollup of the already tiny (QI, v)
    * frame. The corpus is scanned once and never shuffled by the group
    * key. The guarded-small path returns a fully materialized local
    * decision table and leaves nothing pinned; past `maxBroadcastGroups`
    * QI combinations the table comes back pinned ([[Guard.pin]]).
    */
  def tCloseness(
      df: DataFrame,
      quasiIds: Seq[String],
      sensitiveCol: String,
      tPerMille: Long,
      maxBroadcastGroups: Long = DefaultMaxBroadcastGroups
  ): DataFrame = {
    require(quasiIds.nonEmpty, "Profile.tCloseness: need at least one quasi-identifier")
    val qi = quasiIds.map(col)
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    // (QI, v) counts — the only corpus-sized aggregation (partial-agg
    // shuffle); everything after operates on this already-small frame.
    val gv = Guard.pin(df
      .groupBy(qi :+ col(sensitiveCol).as("__v"): _*)
      .agg(count(lit(1)).as("__c_gv")))
    // N: one scalar off the pinned gv — rides the plan as a literal,
    // no crossJoin of a one-row frame needed. sum() over ZERO rows is
    // NULL: an empty audit input yields an empty decision table, not a
    // driver NPE.
    val nRow = gv.agg(sum(col("__c_gv"))).first()
    if (nRow.isNullAt(0)) {
      val empty = localized(gv.filter(lit(false)).select(qi ++ Seq(
        lit(0L).as("n_group"), lit(0L).as("tvd_num"),
        lit(0L).as("tvd_pm"), lit(false).as("keep")): _*))
      Guard.unpin(gv)
      return empty
    }
    val n = nRow.getLong(0)
    val nd = lit(n).cast(d38)
    val groupSizes = gv.groupBy(qi: _*).agg(sum(col("__c_gv")).as("n_group"))
    val marginals =
      gv.groupBy(col("__v").as("__mv")).agg(sum(col("__c_gv")).as("__c_v"))
    val (gsSide, gsLocal) = Guard.guardedSide(
      renameKeys(groupSizes, quasiIds), maxBroadcastGroups, keepPinned = true)
    val (mSide, _) = Guard.guardedSide(marginals, maxBroadcastGroups, keepPinned = true)
    val out = gv
      .join(mSide, col("__v") <=> col("__mv"))
      .join(gsSide, nullSafeCond(quasiIds))
      .groupBy(qi: _*)
      .agg(
        first(col("n_group")).as("n_group"),
        sum(abs(col("__c_gv").cast(d38) * nd -
          col("__c_v").cast(d38) * col("n_group").cast(d38)))
          .as("__present_num"),
        sum(col("__c_v")).as("__present_v"))
      // sensitive values with no row in this group each contribute
      // |0 − c_v·n_g| = c_v·n_g; summed: (N − Σ_present c_v)·n_g
      .withColumn("__tvd_d",
        col("__present_num") +
          (nd - col("__present_v").cast(d38)) * col("n_group").cast(d38))
      // exact integral division (`div` truncates; a decimal `/` would
      // round at its result scale and can flip a floor at a boundary)
      .withColumn("tvd_pm", expr(
        s"(CAST(1000 AS DECIMAL(38,0)) * __tvd_d) div " +
          s"(CAST(2 AS DECIMAL(38,0)) * CAST(n_group AS DECIMAL(38,0)) * " +
          s"CAST(${n}L AS DECIMAL(38,0)))"))
      .withColumn("keep",
        lit(1000).cast(d38) * col("__tvd_d") <=
          lit(2L * tPerMille).cast(d38) * col("n_group").cast(d38) * nd)
      // try_cast + coalesce ACTUALLY saturates: a plain non-ANSI
      // Decimal→Long overflow cast yields NULL, not Long.MaxValue
      .select(qi ++ Seq(col("n_group"),
        coalesce(expr("try_cast(__tvd_d AS BIGINT)"), lit(Long.MaxValue))
          .as("tvd_num"),
        col("tvd_pm"), col("keep")): _*)
    val table = if (gsLocal) {
      // decision table bounded by the guard: localize it (same driver
      // footprint the group-size broadcast already paid) so the
      // corpus-sized gv can drop with ZERO residue
      localized(out)
    } else {
      // QI cardinality past the guard: the table stays pinned; its
      // first action fills it before gv and the sides are freed below
      val p = Guard.pin(out)
      p.count()
      p
    }
    // `out` reads gv and any over-guard side: free them all, ZERO residue
    Guard.unpin(out)
    table
  }

  private def localized(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(df.collectAsList(), df.schema)
}
