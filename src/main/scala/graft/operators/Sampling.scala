package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic hash-based sampling and train/holdout splitting — the
  * standard way a training pipeline carves reproducible subsets without
  * a random seed riding along (rand() re-rolls per task retry; a key
  * hash never does).
  *
  * The hash is pure integer arithmetic (multiplicative hash mod a
  * 31-bit prime), so it is engine-portable (oracle-checkable in ANSI
  * SQL) and stable across Spark versions — unlike xxhash64/murmur,
  * whose availability differs by engine. Entirely map-side: sampling
  * never shuffles, so at 100 TB it costs one scan.
  */
object Sampling {

  /** Same 31-bit prime modulus as [[Dedup.StrHashMod]]/[[Dedup.MinhashP]],
    * with Knuth-multiplicative seeds congruent mod P to `Dedup.hashA(0)`/
    * `Dedup.hashB(0)` (the Dedup seeds are pre-reduced: hashA(0) =
    * 2654435761 % P = 654435747, so only the residues match, not the
    * literals) — one hash family across the engine, kept literal here
    * because the oracle SQL interpolates them.
    */
  val P: Long = Dedup.StrHashMod
  val A = 2654435761L
  val B = 40503L

  /** Stable bucket in [0, buckets) for a numeric id. `(id mod P) * A`
    * stays below 2^63 (P·A ≈ 2.7e18), so the arithmetic never wraps in
    * engines that check overflow.
    */
  def hashBucket(id: Column, buckets: Int): Column =
    pmod(pmod(pmod(id, lit(P)) * lit(A) + lit(B), lit(P)), lit(buckets.toLong))

  /** Keep ~keepBuckets/buckets of rows, deterministically by id.
    * Rows with a NULL id are dropped (no identity → no stable bucket).
    */
  def sampleByHash(df: DataFrame, idCol: String, keepBuckets: Int, buckets: Int = 100): DataFrame =
    df.filter(hashBucket(col(idCol), buckets) < keepBuckets)

  /** Disjoint, exhaustive train/holdout split: rows whose bucket falls
    * below `holdoutBuckets` go to holdout, the rest to train. Built on
    * [[splitLabel]] so the two formulations can never disagree; NULL
    * ids land in train (splitLabel's otherwise-branch), keeping the
    * split exhaustive even for nullable keys.
    */
  def trainHoldout(
      df: DataFrame,
      idCol: String,
      holdoutBuckets: Int,
      buckets: Int = 100
  ): (DataFrame, DataFrame) = {
    val label = splitLabel(col(idCol), holdoutBuckets, buckets)
    (df.filter(label === "train"), df.filter(label === "holdout"))
  }

  /** Split label as a column (for single-pass grouped accounting). */
  def splitLabel(id: Column, holdoutBuckets: Int, buckets: Int = 100): Column =
    when(hashBucket(id, buckets) < holdoutBuckets, lit("holdout")).otherwise(lit("train"))

  /** Second independent multiplicative hash (different constants) for
    * orderings that must be uncorrelated with [[hashBucket]] routing.
    */
  def orderHash(id: Column): Column =
    pmod(pmod(id, lit(P)) * lit(2246822519L) + lit(604171L), lit(P))

  /** Per-group cap: keep at most `n` rows per group, chosen by the
    * independent id-hash order ([[orderHash]], id tie-break) — the
    * web-curation "domain cap" (RefinedWeb-style): a crawl's hottest
    * domains otherwise dominate the corpus, and hash order makes the
    * kept subset unbiased w.r.t. crawl position or recency, unlike
    * keep-first / keep-latest. Deterministic, so re-runs and retries
    * keep identical rows.
    *
    * One shuffle on the group key; rank state is a single counter.
    * Like [[graft.operators.Dedup.keepLatest]], a pathologically hot
    * group sorts inside one task — for that regime pre-thin with
    * [[sampleByHash]] (constant-fraction, map-side) before capping.
    */
  def capPerGroup(df: DataFrame, groupCol: String, idCol: String, n: Int): DataFrame = {
    val rn = Iterator.iterate("__rn")(_ + "_").dropWhile(df.columns.contains).next()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol))
      .orderBy(orderHash(col(idCol)).asc, col(idCol).asc)
    df.withColumn(rn, row_number().over(w))
      .filter(col(rn) <= n)
      .drop(rn)
  }

  /** [[capPerGroup]] with a PER-GROUP quota: keep at most `alloc` rows
    * of each group, chosen by the same unbiased id-hash order, where
    * `quota` is a (groupCol, alloc) frame — the execution half of any
    * mixture decision (temperature allocation, DoReMi reweighting, a
    * hand-tuned budget table). Quotas are |groups|-sized, so they ride
    * in by broadcast; the corpus pays the one group-keyed window
    * shuffle and nothing else.
    */
  def quotaSample(
      df: DataFrame,
      groupCol: String,
      idCol: String,
      quota: DataFrame
  ): DataFrame = {
    val rn = Iterator.iterate("__rn")(_ + "_").dropWhile(df.columns.contains).next()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol))
      .orderBy(orderHash(col(idCol)).asc, col(idCol).asc)
    df.join(broadcast(quota), Seq(groupCol))
      .withColumn(rn, row_number().over(w))
      .filter(col(rn) <= col("alloc"))
      .drop(rn, "alloc")
  }

  /** Exact integer largest-remainder apportionment of `budget` across
    * groups proportional to `weightCol`, DISTRIBUTED: floor shares
    * `(budget·w) div Σw` plus one unit to the groups with the largest
    * remainders (`(budget·w) mod Σw`, group-name tie-break) until the
    * allocations sum to exactly `budget`. The decision half of any
    * weighted quota (authority-weighted sampling, mixture budgets).
    *
    * No driver collect: the remainder ranking and the residual bump are
    * two window functions over the |groups|-sized weight frame —
    * `row_number` by (remainder desc, group asc) and a global sum for
    * the residual — so the step scales past driver-memory group counts
    * (10⁷–10⁸ registrable domains). The global windows serialize the
    * GROUPS frame through one task, which is orders of magnitude
    * smaller than the corpus; past ~10⁸ groups, recurse the pack
    * chain's hierarchical prefix-sum trick on the remainder rank.
    *
    * Precondition: weights non-negative with positive total (rows
    * whose total is 0 would floor-divide by zero and null out).
    * Returns (groupCol, alloc) — [[quotaSample]]'s quota shape.
    */
  def largestRemainder(
      weights: DataFrame,
      groupCol: String,
      weightCol: String,
      budget: Long
  ): DataFrame = {
    require(budget >= 0, "Sampling.largestRemainder: non-negative budget")
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy()
      .rowsBetween(Long.MinValue, Long.MaxValue)
    val wRank = org.apache.spark.sql.expressions.Window
      .orderBy(col("__m").desc, col(groupCol).asc)
    // budget·w and Σw both overflow Long at exactly the advertised
    // scale (token-count weights ~10^12 over 10^7 groups with a 10^7
    // budget → 10^19 > 2^63), so the products and the total run in
    // DECIMAL(38,0) — the tCloseness lift; `div` stays exact integral
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    weights
      .select(col(groupCol), col(weightCol).cast("long").cast(d38).as("__wt"))
      .withColumn("__t", sum(col("__wt")).over(wAll).cast(d38))
      .withColumn("__bw", lit(budget).cast(d38) * col("__wt"))
      .withColumn("__a", expr("CAST(__bw div __t AS BIGINT)"))
      .withColumn("__m", expr("__bw % __t"))
      .withColumn("__resid", lit(budget) - sum(col("__a")).over(wAll))
      .withColumn("__rn", row_number().over(wRank))
      .select(col(groupCol),
        (col("__a") + when(col("__rn") <= col("__resid"), 1L).otherwise(0L))
          .as("alloc"))
  }

  /** [[quotaSample]]'s ARRIVAL-ORDER twin: admit the first `alloc` rows
    * of each group in ascending `seqCol` order (ties broken on `idCol`)
    * — quota ENFORCEMENT rather than unbiased selection. This is
    * exactly what a streaming ingest enforcing the same quota table
    * admits when rows arrive in `seqCol` order. Same scale shape as
    * [[quotaSample]]: the |groups|-sized quota rides a broadcast, the
    * corpus pays one group-keyed window shuffle. (The rank filter compares against the
    * joined `alloc` column, not a literal, so no map-side
    * WindowGroupLimit applies — a hot group's arrivals do cross the
    * shuffle; pre-thin with [[sampleByHash]] in that regime.)
    */
  def quotaAdmit(
      df: DataFrame,
      groupCol: String,
      seqCol: String,
      idCol: String,
      quota: DataFrame
  ): DataFrame = {
    val rn = Iterator.iterate("__rn")(_ + "_").dropWhile(df.columns.contains).next()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol))
      .orderBy(col(seqCol).asc, col(idCol).asc)
    df.join(broadcast(quota), Seq(groupCol))
      .withColumn(rn, row_number().over(w))
      .filter(col(rn) <= col("alloc"))
      .drop(rn, "alloc")
  }

  /** Deterministic sharded shuffle — the scalable way to "randomize"
    * training-corpus order: route each row to a shard by one hash, rank
    * within the shard by an independent second hash. Each shard sorts
    * independently (no global sort, no single-partition window), so the
    * plan parallelizes across shards at any scale; reading shards in
    * (shard, rank) order yields a reproducible pseudo-random corpus
    * permutation without a seed.
    *
    * Output column names are caller-controlled (`shardCol`/`rankCol`);
    * fails fast if either already exists rather than silently
    * overwriting it.
    */
  def deterministicShuffle(
      df: DataFrame,
      idCol: String,
      shards: Int,
      shardCol: String = "shard",
      rankCol: String = "rank"
  ): DataFrame = {
    Seq(shardCol, rankCol).foreach { c =>
      require(!df.columns.contains(c), s"deterministicShuffle: input already has a '$c' column; pass a different shardCol/rankCol")
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(shardCol))
      .orderBy(orderHash(col(idCol)).asc, col(idCol).asc)
    df.withColumn(shardCol, hashBucket(col(idCol), shards))
      .withColumn(rankCol, row_number().over(w))
  }

  /** Mixture / temperature resampling: a fractional epoch factor per
    * stratum (data curation's "2.5 epochs of wiki, 0.4 of web") —
    * upsampling AND downsampling in one deterministic map-side pass.
    * Each row is emitted `floor(f)` times, plus one extra copy when its
    * id-hash bucket falls under the fractional remainder, with an
    * `epoch` column (0-based copy index) so downstream packing /
    * shuffling can interleave copies instead of clustering them.
    *
    * Fractions are snapped to `buckets`ths at PLAN time (Scala ints in
    * the CASE chain), so the executed plan is pure integer arithmetic —
    * engine-portable and retry-stable like every sampler here. The
    * explode multiplies rows map-side; nothing shuffles, so at 100 TB
    * the cost is one scan plus the output volume you asked for.
    */
  def mixtureResample(
      df: DataFrame,
      idCol: String,
      strataCol: String,
      epochs: Map[String, Double],
      defaultEpochs: Double = 1.0,
      buckets: Int = 100,
      epochCol: String = "epoch"
  ): DataFrame = {
    require(!df.columns.contains(epochCol),
      s"mixtureResample: input already has a '$epochCol' column; pass a different epochCol")
    def parts(f: Double): (Int, Int) = {
      require(f >= 0, s"mixtureResample: negative epoch factor $f")
      val whole = math.floor(f).toInt
      val fb = math.round((f - whole) * buckets).toInt
      if (fb == buckets) (whole + 1, 0) else (whole, fb)
    }
    val (dw, dfb) = parts(defaultEpochs)
    val (wholeC, fracC) = epochs.foldLeft((lit(dw), lit(dfb))) {
      case ((wAcc, fAcc), (stratum, f)) =>
        val (w0, f0) = parts(f)
        (when(col(strataCol) === stratum, lit(w0)).otherwise(wAcc),
          when(col(strataCol) === stratum, lit(f0)).otherwise(fAcc))
    }
    val nCopies =
      wholeC + when(hashBucket(col(idCol), buckets) < fracC, 1).otherwise(0)
    // sequence(0, n-1) DESCENDS for n-1 < 0 (Spark quirk) — guard
    // zero-copy rows to an empty array so explode drops them.
    val copies = when(nCopies >= 1, sequence(lit(0), nCopies - lit(1)))
      .otherwise(array().cast("array<int>"))
    df.withColumn(epochCol, explode(copies))
  }

  /** Token-budget corpus assembly: keep documents in deterministic
    * shuffle order until each shard's cumulative token count reaches
    * `budgetPerShard` — "give me ~N tokens of this corpus,
    * reproducibly". The budget divides across shards so every shard's
    * running sum is an independent window (no global ordering, no
    * single-partition state): at 100 TB each of the `shards` windows
    * sorts only its own hash-routed slice, and the kept set is a pure
    * function of ids — retries and re-runs select identical documents.
    *
    * Keeps the prefix of each shard's (orderHash, id) order whose
    * running inclusive sum stays ≤ budget — the sum is monotone, so
    * the kept set is a clean prefix ending just before the document
    * that would cross the line. Output: input columns +
    * (shard, cum_tokens).
    */
  def tokenBudgetSample(
      df: DataFrame,
      idCol: String,
      tokensCol: String,
      shards: Int,
      budgetPerShard: Long
  ): DataFrame = {
    Seq("shard", "cum_tokens").foreach { c =>
      require(!df.columns.contains(c),
        s"tokenBudgetSample: input already has a '$c' column")
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard"))
      .orderBy(orderHash(col(idCol)).asc, col(idCol).asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    df.withColumn("shard", hashBucket(col(idCol), shards))
      .withColumn("cum_tokens", sum(col(tokensCol).cast("long")).over(w))
      .filter(col("cum_tokens") <= budgetPerShard)
  }

  /** Close a SIZE-denominated allocation into an exact selection: per
    * group, admit rows in deterministic hash order while the running
    * sum of `sizeCol` stays within the group's `alloc` from the quota
    * table — the selection step that turns [[unimaxAlloc]]'s (or
    * [[temperatureAlloc]]'s) token budgets into an actual corpus
    * subset, the way [[quotaSample]] closes ROW-denominated quotas.
    * The first row of a group always admits only if it fits; the
    * admitted set is a prefix of the group's hash order, so re-running
    * on the same corpus reproduces it exactly.
    *
    * Scale shape: the |groups|-sized quota broadcasts; the corpus pays
    * ONE group-keyed window shuffle (running sum + filter). Same
    * hash-order discipline as [[quotaSample]]/[[tokenBudgetSample]].
    */
  def budgetedQuotaSample(
      df: DataFrame,
      groupCol: String,
      idCol: String,
      sizeCol: String,
      quota: DataFrame
  ): DataFrame = {
    val cum = Iterator.iterate("__cum")(_ + "_").dropWhile(df.columns.contains).next()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol))
      .orderBy(orderHash(col(idCol)).asc, col(idCol).asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    df.join(broadcast(quota), Seq(groupCol))
      .withColumn(cum, sum(col(sizeCol).cast("long")).over(w))
      .filter(col(cum) <= col("alloc"))
      .drop(cum, "alloc")
  }

  /** Stratified sampling: a different keep-rate per stratum (data
    * curation's "downsample the dominant source, keep all of the rare
    * one"). Rates are keep-buckets out of `buckets`; strata not listed
    * use `defaultKeep`. Still one map-side pass — the rate lookup is a
    * CASE chain, no join.
    */
  def stratifiedSampleByHash(
      df: DataFrame,
      idCol: String,
      strataCol: String,
      keepBuckets: Map[String, Int],
      defaultKeep: Int,
      buckets: Int = 100
  ): DataFrame = {
    val rate = keepBuckets.foldLeft(lit(defaultKeep)) { case (acc, (stratum, keep)) =>
      when(col(strataCol) === stratum, lit(keep)).otherwise(acc)
    }
    df.filter(hashBucket(col(idCol), buckets) < rate)
  }

  /** Curriculum staging: split each group into `stages` equal score
    * bands — stage 0 = the group's best rows, the last stage its worst
    * — so a training run can feed high-quality data first (curriculum
    * ordering) or anneal mixtures per stage. Pure rank arithmetic
    * (`stage = (rank−1)·stages div n`), same discipline as
    * [[Normalize.topFractionByGroup]]: no value-space percentile, so
    * band assignment is engine-exact and ties (score, then id) are
    * deterministic.
    *
    * One window pass per group — rank and group count ride the same
    * shuffle partition. Appends a `stage` column.
    */
  def curriculumStages(
      df: DataFrame,
      groupCol: String,
      scoreCol: String,
      idCol: String,
      stages: Int
  ): DataFrame = {
    require(stages >= 1, "stages >= 1")
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col(groupCol))
    val wr = w.orderBy(col(scoreCol).desc, col(idCol).asc)
    val rn = Iterator.iterate("__rn")(_ + "_").dropWhile(df.columns.contains).next()
    val n = Iterator.iterate("__n")(_ + "_").dropWhile(df.columns.contains).next()
    df.withColumn(rn, row_number().over(wr))
      .withColumn(n, count(lit(1)).over(w))
      .withColumn("stage",
        expr(s"((`$rn` - 1L) * ${stages}L) div `$n`").cast("int"))
      .drop(rn, n)
  }

  /** Temperature-based mixture allocation (the multilingual sampling
    * rule of mBERT / XLM-R): group i receives budget share
    * wᵢ / Σw where wᵢ = nᵢ^α — flatter than proportional, so
    * low-resource groups are upsampled relative to their share.
    * Returns (group, n, alloc) with Σ alloc ≤ budget.
    *
    * Engine-exact float discipline: α is fixed at 1/2 because `sqrt`
    * is the one fractional power IEEE 754 requires to be correctly
    * rounded — every engine agrees bit-for-bit (a general `pow(x, α)`
    * does not). The normalizer folds the per-group weights in sorted
    * group order (ordered fold — double addition is order-dependent),
    * and allocations use floor, never round.
    *
    * Scale shape: one corpus scan with map-side partial aggregation
    * into (group, n); everything after operates on |groups| rows —
    * the normalizer collapses them to ONE array row that broadcasts
    * back. Nothing corpus-sized shuffles twice.
    */
  def temperatureAlloc(df: DataFrame, groupCol: String, budget: Long): DataFrame = {
    val weighted = df
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"))
      .withColumn("w", sqrt(col("n").cast("double")))
    val z = weighted.agg(
      aggregate(
        array_sort(collect_list(struct(col(groupCol), col("w")))),
        lit(0.0),
        (acc, x) => acc + x.getField("w")
      ).as("z"))
    weighted
      .crossJoin(broadcast(z))
      .select(
        col(groupCol), col("n"),
        floor(lit(budget.toDouble) * col("w") / col("z")).cast("long").as("alloc"))
  }

  /** Loss-driven domain reweighting (the DoReMi decision shape, Xie et
    * al.: upweight domains whose model loss exceeds the easiest
    * domain's): per group, mean per-row loss rate → excess over the
    * minimum group mean → weight ∝ excess, normalized. Domains at the
    * baseline get weight 0; if every domain sits exactly at baseline
    * the weights fall back to uniform.
    *
    * Engine-exact float discipline: each row's double `rateCol` is
    * snapped to the 2⁻²⁰ grid (floor to integer micro-units — one
    * IEEE multiply + floor, identical everywhere), so the per-group
    * SUM is integer arithmetic and order-free; the group mean is then
    * ONE double division, the baseline a MIN over |groups| doubles,
    * and the normalizer an ordered fold in group order — the same
    * discipline as [[temperatureAlloc]] and q_kmeans_update_scale.
    *
    * Scale shape: one corpus-sized partial-agg shuffle into (group,
    * Σsnapped, n); everything downstream operates on |groups| rows
    * (the baseline and normalizer collapse to one broadcast row).
    */
  /** UniMax budget allocation (Chung et al. 2023, "UniMax: Fairer and
    * More Effective Language Sampling for Large-Scale Multilingual
    * Pretraining"): cap every source at `maxEpochs` passes over its
    * data and water-fill the remaining token budget UNIFORMLY over the
    * uncapped sources — the fairness-first alternative to temperature
    * sampling ([[temperatureAlloc]]) and loss-driven reweighting
    * ([[excessLossWeights]]).
    *
    * Closed form over the ascending-capacity order (capacity c_i =
    * size_i × maxEpochs; G groups; budget B): walking ranks i = 1..G,
    * the candidate water level is Lᵢ = ⌊(B − Σ_{j<i} c_j) / (G−i+1)⌋,
    * which strictly rises while groups stay capacity-limited (cᵢ < Lᵢ);
    * at the first rank i* with c_{i*} ≥ L_{i*} the level freezes
    * (every later group, having larger capacity, is level-limited at
    * the same L), so alloc_i = min(cᵢ, L_{i*}) for every group — pure
    * prefix-sum arithmetic, no sequential loop. If even the largest
    * group is capacity-limited the whole corpus is allocated
    * (L = +∞ sentinel). Integer floor throughout; the ≤ G tokens the
    * floor leaves unallocated stay unallocated (never redistributed —
    * determinism over exhaustiveness, as [[temperatureAlloc]]).
    *
    * Scale shape: one corpus scan with map-side partial aggregation
    * into (group, size); every window after that runs over |groups|
    * rows — a decision-table, not a corpus.
    *
    * @return (group, n, capacity, alloc) — n the summed `sizeCol`
    */
  def unimaxAlloc(
      df: DataFrame,
      groupCol: String,
      sizeCol: String,
      budget: Long,
      maxEpochs: Int
  ): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val byCap = W.orderBy(col("capacity").asc, col(groupCol).asc)
    val all = W.partitionBy().rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    val leveled = df
      .groupBy(col(groupCol))
      .agg(sum(col(sizeCol).cast("long")).as("n"))
      .withColumn("capacity", col("n") * maxEpochs)
      .withColumn("rk", row_number().over(byCap))
      .withColumn("prefix",
        coalesce(
          sum(col("capacity")).over(byCap.rowsBetween(W.unboundedPreceding, -1)),
          lit(0L)))
      .withColumn("gg", count(lit(1)).over(all))
      .withColumn("lvl",
        floor((lit(budget) - col("prefix")) / (col("gg") - col("rk") + 1))
          .cast("long"))
      // the frozen water level: the candidate at the FIRST rank whose
      // group is not capacity-limited (struct-min orders by rank, so
      // the smallest-rk candidate wins — candidate levels at later
      // ranks are computed from capacity prefixes, not allocations,
      // and are meaningless once the level has frozen)
      .withColumn("level",
        min(when(col("capacity") >= col("lvl"),
          struct(col("rk"), col("lvl")))).over(all).getField("lvl"))
    leveled.select(
      col(groupCol), col("n"), col("capacity"),
      least(col("capacity"), coalesce(col("level"), col("capacity"))).as("alloc"))
  }

  def excessLossWeights(df: DataFrame, groupCol: String, rateCol: String): DataFrame = {
    val grid = 1048576.0 // 2^20
    // The ONLY evaluation of the (possibly corpus-sized) input lineage:
    // one partial-agg shuffle into (group, Σsnapped, n), collapsed to a
    // single sorted array row. Baseline, normalizer and weights all
    // derive from that one row — an earlier two-broadcast formulation
    // (baseline agg × normalizer agg × final select) re-evaluated the
    // input subtree three times, which tripled every caller's rating
    // cost. Groups are decision-table-sized by contract (languages,
    // sources, domains), so the one-row collect is bounded.
    val packed = df
      .groupBy(col(groupCol))
      .agg(
        sum(floor(col(rateCol) * grid).cast("long")).as("sq"),
        count(lit(1)).as("n"))
      .agg(sort_array(collect_list(struct(col(groupCol), col("sq"), col("n"))))
        .as("gs"))
    def mean(g: Column): Column = g("sq").cast("double") / g("n").cast("double")
    packed
      .withColumn("mn", array_min(transform(col("gs"), g => mean(g))))
      .withColumn("n_groups", size(col("gs")))
      // ordered fold of the excesses in group order (gs is sorted by
      // the group key) — double addition is order-dependent, and this
      // is the exact order the oracle's list(excess ORDER BY group)
      // folds in
      .withColumn("z",
        aggregate(col("gs"), lit(0.0), (acc, g) => acc + (mean(g) - col("mn"))))
      .select(explode(col("gs")).as("g"), col("mn"), col("n_groups"), col("z"))
      .select(
        col("g")(groupCol).as(groupCol),
        col("g")("n").as("n"),
        when(col("z") === 0.0, lit(1.0) / col("n_groups").cast("double"))
          .otherwise((mean(col("g")) - col("mn")) / col("z")).as("weight"))
  }

  /** Length-bucketed dynamic batching: assign each document to a
    * fixed-size batch of similar-length peers, the standard
    * padding-minimization step ahead of training/inference (every
    * sequence in a batch pads to the batch max, so batching random
    * lengths wastes compute proportional to the length spread).
    * Documents bucket by `lenCol div bucketWidth` — bounding the
    * within-batch spread by `bucketWidth − 1` — then batch in the
    * unbiased [[orderHash]] order (id tie-break), `batchSize` rows per
    * batch: deterministic, so retries rebuild identical batches.
    *
    * Returns the per-doc assignment (id, len, bucket, shard,
    * batch_id); batches are keyed (bucket, shard, batch_id). The last
    * batch of each (bucket, shard) may be short.
    *
    * Scale shape: ONE (bucket, shard)-keyed window shuffle. `shards`
    * splits each bucket by id-hash so a hot length bucket (most
    * corpora concentrate near the median) sorts across `shards` tasks
    * instead of one — the salting discipline, at the cost of ≤ shards
    * extra short batches per bucket.
    */
  def lengthBatches(
      df: DataFrame,
      idCol: String,
      lenCol: String,
      bucketWidth: Int,
      batchSize: Int,
      shards: Int = 1
  ): DataFrame = {
    require(bucketWidth > 0 && batchSize > 0 && shards > 0,
      "lengthBatches: positive bucketWidth/batchSize/shards")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("bucket"), col("shard"))
      .orderBy(orderHash(col(idCol)).asc, col(idCol).asc)
    df.select(
        col(idCol), col(lenCol).cast("long").as("len"),
        floor(col(lenCol).cast("double") / bucketWidth).cast("long").as("bucket"),
        hashBucket(col(idCol), shards).as("shard"))
      .withColumn("batch_id",
        floor((row_number().over(w) - lit(1)).cast("double") / batchSize).cast("long"))
  }

  /** DSIR per-document importance log-ratios (Xie et al. 2023, "Data
    * Selection for Language Models via Importance Resampling"): score
    * every raw document by how much more likely its hashed-unigram bag
    * is under the TARGET distribution (docs matching `isTarget` — the
    * high-quality corpus DSIR selects toward) than under the RAW
    * distribution (the whole input). Features are token hash buckets
    * (the paper's hashed n-grams — the device that makes the estimator
    * vocabulary-free at 100 TB): bucket(tok) = polyhash(tok) mod
    * `buckets`, add-one-smoothed counts.
    *
    * Emits (id, n_tokens, lr_tab) with
    * `lr_tab = Σ_buckets tf(b) · (lnInt(ct(b) div s + 1) − lnInt(cr(b) div s + 1))`
    * — the table-read part of the log importance weight. The full
    * weight is `lr_tab + n_tokens · (ln(Tr+B) − ln(Tt+B))`: the second
    * term is a corpus-wide constant per token, so PER-TOKEN-RATE
    * ranking (`lr_tab / n_tokens`, what [[q_hard_examples]]-style
    * selection consumes) is invariant to it — the same
    * constant-cancels monotone trick as the DoReMi chain, keeping the
    * whole decision inside the shared bit-exact ln table.
    *
    * `countScale` (s, default 4) floor-divides bucket counts before
    * the table ln so the argument stays ≤ [[TextAnalysis.LnTableSize]]
    * for up to s·16384 tokens per bucket even when hot terms collide
    * in one bucket; the induced ln(s) shift cancels between the target
    * and raw terms (up to floor rounding), and both engines floor
    * identically.
    *
    * Scale shape: one corpus-sized (id, bucket) partial-agg shuffle;
    * the bucket model collapses to a `buckets`-row decision table that
    * rides a broadcast back over the per-doc counts; the per-doc fold
    * is ordered by bucket (sorted struct array) so the double sum is
    * engine-exact.
    */
  /** The fitted DSIR bucket model on its own: (bucket, delta) with
    * `delta = lnInt(ct div s + 1) − lnInt(cr div s + 1)` over the
    * training corpus — the `buckets`-row artifact a production
    * pipeline persists once and then applies map-side to arbitrary
    * later corpora ([[dsirScore]]), decoupling model fitting from
    * rating exactly as a trained quality classifier is. One
    * (bucket)-keyed partial-agg shuffle over the training scan.
    */
  def dsirBucketModel(
      docs: DataFrame,
      textCol: String,
      isTarget: Column,
      buckets: Int = 64,
      countScale: Int = 4
  ): DataFrame = {
    require(buckets > 0 && countScale > 0, "dsirBucketModel: positive buckets/countScale")
    docs
      .select(
        isTarget.cast("boolean").as("__t"),
        explode(TextAnalysis.tokens(col(textCol))).as("__tok"))
      .withColumn("__b",
        pmod(graft.functions.GraftFunctions
          .polyHash(col("__tok"), 31L, TextAnalysis.FingerprintMod), lit(buckets.toLong)))
      .groupBy(col("__b"))
      .agg(
        sum(when(col("__t"), lit(1L)).otherwise(lit(0L))).as("__ct"),
        count(lit(1)).as("__cr"))
      .select(
        col("__b"), col("__ct"), col("__cr"),
        (TextAnalysis.lnInt(floor(col("__ct") / countScale) + 1) -
          TextAnalysis.lnInt(floor(col("__cr") / countScale) + 1)).as("__delta"))
  }

  /** Merge two [[dsirBucketModel]]s over disjoint corpora into the
    * model of their union: bucket counts are ADDITIVE, so the merge is
    * a full-outer count sum plus a delta recompute — and equals
    * refitting on the union BIT-EXACTLY (the mergeable-sketch property
    * that makes the model maintainable incrementally at 100 TB: fit
    * per ingest batch, merge decision tables, never rescan history).
    * Both sides are `buckets`-row decision tables, so the merge is
    * driver-trivial work planned as one tiny join.
    */
  def dsirMergeModels(
      a: DataFrame,
      b: DataFrame,
      countScale: Int = 4
  ): DataFrame = {
    val summed = a.select(col("__b"), col("__ct"), col("__cr"))
      .unionByName(b.select(col("__b"), col("__ct"), col("__cr")))
      .groupBy(col("__b"))
      .agg(sum(col("__ct")).as("__ct"), sum(col("__cr")).as("__cr"))
    summed.select(
      col("__b"), col("__ct"), col("__cr"),
      (TextAnalysis.lnInt(floor(col("__ct") / countScale) + 1) -
        TextAnalysis.lnInt(floor(col("__cr") / countScale) + 1)).as("__delta"))
  }

  /** Scalar mirror of [[TextAnalysis.lnInt]] for driver-side decision-
    * table arithmetic: the SAME shared table (so a model constant
    * computed here folds bit-identically with column-side table reads),
    * StrictMath.log beyond it.
    */
  private def lnIntScalar(k: Long): Double =
    if (k >= 1 && k <= TextAnalysis.LnTableSize) TextAnalysis.LnTable((k - 1).toInt)
    else StrictMath.log(k.toDouble)

  /** Collect a [[dsirBucketModel]] into the dense per-bucket delta
    * array [[dsirScore]] consumes, CENTERED at the raw/target mixture.
    * Decision-table-sized by contract (`buckets` entries) — the one
    * bounded driver materialization, the same shape as a quota table
    * riding a closure. Each delta carries the per-token corpus
    * constant `ln(Tr) − ln(Tt)` (totals summed from the model's own
    * bucket counts — no extra scan), so the scored rate reads as a
    * true log-likelihood ratio and 0 is the meaningful neutral point:
    * positive = more target-like than the average raw token mix. The constant itself stays a shared-table
    * read via the same count-scaling trick (totals div `totalScale`;
    * the ln-scale shift cancels between the two terms), so the whole
    * screen remains bit-exact cross-engine. Buckets unseen in training
    * keep the bare constant (add-one smoothing of two zero counts).
    */
  def dsirModelArrayCentered(
      model: DataFrame,
      buckets: Int,
      totalScale: Long = 64L
  ): Array[Double] = {
    val rows = model
      .select(col("__b").cast("int"), col("__ct").cast("long"),
        col("__cr").cast("long"), col("__delta").cast("double"))
      .collect()
    val tt = rows.map(_.getLong(1)).sum
    val tr = rows.map(_.getLong(2)).sum
    val const = lnIntScalar(tr / totalScale + 1) - lnIntScalar(tt / totalScale + 1)
    val out = Array.fill(buckets)(const)
    rows.foreach(r => out(r.getInt(0)) = r.getDouble(3) + const)
    out
  }

  /** Map-side DSIR rating of a text column against a FITTED model
    * (the dense delta array from [[dsirModelArrayCentered]]): the summed
    * per-token bucket deltas, folded in token order — a pure
    * projection, no shuffle, streaming-safe (a stream screen is this
    * column in a `withColumn` on `readStream`). Divide by the token
    * count for the rate that ranking/thresholds consume.
    */
  def dsirScore(text: Column, deltas: Seq[Double], buckets: Int): Column =
    aggregate(
      transform(
        TextAnalysis.tokens(text),
        t =>
          coalesce(
            try_element_at(
              lit(deltas.toArray),
              pmod(graft.functions.GraftFunctions
                .polyHash(t, 31L, TextAnalysis.FingerprintMod), lit(buckets.toLong))
                .cast("int") + 1),
            lit(0.0))),
      lit(0.0), (acc, d) => acc + d)

  def dsirLogRatios(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      isTarget: Column,
      buckets: Int = 64,
      countScale: Int = 4
  ): DataFrame = {
    require(buckets > 0 && countScale > 0, "dsirLogRatios: positive buckets/countScale")
    val tf = docs
      .select(
        col(idCol).as("__id"),
        explode(TextAnalysis.tokens(col(textCol))).as("__tok"))
      .withColumn("__b",
        pmod(graft.functions.GraftFunctions
          .polyHash(col("__tok"), 31L, TextAnalysis.FingerprintMod), lit(buckets.toLong)))
      .groupBy(col("__id"), col("__b"))
      .agg(count(lit(1)).as("__tf"))
    tf
      .join(broadcast(dsirBucketModel(docs, textCol, isTarget, buckets, countScale)), "__b")
      .groupBy(col("__id"))
      .agg(
        sum(col("__tf")).cast("long").as("n_tokens"),
        aggregate(
          sort_array(collect_list(struct(
            col("__b"),
            (col("__tf").cast("double") * col("__delta")).as("c")))),
          lit(0.0), (acc, s) => acc + s("c")).as("lr_tab"))
      .select(col("__id").as(idCol), col("n_tokens"), col("lr_tab"))
  }

  /** Close DSIR into a selection: rank documents by the 2⁻²⁰-grid-
    * snapped per-token importance rate (ties by id) and keep the top
    * `budget` — the deterministic counterpart of the paper's Gumbel
    * resampling step (importance ORDER is what the noise perturbs; the
    * deterministic top-k is the noise-free limit, and the only
    * reproducible contract a curation audit can pin). One
    * TakeOrdered(k) over the rated corpus — no global sort.
    */
  def dsirSelect(
      rated: DataFrame,
      idCol: String,
      budget: Int
  ): DataFrame =
    rated
      .withColumn("rate_q",
        floor(col("lr_tab") / col("n_tokens").cast("double") * 1048576.0).cast("long"))
      .orderBy(col("rate_q").desc, col(idCol).asc)
      .limit(budget)
}
