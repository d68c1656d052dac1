package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Count-Min sketch — the mergeable frequency estimator that answers
  * "how often does token X occur" over 100 TB without materializing
  * the full term dictionary: d hash rows × w buckets of exact integer
  * counts (d·w cells total, independent of corpus size), point
  * estimates as the MIN over the d counters a key hashes to —
  * one-sided error (estimates never undercount), bounded overcount
  * (Cormode & Muthukrishnan 2005).
  *
  * Joins the engine's mergeable-summary family (HLL distincts, moment
  * merges, MinHash signature merges, DSIR bucket models): counts are
  * ADDITIVE, so per-shard sketches merge by cell-wise sum and equal
  * the full build bit-exactly — maintain incrementally per ingest
  * batch, never rescan history. All integer arithmetic over the same
  * polynomial token hash as the DSIR chain, so every cell and every
  * estimate is oracle-checkable in SQL.
  */
object Sketch {

  val CmsMod: Long = 1000000007L

  /** One multiplier per hash row — distinct odd constants over the
    * shared polynomial-hash modulus. d = CmsMults.size = 4.
    */
  val CmsMults: Seq[Long] = Seq(31L, 37L, 41L, 43L)

  private def bucketOf(token: Column, mult: Long, w: Int): Column =
    pmod(graft.functions.GraftFunctions.polyHash(token, mult, CmsMod), lit(w.toLong))

  /** Build the sketch over a text column's whitespace tokens: ONE
    * corpus scan (each token explodes into its d (row, bucket) cells —
    * constant fan-out), one partial-agg shuffle into the d·w-cell
    * table. Returns (row, bucket, cnt); absent cells are zero.
    */
  def countMin(docs: DataFrame, textCol: String, w: Int): DataFrame = {
    require(w > 0, "Sketch.countMin: positive width")
    val cells = array(CmsMults.zipWithIndex.map { case (m, i) =>
      struct(lit(i).as("row"), bucketOf(col("__t"), m, w).as("bucket"))
    }: _*)
    docs
      .select(explode(TextAnalysis.tokens(col(textCol))).as("__t"))
      .select(explode(cells).as("__c"))
      .groupBy(col("__c.row").as("row"), col("__c.bucket").as("bucket"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Merge two sketches (same d, w): cell-wise sum — equals building
    * on the concatenated corpora bit-exactly (counts are additive).
    */
  def countMinMerge(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b)
      .groupBy(col("row"), col("bucket"))
      .agg(sum(col("cnt")).as("cnt"))

  /** Collect a sketch into dense per-row arrays for map-side
    * estimation — d·w longs, the bounded decision-table
    * materialization (same contract as the DSIR model arrays).
    */
  def countMinArrays(sketch: DataFrame, w: Int): Array[Array[Long]] = {
    require(w > 0, "Sketch.countMinArrays: positive width")
    val out = Array.fill(CmsMults.size, w)(0L)
    sketch.select(col("row").cast("int"), col("bucket").cast("int"),
      col("cnt").cast("long"))
      .collect()
      .foreach { r =>
        val (row, b) = (r.getInt(0), r.getInt(1))
        require(row >= 0 && row < CmsMults.size && b >= 0 && b < w,
          s"Sketch.countMinArrays: cell ($row, $b) outside d=${CmsMults.size}, w=$w — " +
            "was the sketch built with a different width?")
        // SUM, not overwrite: an unaggregated union of sketches then
        // behaves as the cell-wise merge instead of silently dropping
        // counts (which would break the never-undercount guarantee)
        out(row)(b) += r.getLong(2)
      }
    out
  }

  /** Map-side point estimate against a collected sketch: the MIN over
    * the d counters the token hashes to. Never undercounts; pure
    * projection, no shuffle — streaming-safe like [[Sampling.dsirScore]].
    */
  def countMinEstimate(token: Column, sketch: Array[Array[Long]], w: Int): Column =
    CmsMults.zipWithIndex.map { case (m, i) =>
      coalesce(
        try_element_at(lit(sketch(i)), bucketOf(token, m, w).cast("int") + 1),
        lit(0L))
    }.reduce(least(_, _))

  // --- HyperLogLog -------------------------------------------------------
  //
  // Distinct counting over 100 TB without a distinct shuffle: m
  // registers, each the MAX leading-zero rank of the hashes landing in
  // its bucket (Flajolet et al. 2007). Registers are order-free MAXes,
  // so per-shard register sets merge cell-wise and equal the full
  // build bit-exactly — the same mergeable-summary contract as the
  // Count-Min cells above, with MAX in place of SUM. Unlike the
  // DataSketches-based q_hll_distinct (whose estimate is only
  // checkable in its sparse-exact regime), this sketch is DETERMINISTIC
  // end to end: registers derive from XXH64 (oracle-portable via the
  // SimHash gates' HUGEINT emulation) and the estimate is all-integer
  // (the α·m² numerator is a precomputed literal, Σ2^-M runs as a
  // scaled integer sum, the division floors), so every register and
  // the estimate itself are oracle-checkable in SQL at any
  // cardinality.

  /** m = 64 buckets (p = 6 index bits, the low bits of the hash). */
  val HllBuckets: Int = 64

  /** Rank-field width: 32 hash bits above the bucket index, so
    * registers run 1..33 (33 = the all-zero field) and every scaled
    * harmonic term 2^(33−M) — and their 64-bucket sum — stays in a
    * long. The rank statistic needs a hash with real avalanche (the
    * polynomial family's short-key outputs are small numbers whose
    * leading-zero ranks read as astronomically rare — measured as a
    * 10⁶× overestimate on integer keys), so the sketch hashes with
    * XXH64 (Spark's codegen'd `xxhash64`, seed 42), whose
    * HUGEINT-emulation oracle port is already validated bit-for-bit
    * by the SimHash gates. Field ceiling: saturation becomes likely
    * only near 2^32·m ≈ 2.7e11 distincts; beyond that a wider field
    * needs decimal sums (documented boundary, same class as the
    * 64-bit large-range correction).
    */
  val HllFieldBits: Int = 32

  /** α_64·m²·2^(FieldBits+1) with α_64 = 709/1000 (Flajolet's constant
    * for m = 64), floored once here so both engines divide the SAME
    * integer numerator.
    */
  val HllAlphaNum: Long =
    709L * HllBuckets * HllBuckets * (1L << (HllFieldBits + 1)) / 1000L

  /** Linear-counting / raw-estimate switchover: the standard 2.5·m. */
  val HllLcBound: Long = 5L * HllBuckets / 2L

  /** The m = 64 default is the SCREENING regime (~13% three-sigma
    * band, register-pinnable in a 64-row frame); production distinct
    * counting runs the parameterized twins below at p = 12
    * (m = 4096, ~1.6% standard error — the [[HllWideBits]] gate).
    * Everything stays integer at any supported width: the numerator
    * α·m²·2^33 peaks at ~1.04e17 for m = 4096 (inside Long), and the
    * scaled harmonic sum peaks at m·2^33 = 2^45.
    */
  val HllWideBits: Int = 12

  /** α_m·m²·2^(FieldBits+1) floored ONCE for a 2^bits-bucket sketch —
    * the estimate numerator both engines divide (the [[HllAlphaNum]]
    * contract, parameterized). α per Flajolet et al. 2007: 673/1000
    * (m=16), 697/1000 (m=32), 709/1000 (m=64), 0.7213/(1+1.079/m)
    * beyond — the large-m constant carried to nine fractional digits
    * before the one floor, so the literal is a pure function of
    * `bits` and splices identically into the oracle SQL.
    */
  def hllAlphaNumFor(bits: Int): Long = {
    require(bits >= 4 && bits <= 14, "Sketch.hllAlphaNumFor: 16..16384 buckets")
    val m = 1L << bits
    val pow = BigInt(1) << (HllFieldBits + 1)
    val alphaNano: Long = bits match {
      case 4 => 673000000L
      case 5 => 697000000L
      case 6 => 709000000L
      case _ => math.floor(7213e5 * m / (m + 1.079)).toLong
    }
    (BigInt(alphaNano) * m * m * pow / BigInt(1000000000L)).toLong
  }

  /** Linear-counting switchover for a 2^bits-bucket sketch: 2.5·m. */
  def hllLcBoundFor(bits: Int): Long = 5L * (1L << bits) / 2L

  /** The (bucket, __rho) projection both register builders share —
    * XXH64 of a token in `__t`: the low `bits` bits index the bucket
    * (sign-safe under two's complement), the next 32 are the rank
    * field; one hash chain so solo and grouped sketches can never
    * drift.
    */
  private def hllBucketRhoFor(bits: Int): Seq[Column] = {
    val h = xxhash64(col("__t"))
    val v = shiftrightunsigned(h, bits).bitwiseAND(lit(4294967295L))
    val rho = when(v === 0L, lit(HllFieldBits + 1))
      .otherwise(lit(HllFieldBits + 1) - length(bin(v)))
    Seq(h.bitwiseAND(lit((1L << bits) - 1L)).as("bucket"),
      rho.cast("long").as("__rho"))
  }

  /** Build the register set over a text column's whitespace tokens:
    * ONE corpus scan — each token projects to its (bucket, rank) pair
    * map-side, then one partial-agg shuffle folds the MAX into the
    * ≤ m-row register table. Duplicate tokens are absorbed by the MAX
    * (no distinct pass). Returns (bucket, register); absent buckets
    * are empty (register 0).
    */
  def hllRegisters(docs: DataFrame, textCol: String): DataFrame =
    hllRegistersP(docs, textCol, 6)

  /** [[hllRegisters]] at an arbitrary precision p = `bits` (m = 2^p
    * buckets; low p hash bits index the bucket, the next 32 are the
    * rank field) — the production-width form: the same ONE scan + one
    * partial-agg shuffle, a ≤ m-row register frame out, cell-wise-MAX
    * mergeable via [[hllMerge]] at any width (merge never looks at m).
    */
  def hllRegistersP(docs: DataFrame, textCol: String, bits: Int): DataFrame = {
    require(bits >= 4 && bits <= 14, "Sketch.hllRegistersP: 16..16384 buckets")
    docs
      .select(explode(TextAnalysis.tokens(col(textCol))).as("__t"))
      .select(hllBucketRhoFor(bits): _*)
      .groupBy(col("bucket"))
      .agg(max(col("__rho")).as("register"))
  }

  /** Merge register sets (same m): cell-wise MAX — equals building on
    * the concatenated corpora bit-exactly (max is associative,
    * commutative, idempotent), so per-batch sketches maintain the
    * corpus cardinality without ever rescanning history.
    */
  def hllMerge(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b)
      .groupBy(col("bucket"))
      .agg(max(col("register")).as("register"))

  /** Per-GROUP register sets in one frame (group, bucket, register) —
    * mergeable GROUP-BY distinct counting (the deterministic,
    * register-level-checkable cousin of `approx_count_distinct`'s
    * grouped form): ONE scan, one partial-agg shuffle into the
    * ≤ |groups|·m-cell frame, per-group sketches merging by cell-wise
    * MAX exactly like the whole-frame build. Same tokenization and
    * bucket/rank derivation as [[hllRegisters]].
    */
  def hllRegistersBy(docs: DataFrame, textCol: String, groupCol: String): DataFrame =
    hllRegistersByP(docs, textCol, groupCol, 6)

  /** [[hllRegistersBy]] at production precision p = `bits` — the
    * SPARSE grouped form: the frame carries only the (group, bucket)
    * cells a token actually hit, so per-group distinct counting at
    * m = 4096+ costs rows proportional to the DATA, not
    * |groups|·4096 dense cells (a group that saw 10 tokens holds
    * ≤ 10 rows however wide the sketch). Absent cells ARE the zero
    * registers — [[hllEstimateByP]] recovers them arithmetically as
    * m − n_present, the same contract the solo wide path uses. Still
    * ONE scan + one partial-agg shuffle; cell-wise-MAX mergeable at
    * any width.
    */
  def hllRegistersByP(docs: DataFrame, textCol: String, groupCol: String,
      bits: Int): DataFrame = {
    require(bits >= 4 && bits <= 14, "Sketch.hllRegistersByP: 16..16384 buckets")
    docs
      .select(col(groupCol).as("group"),
        explode(TextAnalysis.tokens(col(textCol))).as("__t"))
      .select(col("group") +: hllBucketRhoFor(bits): _*)
      .groupBy(col("group"), col("bucket"))
      .agg(max(col("__rho")).as("register"))
  }

  /** Per-group estimates from a (group, bucket, register) frame — the
    * [[hllEstimate]] math vectorized by group: one aggregation over
    * the sketch frame, one row per group, never a collect. Groups
    * absent from the register frame (every document tokenized to
    * nothing) have no row here — the group key itself never reached
    * the sketch; callers needing explicit zeros left-join their group
    * universe (solo [[hllEstimate]]'s global aggregation, by contrast,
    * returns an est=0 row for an empty frame).
    */
  def hllEstimateBy(registers: DataFrame): DataFrame =
    hllEstimateByP(registers, 6)

  /** [[hllEstimateBy]] at precision p = `bits` — the grouped estimate
    * over a SPARSE (group, bucket, register) frame: each group's
    * m − n_present absent cells enter the harmonic sum as zero
    * registers (weight 2^(k)) WITHOUT ever materializing — the
    * all-integer math of [[hllEstimateP]] vectorized by group (one
    * agg, never a collect), width constants from the shared
    * [[hllAlphaNumFor]]/[[hllLcBoundFor]] so the literals splice
    * identically into the oracle SQL.
    */
  def hllEstimateByP(registers: DataFrame, bits: Int): DataFrame = {
    require(bits >= 4 && bits <= 14, "Sketch.hllEstimateByP: 16..16384 buckets")
    val m = 1L << bits
    val k = HllFieldBits + 1
    val alphaNum = hllAlphaNumFor(bits)
    val lcBound = hllLcBoundFor(bits)
    registers
      .groupBy(col("group"))
      .agg(
        count(lit(1)).as("n_present"),
        coalesce(sum(expr(s"shiftleft(1L, cast($k - register as int))")), lit(0L))
          .as("__s_present"))
      .select(
        col("group"),
        col("n_present"),
        (lit(m) - col("n_present")).as("n_zero"),
        (col("__s_present") + (lit(m) - col("n_present")) * lit(1L << k))
          .as("s_sum"))
      .withColumn("est_raw", expr(s"${alphaNum}L div s_sum"))
      .withColumn("method",
        when(col("est_raw") <= lcBound && col("n_zero") > 0, lit("linear"))
          .otherwise(lit("raw")))
      .withColumn("est",
        when(col("method") === "linear",
          floor(lit(m.toDouble) *
            (lit(TextAnalysis.LnTable((m - 1).toInt)) -
              TextAnalysis.lnInt(col("n_zero")))))
          .otherwise(col("est_raw")))
  }

  // --- KMV (k-minimum-values / bottom-k theta) ---------------------------
  //
  // The set-operation counterpart of the HLL above: keep the K smallest
  // DISTINCT hash values of the key stream (Bar-Yossef et al. 2002;
  // the bottom-k form of the theta sketch). Distinct-count estimate
  // from the Kth minimum's position in the hash space; but unlike HLL,
  // two KMV register sets also estimate their INTERSECTION (and hence
  // union/difference/Jaccard over distincts): the K smallest of A∪B
  // are a uniform sample of the union, so the fraction of them present
  // in BOTH sketches estimates |A∩B|/|A∪B| — cross-source overlap in
  // DISTINCT KEYS, which MinHash (set Jaccard over shingles) and HLL
  // (no intersections) don't give. Registers are an order statistic —
  // merge = K smallest of the union of register sets, associative,
  // commutative, idempotent, equal to the full build bit-exactly: the
  // same mergeable-summary contract as every sketch here. Hash is the
  // same XXH64 (seed 42) as HLL/SimHash — order statistics over the
  // hash space need avalanche, and the unsigned-HUGEINT oracle port is
  // already validated. All estimates are all-integer (exact integral
  // division of a precomputed (K−1)·2^64 numerator), so registers AND
  // estimates hash-match in SQL.

  /** K = 64 registers: bounded frame, ~12.7% standard error on the
    * distinct estimate (1/√(K−2)) — the screening regime; callers
    * needing tighter bands raise K, everything below is K-generic.
    */
  val KmvK: Int = 64

  /** (K−1)·2^64 — the estimate numerator, precomputed so both engines
    * divide the same integer.
    */
  val KmvNum: java.math.BigDecimal =
    new java.math.BigDecimal(java.math.BigInteger.valueOf(KmvK - 1L)
      .multiply(java.math.BigInteger.ONE.shiftLeft(64)))

  /** Signed two's-complement long → its unsigned value as
    * DECIMAL(38,0) — the hash-space position both engines agree on.
    */
  private def unsignedDec(hv: Column): Column = {
    val dec = hv.cast(org.apache.spark.sql.types.DecimalType(38, 0))
    when(hv < 0, dec + lit(new java.math.BigDecimal("18446744073709551616")))
      .otherwise(dec)
  }

  /** Sort key mapping signed longs to unsigned order: flip the sign
    * bit — cheaper than decimal compare for the TakeOrdered path.
    */
  private def unsignedOrd(hv: Column): Column =
    hv.bitwiseXOR(lit(Long.MinValue))

  /** Build the register set over a key column: the K smallest distinct
    * unsigned XXH64 values, as signed `hv` rows. ONE scan — map-side
    * partial aggregation dedups per partition, the TakeOrdered keeps K
    * per partition and reduces once (never a full sort); the K-row
    * frame is the whole sketch.
    */
  def kmvSketch(df: DataFrame, keyCol: String): DataFrame =
    df.select(xxhash64(col(keyCol)).as("hv"))
      .groupBy(col("hv")).agg(lit(1))
      .select(col("hv"))
      .orderBy(unsignedOrd(col("hv")).asc)
      .limit(KmvK)

  /** Merge register sets: K smallest distinct of the union — equals
    * building on the concatenated key streams bit-exactly (order
    * statistics are associative/commutative/idempotent), so per-shard
    * sketches maintain cross-source overlap without rescanning
    * history.
    */
  def kmvMerge(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b)
      .groupBy(col("hv")).agg(lit(1))
      .select(col("hv"))
      .orderBy(unsignedOrd(col("hv")).asc)
      .limit(KmvK)

  /** Distinct-count estimate from a register set — one agg row out.
    * Fewer than K registers means the sketch holds EVERY distinct hash
    * → the count is exact; otherwise n̂ = (K−1)·2^64 div U_K with U_K
    * the Kth minimum's unsigned value (exact integral division — both
    * engines floor the same quotient). `method` pins the branch.
    */
  def kmvEstimate(registers: DataFrame): DataFrame =
    registers
      .agg(count(lit(1)).as("n_present"),
        max(unsignedDec(col("hv"))).as("__uk"))
      .select(
        col("n_present"),
        when(col("n_present") < KmvK, lit("exact")).otherwise(lit("sampled"))
          .as("method"),
        when(col("n_present") < KmvK, col("n_present"))
          .otherwise(expr(s"CAST('${KmvNum.toPlainString}' AS DECIMAL(38,0)) div __uk"))
          .as("est"))

  /** Per-GROUP register sets — one KMV sketch per value of `groupCol`
    * in a single frame (group, hv): the engine-grade form that turns
    * "two sketches" into a cross-source overlap MATRIX. Two exchanges,
    * both ∝ DISTINCT (group, key) pairs, never the raw corpus: the
    * dedup gets map-side partial aggregation, the per-group bottom-K
    * window runs on the deduped frame. collect_set-per-group would be
    * one exchange but holds every distinct hash of a group in one
    * task's memory — the window form never does.
    */
  def kmvSketchBy(df: DataFrame, keyCol: String, groupCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("group")).orderBy(unsignedOrd(col("hv")).asc)
    df.select(col(groupCol).as("group"), xxhash64(col(keyCol)).as("hv"))
      .distinct()
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= KmvK)
      .drop("__rk")
  }

  /** Pairwise distinct-key overlap matrix from per-group register sets
    * ([[kmvSketchBy]]'s output): for every unordered group pair, merge
    * the two register sets (K smallest of the union), count how many
    * merged registers appear in BOTH, and estimate the intersection —
    * the [[kmvIntersectEstimate]] math vectorized over all pairs.
    * Every frame here is ≤ |groups|²·K rows — sketch-sized, so the
    * matrix costs nothing against the corpus no matter the scale. One
    * row per pair: (group_a, group_b, n_union_present, method,
    * n_union_est, n_common, est).
    */
  def kmvOverlapMatrix(regs: DataFrame): DataFrame =
    // a projection of the full set-operation table — ONE merged-sample
    // construction in the codebase, so the two matrices can never
    // diverge (the membership-class counts partition the same sample)
    kmvSetOpsMatrix(regs)
      .select(col("group_a"), col("group_b"), col("n_union_present"),
        col("method"), col("n_union_est"), col("n_common"),
        col("est_intersect").as("est"))

  /** The FULL set-operation table per group pair, vectorized — union,
    * intersection AND both directed differences from ONE merged
    * K-sample per pair ([[kmvOverlapMatrix]] completed by the
    * [[kmvDifferenceEstimate]] members): every merged register
    * classifies by membership in the two source register sets (sound
    * for every merged element — the union's Kth minimum is ≤ either
    * input's), the three class counts partition n_union_present, and
    * each estimate is count·n̂_∪ div K (exact counts when the union
    * sketch is exhaustive). Frames ≤ |groups|²·K rows — sketch-sized.
    * One row per unordered pair: (group_a, group_b, n_union_present,
    * method, n_union_est, n_common, n_a_only, n_b_only,
    * est_intersect, est_a_only, est_b_only).
    */
  def kmvSetOpsMatrix(regs: DataFrame): DataFrame = {
    val a = regs.select(col("group").as("ga"), col("hv"))
    val b = regs.select(col("group").as("gb"), col("hv"))
    val pairs = a.select(col("ga")).distinct()
      .join(b.select(col("gb")).distinct(), col("ga") < col("gb"))
    val unioned = a.join(broadcast(pairs), "ga")
      .select(col("ga"), col("gb"), col("hv"))
      .unionByName(b.join(broadcast(pairs), "gb")
        .select(col("ga"), col("gb"), col("hv")))
      .distinct()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("ga"), col("gb")).orderBy(unsignedOrd(col("hv")).asc)
    val merged = unioned
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= KmvK)
      .drop("__rk")
    val flagged = merged
      .join(broadcast(a.withColumn("__ina", lit(true))), Seq("ga", "hv"), "left")
      .join(broadcast(b.withColumn("__inb", lit(true))), Seq("gb", "hv"), "left")
      .select(col("ga"), col("gb"), col("hv"),
        coalesce(col("__ina"), lit(false)).as("__ina"),
        coalesce(col("__inb"), lit(false)).as("__inb"))
    def estOf(c: String): Column =
      when(col("method") === "exact", col(c))
        .otherwise(expr(s"CAST($c AS DECIMAL(38,0)) * " +
          s"CAST(n_union_est AS DECIMAL(38,0)) div CAST($KmvK AS DECIMAL(38,0))"))
    flagged
      .groupBy(col("ga"), col("gb"))
      .agg(
        count(lit(1)).as("n_union_present"),
        max(unsignedDec(col("hv"))).as("__uk"),
        sum(when(col("__ina") && col("__inb"), 1L).otherwise(0L)).as("n_common"),
        sum(when(col("__ina") && !col("__inb"), 1L).otherwise(0L)).as("n_a_only"),
        sum(when(col("__inb") && !col("__ina"), 1L).otherwise(0L)).as("n_b_only"))
      .withColumn("method",
        when(col("n_union_present") < KmvK, lit("exact")).otherwise(lit("sampled")))
      .withColumn("n_union_est",
        when(col("method") === "exact", col("n_union_present"))
          .otherwise(expr(s"CAST('${KmvNum.toPlainString}' AS DECIMAL(38,0)) div __uk")))
      .withColumn("est_intersect", estOf("n_common"))
      .withColumn("est_a_only", estOf("n_a_only"))
      .withColumn("est_b_only", estOf("n_b_only"))
      .select(col("ga").as("group_a"), col("gb").as("group_b"),
        col("n_union_present"), col("method"), col("n_union_est"),
        col("n_common"), col("n_a_only"), col("n_b_only"),
        col("est_intersect"), col("est_a_only"), col("est_b_only"))
  }

  /** Intersection estimate across two sketches: L = the merged
    * register set (a uniform K-sample of A∪B); c = |{h ∈ L : h in A's
    * registers AND in B's registers}|; n̂_∩ = c·n̂_∪ div K — or exactly
    * c when the union sketch is exact. Register frames are K-row, so
    * every join here broadcasts; one row out:
    * (n_union_est, n_common, est).
    */
  def kmvIntersectEstimate(a: DataFrame, b: DataFrame): DataFrame = {
    val merged = kmvMerge(a, b)
    val common = merged
      .join(broadcast(a.select(col("hv").as("__ha"))), col("hv") === col("__ha"), "left_semi")
      .join(broadcast(b.select(col("hv").as("__hb"))), col("hv") === col("__hb"), "left_semi")
      .agg(count(lit(1)).as("n_common"))
    kmvEstimate(merged)
      .select(col("n_present").as("n_union_present"),
        col("method"), col("est").as("n_union_est"))
      .crossJoin(broadcast(common))
      .withColumn("est",
        when(col("method") === "exact", col("n_common"))
          // decimal product: est_union is unbounded in principle, and
          // the exact integral division must never overflow first
          .otherwise(expr("CAST(n_common AS DECIMAL(38,0)) * " +
            s"CAST(n_union_est AS DECIMAL(38,0)) div CAST($KmvK AS DECIMAL(38,0))")))
  }

  /** A-not-B (set DIFFERENCE) estimate across two sketches — the
    * member that closes the set-operation family (union = the merge's
    * estimate, intersection = [[kmvIntersectEstimate]], difference =
    * here, all on the SAME merged sample): L = the merged register set
    * (a uniform K-sample of A∪B); c = |{h ∈ L : h in A's registers AND
    * NOT in B's}|; n̂_{A∖B} = c·n̂_∪ div K — or exactly c when the
    * union sketch is exact (union exhaustive ⇒ both inputs
    * exhaustive). Membership against the register sets is sound for
    * every h ∈ L: the union's Kth minimum is ≤ either input's, so an
    * element of L present in a source is always inside that source's
    * bottom-K. Register frames are K-row, so every join broadcasts;
    * one row out: (n_union_present, method, n_union_est, n_diff, est).
    */
  def kmvDifferenceEstimate(a: DataFrame, b: DataFrame): DataFrame = {
    val merged = kmvMerge(a, b)
    val diff = merged
      .join(broadcast(a.select(col("hv").as("__ha"))), col("hv") === col("__ha"), "left_semi")
      .join(broadcast(b.select(col("hv").as("__hb"))), col("hv") === col("__hb"), "left_anti")
      .agg(count(lit(1)).as("n_diff"))
    kmvEstimate(merged)
      .select(col("n_present").as("n_union_present"),
        col("method"), col("est").as("n_union_est"))
      .crossJoin(broadcast(diff))
      .withColumn("est",
        when(col("method") === "exact", col("n_diff"))
          .otherwise(expr("CAST(n_diff AS DECIMAL(38,0)) * " +
            s"CAST(n_union_est AS DECIMAL(38,0)) div CAST($KmvK AS DECIMAL(38,0))")))
  }

  /** Cardinality estimate from a register set — ONE row out, never a
    * collect: n_present and the scaled harmonic sum ride one agg over
    * the ≤ m-row frame; empty buckets contribute 2^33 each. The raw
    * estimate is the all-integer floor of α·m²·2^33 / S; below
    * [[HllLcBound]] with empty buckets present, linear counting
    * m·ln(m/V) takes over, its two ln reads coming from the shared
    * [[TextAnalysis.LnTable]] so the float product is the identical
    * IEEE operation in both engines. `method` pins which branch fired.
    */
  def hllEstimate(registers: DataFrame): DataFrame = hllEstimateP(registers, 6)

  /** [[hllEstimate]] for a p = `bits` register frame — the identical
    * all-integer math with the width-dependent constants swapped:
    * numerator [[hllAlphaNumFor]], switchover [[hllLcBoundFor]], the
    * linear branch's ln(m) read from the shared table (m ≤ 16384 by
    * the builder guard). Still ONE agg row out of the ≤ m-row frame.
    */
  def hllEstimateP(registers: DataFrame, bits: Int): DataFrame = {
    val m = 1L << bits
    val k = HllFieldBits + 1
    val alphaNum = hllAlphaNumFor(bits)
    val lcBound = hllLcBoundFor(bits)
    registers
      .agg(
        count(lit(1)).as("n_present"),
        coalesce(sum(expr(s"shiftleft(1L, cast($k - register as int))")), lit(0L))
          .as("__s_present"))
      .select(
        col("n_present"),
        (lit(m) - col("n_present")).as("n_zero"),
        (col("__s_present") + (lit(m) - col("n_present")) * lit(1L << k))
          .as("s_sum"))
      .withColumn("est_raw", expr(s"${alphaNum}L div s_sum"))
      .withColumn("method",
        when(col("est_raw") <= lcBound && col("n_zero") > 0, lit("linear"))
          .otherwise(lit("raw")))
      .withColumn("est",
        when(col("method") === "linear",
          floor(lit(m.toDouble) *
            (lit(TextAnalysis.LnTable((m - 1).toInt)) -
              TextAnalysis.lnInt(col("n_zero")))))
          .otherwise(col("est_raw")))
  }
}
