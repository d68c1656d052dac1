package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.operators.{BloomPrune, Changelog, Dedup, Layout, Profile, Sampling, Skew, TextAnalysis}

/** Round-2 coverage widening: the remaining relational / analytic
  * surface a user of a full engine expects — correlated subqueries,
  * unpivot, string aggregation, exact statistical moments, analytic
  * distribution functions, navigation functions, version dedup,
  * salted-aggregation invariance, regexp / null-handling batteries,
  * union-by-name, bitwise & filtered aggregates, binning, explode,
  * grouping ids, and CSV/JSON round-trip sources.
  *
  * Float discipline follows [[Q.dsum]]: every double aggregate is an
  * exact decimal sum cast to double, and all post-aggregation double
  * arithmetic uses the identical operation tree in Spark and the DuckDB
  * oracle, so results are bitwise reproducible.
  */
object ExtendedQueries {

  private val Dec = DecimalType(18, 4)

  /** Exact decimal product-sum (cast to double): values with ≤2
    * fractional digits have exact 4-digit products, so the inner
    * DECIMAL(18,4) re-cast is lossless and the sum order-independent.
    */
  private def dprod(a: String, b: String) =
    sum((col(a).cast(Dec) * col(b).cast(Dec)).cast(Dec)).cast("double")

  private def sqlProd(a: String, b: String) =
    s"CAST(SUM(CAST(CAST($a AS DECIMAL(18,4)) * CAST($b AS DECIMAL(18,4)) AS DECIMAL(18,4))) AS DOUBLE)"

  val all: Seq[Q] = Seq(

    // Correlated EXISTS with a cross-table inequality (plans as a
    // left-semi join with a compound condition).
    Q(
      "q_exists_correlated",
      (spark, dir) => {
        val cust = Q.t(spark, dir, "customer")
        val orders = Q.t(spark, dir, "orders")
        cust
          .join(orders,
            cust("c_custkey") === orders("o_custkey") &&
              orders("o_totalprice") > cust("c_acctbal") * 100,
            "left_semi")
          .select(col("c_custkey"), col("c_name"))
      },
      Some(
        """SELECT c_custkey, c_name FROM customer
          |WHERE EXISTS (SELECT 1 FROM orders
          |              WHERE o_custkey = c_custkey
          |                AND o_totalprice > c_acctbal * 100)""".stripMargin
      )
    ),

    // Uncorrelated scalar subquery: orders above the global average
    // price (single-row aggregate broadcast to every row).
    Q(
      "q_scalar_subquery",
      (spark, dir) => {
        val orders = Q.t(spark, dir, "orders")
        val g = orders.agg(Q.davg(col("o_totalprice")).as("global_avg"))
        orders
          .crossJoin(broadcast(g))
          .filter(col("o_totalprice") > col("global_avg"))
          .select(col("o_orderkey"), col("o_totalprice"), col("global_avg"))
      },
      Some(
        """SELECT o_orderkey, o_totalprice, global_avg
          |FROM orders CROSS JOIN (
          |  SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS global_avg
          |  FROM orders) g
          |WHERE o_totalprice > global_avg""".stripMargin
      )
    ),

    // Wide-to-long unpivot (melt) of two part metrics.
    Q(
      "q_unpivot",
      (spark, dir) =>
        Q.t(spark, dir, "part")
          .select(col("p_partkey"),
            col("p_size").cast("double").as("p_size"),
            col("p_retailprice"))
          .unpivot(
            Array(col("p_partkey")),
            Array(col("p_size"), col("p_retailprice")),
            "metric", "value"),
      Some(
        """SELECT p_partkey, 'p_size' AS metric, CAST(p_size AS DOUBLE) AS value FROM part
          |UNION ALL
          |SELECT p_partkey, 'p_retailprice' AS metric, p_retailprice AS value FROM part""".stripMargin
      )
    ),

    // Ordered string aggregation (listagg): nation roster per region.
    Q(
      "q_string_agg",
      (spark, dir) => {
        val nation = Q.t(spark, dir, "nation")
        val region = Q.t(spark, dir, "region")
        nation
          .join(broadcast(region), nation("n_regionkey") === region("r_regionkey"))
          .groupBy(col("r_name"))
          .agg(
            array_join(array_sort(collect_list(col("n_name"))), ",").as("nations"),
            count(lit(1)).as("n"))
      },
      Some(
        """SELECT r_name, string_agg(n_name, ',' ORDER BY n_name) AS nations, COUNT(*) AS n
          |FROM nation JOIN region ON n_regionkey = r_regionkey
          |GROUP BY r_name""".stripMargin
      )
    ),

    // Statistical moments (mean / variance / stddev / correlation)
    // composed from exact decimal sums so both engines perform the
    // same IEEE operations on the same exact inputs — unlike the
    // built-in var_pop/corr, whose incremental algorithms differ
    // across engines and never hash-match.
    Q(
      "q_stats_moments",
      (spark, dir) =>
        Q.t(spark, dir, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(
            count(lit(1)).as("n"),
            Q.dsum(col("l_quantity")).as("sx"),
            dprod("l_quantity", "l_quantity").as("sxx"),
            Q.dsum(col("l_discount")).as("sy"),
            dprod("l_discount", "l_discount").as("syy"),
            dprod("l_quantity", "l_discount").as("sxy"))
          .select(
            col("l_returnflag"), col("n"),
            (col("sx") / col("n")).as("mean_qty"),
            ((col("sxx") - col("sx") * col("sx") / col("n")) / col("n")).as("var_qty"),
            sqrt((col("sxx") - col("sx") * col("sx") / col("n")) / col("n")).as("std_qty"),
            ((col("n") * col("sxy") - col("sx") * col("sy")) /
              (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
                sqrt(col("n") * col("syy") - col("sy") * col("sy")))).as("corr_qd")),
      Some(
        s"""WITH s AS (
           |  SELECT l_returnflag, COUNT(*) AS n,
           |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sx,
           |    ${sqlProd("l_quantity", "l_quantity")} AS sxx,
           |    CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) AS sy,
           |    ${sqlProd("l_discount", "l_discount")} AS syy,
           |    ${sqlProd("l_quantity", "l_discount")} AS sxy
           |  FROM lineitem GROUP BY l_returnflag)
           |SELECT l_returnflag, n,
           |  sx / n AS mean_qty,
           |  (sxx - sx * sx / n) / n AS var_qty,
           |  sqrt((sxx - sx * sx / n) / n) AS std_qty,
           |  (n * sxy - sx * sy) /
           |    (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)) AS corr_qd
           |FROM s""".stripMargin
      )
    ),

    // Distribution window functions: quartile / percent_rank /
    // cume_dist / dense_rank under a fully deterministic ordering.
    Q(
      "q_ntile_dist",
      (spark, dir) => {
        val w = Window.partitionBy(col("o_orderstatus"))
          .orderBy(col("o_totalprice").asc, col("o_orderkey").asc)
        Q.t(spark, dir, "orders")
          .select(
            col("o_orderstatus"), col("o_orderkey"),
            ntile(4).over(w).as("quartile"),
            percent_rank().over(w).as("pct_rank"),
            cume_dist().over(w).as("cume"),
            dense_rank().over(w).cast("int").as("drank"))
      },
      Some(
        """SELECT o_orderstatus, o_orderkey,
          |  CAST(NTILE(4) OVER w AS INT) AS quartile,
          |  PERCENT_RANK() OVER w AS pct_rank,
          |  CUME_DIST() OVER w AS cume,
          |  CAST(DENSE_RANK() OVER w AS INT) AS drank
          |FROM orders
          |WINDOW w AS (PARTITION BY o_orderstatus
          |             ORDER BY o_totalprice ASC, o_orderkey ASC)""".stripMargin
      )
    ),

    // Navigation functions: per-supplier shipment cadence via lag/lead.
    // Fully-tied duplicate rows are interchangeable, so the output
    // multiset is order-invariant even where the fixture repeats
    // (orderkey, linenumber).
    Q(
      "q_lag_lead",
      (spark, dir) => {
        val w = Window.partitionBy(col("l_suppkey"))
          .orderBy(col("l_shipdate").asc, col("l_orderkey").asc,
            col("l_linenumber").asc, col("l_quantity").asc)
        Q.t(spark, dir, "lineitem")
          .select(
            col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
            datediff(to_date(col("l_shipdate")),
              to_date(lag(col("l_shipdate"), 1).over(w))).as("days_since_prev"),
            datediff(to_date(lead(col("l_shipdate"), 1).over(w)),
              to_date(col("l_shipdate"))).as("days_to_next"))
      },
      Some(
        """SELECT l_suppkey, l_orderkey, l_linenumber,
          |  CAST(date_diff('day', CAST(LAG(l_shipdate, 1) OVER w AS DATE),
          |                 CAST(l_shipdate AS DATE)) AS INT) AS days_since_prev,
          |  CAST(date_diff('day', CAST(l_shipdate AS DATE),
          |                 CAST(LEAD(l_shipdate, 1) OVER w AS DATE)) AS INT) AS days_to_next
          |FROM lineitem
          |WINDOW w AS (PARTITION BY l_suppkey
          |             ORDER BY l_shipdate ASC, l_orderkey ASC,
          |                      l_linenumber ASC, l_quantity ASC)""".stripMargin
      )
    ),

    // Frame-positional functions: first / last / nth order per customer.
    Q(
      "q_first_last",
      (spark, dir) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        Q.t(spark, dir, "orders")
          .select(
            col("o_custkey"), col("o_orderkey"),
            first(col("o_orderkey")).over(w).as("first_order"),
            last(col("o_orderkey")).over(w).as("last_order"),
            nth_value(col("o_orderkey"), 2).over(w).as("second_order"))
      },
      Some(
        """SELECT o_custkey, o_orderkey,
          |  FIRST_VALUE(o_orderkey) OVER w AS first_order,
          |  LAST_VALUE(o_orderkey) OVER w AS last_order,
          |  NTH_VALUE(o_orderkey, 2) OVER w AS second_order
          |FROM orders
          |WINDOW w AS (PARTITION BY o_custkey
          |             ORDER BY o_orderdate ASC, o_orderkey ASC
          |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""".stripMargin
      )
    ),

    // Version dedup: newest event per user wins (the re-crawl /
    // re-ingest "latest version" policy) — one shuffle, rank state only.
    Q(
      "q_dedup_keeplatest",
      (spark, dir) =>
        Dedup.keepLatest(
          Q.t(spark, dir, "events"),
          Seq("user_id"),
          Seq(col("ts").desc, col("event_id").desc))
          .select(col("user_id"), col("event_id"), col("ts")),
      Some(
        """SELECT user_id, event_id, ts FROM (
          |  SELECT user_id, event_id, ts,
          |         ROW_NUMBER() OVER (PARTITION BY user_id
          |                            ORDER BY ts DESC, event_id DESC) AS rn
          |  FROM events) t
          |WHERE rn = 1""".stripMargin
      )
    ),

    // Salted two-stage aggregation is result-identical to the plain
    // group-by (the oracle IS the unsalted query) — the skew lever
    // changes only physical distribution.
    Q(
      "q_salted_agg",
      (spark, dir) =>
        Skew.saltedSum(
          Q.t(spark, dir, "events"),
          Seq("event_type"),
          col("value").cast(Dec),
          salts = 8)
          .select(col("event_type"), col("total").cast("double").as("total")),
      Some(
        """SELECT event_type, CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total
          |FROM events GROUP BY event_type""".stripMargin
      )
    ),

    // Regexp battery: extract / replace-all / match / split-count.
    Q(
      "q_regexp_funcs",
      (spark, dir) =>
        Q.t(spark, dir, "part")
          .select(
            col("p_partkey"),
            regexp_extract(col("p_name"), "^[a-z]+", 0).as("first_word"),
            regexp_replace(col("p_name"), "[aeiou]", "").as("no_vowels"),
            col("p_type").rlike("ECO|PRO").as("is_eco_promo"),
            size(split(col("p_name"), " ")).cast("long").as("n_words")),
      Some(
        """SELECT p_partkey,
          |  regexp_extract(p_name, '^[a-z]+', 0) AS first_word,
          |  regexp_replace(p_name, '[aeiou]', '', 'g') AS no_vowels,
          |  regexp_matches(p_type, 'ECO|PRO') AS is_eco_promo,
          |  CAST(len(str_split(p_name, ' ')) AS BIGINT) AS n_words
          |FROM part""".stripMargin
      )
    ),

    // Null-handling battery: nullif / coalesce / greatest / least / case.
    Q(
      "q_null_funcs",
      (spark, dir) =>
        Q.t(spark, dir, "customer")
          .select(
            col("c_custkey"),
            coalesce(nullif(col("c_mktsegment"), lit("BUILDING")), lit("OTHER"))
              .as("seg_or_other"),
            greatest(col("c_acctbal"), lit(0.0)).as("bal_floor"),
            least(col("c_acctbal"), lit(1000.0)).as("bal_cap"),
            when(col("c_acctbal") < 0, lit("neg")).otherwise(lit("pos")).as("sign")),
      Some(
        """SELECT c_custkey,
          |  COALESCE(NULLIF(c_mktsegment, 'BUILDING'), 'OTHER') AS seg_or_other,
          |  GREATEST(c_acctbal, 0.0) AS bal_floor,
          |  LEAST(c_acctbal, 1000.0) AS bal_cap,
          |  CASE WHEN c_acctbal < 0 THEN 'neg' ELSE 'pos' END AS sign
          |FROM customer""".stripMargin
      )
    ),

    // Schema-evolution union: unionByName with a missing column
    // null-filled on the narrower side.
    Q(
      "q_union_by_name",
      (spark, dir) => {
        val a = Q.t(spark, dir, "customer")
          .select(col("c_custkey").as("id"), col("c_acctbal").as("bal"),
            lit("customer").as("src"))
        val b = Q.t(spark, dir, "supplier")
          .select(col("s_suppkey").as("id"), lit("supplier").as("src"))
        a.unionByName(b, allowMissingColumns = true)
      },
      Some(
        """SELECT c_custkey AS id, c_acctbal AS bal, 'customer' AS src FROM customer
          |UNION ALL
          |SELECT s_suppkey AS id, CAST(NULL AS DOUBLE) AS bal, 'supplier' AS src FROM supplier""".stripMargin
      )
    ),

    // Bitwise aggregates over grouped integers.
    Q(
      "q_bitwise_agg",
      (spark, dir) =>
        Q.t(spark, dir, "part")
          .groupBy(col("p_brand"))
          .agg(
            expr("bit_and(p_size)").cast("long").as("size_and"),
            expr("bit_or(p_size)").cast("long").as("size_or"),
            expr("bit_xor(p_size)").cast("long").as("size_xor"),
            count(lit(1)).as("n")),
      Some(
        """SELECT p_brand,
          |  CAST(bit_and(p_size) AS BIGINT) AS size_and,
          |  CAST(bit_or(p_size) AS BIGINT) AS size_or,
          |  CAST(bit_xor(p_size) AS BIGINT) AS size_xor,
          |  COUNT(*) AS n
          |FROM part GROUP BY p_brand""".stripMargin
      )
    ),

    // Conditional / boolean aggregates (count_if, bool_or, bool_and —
    // ANSI FILTER clause on the oracle side).
    Q(
      "q_filtered_agg",
      (spark, dir) =>
        Q.t(spark, dir, "orders")
          .groupBy(col("o_orderstatus"))
          .agg(
            expr("count_if(o_totalprice > 200000)").as("n_big"),
            expr("bool_or(o_totalprice > 400000)").as("any_huge"),
            expr("bool_and(o_totalprice > 0)").as("all_positive")),
      Some(
        """SELECT o_orderstatus,
          |  COUNT(*) FILTER (WHERE o_totalprice > 200000) AS n_big,
          |  bool_or(o_totalprice > 400000) AS any_huge,
          |  bool_and(o_totalprice > 0) AS all_positive
          |FROM orders GROUP BY o_orderstatus""".stripMargin
      )
    ),

    // Fixed-width binning (histogram): floor-divide into capped buckets.
    Q(
      "q_histogram",
      (spark, dir) =>
        Q.t(spark, dir, "orders")
          .select(least(floor(col("o_totalprice") / 50000), lit(9L)).as("bucket"))
          .groupBy(col("bucket"))
          .agg(count(lit(1)).as("n")),
      Some(
        """SELECT LEAST(CAST(FLOOR(o_totalprice / 50000) AS BIGINT), 9) AS bucket,
          |       COUNT(*) AS n
          |FROM orders GROUP BY 1""".stripMargin
      )
    ),

    // Generator (UDTF-class) coverage: positional explode of the first
    // five tokens per document.
    Q(
      "q_explode_tokens",
      (spark, dir) =>
        Q.t(spark, dir, "documents")
          .select(col("doc_id"),
            posexplode(slice(split(col("text"), "\\s+"), 1, 5)).as(Seq("pos", "tok"))),
      Some(
        """SELECT doc_id, CAST(i - 1 AS INT) AS pos, t[i] AS tok
          |FROM (SELECT doc_id, regexp_split_to_array(text, '\s+') AS t FROM documents),
          |     UNNEST(generate_series(1, LEAST(len(t), 5))) AS u(i)""".stripMargin
      )
    ),

    // Grouping indicators on a cube (which dimensions are rolled up).
    Q(
      "q_grouping_id",
      (spark, dir) =>
        Q.t(spark, dir, "lineitem")
          .cube(col("l_returnflag"), col("l_linestatus"))
          .agg(
            grouping(col("l_returnflag")).cast("int").as("g_rf"),
            grouping(col("l_linestatus")).cast("int").as("g_ls"),
            count(lit(1)).as("n")),
      Some(
        """SELECT l_returnflag, l_linestatus,
          |  CAST(GROUPING(l_returnflag) AS INT) AS g_rf,
          |  CAST(GROUPING(l_linestatus) AS INT) AS g_ls,
          |  COUNT(*) AS n
          |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin
      )
    ),

    // CSV source/sink round-trip: write the table as headered CSV, read
    // it back with an explicit schema (doubles round-trip via shortest
    // representation), project. The oracle reads the original parquet —
    // equality proves the format conversion is lossless.
    Q(
      "q_csv_roundtrip",
      (spark, dir) => {
        val tmp = Q.scratch("csv")
        Q.t(spark, dir, "customer")
          .write.mode("overwrite").option("header", "true").csv(tmp)
        spark.read
          .option("header", "true")
          .schema("c_custkey LONG, c_name STRING, c_nationkey INT, c_acctbal DOUBLE, c_mktsegment STRING")
          .csv(tmp)
          .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
            col("c_acctbal"), col("c_mktsegment"))
      },
      Some(
        "SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM customer"
      )
    ),

    // JSON-lines source/sink round-trip (the reference's native input
    // format), timestamps included.
    Q(
      "q_json_roundtrip",
      (spark, dir) => {
        val tmp = Q.scratch("json")
        Q.t(spark, dir, "orders")
          .write.mode("overwrite").json(tmp)
        spark.read
          .schema("o_orderkey LONG, o_custkey LONG, o_orderstatus STRING, o_totalprice DOUBLE, o_orderdate TIMESTAMP, o_orderpriority STRING")
          .json(tmp)
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
            col("o_totalprice"), col("o_orderdate"), col("o_orderpriority"))
      },
      Some(
        "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority FROM orders"
      )
    ),

    // Deterministic train/holdout split accounting in one scan-bound
    // pass: the split hash is engine-portable integer arithmetic, so
    // the oracle reproduces the exact same membership.
    Q(
      "q_sample_split",
      (spark, dir) =>
        Q.t(spark, dir, "orders")
          .withColumn("split", Sampling.splitLabel(col("o_orderkey"), 10))
          .groupBy(col("split"))
          .agg(count(lit(1)).as("n"), Q.dsum(col("o_totalprice")).as("sum_price")),
      Some(
        // (x % P + P) % P mirrors Spark's pmod for negative ids too
        s"""SELECT CASE WHEN (((o_orderkey % ${Sampling.P} + ${Sampling.P}) % ${Sampling.P}) * ${Sampling.A} + ${Sampling.B})
           |                 % ${Sampling.P} % 100 < 10
           |            THEN 'holdout' ELSE 'train' END AS split,
           |       COUNT(*) AS n,
           |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
           |FROM orders GROUP BY 1""".stripMargin
      )
    ),

    // Stratified sampling: per-stratum keep rates (keep all rare
    // 'error' events, 25% of 'click', 5% of everything else), then
    // grouped accounting. Same portable hash as q_sample_split.
    Q(
      "q_sample_stratified",
      (spark, dir) =>
        Sampling.stratifiedSampleByHash(
          Q.t(spark, dir, "events"), "event_id", "event_type",
          keepBuckets = Map("error" -> 100, "click" -> 25),
          defaultKeep = 5)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_kept")),
      Some(
        s"""SELECT event_type, COUNT(*) AS n_kept
           |FROM events
           |WHERE (((event_id % ${Sampling.P} + ${Sampling.P}) % ${Sampling.P}) * ${Sampling.A} + ${Sampling.B}) % ${Sampling.P} % 100
           |      < CASE WHEN event_type = 'click' THEN 25
           |             WHEN event_type = 'error' THEN 100
           |             ELSE 5 END
           |GROUP BY event_type""".stripMargin
      )
    ),

    // Mixture / temperature resampling: fractional per-language epoch
    // factors (upsample zh 2.5x and de 1.75x, downsample en to 0.4x) in
    // one map-side pass; the epoch copy-index rides along so packing
    // can interleave copies. The oracle replays the integer bucket
    // arithmetic and the generate_series copy expansion.
    Q(
      "q_mixture_resample",
      (spark, dir) =>
        Sampling.mixtureResample(
          Q.t(spark, dir, "documents").select(col("doc_id"), col("lang")),
          "doc_id", "lang",
          epochs = Map("en" -> 0.4, "zh" -> 2.5, "de" -> 1.75)),
      Some(
        s"""WITH n AS (
           |  SELECT doc_id, lang,
           |    CASE lang WHEN 'en' THEN 0 WHEN 'zh' THEN 2 WHEN 'de' THEN 1 ELSE 1 END
           |    + CASE WHEN (((doc_id % ${Sampling.P} + ${Sampling.P}) % ${Sampling.P}) * ${Sampling.A} + ${Sampling.B}) % ${Sampling.P} % 100
           |             < CASE lang WHEN 'en' THEN 40 WHEN 'zh' THEN 50 WHEN 'de' THEN 75 ELSE 0 END
           |           THEN 1 ELSE 0 END AS n
           |  FROM documents)
           |SELECT doc_id, lang, CAST(e AS INT) AS epoch
           |FROM n, UNNEST(generate_series(0, n - 1)) AS u(e)""".stripMargin
      )
    ),

    // Rolling z-score anomaly screen: each event scored against its
    // user's trailing-5 baseline (current row excluded). Decimal frame
    // sums + fixed double op order make z bit-exact; degenerate
    // baselines (n < 2 or zero variance) score 0 in both engines.
    Q(
      "q_rolling_zscore",
      (spark, dir) =>
        graft.operators.TimeSeries.rollingZscore(
          Q.events(spark, dir), "user_id", "ts", "value", "event_id",
          window = 5, keep = Seq("event_id", "user_id", "value")),
      Some(
        """SELECT event_id, user_id, value,
          |  CASE WHEN n < 2.0 OR var <= 0.0 THEN 0.0
          |       ELSE (CAST(value AS DOUBLE) - mean) / sqrt(var) END AS z
          |FROM (
          |  SELECT event_id, user_id, value, n, mean,
          |         sx2 / n - mean * mean AS var
          |  FROM (
          |    SELECT event_id, user_id, value,
          |      CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE) AS sx,
          |      CAST(SUM(CAST(value AS DECIMAL(18,4)) * CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE) AS sx2,
          |      CAST(COUNT(*) OVER w AS DOUBLE) AS n,
          |      CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE)
          |        / CAST(COUNT(*) OVER w AS DOUBLE) AS mean
          |    FROM events
          |    WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
          |                 ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING)) t1) t2""".stripMargin
      )
    ),

    // Source-intake profiling: per-column row/null/exact-distinct
    // counts over the events table — all integer aggregates, so the
    // gate is float-immune (the approximate twin at scale is
    // q_approx_distinct / q_hll_distinct).
    Q(
      "q_profile",
      (spark, dir) =>
        graft.operators.Profile.columns(
          Q.events(spark, dir), Seq("user_id", "event_type", "value")),
      Some(
        """SELECT 'user_id' AS "column", COUNT(*) AS n_rows,
          |  CAST(COUNT(CASE WHEN user_id IS NULL THEN 1 END) AS BIGINT) AS n_null,
          |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_distinct FROM events
          |UNION ALL
          |SELECT 'event_type', COUNT(*),
          |  CAST(COUNT(CASE WHEN event_type IS NULL THEN 1 END) AS BIGINT),
          |  CAST(COUNT(DISTINCT event_type) AS BIGINT) FROM events
          |UNION ALL
          |SELECT 'value', COUNT(*),
          |  CAST(COUNT(CASE WHEN value IS NULL THEN 1 END) AS BIGINT),
          |  CAST(COUNT(DISTINCT value) AS BIGINT) FROM events""".stripMargin
      )
    ),

    // Single-pass profiling at intake scale: the same report from ONE
    // scan (all counters + HLL distinct sketches in one agg, unpivoted
    // map-side). The plan REQUIRE pins the efficiency claim — exactly
    // one scan node no matter how many columns are profiled; the gate
    // follows the q_approx_distinct discipline: integer counters
    // compare exactly, the HLL estimate is checked in-engine against
    // the exact distinct (within 10%), so the oracle stays portable.
    Q(
      "q_profile_fast",
      (spark, dir) => {
        val ev = Q.events(spark, dir)
        val cols = Seq("user_id", "event_type", "value")
        val fast = graft.operators.Profile.columnsFast(ev, cols)
        Q.requireFileScans(fast, 1) // all columns profiled in ONE scan
        val exact = graft.operators.Profile.columns(ev, cols)
          .select(col("column"), col("n_distinct").as("n_exact"))
        fast.join(exact, Seq("column"))
          .select(col("column"), col("n_rows"), col("n_null"),
            (abs(col("n_distinct") - col("n_exact")) <=
              col("n_exact") * lit(0.1)).as("approx_ok"))
      },
      Some(
        """SELECT 'user_id' AS "column", COUNT(*) AS n_rows,
          |  CAST(COUNT(CASE WHEN user_id IS NULL THEN 1 END) AS BIGINT) AS n_null,
          |  TRUE AS approx_ok FROM events
          |UNION ALL
          |SELECT 'event_type', COUNT(*),
          |  CAST(COUNT(CASE WHEN event_type IS NULL THEN 1 END) AS BIGINT),
          |  TRUE FROM events
          |UNION ALL
          |SELECT 'value', COUNT(*),
          |  CAST(COUNT(CASE WHEN value IS NULL THEN 1 END) AS BIGINT),
          |  TRUE FROM events""".stripMargin
      )
    ),

    // Token-budget corpus assembly: "give me ~N chars of corpus,
    // reproducibly" — each shard keeps the prefix of its deterministic
    // shuffle order whose running char count stays ≤ the per-shard
    // budget. Pure integer window arithmetic (long cumulative sums, the
    // engine-portable hash order), so the oracle is exact; at 100 TB
    // the 8 windows sort only their own hash-routed slices.
    Q(
      "q_token_budget",
      (spark, dir) =>
        Sampling.tokenBudgetSample(
          Q.t(spark, dir, "documents").select(col("doc_id"), col("n_chars")),
          "doc_id", "n_chars", shards = 8, budgetPerShard = 5000L),
      Some {
        val pm = s"(doc_id % ${Sampling.P} + ${Sampling.P}) % ${Sampling.P}"
        s"""SELECT doc_id, n_chars, shard, cum_tokens FROM (
           |  SELECT doc_id, n_chars,
           |    ($pm * ${Sampling.A} + ${Sampling.B}) % ${Sampling.P} % 8 AS shard,
           |    CAST(SUM(CAST(n_chars AS BIGINT)) OVER (
           |      PARTITION BY ($pm * ${Sampling.A} + ${Sampling.B}) % ${Sampling.P} % 8
           |      ORDER BY ($pm * 2246822519 + 604171) % ${Sampling.P} ASC, doc_id ASC
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
           |  FROM documents) t
           |WHERE cum_tokens <= 5000""".stripMargin
      }
    ),

    // String function battery: pad / translate / reverse / repeat /
    // position / left / right.
    Q(
      "q_string_funcs",
      (spark, dir) =>
        Q.t(spark, dir, "part")
          .select(
            col("p_partkey"),
            lpad(col("p_brand"), 12, "*").as("brand_pad"),
            translate(col("p_name"), "aeiou", "AEIOU").as("name_tr"),
            reverse(col("p_name")).as("name_rev"),
            repeat(col("p_type"), 2).as("type_twice"),
            instr(col("p_name"), "widget").cast("long").as("widget_pos"),
            expr("left(p_name, 4)").as("name_left"),
            expr("right(p_name, 3)").as("name_right")),
      Some(
        """SELECT p_partkey,
          |  lpad(p_brand, 12, '*') AS brand_pad,
          |  translate(p_name, 'aeiou', 'AEIOU') AS name_tr,
          |  reverse(p_name) AS name_rev,
          |  repeat(p_type, 2) AS type_twice,
          |  CAST(strpos(p_name, 'widget') AS BIGINT) AS widget_pos,
          |  left(p_name, 4) AS name_left,
          |  right(p_name, 3) AS name_right
          |FROM part""".stripMargin
      )
    ),

    // Math battery restricted to IEEE-exact operations (floor / ceil /
    // sqrt / abs / sign / pmod / multiply) — transcendentals (exp, ln,
    // pow) are libm-dependent and never hash-match across engines.
    Q(
      "q_math_funcs",
      (spark, dir) =>
        Q.t(spark, dir, "lineitem")
          .select(
            col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
            floor(col("l_extendedprice")).as("price_floor"),
            ceil(col("l_extendedprice")).as("price_ceil"),
            sqrt(col("l_quantity")).as("qty_sqrt"),
            abs(col("l_discount") - 0.05).as("disc_dev"),
            signum(col("l_discount") - 0.05).as("disc_sign"),
            pmod(col("l_orderkey"), lit(7)).as("key_mod"),
            (col("l_quantity") * col("l_quantity")).as("qty_sq")),
      Some(
        """SELECT l_orderkey, l_linenumber, l_quantity,
          |  CAST(FLOOR(l_extendedprice) AS BIGINT) AS price_floor,
          |  CAST(CEIL(l_extendedprice) AS BIGINT) AS price_ceil,
          |  sqrt(l_quantity) AS qty_sqrt,
          |  abs(l_discount - 0.05) AS disc_dev,
          |  CAST(sign(l_discount - 0.05) AS DOUBLE) AS disc_sign,
          |  ((l_orderkey % 7) + 7) % 7 AS key_mod,
          |  l_quantity * l_quantity AS qty_sq
          |FROM lineitem""".stripMargin
      )
    ),

    // Date arithmetic battery: day/month offsets, month-end clamping,
    // weekday / ISO week / quarter extraction.
    Q(
      "q_date_arith",
      (spark, dir) =>
        Q.t(spark, dir, "orders")
          .select(
            col("o_orderkey"),
            date_add(to_date(col("o_orderdate")), 30).as("plus_30d"),
            add_months(to_date(col("o_orderdate")), 2).as("plus_2m"),
            last_day(to_date(col("o_orderdate"))).as("month_end"),
            dayofweek(col("o_orderdate")).as("dow"),
            weekofyear(col("o_orderdate")).as("iso_week"),
            quarter(col("o_orderdate")).as("qtr")),
      Some(
        """SELECT o_orderkey,
          |  CAST(o_orderdate AS DATE) + 30 AS plus_30d,
          |  CAST(CAST(o_orderdate AS DATE) + INTERVAL 2 MONTH AS DATE) AS plus_2m,
          |  last_day(CAST(o_orderdate AS DATE)) AS month_end,
          |  CAST(dayofweek(o_orderdate) + 1 AS INT) AS dow,
          |  CAST(weekofyear(o_orderdate) AS INT) AS iso_week,
          |  CAST(quarter(o_orderdate) AS INT) AS qtr
          |FROM orders""".stripMargin
      )
    ),

    // Array function battery over tokenized text (scalar projections
    // only — the gate cannot canonicalize array cells): membership,
    // 1-based position, element max, distinct count.
    Q(
      "q_array_funcs",
      (spark, dir) => {
        val toks = split(col("text"), "\\s+")
        Q.t(spark, dir, "documents")
          .select(
            col("doc_id"),
            array_contains(toks, "the").as("has_the"),
            array_position(toks, "the").as("the_pos"),
            array_max(transform(toks, t => length(t))).as("max_tok_len"),
            size(array_distinct(toks)).cast("long").as("n_distinct_tok"))
      },
      Some(
        """SELECT doc_id,
          |  list_contains(t, 'the') AS has_the,
          |  CAST(COALESCE(list_position(t, 'the'), 0) AS BIGINT) AS the_pos,
          |  CAST(list_max(list_transform(t, x -> length(x))) AS INT) AS max_tok_len,
          |  CAST(len(list_distinct(t)) AS BIGINT) AS n_distinct_tok
          |FROM (SELECT doc_id, regexp_split_to_array(text, '\s+') AS t FROM documents)""".stripMargin
      )
    ),

    // Context-window chunking: overlapping 64-token windows at stride
    // 32 — the standard split ahead of an embedding model. Chunk ids
    // and text are engine-portable (token slices + joins).
    Q(
      "q_chunk_text",
      (spark, dir) =>
        Q.t(spark, dir, "documents")
          .select(col("doc_id"),
            posexplode(TextAnalysis.chunkTokens(col("text"), window = 64, stride = 32))
              .as(Seq("chunk_id", "chunk_text"))),
      Some(
        """SELECT doc_id, CAST(i AS INT) AS chunk_id,
          |       array_to_string(t[i*32+1 : i*32+64], ' ') AS chunk_text
          |FROM (SELECT doc_id, regexp_split_to_array(text, '\s+') AS t FROM documents),
          |     UNNEST(generate_series(0,
          |       CASE WHEN len(t) > 64
          |            THEN CAST(FLOOR((len(t) - 64 + 31) / 32.0) AS BIGINT)
          |            ELSE 0 END)) AS u(i)""".stripMargin
      )
    ),

    // Greedy sequence packing: per-language, docs in id order fill
    // 4096-token bins; a doc's bin is its preceding cumulative token
    // count div 4096 (docs may straddle bin boundaries — the cheap
    // packing used when exact bin capacity isn't critical).
    Q(
      "q_pack_sequences",
      (spark, dir) => {
        val nTok = TextAnalysis.tokenCount(col("text")).cast("long")
        val w = Window.partitionBy(col("lang"))
          .orderBy(col("doc_id").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Q.t(spark, dir, "documents")
          .select(col("doc_id"), col("lang"), nTok.as("n_tok"))
          .withColumn("cum_tok", sum(col("n_tok")).over(w))
          .select(col("doc_id"), col("lang"), col("n_tok"),
            floor(((col("cum_tok") - col("n_tok")).cast("double")) / 4096.0)
              .as("bin"))
      },
      Some(
        """SELECT doc_id, lang, n_tok,
          |  CAST(FLOOR((cum_tok - n_tok) / 4096.0) AS BIGINT) AS bin
          |FROM (
          |  SELECT doc_id, lang,
          |    CAST(len(regexp_split_to_array(text, '\s+')) AS BIGINT) AS n_tok,
          |    SUM(CAST(len(regexp_split_to_array(text, '\s+')) AS BIGINT)) OVER (
          |      PARTITION BY lang ORDER BY doc_id ASC
          |      ROWS UNBOUNDED PRECEDING) AS cum_tok
          |  FROM documents) t""".stripMargin
      )
    ),

    // The packed-sequence ARTIFACT materialized: q_pack_sequences' bin
    // assignment carried through to the actual training payload — per
    // (lang, bin), member texts joined " <eos> " in doc_id order plus
    // doc/token counts. One shuffle on the group key; per-group state
    // is bounded by the bin's token budget, so payload assembly never
    // holds more than one context window per reducer row. The ordered
    // concat is a sort_array over (doc_id, text) structs — struct
    // ordering is field-order lexicographic, so doc_id drives it —
    // mirrored by the oracle's string_agg(… ORDER BY doc_id).
    Q(
      "q_pack_payload",
      (spark, dir) => {
        val nTok = TextAnalysis.tokenCount(col("text")).cast("long")
        val w = Window.partitionBy(col("lang"))
          .orderBy(col("doc_id").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Q.t(spark, dir, "documents")
          .select(col("doc_id"), col("lang"), col("text"), nTok.as("n_tok"))
          .withColumn("bin",
            floor((sum(col("n_tok")).over(w) - col("n_tok")).cast("double") / 4096.0)
              .cast("long"))
          .groupBy(col("lang"), col("bin"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_tok")).as("n_tok"),
            concat_ws(" <eos> ",
              transform(
                sort_array(collect_list(struct(col("doc_id"), col("text")))),
                s => s("text"))).as("payload"))
      },
      Some(
        """SELECT lang, bin, COUNT(*) AS n_docs,
          |  CAST(SUM(n_tok) AS BIGINT) AS n_tok,
          |  string_agg(text, ' <eos> ' ORDER BY doc_id) AS payload
          |FROM (
          |  SELECT doc_id, lang, text, n_tok,
          |    CAST(FLOOR((cum_tok - n_tok) / 4096.0) AS BIGINT) AS bin
          |  FROM (
          |    SELECT doc_id, lang, text,
          |      CAST(len(regexp_split_to_array(text, '\s+')) AS BIGINT) AS n_tok,
          |      SUM(CAST(len(regexp_split_to_array(text, '\s+')) AS BIGINT)) OVER (
          |        PARTITION BY lang ORDER BY doc_id ASC
          |        ROWS UNBOUNDED PRECEDING) AS cum_tok
          |    FROM documents) t1) t2
          |GROUP BY lang, bin""".stripMargin
      )
    ),

    // Deterministic sharded shuffle: hash-route to shards, rank within
    // each shard by an independent hash — a reproducible corpus
    // permutation with no global sort and no seed.
    Q(
      "q_shuffle_shards",
      (spark, dir) =>
        Sampling.deterministicShuffle(
          Q.t(spark, dir, "documents").select(col("doc_id")), "doc_id", shards = 8)
          .select(col("doc_id"), col("shard"), col("rank")),
      Some {
        val pm = s"(doc_id % ${Sampling.P} + ${Sampling.P}) % ${Sampling.P}"
        s"""SELECT doc_id, shard, CAST(rank AS INT) AS rank FROM (
           |  SELECT doc_id,
           |    ($pm * ${Sampling.A} + ${Sampling.B}) % ${Sampling.P} % 8 AS shard,
           |    ROW_NUMBER() OVER (
           |      PARTITION BY ($pm * ${Sampling.A} + ${Sampling.B}) % ${Sampling.P} % 8
           |      ORDER BY ($pm * 2246822519 + 604171) % ${Sampling.P} ASC,
           |               doc_id ASC) AS rank
           |  FROM documents) t""".stripMargin
      }
    ),

    // Per-source document cap (the web-curation "domain cap"): at most
    // 10 docs per source, chosen by the independent id-hash order so
    // the kept subset is unbiased w.r.t. ingest position. One shuffle
    // on source; rank state is a counter.
    Q(
      "q_source_cap",
      (spark, dir) =>
        Sampling.capPerGroup(
          Q.t(spark, dir, "documents").select(col("doc_id"), col("source")),
          "source", "doc_id", n = 10),
      Some {
        val pm = s"(doc_id % ${Sampling.P} + ${Sampling.P}) % ${Sampling.P}"
        s"""SELECT doc_id, source FROM (
           |  SELECT doc_id, source, ROW_NUMBER() OVER (
           |    PARTITION BY source
           |    ORDER BY ($pm * 2246822519 + 604171) % ${Sampling.P} ASC, doc_id ASC) AS rn
           |  FROM documents) t
           |WHERE rn <= 10""".stripMargin
      }
    ),

    // The skew-hardened composition of the two samplers: sampleByHash
    // pre-thins map-side (constant fraction, no shuffle), THEN
    // capPerGroup ranks within groups — over a deliberately hot-keyed
    // frame (~90% of events share one group). The plan REQUIREs the two
    // facts that make this survive a pathological group at 100×:
    // (1) the pre-thin hash filter evaluates at the SCAN (it appears in
    // the FileScan's DataFilters — below any exchange), and (2) Spark
    // plans a PARTIAL WindowGroupLimit below the shuffle, so each map
    // task forwards at most n rows per group and the post-shuffle sort
    // sees O(n · mapTasks) rows for the hot group, never its full mass.
    Q(
      "q_source_cap_hot",
      (spark, dir) => {
        val ev = Q.t(spark, dir, "events").select(
          col("event_id"),
          when(col("event_id") % 10 < 9, lit("hot"))
            .otherwise(concat(lit("e"), (col("event_id") % 10).cast("string")))
            .as("grp"))
        val thinned = Sampling.sampleByHash(ev, "event_id", keepBuckets = 10)
        val out = Sampling.capPerGroup(thinned, "grp", "event_id", n = 20)
        Q.requireMapSideGroupLimit(out, cap = 20)
        // the sampleByHash pre-thin evaluates at the scan
        Q.requireDataFilter[org.apache.spark.sql.catalyst.expressions.Pmod](out)
        out
      },
      Some {
        val pm = s"(event_id % ${Sampling.P} + ${Sampling.P}) % ${Sampling.P}"
        s"""WITH ev AS (
           |  SELECT event_id,
           |    CASE WHEN event_id % 10 < 9 THEN 'hot'
           |         ELSE 'e' || CAST(event_id % 10 AS VARCHAR) END AS grp
           |  FROM events
           |), thin AS (
           |  SELECT * FROM ev
           |  WHERE ($pm * ${Sampling.A} + ${Sampling.B}) % ${Sampling.P} % 100 < 10
           |)
           |SELECT event_id, grp FROM (
           |  SELECT event_id, grp, ROW_NUMBER() OVER (
           |    PARTITION BY grp
           |    ORDER BY ($pm * 2246822519 + 604171) % ${Sampling.P} ASC, event_id ASC) AS rn
           |  FROM thin) t
           |WHERE rn <= 20""".stripMargin
      }
    ),

    // The training-export lifecycle: the deterministic sharded shuffle
    // MATERIALIZED as the artifact trainers consume — written
    // partitionBy(shard), so each data-parallel reader opens exactly
    // its own shard's files. The plan REQUIREs that a one-shard read
    // prunes at the file index (static partition pruning), the corpus
    // twin of q_ann_ivf_persisted's layout-enforced probe; the gate
    // then checks the full read-back against the shuffle oracle —
    // pinning that the parquet round-trip through the partitioned
    // layout loses nothing.
    Q(
      "q_training_export",
      (spark, dir) => {
        val docs = Q.t(spark, dir, "documents").select(col("doc_id"))
        val scratch = Q.scratch("export")
        Sampling.deterministicShuffle(docs, "doc_id", shards = 8)
          .write.mode("overwrite").partitionBy("shard").parquet(scratch)
        val back = spark.read.parquet(scratch)
        Q.requirePartitionFilter(back.filter(col("shard") === 3), "shard")
        back.select(col("doc_id"), col("shard").cast("long").as("shard"),
          col("rank"))
      },
      Some {
        val pm = s"(doc_id % ${Sampling.P} + ${Sampling.P}) % ${Sampling.P}"
        s"""SELECT doc_id, shard, CAST(rank AS INT) AS rank FROM (
           |  SELECT doc_id,
           |    ($pm * ${Sampling.A} + ${Sampling.B}) % ${Sampling.P} % 8 AS shard,
           |    ROW_NUMBER() OVER (
           |      PARTITION BY ($pm * ${Sampling.A} + ${Sampling.B}) % ${Sampling.P} % 8
           |      ORDER BY ($pm * 2246822519 + 604171) % ${Sampling.P} ASC,
           |               doc_id ASC) AS rank
           |  FROM documents) t""".stripMargin
      }
    ),

    // Mixture-weighted training export — q_mixture_resample composed
    // with the sharded materialization: the per-language epoch factors
    // expand the corpus map-side (copies keyed by doc_id·4+epoch so
    // every copy routes/ranks independently), the deterministic shuffle
    // shards it, and the artifact lands partitionBy(shard) with the
    // same static-pruning REQUIRE and full read-back hash check as
    // q_training_export — the epochs-weighted corpus trainers actually
    // consume, where each data-parallel reader opens only its shard.
    Q(
      "q_mixture_export",
      (spark, dir) => {
        val docs = Q.t(spark, dir, "documents").select(col("doc_id"), col("lang"))
        val mixed = Sampling.mixtureResample(docs, "doc_id", "lang",
          epochs = Map("en" -> 0.4, "zh" -> 2.5, "de" -> 1.75))
          // epoch < 4 for every factor above, so this key is unique per copy
          .withColumn("copy_id", col("doc_id") * 4 + col("epoch"))
        val scratch = Q.scratch("mixexport")
        Sampling.deterministicShuffle(mixed, "copy_id", shards = 8)
          .write.mode("overwrite").partitionBy("shard").parquet(scratch)
        val back = spark.read.parquet(scratch)
        Q.requirePartitionFilter(back.filter(col("shard") === 3), "shard")
        back.select(col("doc_id"), col("lang"), col("epoch"), col("copy_id"),
          col("shard").cast("long").as("shard"), col("rank"))
      },
      Some {
        val pm = s"(copy_id % ${Sampling.P} + ${Sampling.P}) % ${Sampling.P}"
        s"""WITH n AS (
           |  SELECT doc_id, lang,
           |    CASE lang WHEN 'en' THEN 0 WHEN 'zh' THEN 2 WHEN 'de' THEN 1 ELSE 1 END
           |    + CASE WHEN (((doc_id % ${Sampling.P} + ${Sampling.P}) % ${Sampling.P}) * ${Sampling.A} + ${Sampling.B}) % ${Sampling.P} % 100
           |             < CASE lang WHEN 'en' THEN 40 WHEN 'zh' THEN 50 WHEN 'de' THEN 75 ELSE 0 END
           |           THEN 1 ELSE 0 END AS n
           |  FROM documents
           |), mixed AS (
           |  SELECT doc_id, lang, CAST(e AS INT) AS epoch, doc_id * 4 + e AS copy_id
           |  FROM n, UNNEST(generate_series(0, n - 1)) AS u(e)
           |)
           |SELECT doc_id, lang, epoch, copy_id, shard, CAST(rank AS INT) AS rank FROM (
           |  SELECT doc_id, lang, epoch, copy_id,
           |    ($pm * ${Sampling.A} + ${Sampling.B}) % ${Sampling.P} % 8 AS shard,
           |    ROW_NUMBER() OVER (
           |      PARTITION BY ($pm * ${Sampling.A} + ${Sampling.B}) % ${Sampling.P} % 8
           |      ORDER BY ($pm * 2246822519 + 604171) % ${Sampling.P} ASC,
           |               copy_id ASC) AS rank
           |  FROM mixed) t""".stripMargin
      }
    ),

    // The last mile of the training-export story: token-budget
    // assembly composed with sequence packing and the sharded
    // materialization. One pass does all three — the budget window's
    // inclusive running sum doubles as the packing prefix (bin =
    // floor(exclusive-cum / 1024), zero extra window passes), then the
    // kept-packed corpus lands partitionBy(shard) with the same
    // static-pruning REQUIRE and full read-back hash as
    // q_training_export. Per-shard budgets and bins mean no global
    // sort anywhere: at 100 TB each shard's window sorts only its own
    // hash-routed slice and each trainer reads only its shard's files.
    Q(
      "q_budget_export",
      (spark, dir) => {
        val kept = Sampling.tokenBudgetSample(
          Q.t(spark, dir, "documents").select(col("doc_id"), col("n_chars")),
          "doc_id", "n_chars", shards = 8, budgetPerShard = 5000L)
        val packed = kept.withColumn("bin",
          floor((col("cum_tokens") - col("n_chars")).cast("double") / 1024.0)
            .cast("long"))
        val scratch = Q.scratch("budgetexp")
        packed.write.mode("overwrite").partitionBy("shard").parquet(scratch)
        val back = spark.read.parquet(scratch)
        Q.requirePartitionFilter(back.filter(col("shard") === 3), "shard")
        back.select(col("doc_id"), col("n_chars"), col("cum_tokens"),
          col("shard").cast("long").as("shard"), col("bin"))
      },
      Some {
        val pm = s"(doc_id % ${Sampling.P} + ${Sampling.P}) % ${Sampling.P}"
        s"""SELECT doc_id, n_chars, cum_tokens, shard,
           |  CAST(FLOOR((cum_tokens - n_chars) / 1024.0) AS BIGINT) AS bin
           |FROM (
           |  SELECT doc_id, n_chars,
           |    ($pm * ${Sampling.A} + ${Sampling.B}) % ${Sampling.P} % 8 AS shard,
           |    CAST(SUM(CAST(n_chars AS BIGINT)) OVER (
           |      PARTITION BY ($pm * ${Sampling.A} + ${Sampling.B}) % ${Sampling.P} % 8
           |      ORDER BY ($pm * 2246822519 + 604171) % ${Sampling.P} ASC, doc_id ASC
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
           |  FROM documents) t
           |WHERE cum_tokens <= 5000""".stripMargin
      }
    ),

    // The space-saving heavy-hitters Aggregator as a driver query.
    // With capacity >= column cardinality the sketch is provably exact
    // (no eviction ever fires), so the oracle is plain frequency top-k;
    // the approximate regime is pinned separately by TopKSketchSpec's
    // skewed-recall tests.
    Q(
      "q_heavy_hitters",
      (spark, dir) =>
        Q.t(spark, dir, "part")
          .agg(graft.functions.TopKSketch.approxTopK(col("p_brand"), 10, 64).as("tk"))
          .select(explode(col("tk")).as("c"))
          .select(col("c.item").as("brand"), col("c.count").as("n"),
            col("c.err").as("err")),
      Some(
        """SELECT p_brand AS brand, COUNT(*) AS n, CAST(0 AS BIGINT) AS err
          |FROM part GROUP BY p_brand
          |ORDER BY n DESC, brand ASC LIMIT 10""".stripMargin
      )
    ),

    // Higher-order-function battery: lambda fold / filter / forall /
    // exists / transform over token arrays, all reduced to scalars.
    Q(
      "q_higher_order",
      (spark, dir) => {
        val toks = split(col("text"), "\\s+")
        Q.t(spark, dir, "documents")
          .select(
            col("doc_id"),
            aggregate(toks, lit(0L), (acc, t) => acc + length(t)).as("sum_tok_len"),
            size(filter(toks, t => length(t) > 3)).cast("long").as("n_long_tok"),
            forall(toks, t => length(t) > 0).as("all_nonempty"),
            exists(toks, t => length(t) > 8).as("has_long_tok"),
            array_join(transform(slice(toks, 1, 3), t => upper(t)), " ").as("first3_upper"))
      },
      Some(
        """SELECT doc_id,
          |  CAST(list_sum(list_transform(t, x -> length(x))) AS BIGINT) AS sum_tok_len,
          |  CAST(len(list_filter(t, x -> length(x) > 3)) AS BIGINT) AS n_long_tok,
          |  len(list_filter(t, x -> length(x) = 0)) = 0 AS all_nonempty,
          |  len(list_filter(t, x -> length(x) > 8)) > 0 AS has_long_tok,
          |  array_to_string(list_transform(t[1:3], x -> upper(x)), ' ') AS first3_upper
          |FROM (SELECT doc_id, regexp_split_to_array(text, '\s+') AS t FROM documents)""".stripMargin
      )
    ),

    // Null-safe equality join (<=> / IS NOT DISTINCT FROM): null keys
    // match each other instead of vanishing.
    Q(
      "q_nullsafe_join",
      (spark, dir) => {
        val n1 = Q.t(spark, dir, "nation")
          .select(nullif(col("n_regionkey") % 2, lit(0)).as("k1"),
            col("n_nationkey").as("a"))
        val n2 = Q.t(spark, dir, "nation")
          .select(nullif(col("n_regionkey") % 2, lit(0)).as("k2"),
            col("n_nationkey").as("b"))
        n1.join(n2, n1("k1") <=> n2("k2"))
          .groupBy(col("k1"))
          .agg(count(lit(1)).as("n_pairs"))
      },
      Some(
        """SELECT k1, COUNT(*) AS n_pairs
          |FROM (SELECT NULLIF(n_regionkey % 2, 0) AS k1, n_nationkey AS a FROM nation) x
          |JOIN (SELECT NULLIF(n_regionkey % 2, 0) AS k2, n_nationkey AS b FROM nation) y
          |  ON k1 IS NOT DISTINCT FROM k2
          |GROUP BY k1""".stripMargin
      )
    ),

    // TPC-H Q16 shape: fact⋈dim with dim-side filters and per-group
    // count distinct.
    Q(
      "q_tpch_q16",
      (spark, dir) => {
        val li = Q.t(spark, dir, "lineitem")
        val part = Q.t(spark, dir, "part")
        li.join(part, li("l_partkey") === part("p_partkey"))
          .filter(col("p_brand") =!= "Brand#13" && col("p_size").between(1, 25))
          .groupBy(col("p_brand"), col("p_type"))
          .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      },
      Some(
        """SELECT p_brand, p_type, COUNT(DISTINCT l_suppkey) AS supplier_cnt
          |FROM lineitem JOIN part ON l_partkey = p_partkey
          |WHERE p_brand <> 'Brand#13' AND p_size BETWEEN 1 AND 25
          |GROUP BY p_brand, p_type""".stripMargin
      )
    ),

    // TPC-H Q22 shape: scalar-subquery threshold + NOT EXISTS + grouped
    // rollup on a name prefix. The anti-join is against LARGE orders
    // (not all orders) so both fixture scales keep a substantial
    // surviving population — an anti join whose result is empty would
    // make the oracle check vacuous.
    Q(
      "q_tpch_q22",
      (spark, dir) => {
        val cust = Q.t(spark, dir, "customer")
        val bigOrders = Q.t(spark, dir, "orders")
          .filter(col("o_totalprice") > 250000)
        val avgBal = cust.filter(col("c_acctbal") > 0)
          .agg(Q.davg(col("c_acctbal")).as("avg_bal"))
        cust
          .crossJoin(broadcast(avgBal))
          .filter(col("c_acctbal") > col("avg_bal"))
          .join(bigOrders, cust("c_custkey") === bigOrders("o_custkey"), "left_anti")
          .groupBy(substring(col("c_name"), 17, 2).as("code"))
          .agg(count(lit(1)).as("numcust"), Q.dsum(col("c_acctbal")).as("totacctbal"))
      },
      Some(
        """SELECT substring(c_name, 17, 2) AS code,
          |       COUNT(*) AS numcust,
          |       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS totacctbal
          |FROM customer
          |WHERE c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*)
          |                   FROM customer WHERE c_acctbal > 0)
          |  AND NOT EXISTS (SELECT 1 FROM orders
          |                  WHERE o_custkey = c_custkey AND o_totalprice > 250000)
          |GROUP BY 1""".stripMargin
      )
    ),

    // Top-k most frequent words per language: explode → grouped counts
    // → per-group rank (the per-group flavor of q_wordcount).
    Q(
      "q_wordcount_topk",
      (spark, dir) => {
        val counts = Q.t(spark, dir, "documents")
          .select(col("lang"), explode(split(col("text"), "\\s+")).as("tok"))
          .filter(col("tok") =!= "")
          .groupBy(col("lang"), col("tok"))
          .agg(count(lit(1)).as("cnt"))
        val w = Window.partitionBy(col("lang"))
          .orderBy(col("cnt").desc, col("tok").asc)
        counts
          .withColumn("rnk", row_number().over(w))
          .filter(col("rnk") <= 5)
          .select(col("lang"), col("tok"), col("cnt"), col("rnk"))
      },
      Some(
        """SELECT lang, tok, cnt, CAST(rnk AS INT) AS rnk FROM (
          |  SELECT lang, tok, cnt,
          |         ROW_NUMBER() OVER (PARTITION BY lang
          |                            ORDER BY cnt DESC, tok ASC) AS rnk
          |  FROM (SELECT lang, tok, COUNT(*) AS cnt
          |        FROM (SELECT lang, UNNEST(regexp_split_to_array(text, '\s+')) AS tok
          |              FROM documents)
          |        WHERE tok <> ''
          |        GROUP BY lang, tok) c) t
          |WHERE rnk <= 5""".stripMargin
      )
    ),

    // TPC-H Q18 shape: IN-subquery with HAVING over an aggregate.
    Q(
      "q_tpch_q18",
      (spark, dir) => {
        val li = Q.t(spark, dir, "lineitem")
        val orders = Q.t(spark, dir, "orders")
        val cust = Q.t(spark, dir, "customer")
        val big = li.groupBy(col("l_orderkey"))
          .agg(Q.dsum(col("l_quantity")).as("sum_qty"))
          .filter(col("sum_qty") > 150)
        orders
          .join(big, orders("o_orderkey") === big("l_orderkey"))
          .join(cust, orders("o_custkey") === cust("c_custkey"))
          .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
            col("o_totalprice"), col("sum_qty"))
      },
      Some(
        """SELECT c_custkey, c_name, o_orderkey, o_totalprice, sum_qty
          |FROM orders
          |JOIN (SELECT l_orderkey,
          |             CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
          |      FROM lineitem GROUP BY l_orderkey
          |      HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) > 150) b
          |  ON o_orderkey = b.l_orderkey
          |JOIN customer ON o_custkey = c_custkey""".stripMargin
      )
    ),

    // Salted-join invariance: the skew lever routes probe rows over
    // (key, salt) with the build side replicated per salt — results
    // must equal the plain join exactly, which is what the oracle
    // states. (q_salted_agg pins the aggregation-side lever.)
    Q(
      "q_salted_join",
      (spark, dir) => {
        val probe = Q.t(spark, dir, "lineitem")
          .select(col("l_partkey").as("partkey"), col("l_orderkey"), col("l_quantity"))
        val build = Q.t(spark, dir, "part")
          .select(col("p_partkey").as("partkey"), col("p_brand"))
        Skew.saltedJoin(probe, build, "partkey", salts = 8)
      },
      Some(
        """SELECT l_partkey AS partkey, l_orderkey, l_quantity, p_brand
          |FROM lineitem JOIN part ON l_partkey = p_partkey""".stripMargin
      )
    ),

    // Bloom-pruned join: the probe side is pre-filtered by a broadcast
    // bloom filter over the (selective) build keys before the join —
    // Spark's runtime-row-filter pattern held by hand. The join removes
    // bloom false positives, so the result equals the plain join.
    Q(
      "q_bloom_join",
      (spark, dir) => {
        val li = Q.t(spark, dir, "lineitem")
        val hot = Q.t(spark, dir, "orders").filter(col("o_totalprice") > 450000.0)
        BloomPrune.prunedJoin(li, hot, "l_orderkey", "o_orderkey")
          .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"),
            col("o_totalprice"), col("o_orderpriority"))
      },
      Some(
        """SELECT l_orderkey, l_linenumber, l_extendedprice, o_totalprice, o_orderpriority
          |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          |WHERE o_totalprice > 450000.0""".stripMargin
      )
    ),

    // Z-order (Morton) clustering values — the multi-dimensional
    // layout key (a table range-partitioned and sorted by it);
    // the gate pins every interleaved value.
    Q(
      "q_zorder",
      (spark, dir) =>
        Q.events(spark, dir).select(
          col("event_id"),
          Layout.zValue(col("user_id"), col("event_id") % 1048576).as("zval")),
      Some(OracleSql.zorderQuery("events", "event_id", "user_id", "event_id % 1048576"))
    ),

    // TPC-H Q10 shape (returned-item revenue by customer), adapted to
    // the fixture's columns.
    Q(
      "q_tpch_q10",
      (spark, dir) => {
        val cust = Q.t(spark, dir, "customer")
        val orders = Q.t(spark, dir, "orders")
          .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
        val li = Q.t(spark, dir, "lineitem").filter(col("l_returnflag") === "R")
        val nation = Q.t(spark, dir, "nation")
        li.join(orders, col("l_orderkey") === col("o_orderkey"))
          .join(cust, col("o_custkey") === col("c_custkey"))
          .join(nation, col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
          .agg(sum((col("l_extendedprice").cast(Dec) *
            (lit(1).cast(Dec) - col("l_discount").cast(Dec))))
            .cast(Dec).cast("double").as("revenue"))
      },
      Some(
        """SELECT c_custkey, c_name, n_name,
          |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
          |       * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DECIMAL(18,4)) AS DOUBLE) AS revenue
          |FROM lineitem
          |JOIN orders ON l_orderkey = o_orderkey
          |JOIN customer ON o_custkey = c_custkey
          |JOIN nation ON c_nationkey = n_nationkey
          |WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-04-01'
          |  AND l_returnflag = 'R'
          |GROUP BY c_custkey, c_name, n_name""".stripMargin
      )
    ),

    // TPC-H Q14 shape (promo revenue share): two conditional decimal
    // sums, one final double division chain — fixed op order on both
    // engines.
    Q(
      "q_tpch_q14",
      (spark, dir) => {
        val li = Q.t(spark, dir, "lineitem")
          .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1996-02-01").cast("timestamp"))
        val part = Q.t(spark, dir, "part")
        val rev = (col("l_extendedprice").cast(Dec) *
          (lit(1).cast(Dec) - col("l_discount").cast(Dec)))
        li.join(part, col("l_partkey") === col("p_partkey"))
          .agg(
            (lit(100.0) *
              sum(when(col("p_type") === "PROMO", rev).otherwise(lit(0).cast(Dec)))
                .cast(Dec).cast("double") /
              sum(rev).cast(Dec).cast("double")).as("promo_revenue"))
      },
      Some(
        """SELECT 100.0 * CAST(CAST(SUM(CASE WHEN p_type = 'PROMO'
          |         THEN CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))
          |         ELSE CAST(0 AS DECIMAL(18,4)) END) AS DECIMAL(18,4)) AS DOUBLE)
          |     / CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DECIMAL(18,4)) AS DOUBLE) AS promo_revenue
          |FROM lineitem JOIN part ON l_partkey = p_partkey
          |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-02-01'""".stripMargin
      )
    ),

    // TPC-H Q6 shape (forecast revenue): pure scan + filters + one
    // conditional product-sum — the pushdown showcase (every predicate
    // reaches the parquet scan).
    Q(
      "q_tpch_q6",
      (spark, dir) =>
        Q.t(spark, dir, "lineitem")
          .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
            col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
            col("l_quantity") < 24)
          .agg(sum(col("l_extendedprice").cast(Dec) * col("l_discount").cast(Dec))
            .cast(Dec).cast("double").as("revenue")),
      Some(
        """SELECT CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(l_discount AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS DOUBLE) AS revenue
          |FROM lineitem
          |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
          |  AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24""".stripMargin
      )
    ),

    // TPC-H Q15 shape (top supplier by period revenue): aggregate, take
    // the max via a scalar subquery, select the argmax rows.
    Q(
      "q_tpch_q15",
      (spark, dir) => {
        val li = Q.t(spark, dir, "lineitem")
          .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
        val revenue = li.groupBy(col("l_suppkey"))
          .agg(sum((col("l_extendedprice").cast(Dec) *
            (lit(1).cast(Dec) - col("l_discount").cast(Dec))))
            .cast(Dec).cast("double").as("total_revenue"))
        val top = revenue.agg(max(col("total_revenue")).as("m"))
        Q.t(spark, dir, "supplier")
          .join(revenue, col("s_suppkey") === col("l_suppkey"))
          .join(top, col("total_revenue") === col("m"))
          .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
      },
      Some(
        """WITH revenue AS (
          |  SELECT l_suppkey,
          |    CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
          |         * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DECIMAL(18,4)) AS DOUBLE) AS total_revenue
          |  FROM lineitem
          |  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
          |  GROUP BY l_suppkey)
          |SELECT s_suppkey, s_name, total_revenue
          |FROM supplier JOIN revenue ON s_suppkey = l_suppkey
          |WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)""".stripMargin
      )
    ),

    // Regular-grid resample with forward fill (TimeSeries.resampleFfill):
    // hourly buckets, last value per bucket, gaps filled per user.
    Q(
      "q_resample_ffill",
      (spark, dir) =>
        graft.operators.TimeSeries.resampleFfill(
          Q.events(spark, dir), "user_id", "ts", "value", "event_id", widthSec = 3600L),
      Some(
        """WITH ev AS (
          |  SELECT user_id AS k, ts, value AS v, event_id,
          |         CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS b
          |  FROM events
          |), lastv AS (
          |  SELECT k, b, v FROM (
          |    SELECT k, b, v, ROW_NUMBER() OVER (PARTITION BY k, b ORDER BY ts DESC, event_id DESC) AS rn
          |    FROM ev) t
          |  WHERE rn = 1
          |), grid AS (
          |  SELECT k, unnest(generate_series(min(b), max(b))) AS b FROM ev GROUP BY k
          |)
          |SELECT g.k AS user_id, make_timestamp(g.b * 3600000000) AS bucket_ts,
          |  last_value(lastv.v IGNORE NULLS) OVER (
          |    PARTITION BY g.k ORDER BY g.b
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value
          |FROM grid g LEFT JOIN lastv ON g.k = lastv.k AND g.b = lastv.b""".stripMargin
      )
    ),

    // Ordered conversion funnel view → click → purchase: windowed
    // conditional mins over one user partitioning (single shuffle).
    Q(
      "q_funnel",
      (spark, dir) =>
        graft.operators.Funnel.steps(
          Q.events(spark, dir), "user_id", "ts", "event_type",
          Seq("view", "click", "purchase")),
      Some(
        """WITH e AS (SELECT user_id AS u, ts, event_type AS et FROM events),
          |s1 AS (SELECT u, min(ts) AS t1 FROM e WHERE et = 'view' GROUP BY u),
          |s2 AS (SELECT e.u, min(ts) AS t2 FROM e JOIN s1 USING (u) WHERE et = 'click' AND ts > t1 GROUP BY e.u),
          |s3 AS (SELECT e.u, min(ts) AS t3 FROM e JOIN s2 USING (u) WHERE et = 'purchase' AND ts > t2 GROUP BY e.u)
          |SELECT u AS user_id, s1.t1, s2.t2, s3.t3,
          |  CAST(CASE WHEN t3 IS NOT NULL THEN 3 WHEN t2 IS NOT NULL THEN 2
          |            WHEN t1 IS NOT NULL THEN 1 ELSE 0 END AS INT) AS n_steps
          |FROM (SELECT DISTINCT u FROM e) users
          |LEFT JOIN s1 USING (u) LEFT JOIN s2 USING (u) LEFT JOIN s3 USING (u)""".stripMargin
      )
    ),

    // Edit-distance entity resolution over the distinct part-name
    // vocabulary: q-gram candidates + levenshtein verify (both
    // codegen'd built-ins; DuckDB shares the same edit-distance and
    // 1-indexed substring semantics).
    Q(
      "q_fuzzy_join",
      (spark, dir) => {
        val names = Q.t(spark, dir, "part")
          .groupBy(col("p_name").as("name"))
          .agg(min(col("p_partkey")).as("id"))
        graft.operators.FuzzyJoin.selfPairs(names, "id", "name", maxDist = 2)
      },
      Some(
        """WITH names AS (SELECT min(p_partkey) AS id, p_name AS name FROM part GROUP BY p_name),
          |grams AS (
          |  SELECT DISTINCT id, name, substring(name, CAST(i AS INT), 3) AS g
          |  FROM names, UNNEST(generate_series(1, length(name) - 2)) AS u(i)
          |), ok AS (SELECT g FROM grams GROUP BY g HAVING COUNT(*) <= 1000),
          |cand AS (
          |  SELECT DISTINCT a.id AS id_a, a.name AS na, b.id AS id_b, b.name AS nb
          |  FROM grams a JOIN ok USING (g) JOIN grams b USING (g)
          |  WHERE a.id < b.id)
          |SELECT id_a, id_b, CAST(levenshtein(na, nb) AS INT) AS dist
          |FROM cand WHERE levenshtein(na, nb) <= 2""".stripMargin
      )
    ),

    // Compaction planning over a synthetic file listing (metadata-level
    // table maintenance): sequential cum-sum binning per partition.
    Q(
      "q_compaction_plan",
      (spark, dir) =>
        Layout.compactionGroups(
          Q.t(spark, dir, "part").select(
            col("p_brand").as("part_dir"),
            col("p_partkey").as("file_id"),
            (col("p_size").cast("long") * 1000L).as("bytes")),
          "part_dir", "file_id", "bytes", targetBytes = 100000L),
      Some(
        """SELECT p_brand AS part_dir, p_partkey AS file_id,
          |  CAST(p_size AS BIGINT) * 1000 AS bytes,
          |  CAST(floor((SUM(CAST(p_size AS BIGINT) * 1000) OVER (
          |      PARTITION BY p_brand ORDER BY p_partkey
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          |    - CAST(p_size AS BIGINT) * 1000) / 100000) AS BIGINT) AS group_id
          |FROM part""".stripMargin
      )
    ),

    // Compaction EXECUTED — the maintenance job q_compaction_plan only
    // plans: the documents table lands partitioned by lang in many
    // small files, the 'en' partition is rewritten to one file per
    // start-offset group (Layout.compactDir: plan from listing
    // metadata, one bounded shuffle, rename-promote). The gate REQUIREs
    // the file count dropped and that a lang-selective read still
    // prunes at the file index, then hash-checks the full read-back —
    // compaction must be invisible to every query.
    Q(
      "q_compaction_exec",
      (spark, dir) => {
        val docs = Q.t(spark, dir, "documents")
          .select(col("doc_id"), col("n_chars"), col("lang"))
        val scratch = Q.scratch("compact_exec")
        docs.repartition(8).write.partitionBy("lang")
          .mode("overwrite").parquet(scratch)
        val (nBefore, nAfter) =
          Layout.compactDir(spark, s"$scratch/lang=en", targetBytes = 64 * 1024L)
        require(nAfter < nBefore,
          s"compaction must shrink the file count ($nBefore -> $nAfter)")
        val back = spark.read.parquet(scratch)
        // the compacted layout keeps pruning lang-selective reads
        Q.requirePartitionFilter(back.filter(col("lang") === "en"), "lang")
        back.select(col("doc_id"), col("lang"), col("n_chars"))
      },
      Some("SELECT doc_id, lang, n_chars FROM documents")
    ),

    // Cohort retention: users grouped by first-activity week, counted
    // per weeks-since-cohort — the standard retention matrix. Two
    // aggregations over one user hash (first-week window reuses the
    // partitioning of the distinct).
    Q(
      "q_cohort_retention",
      (spark, dir) => {
        val ev = Q.events(spark, dir)
          .select(col("user_id"),
            expr("unix_micros(ts) div 604800000000L").as("week"))
          .distinct()
        val cohort = ev.groupBy(col("user_id")).agg(min(col("week")).as("cohort_week"))
        ev.join(cohort, "user_id")
          .groupBy(col("cohort_week"), (col("week") - col("cohort_week")).as("week_offset"))
          .agg(countDistinct(col("user_id")).as("n_users"))
      },
      Some(
        """WITH uw AS (
          |  SELECT DISTINCT user_id, CAST(epoch_us(ts) // 604800000000 AS BIGINT) AS week
          |  FROM events
          |), cohort AS (
          |  SELECT user_id, min(week) AS cohort_week FROM uw GROUP BY user_id
          |)
          |SELECT cohort_week, week - cohort_week AS week_offset,
          |       COUNT(DISTINCT uw.user_id) AS n_users
          |FROM uw JOIN cohort USING (user_id)
          |GROUP BY cohort_week, week - cohort_week""".stripMargin
      )
    ),

    // Batch twin of StreamEnrich.withDim (stream-static broadcast
    // enrichment): left join keeps un-matched stream rows.
    Q(
      "q_enrich_dim",
      (spark, dir) =>
        graft.streaming.StreamEnrich.withDim(
          Q.events(spark, dir),
          Q.t(spark, dir, "customer").select(col("c_custkey"), col("c_mktsegment")),
          "user_id", "c_custkey")
          .select(col("event_id"), col("user_id"), col("c_mktsegment")),
      Some(
        """SELECT event_id, user_id, c_mktsegment
          |FROM events LEFT JOIN customer ON user_id = c_custkey""".stripMargin
      )
    ),

    // Schema evolution: two parquet generations (the newer adds a
    // column) read as one table via mergeSchema — the 100 TB reality
    // where historical partitions predate today's schema. Old rows
    // surface NULL for the new column.
    Q(
      "q_schema_evolution",
      (spark, dir) => {
        val tmp = Q.scratch("evo")
        val cust = Q.t(spark, dir, "customer")
        cust.filter(col("c_custkey") % 2 === 0)
          .select(col("c_custkey"), col("c_name"))
          .write.mode("overwrite").parquet(s"$tmp/gen=1")
        cust.filter(col("c_custkey") % 2 =!= 0)
          .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
          .write.mode("overwrite").parquet(s"$tmp/gen=2")
        spark.read.option("mergeSchema", "true").parquet(tmp)
          .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      },
      Some(
        """SELECT c_custkey, c_name,
          |  CASE WHEN c_custkey % 2 <> 0 THEN c_acctbal END AS c_acctbal
          |FROM customer""".stripMargin
      )
    ),

    // Recursive CTE (Spark 4's WITH RECURSIVE): walk the synthetic
    // p DIV 10 part hierarchy to the root, counting ancestors — the
    // transitive-closure shape (BOM explosion, org charts).
    Q(
      "q_recursive_cte",
      (spark, dir) => {
        Q.t(spark, dir, "part").createOrReplaceTempView("graft_rc_part")
        spark.sql(
          """WITH RECURSIVE anc(part, a, depth) AS (
            |  SELECT p_partkey, p_partkey DIV 10, 1 FROM graft_rc_part WHERE p_partkey >= 1
            |  UNION ALL
            |  SELECT part, a DIV 10, depth + 1 FROM anc WHERE a > 0)
            |SELECT part, COUNT(*) AS n_anc, MAX(depth) AS max_depth
            |FROM anc GROUP BY part""".stripMargin)
      },
      Some(
        """WITH RECURSIVE anc(part, a, depth) AS (
          |  SELECT p_partkey, p_partkey // 10, 1 FROM part WHERE p_partkey >= 1
          |  UNION ALL
          |  SELECT part, a // 10, depth + 1 FROM anc WHERE a > 0)
          |SELECT part, COUNT(*) AS n_anc, CAST(MAX(depth) AS INT) AS max_depth
          |FROM anc GROUP BY part""".stripMargin
      )
    ),

    // Correlated LATERAL subquery with ORDER BY + LIMIT (decorrelated
    // by Catalyst into a ranked window): top-2 orders per customer.
    Q(
      "q_lateral_topn",
      (spark, dir) => {
        Q.t(spark, dir, "customer").createOrReplaceTempView("graft_lt_customer")
        Q.t(spark, dir, "orders").createOrReplaceTempView("graft_lt_orders")
        spark.sql(
          """SELECT c_custkey, o_orderkey, o_totalprice
            |FROM graft_lt_customer, LATERAL (
            |  SELECT o_orderkey, o_totalprice FROM graft_lt_orders
            |  WHERE o_custkey = c_custkey
            |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t""".stripMargin)
      },
      Some(
        """SELECT c_custkey, o_orderkey, o_totalprice
          |FROM customer, LATERAL (
          |  SELECT o_orderkey, o_totalprice FROM orders
          |  WHERE o_custkey = c_custkey
          |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t""".stripMargin
      )
    ),

    // Change-data-capture application: a three-wave changelog (two
    // update generations + a takedown wave, derived deterministically
    // from the base table) folded into the orders snapshot by
    // keep-latest-version with tombstone drop. ONE key-partitioned
    // shuffle; the keep-latest ranking plans a map-side (Partial)
    // WindowGroupLimit — asserted below — so a hot key's changelog
    // history never crosses the exchange. The +100.0 price updates are
    // single IEEE adds, deterministic in both engines.
    Q(
      "q_cdc_apply",
      (spark, dir) => {
        val base = Q.t(spark, dir, "orders")
        def wave(pred: Column, seq: Long, op: String, price: Column, status: Column) =
          base
            .filter(pred)
            .withColumn("o_totalprice", price)
            .withColumn("o_orderstatus", status)
            .withColumn("seq", lit(seq))
            .withColumn("op", lit(op))
        val log = wave(col("o_orderkey") % 7 === 0, 1L, "U",
            col("o_totalprice") + 100.0, lit("U1"))
          .unionByName(wave(col("o_orderkey") % 21 === 0, 2L, "U",
            col("o_totalprice") + 200.0, lit("U2")))
          .unionByName(wave(col("o_orderkey") % 11 === 0, 3L, "D",
            col("o_totalprice"), col("o_orderstatus")))
        val out = Changelog.applyLog(
          base, log, Seq("o_orderkey"), "seq", "op")
        Q.requireMapSideGroupLimit(out, 1)
        out
      },
      Some(
        """WITH log AS (
          |  SELECT o_orderkey, o_custkey, 'U1' AS o_orderstatus,
          |         o_totalprice + 100.0 AS o_totalprice, o_orderdate,
          |         o_orderpriority, CAST(1 AS BIGINT) AS seq, 'U' AS op
          |  FROM orders WHERE o_orderkey % 7 = 0
          |  UNION ALL
          |  SELECT o_orderkey, o_custkey, 'U2', o_totalprice + 200.0,
          |         o_orderdate, o_orderpriority, 2, 'U'
          |  FROM orders WHERE o_orderkey % 21 = 0
          |  UNION ALL
          |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
          |         o_orderdate, o_orderpriority, 3, 'D'
          |  FROM orders WHERE o_orderkey % 11 = 0
          |), allv AS (
          |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
          |         o_orderdate, o_orderpriority,
          |         CAST(-9223372036854775808 AS BIGINT) AS seq, 'U' AS op
          |  FROM orders
          |  UNION ALL
          |  SELECT * FROM log
          |), ranked AS (
          |  SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey
          |                               ORDER BY seq DESC) AS rn
          |  FROM allv
          |)
          |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
          |       o_orderdate, o_orderpriority
          |FROM ranked WHERE rn = 1 AND op <> 'D'""".stripMargin
      )
    ),

    // CDC-composed corpus refresh: the snapshot-maintenance / dedup
    // INTERPLAY the per-op gates can't see. The changelog's updates
    // overwrite every 13th document's text with its successor's
    // (creating fresh exact duplicates), and every 17th document is
    // taken down (which can resurrect a doc its copy had shadowed);
    // the refreshed snapshot is then exact-deduped. Pins that
    // dedup-after-refresh reflects POST-update content — a pipeline
    // deduping on stale digests keeps the wrong rows. Plan: applyLog's
    // one key shuffle + the digest-grouped semi-join.
    Q(
      "q_cdc_refresh",
      (spark, dir) => {
        val docs = Q.t(spark, dir, "documents")
        val nxt = docs.select(col("doc_id").as("__nid"), col("text").as("__ntext"))
        val upd = docs
          .filter(col("doc_id") % 13 === 0)
          .join(nxt, col("__nid") === col("doc_id") + 1)
          .select(col("doc_id"), col("__ntext").as("text"), col("lang"),
            col("source"), length(col("__ntext")).cast("long").as("n_chars"))
          .withColumn("seq", lit(1L))
          .withColumn("op", lit("U"))
        val del = docs
          .filter(col("doc_id") % 17 === 0)
          .withColumn("seq", lit(2L))
          .withColumn("op", lit("D"))
        val refreshed = Changelog.applyLog(
          docs, upd.unionByName(del), Seq("doc_id"), "seq", "op")
        Dedup.dropExactDuplicates(refreshed, "doc_id", "text")
          .select(col("doc_id"), col("lang"))
      },
      Some(
        """WITH upd AS (
          |  SELECT a.doc_id, b.text, a.lang, a.source,
          |         CAST(len(b.text) AS BIGINT) AS n_chars,
          |         CAST(1 AS BIGINT) AS seq, 'U' AS op
          |  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
          |  WHERE a.doc_id % 13 = 0
          |), del AS (
          |  SELECT doc_id, text, lang, source, n_chars,
          |         CAST(2 AS BIGINT), 'D'
          |  FROM documents WHERE doc_id % 17 = 0
          |), allv AS (
          |  SELECT doc_id, text, lang, source, n_chars,
          |         CAST(-9223372036854775808 AS BIGINT) AS seq, 'U' AS op
          |  FROM documents
          |  UNION ALL SELECT * FROM upd
          |  UNION ALL SELECT * FROM del
          |), ranked AS (
          |  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
          |                               ORDER BY seq DESC) AS rn
          |  FROM allv
          |), refreshed AS (
          |  SELECT doc_id, text, lang FROM ranked WHERE rn = 1 AND op <> 'D'
          |)
          |SELECT r.doc_id, r.lang FROM refreshed r
          |JOIN (SELECT MIN(doc_id) AS doc_id FROM refreshed
          |      GROUP BY sha256(text)) m USING (doc_id)""".stripMargin
      )
    ),

    // Corpus snapshot diff: the release-notes artifact between two
    // dataset versions — per id: added / removed / changed / unchanged.
    // The "after" snapshot is the same CDC refresh as q_cdc_refresh,
    // so the diff pins the changelog's observable effect end-to-end
    // (every 17th doc removed; every 13th-with-a-successor changed —
    // unless the takedown outranks it or the successor's text is
    // byte-identical, both decided by digest, not by wave membership).
    // Map-side digests, one full-outer id join; no text crosses the
    // exchange.
    Q(
      "q_snapshot_diff",
      (spark, dir) => {
        val docs = Q.t(spark, dir, "documents")
        val nxt = docs.select(col("doc_id").as("__nid"), col("text").as("__ntext"))
        val upd = docs
          .filter(col("doc_id") % 13 === 0)
          .join(nxt, col("__nid") === col("doc_id") + 1)
          .select(col("doc_id"), col("__ntext").as("text"), col("lang"),
            col("source"), length(col("__ntext")).cast("long").as("n_chars"))
          .withColumn("seq", lit(1L))
          .withColumn("op", lit("U"))
        val del = docs
          .filter(col("doc_id") % 17 === 0)
          .withColumn("seq", lit(2L))
          .withColumn("op", lit("D"))
        val after = Changelog.applyLog(
          docs, upd.unionByName(del), Seq("doc_id"), "seq", "op")
        Profile.snapshotDiff(docs, after, "doc_id", "text")
      },
      Some(
        """WITH upd AS (
          |  SELECT a.doc_id, b.text, CAST(1 AS BIGINT) AS seq, 'U' AS op
          |  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
          |  WHERE a.doc_id % 13 = 0
          |), del AS (
          |  SELECT doc_id, text, CAST(2 AS BIGINT), 'D'
          |  FROM documents WHERE doc_id % 17 = 0
          |), allv AS (
          |  SELECT doc_id, text,
          |         CAST(-9223372036854775808 AS BIGINT) AS seq, 'U' AS op
          |  FROM documents
          |  UNION ALL SELECT * FROM upd
          |  UNION ALL SELECT * FROM del
          |), ranked AS (
          |  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
          |                               ORDER BY seq DESC) AS rn
          |  FROM allv
          |), refreshed AS (
          |  SELECT doc_id, text FROM ranked WHERE rn = 1 AND op <> 'D'
          |)
          |SELECT doc_id,
          |  CASE WHEN d.text IS NULL THEN 'added'
          |       WHEN r.text IS NULL THEN 'removed'
          |       WHEN sha256(d.text) <> sha256(r.text) THEN 'changed'
          |       ELSE 'unchanged' END AS status
          |FROM documents d FULL JOIN refreshed r USING (doc_id)""".stripMargin
      )
    )
  )
}
