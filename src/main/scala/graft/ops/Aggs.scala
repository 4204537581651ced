package graft.ops

import graft.{Op, OpModule, Tables}
import graft.api.Graft
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Aggregations (SURVEY.md §2.4): the GA report model is
  * `GROUP BY dimensions → aggregated metrics`, realized as Spark
  * hash aggregates with automatic partial (map-side) aggregation —
  * at 100 TB the partial agg collapses each scan partition to the
  * group cardinality before the single shuffle on the group keys.
  */
object Aggs extends OpModule {

  /** Flagship, TPC-H Q1 shape: filter + 6-group multi-aggregate. */
  val pricingAgg = Op(
    "pricing_agg",
    (s, d) =>
      Tables(s, d, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          // l_quantity is integer-valued: its double sum is exact at
          // any size, so sum/avg round identically on both engines.
          // The PRICE sums are 2/4-dp doubles whose accumulation is
          // order-dependent — at sf10 a 10M-row cell lands on a .xx5
          // boundary and the engines round apart; summing exact
          // integer cent/sub-cent units removes the order dependence
          // (the int→double conversion before the divide is the same
          // nearest-double on both sides).
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(floor(col("l_extendedprice") * 100).cast("long"))
            / 100.0, 2).as("sum_base_price"),
          round(sum(floor(col("l_extendedprice") * (lit(1.0) -
            col("l_discount")) * 10000).cast("long")) / 10000.0, 2)
            .as("sum_disc_price"),
          round(avg(col("l_quantity")), 4).as("avg_qty"),
          round(min(col("l_extendedprice")), 2).as("min_price"),
          round(max(col("l_extendedprice")), 2).as("max_price"),
          count(lit(1)).as("count_order")),
    Some("""
      SELECT l_returnflag, l_linestatus,
             ROUND(SUM(l_quantity), 2) AS sum_qty,
             ROUND(SUM(CAST(FLOOR(l_extendedprice * 100) AS BIGINT))
               / 100.0, 2) AS sum_base_price,
             ROUND(SUM(CAST(FLOOR(l_extendedprice * (1.0 - l_discount)
               * 10000) AS BIGINT)) / 10000.0, 2) AS sum_disc_price,
             ROUND(AVG(l_quantity), 4) AS avg_qty,
             ROUND(MIN(l_extendedprice), 2) AS min_price,
             ROUND(MAX(l_extendedprice), 2) AS max_price,
             COUNT(*) AS count_order
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      GROUP BY l_returnflag, l_linestatus"""))

  /** COUNT(DISTINCT user) per event_type — the GA `ga:users` metric.
    * Spark plans this as Expand + two-phase agg (distinct keys are
    * shuffled once, exact). */
  val aggDistinct = Op(
    "agg_distinct",
    (s, d) =>
      Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(
          countDistinct(col("user_id")).as("n_users"),
          count(lit(1)).as("n_events")),
    Some("""
      SELECT event_type, COUNT(DISTINCT user_id) AS n_users,
             COUNT(*) AS n_events
      FROM events GROUP BY event_type"""))

  /** ROLLUP = GA totalsForAllResults + per-dimension subtotals. */
  val aggRollup = Op(
    "agg_rollup",
    (s, d) => {
      val od = Tables(s, d, "orders")
      val cu = Tables(s, d, "customer")
      val na = Tables(s, d, "nation")
      val re = Tables(s, d, "region")
      od.join(cu, od("o_custkey") === cu("c_custkey"))
        .join(broadcast(na), cu("c_nationkey") === na("n_nationkey"))
        .join(broadcast(re), na("n_regionkey") === re("r_regionkey"))
        .rollup(col("r_name"), col("n_name"))
        .agg(
          // exact integer cents: the grand-total cell sums EVERY
          // order — at sf10 a raw double sum flips a .xx5 boundary
          round(sum(floor(col("o_totalprice") * 100).cast("long"))
            / 100.0, 2).as("total"),
          count(lit(1)).as("n_orders"),
          grouping(col("r_name")).cast("int").as("g_r"),
          grouping(col("n_name")).cast("int").as("g_n"))
    },
    Some("""
      SELECT r_name, n_name,
             ROUND(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT))
               / 100.0, 2) AS total,
             COUNT(*) AS n_orders,
             CAST(GROUPING(r_name) AS INT) AS g_r,
             CAST(GROUPING(n_name) AS INT) AS g_n
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation   ON c_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
      GROUP BY ROLLUP(r_name, n_name)"""))

  /** Statistical metrics (GA avg/percentile metrics): exact stddev and
    * exact median over the integral-valued l_quantity. */
  val aggStats = Op(
    "agg_stats",
    (s, d) =>
      Tables(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          round(avg(col("l_quantity")), 4).as("avg_qty"),
          round(stddev_samp(col("l_quantity")), 4).as("sd_qty"),
          round(expr("percentile(l_quantity, 0.5)"), 4).as("median_qty"),
          count(lit(1)).as("n")),
    Some("""
      SELECT l_returnflag,
             ROUND(AVG(l_quantity), 4) AS avg_qty,
             ROUND(STDDEV_SAMP(l_quantity), 4) AS sd_qty,
             ROUND(QUANTILE_CONT(l_quantity, 0.5), 4) AS median_qty,
             COUNT(*) AS n
      FROM lineitem GROUP BY l_returnflag"""))

  /** Custom typed UDAF (Aggregator): geometric mean of l_quantity.
    * Oracle shares the closed form EXP(AVG(LN(x))). */
  val udafGeomean = Op(
    "udaf_geomean",
    (s, d) => {
      val gm = udaf(graft.functions.GeoMean)
      Tables(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(round(gm(col("l_quantity")), 4).as("geomean_qty"))
    },
    Some("""
      SELECT l_returnflag,
             ROUND(EXP(AVG(LN(l_quantity))), 4) AS geomean_qty
      FROM lineitem GROUP BY l_returnflag"""))

  /** Approximate distinct (HLL++) — no oracle by design (sketch
    * internals differ across engines); unit test bounds the error. */
  val aggHll = Op(
    "agg_hll",
    (s, d) =>
      Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(approx_count_distinct(col("user_id"), 0.02).as("approx_users")),
    None)

  /** Approximate quantiles via percentile_approx (GK-style sketch;
    * GA latency/duration percentile metrics). No oracle — sketch
    * merge order is partitioning-dependent; the unit test bounds the
    * rank error against the exact percentile instead. */
  val aggQuantileSketch = Op(
    "agg_quantile_sketch",
    (s, d) =>
      Tables(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          percentile_approx(col("l_extendedprice"), lit(0.5), lit(1000))
            .as("p50"),
          percentile_approx(col("l_extendedprice"), lit(0.95), lit(1000))
            .as("p95")),
    None)

  /** KMV sketch under a driver-visible *bounded-error* oracle: emit
    * the exact distinct count plus a boolean asserting the sketch is
    * within 15% of it (k=1024 → ~3.1% standard error, so 15% is ~5σ;
    * with fewer than k distinct values KMV is exact). The oracle
    * emits the exact count and literal TRUE — the hash matches iff
    * every group's estimate is in bound. */
  val kmvBound = Op(
    "kmv_bound",
    (s, d) => {
      // resolve kmv_distinct even on sessions without GraftExtensions
      graft.ext.GraftFunctions.register(s)
      Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(
          countDistinct(col("user_id")).as("n_exact"),
          expr("kmv_distinct(user_id, 1024)").as("_kmv"))
        .select(
          col("event_type"), col("n_exact"),
          (abs(col("_kmv") - col("n_exact")) <=
            col("n_exact").cast("double") * 0.15).as("within_bound"))
    },
    Some("""
      SELECT event_type, COUNT(DISTINCT user_id) AS n_exact,
             TRUE AS within_bound
      FROM events GROUP BY event_type"""))

  /** HLL++ under a driver-visible bounded-error oracle (same pattern
    * as kmv_bound): rsd=0.02 → 15% is ~7σ; the boolean hash-matches
    * the oracle's TRUE iff every group estimate is in bound. */
  val hllBound = Op(
    "hll_bound",
    (s, d) =>
      Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(
          countDistinct(col("user_id")).as("n_exact"),
          approx_count_distinct(col("user_id"), 0.02).as("_hll"))
        .select(
          col("event_type"), col("n_exact"),
          (abs(col("_hll") - col("n_exact")) <=
            col("n_exact").cast("double") * 0.15).as("within_bound")),
    Some("""
      SELECT event_type, COUNT(DISTINCT user_id) AS n_exact,
             TRUE AS within_bound
      FROM events GROUP BY event_type"""))

  /** percentile_approx (GK sketch) under a bounded-error oracle: the
    * sketch's p50/p95 must land within the exact p45..p55 / p90..p99
    * value ranges — a rank-error bound far looser than the sketch's
    * 1/1000 accuracy, evaluated entirely in integral-rank space so
    * the boolean is deterministic. */
  val quantileBound = Op(
    "quantile_bound",
    (s, d) =>
      Tables(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          percentile_approx(col("l_extendedprice"), lit(0.5), lit(1000))
            .as("_p50"),
          percentile_approx(col("l_extendedprice"), lit(0.95), lit(1000))
            .as("_p95"),
          expr("percentile(l_extendedprice, 0.45)").as("_lo50"),
          expr("percentile(l_extendedprice, 0.55)").as("_hi50"),
          expr("percentile(l_extendedprice, 0.90)").as("_lo95"),
          expr("percentile(l_extendedprice, 0.99)").as("_hi95"),
          count(lit(1)).as("n"))
        .select(
          col("l_returnflag"), col("n"),
          (col("_p50") >= col("_lo50") && col("_p50") <= col("_hi50"))
            .as("p50_in_bound"),
          (col("_p95") >= col("_lo95") && col("_p95") <= col("_hi95"))
            .as("p95_in_bound")),
    Some("""
      SELECT l_returnflag, COUNT(*) AS n,
             TRUE AS p50_in_bound, TRUE AS p95_in_bound
      FROM lineitem GROUP BY l_returnflag"""))

  /** Two-phase salted aggregation (Skew.saltedSumCount) as a declared
    * query: event_type has only 5 hot values — the exact shape where
    * one reducer per key melts at 100 TB. The salt fans each hot key
    * over 32 partial reducers; the merge is algebraic (sum of sums),
    * so the oracle is the plain GROUP BY. */
  val aggSalted = Op(
    "agg_salted",
    (s, d) =>
      Skew.saltedSumCount(Tables.events(s, d), col("event_type"),
        col("value"), col("event_id"), 32)
        .select(col("k").as("event_type"),
          round(col("total"), 2).as("total_value"),
          col("n").as("n_events")),
    Some("""
      SELECT event_type, ROUND(SUM(value), 2) AS total_value,
             COUNT(*) AS n_events
      FROM events GROUP BY event_type"""))

  /** CUBE over market segment x order status (all four grouping-set
    * combinations; GROUPING() flags disambiguate null dimension
    * values from the subtotal rows). */
  val aggCube = Op(
    "agg_cube",
    (s, d) => {
      val od = Tables(s, d, "orders")
      val cu = Tables(s, d, "customer")
      od.join(cu, od("o_custkey") === cu("c_custkey"))
        .cube(col("c_mktsegment"), col("o_orderstatus"))
        .agg(
          count(lit(1)).as("n"),
          // exact integer cents: the cube's grand total sums every
          // order (same sf10 boundary hazard as agg_grouping_sets)
          round(sum(floor(col("o_totalprice") * 100).cast("long"))
            / 100.0, 2).as("total"),
          grouping(col("c_mktsegment")).cast("int").as("g_seg"),
          grouping(col("o_orderstatus")).cast("int").as("g_st"))
    },
    Some("""
      SELECT c_mktsegment, o_orderstatus, COUNT(*) AS n,
             ROUND(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT))
               / 100.0, 2) AS total,
             CAST(GROUPING(c_mktsegment) AS INT) AS g_seg,
             CAST(GROUPING(o_orderstatus) AS INT) AS g_st
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY CUBE(c_mktsegment, o_orderstatus)"""))

  /** Ordered string aggregation: per-segment sorted list of the top
    * nations by customer count (collect_list is unordered in Spark,
    * so both engines sort before joining — determinism rule 1). */
  val aggStrings = Op(
    "agg_strings",
    (s, d) => {
      val cu = Tables(s, d, "customer")
      val na = Tables(s, d, "nation")
      cu.join(broadcast(na), cu("c_nationkey") === na("n_nationkey"))
        .groupBy(col("c_mktsegment"), col("n_name"))
        .agg(count(lit(1)).as("n_cust"))
        .groupBy(col("c_mktsegment"))
        .agg(
          count(lit(1)).as("n_nations"),
          array_join(array_sort(collect_list(col("n_name"))), ",")
            .as("nations"))
    },
    Some("""
      WITH per AS (
        SELECT c_mktsegment, n_name, COUNT(*) AS n_cust
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY 1, 2)
      SELECT c_mktsegment, COUNT(*) AS n_nations,
             string_agg(n_name, ',' ORDER BY n_name) AS nations
      FROM per GROUP BY c_mktsegment"""))

  /** Misra–Gries heavy hitters under a driver-visible oracle (the
    * same bounded-error pattern as `kmv_bound`). The stream is the
    * event log with deterministic type weights (purchase ×10,
    * click ×3 — the fixture's 5 event types are near-uniform, so the
    * weights create the skew a heavy-hitter pass exists for), itemized
    * as event_type:user-bucket → 20 distinct items churning through 8
    * counters. Output = claimed items whose EXACT count clears n/k —
    * a deterministic set by the MG superset guarantee (every item
    * above n/(k+1) survives any merge order) — plus a boolean that
    * the estimate is within n/k (deterministically true). The exact
    * counts come from a weighted sum, not a second pass over the
    * exploded stream. */
  val heavyHitters = Op(
    "heavy_hitters",
    (s, d) => {
      graft.ext.GraftFunctions.register(s)
      val weighted = Tables.events(s, d)
        .withColumn("w",
          when(col("event_type") === "purchase", 10)
            .when(col("event_type") === "click", 3)
            .otherwise(1))
        .withColumn("item",
          concat(col("event_type"), lit(":"),
            (col("user_id") % 4).cast("string")))
      val stream = weighted
        .select(col("item"), explode(expr("sequence(1, w)")))
        .select(col("item"))
      val sk = stream.agg(
        expr("mg_topk(item, 8)").as("sk"),
        count(lit(1)).as("t"))
      val claimed = sk.select(col("t"),
        explode(col("sk")).as(Seq("item", "est")))
      val exact = weighted.groupBy(col("item"))
        .agg(sum(col("w")).cast("long").as("exact_cnt"))
      claimed.join(exact, "item")
        .filter(col("exact_cnt") > col("t").cast("double") / 8.0)
        .select(
          col("item"), col("exact_cnt"),
          (col("est") <= col("exact_cnt") &&
            (col("exact_cnt") - col("est")) <=
              col("t").cast("double") / 8.0).as("in_bound"))
    },
    Some("""
      WITH w AS (
        SELECT event_type || ':' || CAST(user_id % 4 AS VARCHAR) AS item,
               CASE event_type WHEN 'purchase' THEN 10
                               WHEN 'click' THEN 3 ELSE 1 END AS w
        FROM events),
      tot AS (SELECT SUM(w) AS t FROM w),
      exact AS (SELECT item, CAST(SUM(w) AS BIGINT) AS exact_cnt
                FROM w GROUP BY item)
      SELECT item, exact_cnt, TRUE AS in_bound
      FROM exact, tot
      WHERE exact_cnt > CAST(t AS DOUBLE) / 8.0"""))

  /** GROUPING SETS beyond what rollup/cube can express — the two
    * independent slices ((r_name), (n_name)) without the pair — via
    * the native `Dataset.groupingSets` (Spark 4). Same single-Expand
    * + hash-agg plan as rollup: each input row replicates once per
    * set, partials combine map-side. */
  val aggGroupingSets = Op(
    "agg_grouping_sets",
    (s, d) => {
      val od = Tables(s, d, "orders")
      val cu = Tables(s, d, "customer")
      val na = Tables(s, d, "nation")
      val re = Tables(s, d, "region")
      od.join(cu, od("o_custkey") === cu("c_custkey"))
        .join(broadcast(na), cu("c_nationkey") === na("n_nationkey"))
        .join(broadcast(re), na("n_regionkey") === re("r_regionkey"))
        .groupingSets(Seq(Seq(col("r_name")), Seq(col("n_name"))),
          col("r_name"), col("n_name"))
        .agg(
          // exact integer cents — the observed sf10 flip: ASIA's
          // 2.9M-order cell summed to ...945.995, Spark rounded .0,
          // DuckDB .99 (order-dependent double accumulation)
          round(sum(floor(col("o_totalprice") * 100).cast("long"))
            / 100.0, 2).as("total"),
          count(lit(1)).as("n_orders"),
          grouping(col("r_name")).cast("int").as("g_r"),
          grouping(col("n_name")).cast("int").as("g_n"))
    },
    Some("""
      SELECT r_name, n_name,
             ROUND(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT))
               / 100.0, 2) AS total,
             COUNT(*) AS n_orders,
             CAST(GROUPING(r_name) AS INT) AS g_r,
             CAST(GROUPING(n_name) AS INT) AS g_n
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation   ON c_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
      GROUP BY GROUPING SETS ((r_name), (n_name))"""))

  /** Exact grouped quartiles (linear interpolation): the precise
    * counterpart of `agg_quantile_sketch`/`quantile_bound` — use when
    * group cardinality is modest enough for an exact per-group sort
    * (3 groups here, so the exact sort is cheap); at 100 TB-per-group
    * the sketch path or `winsorize`'s distinct-value-CDF selection is
    * the right tool, and this op is the ground truth both are judged
    * against.
    *
    * Quartiles are computed over integer CENTS: quartile fractions
    * (0/.25/.5/.75) and integer order statistics are both exact in
    * binary floating point, so Spark's `lo + (hi-lo)*f` and DuckDB's
    * convex-combination interpolation give the identical double —
    * over raw doubles the two forms differ in the last ulp and can
    * flip a rounding boundary (observed at sf0.001). */
  val quantileExact = Op(
    "quantile_exact",
    (s, d) => {
      val cents = floor(col("l_extendedprice") * 100).cast("long")
      // NO round: the quartile over cents is exact (dyadic fraction ×
      // integer order stats) and /100.0 is the same IEEE division on
      // both engines — rounding would re-introduce the .xx5 half-way
      // hazard (SURVEY §2 determinism rule 3, round-half trap)
      def q(p: Double) = percentile(cents, lit(p)) / 100.0
      Tables(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n_rows"),
          q(0.25).as("q1"), q(0.5).as("q2"), q(0.75).as("q3"))
    },
    Some("""
      SELECT l_returnflag, COUNT(*) AS n_rows,
             quantile_cont(CAST(FLOOR(l_extendedprice * 100)
               AS BIGINT), 0.25) / 100.0 AS q1,
             quantile_cont(CAST(FLOOR(l_extendedprice * 100)
               AS BIGINT), 0.5)  / 100.0 AS q2,
             quantile_cont(CAST(FLOOR(l_extendedprice * 100)
               AS BIGINT), 0.75) / 100.0 AS q3
      FROM lineitem GROUP BY l_returnflag"""))

  /** Winsorized (robust) mean per group: clamp prices to the exact
    * [p05, p95] order statistics, then average. Percentile bounds are
    * DISCRETE order statistics (rank k = floor(p·(n−1))+1 over
    * integer cents) — interpolated percentiles at p=.05 carry a
    * non-dyadic fraction whose two engine-side interpolation forms
    * differ in the last ulp; rank selection is pure integer work, so
    * the clamped sum is exact on both sides.
    *
    * Scale shape: the rank-k statistic is selected on the DISTINCT-
    * VALUE CDF (count per (group, cents) → running count → first
    * value whose cumulative count ≥ k), NOT by ranking rows — a
    * row_number over 3 return-flag partitions would sort the whole
    * fact table in 3 tasks at 100 TB, while the rollup's ordered pass
    * is bounded by the price domain regardless of row count. The
    * oracle keeps the per-row row_number formulation (same order
    * statistic by definition); DuckDB sorts locally just fine. */
  val winsorize = Op(
    "winsorize",
    (s, d) =>
      Graft.winsorize(Tables(s, d, "lineitem"),
        floor(col("l_extendedprice") * 100), "l_returnflag")
        .withColumnRenamed("p_lo", "p05")
        .withColumnRenamed("p_hi", "p95"),
    Some("""
      WITH ranked AS (
        SELECT l_returnflag,
               CAST(FLOOR(l_extendedprice * 100) AS BIGINT) AS cents,
               ROW_NUMBER() OVER (PARTITION BY l_returnflag
                 ORDER BY CAST(FLOOR(l_extendedprice * 100) AS BIGINT))
                 AS rn,
               COUNT(*) OVER (PARTITION BY l_returnflag) AS n
        FROM lineitem),
      keyed AS (
        SELECT *,
               CAST(FLOOR(0.05 * (n - 1)) + 1 AS INT) AS k05,
               CAST(FLOOR(0.95 * (n - 1)) + 1 AS INT) AS k95
        FROM ranked),
      bounds AS (
        SELECT l_returnflag,
               MAX(CASE WHEN rn = k05 THEN cents END) AS lo,
               MAX(CASE WHEN rn = k95 THEN cents END) AS hi
        FROM keyed GROUP BY l_returnflag)
      SELECT k.l_returnflag, COUNT(*) AS n_rows,
             MAX(lo) / 100.0 AS p05,
             MAX(hi) / 100.0 AS p95,
             AVG(cents) / 100.0 AS mean_raw,
             AVG(LEAST(GREATEST(cents, lo), hi)) / 100.0 AS mean_winsor
      FROM keyed k JOIN bounds b ON k.l_returnflag = b.l_returnflag
      GROUP BY k.l_returnflag"""))

  /** Gini concentration of order revenue per market segment — the
    * inequality summary a revenue dashboard ships. Rank-sum identity
    * G = 2·Σ(i·xᵢ)/(n·Σxᵢ) − (n+1)/n; every intermediate is exact
    * (decimal(38,0) rank-weighted sum vs DuckDB's HUGEINT — the int64
    * sum overflows near sf10 — and both exact sums convert to the
    * same double), so both engines divide identical operands.
    *
    * Scale shape: Σ(i·xᵢ) is computed on the DISTINCT-VALUE rollup —
    * a run of m tied rows starting at rank r contributes
    * x·(m·r + m(m−1)/2), so only (segment, cents) groups need the
    * ordered cumulative pass, never the fact rows (a row_number over
    * 5 segment partitions would sort everything in 5 tasks at
    * 100 TB). Result is identical to per-row ranking with any
    * tie-break, which is what the oracle's row_number form computes. */
  val giniConcentration = Op(
    "gini_concentration",
    (s, d) => {
      val od = Tables(s, d, "orders")
      val cu = Tables(s, d, "customer")
      val vc = od.join(cu, od("o_custkey") === cu("c_custkey"))
        .withColumn("cents", floor(col("o_totalprice") * 100).cast("long"))
        .groupBy(col("c_mktsegment"), col("cents"))
        .agg(count(lit(1)).as("m"))
      val w = Window.partitionBy(col("c_mktsegment")).orderBy(col("cents"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      vc
        .withColumn("rstart", sum(col("m")).over(w) - col("m") + 1)
        // Σ of ranks rstart..rstart+m-1 (≤ n², fits int64 far past
        // sf10), then × value in decimal so the product can't wrap
        .withColumn("rank_sum",
          col("m") * col("rstart") + expr("(m * (m - 1)) div 2"))
        .withColumn("contrib",
          col("cents").cast("decimal(18,0)") * col("rank_sum"))
        .groupBy(col("c_mktsegment"))
        .agg(
          sum(col("m")).cast("long").as("n_orders"),
          round((lit(2.0) * sum(col("contrib")) /
            (sum(col("m")) * lit(1.0) * sum(col("m") * col("cents"))) -
            (sum(col("m")) + lit(1.0)) / sum(col("m"))), 6).as("gini"))
    },
    Some("""
      WITH ranked AS (
        SELECT c_mktsegment,
               CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents,
               CAST(ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                 ORDER BY CAST(FLOOR(o_totalprice * 100) AS BIGINT),
                          o_orderkey) AS BIGINT) AS i
        FROM orders JOIN customer ON o_custkey = c_custkey)
      SELECT c_mktsegment, COUNT(*) AS n_orders,
             ROUND(2.0 * SUM(i * cents) /
               (COUNT(*) * 1.0 * SUM(cents)) -
               (COUNT(*) + 1.0) / COUNT(*), 6) AS gini
      FROM ranked GROUP BY c_mktsegment"""))

  /** Equi-width value histogram per event type (the distribution-
    * profiling primitive): 10 buckets over the GLOBAL [min, max] cent
    * range, bounds from one broadcast scalar aggregate — bucket id is
    * pure integer floor-division, so both engines bin identically.
    * Two map-side-combined passes, no sort, no per-group scan. */
  val valueHistogram = Op(
    "value_histogram",
    (s, d) => {
      val ev = Tables.events(s, d)
        .withColumn("vc", floor(col("value") * 100).cast("long"))
      val span = ev.agg(min(col("vc")).as("mn"), max(col("vc")).as("mx"))
      ev.crossJoin(broadcast(span))
        .withColumn("bucket",
          expr("((vc - mn) * 10) div (mx - mn + 1)").cast("int"))
        .groupBy(col("event_type"), col("bucket"))
        .agg(
          count(lit(1)).as("n_events"),
          round(min(col("vc")) / 100.0, 2).as("lo_v"),
          round(max(col("vc")) / 100.0, 2).as("hi_v"))
    },
    Some("""
      WITH ev AS (
        SELECT event_type,
               CAST(FLOOR(value * 100) AS BIGINT) AS vc
        FROM events),
      span AS (SELECT MIN(vc) AS mn, MAX(vc) AS mx FROM ev)
      SELECT event_type,
             CAST((vc - mn) * 10 // (mx - mn + 1) AS INT) AS bucket,
             COUNT(*) AS n_events,
             ROUND(MIN(vc) / 100.0, 2) AS lo_v,
             ROUND(MAX(vc) / 100.0, 2) AS hi_v
      FROM ev, span
      GROUP BY 1, 2"""))

  /** Robust outlier counting by median absolute deviation: per group,
    * med = exact median, mad = median(|x − med|), outliers = rows
    * beyond 5·mad. All statistics are dyadic-exact over integer cents
    * (medians interpolate with fraction 0 or .5), so the outlier
    * threshold compares identical doubles on both engines — the
    * robust alternative to `anomaly_zscore`'s mean/stddev. Group
    * medians here are cheap (3 groups); at 100 TB-per-group swap in
    * the sketch or `winsorize`'s CDF selection. */
  val madOutliers = Op(
    "mad_outliers",
    (s, d) => {
      val rows = Tables(s, d, "lineitem")
        .withColumn("cents", floor(col("l_extendedprice") * 100).cast("long"))
      val med = rows.groupBy(col("l_returnflag"))
        .agg(percentile(col("cents"), lit(0.5)).as("med"))
      val dev = rows.join(broadcast(med), "l_returnflag")
        .withColumn("adev", abs(col("cents") - col("med")))
      val mad = dev.groupBy(col("l_returnflag"))
        .agg(percentile(col("adev"), lit(0.5)).as("mad"))
      dev.join(broadcast(mad), "l_returnflag")
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n_rows"),
          // NO round: half-cent medians are exact and /100.0 is the
          // same IEEE division both sides; rounding would sit exactly
          // on the .xx5 boundary the engines round apart
          (max(col("med")) / 100.0).as("median"),
          (max(col("mad")) / 100.0).as("mad"),
          sum(when(col("adev") > lit(5.0) * col("mad"), 1L).otherwise(0L))
            .cast("long").as("n_outliers"))
    },
    Some("""
      WITH rows_c AS (
        SELECT l_returnflag,
               CAST(FLOOR(l_extendedprice * 100) AS BIGINT) AS cents
        FROM lineitem),
      med AS (
        SELECT l_returnflag, quantile_cont(cents, 0.5) AS med
        FROM rows_c GROUP BY l_returnflag),
      dev AS (
        SELECT r.l_returnflag, cents, ABS(cents - med) AS adev
        FROM rows_c r JOIN med USING (l_returnflag)),
      mad AS (
        SELECT l_returnflag, quantile_cont(adev, 0.5) AS mad
        FROM dev GROUP BY l_returnflag)
      SELECT d.l_returnflag, COUNT(*) AS n_rows,
             MAX(med) / 100.0 AS median,
             MAX(mad) / 100.0 AS mad,
             CAST(SUM(CASE WHEN adev > 5.0 * mad THEN 1 ELSE 0 END)
               AS BIGINT) AS n_outliers
      FROM dev d JOIN mad USING (l_returnflag)
                 JOIN med USING (l_returnflag)
      GROUP BY d.l_returnflag"""))

  /** Fan-out profile: the distribution of lines-per-order (how many
    * rows each parent key fans out to) — the first diagnostic run
    * before sizing a join or explode at scale. Two map-side-combined
    * aggregations, output bounded by the max fan-out. */
  val orderLinesHist = Op(
    "order_lines_hist",
    (s, d) =>
      Tables(s, d, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("n_lines"))
        .groupBy(col("n_lines"))
        .agg(count(lit(1)).as("n_orders")),
    Some("""
      SELECT n_lines, COUNT(*) AS n_orders
      FROM (SELECT l_orderkey, COUNT(*) AS n_lines
            FROM lineitem GROUP BY l_orderkey)
      GROUP BY n_lines"""))

  /** Key-skew diagnostics — the profiling pass that DECIDES when the
    * salting/AQE machinery (`agg_salted`, `join_salted`) is needed:
    * per event_type, the distribution of per-user group sizes
    * (distinct keys, max, exact median, total) plus the hot-key share
    * in basis points. Two map-side-combinable aggregations — sizes
    * collapse to one row per (type, user) before the only data-sized
    * shuffle; the second agg is output-sized. All-integer output
    * (median of integer sizes at q=0.5 is dyadic-exact; share uses
    * integer div), so cross-engine parity is exact at any SF. */
  val keySkew = Op(
    "key_skew",
    (s, d) => {
      val sizes = Tables.events(s, d)
        .groupBy(col("event_type"), col("user_id"))
        .agg(count(lit(1)).as("sz"))
      sizes
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n_keys"),
          max(col("sz")).as("max_sz"),
          percentile(col("sz"), lit(0.5)).as("med_sz"),
          sum(col("sz")).as("total"))
        .withColumn("hot_share_bp",
          expr("max_sz * 10000 div total"))
    },
    Some("""
      WITH sizes AS (
        SELECT event_type, user_id, COUNT(*) AS sz
        FROM events GROUP BY event_type, user_id)
      SELECT event_type,
             COUNT(*) AS n_keys,
             MAX(sz) AS max_sz,
             quantile_cont(sz, 0.5) AS med_sz,
             CAST(SUM(sz) AS BIGINT) AS total,
             CAST(MAX(sz) * 10000 // SUM(sz) AS BIGINT) AS hot_share_bp
      FROM sizes GROUP BY event_type"""))

  /** Exact equi-depth histogram of line prices in 16 buckets: every
    * bucket holds the same row count (±1), boundaries fall where the
    * data says, not on a fixed grid — the complement of
    * `value_histogram`'s equi-width buckets and the exact version of
    * what `agg_quantile_sketch` approximates.
    *
    * Scale (r20): computed on the DISTINCT-VALUE CDF, never by
    * ranking rows — `winsorize`/`gini_concentration`'s rollup idiom
    * applied to the bucket assignment. Every output column is a
    * function of the sorted MULTISET of cents alone: rows tie-broken
    * by (orderkey, linenumber) within one cents value occupy a
    * CONTIGUOUS rank interval [c0+1, c1] (c1 = cumulative count,
    * c0 = c1 − m) regardless of tie-break order, and each per-bucket
    * aggregate (count / min / max / sum of cents) is invariant to
    * which of the m identical values sits at which rank. Bucket b
    * covers 0-based positions [⌈b·n/16⌉, ⌊((b+1)·n−1)/16⌋]; a value's
    * contribution to b is the interval overlap, exploded over
    * [bucket(c0+1), bucket(c1)] and filtered to contrib > 0 so empty
    * buckets (possible only when n < 16) never appear — exactly the
    * buckets the per-row rank form emits. Ranking all rows instead
    * (`Ranks.withGlobalRank` over the whole table) puts a table-sized
    * range shuffle and sort on the critical path; this form
    * collapses the table map-side to the price domain (60 M rows →
    * 581 k distinct cents at sf10, and at 100 TB the domain stays
    * bounded while rows grow), so the only ordered pass is the
    * domain-sized cumulative count — `Ranks.withPrefixSum` over the
    * rollup, so not even that runs in one task; its total is the row
    * count n. Per-bucket money sums still accumulate in
    * decimal(38,0) (12-digit cell sums diverge in double — the sf10
    * lesson): cents·contrib products are exact integers in both
    * forms. */
  val equiDepthHist = Op(
    "equi_depth_hist",
    (s, d) => equiDepthBuckets(Tables(s, d, "lineitem")
      .select(floor(col("l_extendedprice") * 100).cast("long").as("cents"))),
    Some("""
      WITH c AS (
        SELECT CAST(FLOOR(l_extendedprice * 100) AS BIGINT) AS cents,
               l_orderkey, l_linenumber
        FROM lineitem),
      r AS (
        SELECT cents,
               ROW_NUMBER() OVER (ORDER BY cents, l_orderkey,
                 l_linenumber) AS rn,
               COUNT(*) OVER () AS n
        FROM c)
      SELECT ((rn - 1) * 16) // n AS bucket,
             COUNT(*) AS n_rows,
             MIN(cents) AS lo_cents,
             MAX(cents) AS hi_cents,
             CAST(SUM(cents) AS BIGINT) AS total_cents
      FROM r GROUP BY bucket"""))

  /** `equi_depth_hist`'s bucket assignment: the 16-bucket equi-depth
    * histogram of a long `cents` column, from the distinct-value CDF
    * (see the op). The CDF's cumulative count `c1` is the distributed
    * prefix sum of each value's multiplicity, never a global window,
    * and the row count `__n` is that prefix sum's total. */
  def equiDepthBuckets(cents: DataFrame): DataFrame = {
    val m = cents.groupBy(col("cents")).agg(count(lit(1)).as("m"))
    Ranks.withPrefixSum(m, "c1", "__n", "m", col("cents"))
      .withColumn("c0", col("c1") - col("m"))
      .withColumn("bucket",
        explode(sequence(expr("(c0 * 16) div __n"),
          expr("((c1 - 1) * 16) div __n"))))
      .withColumn("contrib",
        least(expr("((bucket + 1) * __n - 1) div 16"), col("c1") - 1) -
          greatest(expr("(bucket * __n + 15) div 16"), col("c0")) +
          lit(1L))
      .filter(col("contrib") > 0)
      .groupBy(col("bucket"))
      .agg(sum(col("contrib")).as("n_rows"),
        min(col("cents")).as("lo_cents"),
        max(col("cents")).as("hi_cents"),
        sum(col("cents").cast("decimal(38,0)") * col("contrib"))
          .cast("long").as("total_cents"))
  }

  override def ops: Seq[Op] =
    Seq(pricingAgg, aggDistinct, aggRollup, aggStats, udafGeomean, aggHll,
      aggCube, aggStrings, aggQuantileSketch, kmvBound, hllBound,
      quantileBound, aggSalted, heavyHitters, aggGroupingSets, quantileExact,
      winsorize, giniConcentration, valueHistogram, madOutliers,
      orderLinesHist, keySkew, equiDepthHist)
}
