package graft.ops

import graft.{Op, OpModule, Tables}
import graft.api.Graft
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Join matrix (SURVEY.md §2.3).
  *
  * Scale notes baked into each shape: large↔large joins shuffle both
  * sides on the key (sort-merge / shuffled-hash, AQE picks); the
  * ≤25-row dims (region, nation) are explicitly `broadcast()` so the
  * star chain is a single scan of the fact side with map-side hash
  * probes — no shuffle of the 100 TB table. Semi/anti joins never
  * materialize the probe side's payload.
  */
object Joins extends OpModule {

  /** Large↔large equi inner join + aggregate. */
  val joinInner = Op(
    "join_inner",
    (s, d) => {
      val li = Tables(s, d, "lineitem")
      val od = Tables(s, d, "orders")
      li.join(od, li("l_orderkey") === od("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(
          count(lit(1)).as("n_items"),
          // exact sub-cent units: 12M-row cells at sf10 flip a raw
          // double sum's rounding boundary (same class as pricing_agg)
          round(sum(floor(col("l_extendedprice") * (lit(1.0) -
            col("l_discount")) * 10000).cast("long")) / 10000.0, 2)
            .as("revenue"))
    },
    Some("""
      SELECT o_orderpriority, COUNT(*) AS n_items,
             ROUND(SUM(CAST(FLOOR(l_extendedprice * (1.0 - l_discount)
               * 10000) AS BIGINT)) / 10000.0, 2) AS revenue
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY o_orderpriority"""))

  /** Star-schema chain with broadcast dims. */
  val joinBcastStar = Op(
    "join_bcast_star",
    (s, d) => {
      val od = Tables(s, d, "orders")
      val cu = Tables(s, d, "customer")
      val na = Tables(s, d, "nation")
      val re = Tables(s, d, "region")
      od.join(cu, od("o_custkey") === cu("c_custkey"))
        .join(broadcast(na), cu("c_nationkey") === na("n_nationkey"))
        .join(broadcast(re), na("n_regionkey") === re("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(
          count(lit(1)).as("n_orders"),
          // exact integer cents: 240k+ orders per (region, nation)
          // cell at sf10 — raw double sums are order-dependent there
          round(sum(floor(col("o_totalprice") * 100).cast("long"))
            / 100.0, 2).as("total"))
    },
    Some("""
      SELECT r_name, n_name, COUNT(*) AS n_orders,
             ROUND(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT))
               / 100.0, 2) AS total
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation   ON c_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
      GROUP BY r_name, n_name"""))

  /** Left outer: every customer, including order-less ones. */
  val joinLeft = Op(
    "join_left",
    (s, d) => {
      val cu = Tables(s, d, "customer")
      val od = Tables(s, d, "orders")
      cu.join(od, cu("c_custkey") === od("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(
          count(col("o_orderkey")).as("n_orders"),
          round(coalesce(sum(col("o_totalprice")), lit(0.0)), 2).as("spent"))
    },
    Some("""
      SELECT c_custkey, COUNT(o_orderkey) AS n_orders,
             ROUND(COALESCE(SUM(o_totalprice), 0.0), 2) AS spent
      FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      GROUP BY c_custkey"""))

  /** Left semi = GA segment "users matching condition". */
  val joinSemi = Op(
    "join_semi",
    (s, d) => {
      val cu = Tables(s, d, "customer")
      val od = Tables(s, d, "orders").filter(col("o_totalprice") > 40000.0)
      cu.join(od, cu("c_custkey") === od("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
    },
    Some("""
      SELECT c_custkey, c_name FROM customer
      WHERE EXISTS (SELECT 1 FROM orders
                    WHERE o_custkey = c_custkey AND o_totalprice > 40000.0)"""))

  /** Left anti (segment exclusion); NOT EXISTS, never NOT IN.
    * The probe side is filtered to high-value orders so the result is
    * non-degenerate at every SF (at sf0.01 every customer has *some*
    * order, FIXTURES.md:28-30). */
  val joinAnti = Op(
    "join_anti",
    (s, d) => {
      val cu = Tables(s, d, "customer")
      val od = Tables(s, d, "orders").filter(col("o_totalprice") > 400000.0)
      cu.join(od, cu("c_custkey") === od("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
    },
    Some("""
      SELECT c_custkey, c_name FROM customer
      WHERE NOT EXISTS (SELECT 1 FROM orders
                        WHERE o_custkey = c_custkey
                          AND o_totalprice > 400000.0)"""))

  /** Equi join + residual range (theta) predicate: lineitems shipped
    * more than 90 days after their order date. */
  val joinTheta = Op(
    "join_theta",
    (s, d) => {
      val li = Tables(s, d, "lineitem")
      val od = Tables(s, d, "orders")
      li.join(od, li("l_orderkey") === od("o_orderkey") &&
          li("l_shipdate") > date_add(od("o_orderdate"), 90))
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n_items"),
          // exact integer cents: 10M-row cells at sf10 (see pricing_agg)
          round(sum(floor(col("l_extendedprice") * 100).cast("long"))
            / 100.0, 2).as("sum_price"))
    },
    Some("""
      SELECT l_returnflag, COUNT(*) AS n_items,
             ROUND(SUM(CAST(FLOOR(l_extendedprice * 100) AS BIGINT))
               / 100.0, 2) AS sum_price
      FROM lineitem JOIN orders
        ON l_orderkey = o_orderkey
       AND l_shipdate > o_orderdate + INTERVAL 90 DAY
      GROUP BY l_returnflag"""))

  /** As-of join: each purchase event paired with the same user's most
    * recent prior-or-equal signup. Spark has no native as-of join on
    * DataFrames; the running-max window formulation below is a single
    * shuffle on user_id and streams in ts order — the same shape scales
    * to a billion users (state is one value per partition row). The
    * identical SQL runs on the oracle side for bit-parity. */
  val joinAsof = Op(
    "join_asof",
    (s, d) => {
      val ev = Tables.events(s, d)
        .filter(col("event_type").isin("signup", "purchase"))
        .withColumn("us", unix_micros(col("ts")))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("us"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ev.withColumn("last_signup_us",
          max(when(col("event_type") === "signup", col("us"))).over(w))
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"),
          col("us").as("purchase_us"), col("last_signup_us"))
    },
    Some("""
      WITH ev AS (
        SELECT event_id, user_id, event_type,
               epoch_us(CAST(ts AS TIMESTAMP)) AS us
        FROM events WHERE event_type IN ('signup', 'purchase')),
      sp AS (
        SELECT event_id, user_id, event_type, us,
               MAX(CASE WHEN event_type = 'signup' THEN us END)
                 OVER (PARTITION BY user_id ORDER BY us, event_id
                       ROWS UNBOUNDED PRECEDING) AS last_signup_us
        FROM ev)
      SELECT event_id, user_id, us AS purchase_us, last_signup_us
      FROM sp WHERE event_type = 'purchase'"""))

  /** Full outer: per-nation rich-customer counts vs supplier counts —
    * either side may miss a nation, both are kept with null-coalesced
    * counts. */
  val joinFull = Op(
    "join_full",
    (s, d) => {
      val rich = Tables(s, d, "customer")
        .filter(col("c_acctbal") > 9000.0)
        .groupBy(col("c_nationkey").as("nk"))
        .agg(count(lit(1)).as("n_rich"))
      val sup = Tables(s, d, "supplier")
        .groupBy(col("s_nationkey").as("nk2"))
        .agg(count(lit(1)).as("n_sup"))
      rich.join(sup, rich("nk") === sup("nk2"), "full_outer")
        .select(
          coalesce(col("nk"), col("nk2")).as("nationkey"),
          coalesce(col("n_rich"), lit(0L)).as("n_rich"),
          coalesce(col("n_sup"), lit(0L)).as("n_sup"))
    },
    Some("""
      WITH rich AS (
        SELECT c_nationkey AS nk, COUNT(*) AS n_rich
        FROM customer WHERE c_acctbal > 9000.0 GROUP BY 1),
      sup AS (
        SELECT s_nationkey AS nk2, COUNT(*) AS n_sup
        FROM supplier GROUP BY 1)
      SELECT COALESCE(nk, nk2) AS nationkey,
             COALESCE(n_rich, 0) AS n_rich,
             COALESCE(n_sup, 0) AS n_sup
      FROM rich FULL OUTER JOIN sup ON nk = nk2"""))

  /** Scalar-subquery pattern (orders above the global average price):
    * the 1-row aggregate broadcasts and the comparison stays in the
    * scan stage — the decorrelated form Catalyst produces for
    * `WHERE x > (SELECT AVG(...))`. */
  val joinScalarSub = Op(
    "above_avg",
    (s, d) => {
      val od = Tables(s, d, "orders")
      val avgPrice = od.agg(avg(col("o_totalprice")).as("avg_price"))
      od.crossJoin(broadcast(avgPrice))
        .filter(col("o_totalprice") > col("avg_price"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_above"),
          round(min(col("o_totalprice")), 2).as("min_above"))
    },
    Some("""
      SELECT o_orderpriority, COUNT(*) AS n_above,
             ROUND(MIN(o_totalprice), 2) AS min_above
      FROM orders
      WHERE o_totalprice > (SELECT AVG(o_totalprice) FROM orders)
      GROUP BY o_orderpriority"""))

  /** Bloom-prefiltered semi-join — the runtime-filter pattern as a
    * first-class op: build a 128 KiB Bloom filter over the small
    * side's keys (`bloom_agg`, partials OR-merge), broadcast it, and
    * drop fact rows with the codegen'd `bloom_contains` probe BEFORE
    * the exact semi-join. Answers are exact at any false-positive
    * rate because the exact join stays behind the filter; what the
    * bloom buys at 100 TB is shuffle volume — only probable matches
    * ever leave the fact scan. The oracle is the plain EXISTS (the
    * bloom is semantically invisible). */
  val bloomSemi = Op(
    "bloom_semi",
    (s, d) => {
      graft.ext.GraftFunctions.register(s)
      // the probe must be a scalar-subquery Filter, not a cross join:
      // a crossJoin(broadcast(bloom)) + filter becomes a join
      // condition that Catalyst is free to reorder ABOVE the exact
      // semi-join (observed), defeating the prefilter; the subquery
      // form is evaluated once and the probe stays a Filter on the
      // fact scan, below the join (PlanShapeSpec asserts this)
      Tables(s, d, "orders")
        .filter(col("o_totalprice") > 400000)
        .select(col("o_orderkey"))
        .createOrReplaceTempView("bloom_semi_dims")
      Tables(s, d, "lineitem").createOrReplaceTempView("bloom_semi_fact")
      s.sql("""
        SELECT l_returnflag, COUNT(*) AS n_items,
               ROUND(SUM(l_quantity), 2) AS sum_qty
        FROM bloom_semi_fact l
        WHERE bloom_contains(
                (SELECT bloom_agg(o_orderkey) FROM bloom_semi_dims),
                l.l_orderkey)
          AND EXISTS (SELECT 1 FROM bloom_semi_dims d
                      WHERE d.o_orderkey = l.l_orderkey)
        GROUP BY l_returnflag""")
    },
    Some("""
      SELECT l_returnflag, COUNT(*) AS n_items,
             ROUND(SUM(l_quantity), 2) AS sum_qty
      FROM lineitem
      WHERE EXISTS (SELECT 1 FROM orders
                    WHERE o_orderkey = l_orderkey
                      AND o_totalprice > 400000)
      GROUP BY l_returnflag"""))

  /** Range join with NO equi key — cross-user event pairs within a
    * 30 s time window — via bucketed expansion: the earlier side
    * explodes into its window-sized bucket and the next one, the join
    * runs as an EQUI join on the bucket key, and the exact |Δt| ≤ W
    * predicate filters residuals. That turns the O(n²) theta join
    * Spark would otherwise plan (BroadcastNestedLoop/cartesian) into
    * a hash shuffle on time buckets — the IEJoin-free plan that holds
    * at 100 TB (bucket key co-partitions; hot seconds split by AQE).
    * Orientation (earlier event, (us, event_id) lexicographic) makes
    * each unordered pair appear exactly once. Output is the
    * type-pair profile, not raw pairs, so the result stays
    * catalog-sized at any SF. */
  val rangeJoinTime = Op(
    "range_join_time",
    (s, d) => {
      val W = 30L * 1000000L // 30 s window = bucket width
      val e = Tables.events(s, d)
        .withColumn("us", unix_micros(col("ts")))
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("us"), (col("us") / W).cast("long").as("b"))
      val probes = e.select(col("event_id").as("id_a"),
          col("user_id").as("u_a"), col("event_type").as("type_a"),
          col("us").as("us_a"),
          explode(array(col("b"), col("b") + 1L)).as("pb"))
      probes.join(e.withColumnRenamed("b", "pb"), "pb")
        .filter(col("us") - col("us_a") <= W &&
          (col("us_a") < col("us") ||
            (col("us_a") === col("us") && col("id_a") < col("event_id"))) &&
          col("u_a") =!= col("user_id"))
        .groupBy(col("type_a"), col("event_type").as("type_b"))
        .agg(count(lit(1)).as("n_pairs"),
          round(avg(col("us") - col("us_a")), 2).as("avg_dt_us"))
    },
    Some("""
      WITH e AS (
        SELECT event_id, user_id, event_type,
               epoch_us(CAST(ts AS TIMESTAMP)) AS us
        FROM events)
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             COUNT(*) AS n_pairs,
             ROUND(AVG(b.us - a.us), 2) AS avg_dt_us
      FROM e a JOIN e b
        ON b.us - a.us BETWEEN 0 AND 30000000
       AND (a.us < b.us OR (a.us = b.us AND a.event_id < b.event_id))
       AND a.user_id <> b.user_id
      GROUP BY 1, 2"""))

  /** Nearest-as-of: each purchase matched to its CLOSEST signup in
    * either time direction (tie → the earlier one) — the bidirectional
    * upgrade of `join_asof`, still the one-shuffle union kernel: a
    * backward running max and a forward running min over the same
    * user_id exchange, then pure integer arithmetic picks the nearer
    * side. No per-row window partitions, no fanout join — O(n) state
    * at any scale. */
  val joinAsofNearest = Op(
    "join_asof_nearest",
    (s, d) => {
      val ev = Tables.events(s, d)
        .filter(col("event_type").isin("signup", "purchase"))
        .withColumn("us", unix_micros(col("ts")))
      val ord = Window.partitionBy(col("user_id"))
        .orderBy(col("us"), col("event_id"))
      val wB = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wF = ord.rowsBetween(Window.currentRow, Window.unboundedFollowing)
      ev
        .withColumn("prev_signup_us",
          max(when(col("event_type") === "signup", col("us"))).over(wB))
        .withColumn("next_signup_us",
          min(when(col("event_type") === "signup", col("us"))).over(wF))
        .filter(col("event_type") === "purchase")
        .withColumn("nearest_signup_us",
          when(col("next_signup_us").isNull, col("prev_signup_us"))
            .when(col("prev_signup_us").isNull, col("next_signup_us"))
            .when(col("us") - col("prev_signup_us") <=
              col("next_signup_us") - col("us"), col("prev_signup_us"))
            .otherwise(col("next_signup_us")))
        .select(col("event_id"), col("user_id"), col("us").as("purchase_us"),
          col("prev_signup_us"), col("next_signup_us"),
          col("nearest_signup_us"))
    },
    Some("""
      WITH ev AS (
        SELECT event_id, user_id, event_type,
               epoch_us(CAST(ts AS TIMESTAMP)) AS us
        FROM events WHERE event_type IN ('signup', 'purchase')),
      sp AS (
        SELECT event_id, user_id, event_type, us,
               MAX(CASE WHEN event_type = 'signup' THEN us END)
                 OVER (PARTITION BY user_id ORDER BY us, event_id
                       ROWS UNBOUNDED PRECEDING) AS prev_signup_us,
               MIN(CASE WHEN event_type = 'signup' THEN us END)
                 OVER (PARTITION BY user_id ORDER BY us, event_id
                       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                 AS next_signup_us
        FROM ev)
      SELECT event_id, user_id, us AS purchase_us,
             prev_signup_us, next_signup_us,
             CASE WHEN next_signup_us IS NULL THEN prev_signup_us
                  WHEN prev_signup_us IS NULL THEN next_signup_us
                  WHEN us - prev_signup_us <= next_signup_us - us
                    THEN prev_signup_us
                  ELSE next_signup_us END AS nearest_signup_us
      FROM sp WHERE event_type = 'purchase'"""))

  /** Market-basket affinity: top brand pairs co-occurring in the same
    * order. The self-join is keyed on o_orderkey, so candidate pairs
    * are bounded by basket size (≤ 12 lines/order here, ~k² per
    * basket), never all-pairs across baskets — the support-counting
    * shape of association mining. The brand lookup is a broadcast
    * (25-row dim); the pair rollup is |brands|²-bounded. */
  val basketPairs = Op(
    "basket_pairs",
    (s, d) =>
      Graft.basketPairs(Tables(s, d, "lineitem")
          .join(broadcast(Tables(s, d, "part")
            .select(col("p_partkey"), col("p_brand"))),
            col("l_partkey") === col("p_partkey")),
        "l_orderkey", "p_brand")
        .select(col("item1").as("b1"), col("item2").as("b2"),
          col("support")),
    Some("""
      WITH ob AS (
        SELECT DISTINCT l_orderkey AS ok, p_brand
        FROM lineitem JOIN part ON l_partkey = p_partkey)
      SELECT a.p_brand AS b1, b.p_brand AS b2, COUNT(*) AS support
      FROM ob a JOIN ob b ON a.ok = b.ok AND a.p_brand < b.p_brand
      GROUP BY 1, 2
      ORDER BY support DESC, b1, b2
      LIMIT 20"""))

  /** Skew-salted equi-join (the hot-key melt-down fix, as a declared
    * query): probe rows scatter over `salts` sub-keys of their join
    * key, the build side replicates `salts`× — a hot orderkey's rows
    * land on 8 reducers instead of one. Join output is identical to
    * the plain join (the oracle), so the salting is invisible to
    * answers; only the exchange shape changes. Complements
    * `agg_salted` (same idea for aggregation). */
  val joinSalted = Op(
    "join_salted",
    (s, d) => {
      val li = Tables(s, d, "lineitem")
      val od = Tables(s, d, "orders")
      graft.ops.Skew
        .saltedJoin(li, od, "l_orderkey", "o_orderkey",
          // salt must vary WITHIN a join key (a hash of the key itself
          // is constant per key and spreads nothing): linenumber
          // differs across a hot order's rows
          col("l_linenumber"), 8)
        .groupBy(col("o_orderpriority"))
        .agg(
          count(lit(1)).as("n_lines"),
          // exact integer cents: 12M-row cells at sf10 (see pricing_agg)
          round(sum(floor(col("l_extendedprice") * 100).cast("long"))
            / 100.0, 2).as("sum_price"))
    },
    Some("""
      SELECT o_orderpriority, COUNT(*) AS n_lines,
             ROUND(SUM(CAST(FLOOR(l_extendedprice * 100) AS BIGINT))
               / 100.0, 2) AS sum_price
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY o_orderpriority"""))

  /** MERGE INTO semantics (upsert) as a pure DataFrame transform:
    * target = customer; source = a deterministic hash-picked 10%
    * slice with updated balances plus synthesized new keys. Matched
    * rows take the source payload, unmatched-target rows pass
    * through, unmatched-source rows insert — one full-outer join on
    * the key, coalesce per column (the Delta/Iceberg MERGE plan
    * reduces to exactly this shuffle when no file pruning applies).
    * Output is an audit rollup so the declared result stays small. */
  val mergeUpsert = Op(
    "merge_upsert",
    (s, d) => {
      val target = Tables(s, d, "customer")
        .select(col("c_custkey").as("key"), col("c_acctbal").as("bal"))
      val maxKey = target.agg(max(col("key")).as("mk"))
      val source = target
        .filter(expr("(key % 100000) * 2654435761 % 10 = 0"))
        .crossJoin(broadcast(maxKey))
        .select(
          // the hash picks multiples of 10, so split on key % 20:
          // even multiples update in place, odd multiples insert
          // beyond the key space
          when(col("key") % 20 === 0, col("key"))
            .otherwise(col("key") + col("mk") + 1).as("key"),
          round(col("bal") + 100.0, 2).as("bal"))
      val merged = target.select(col("key"), col("bal").as("t_bal"))
        .join(source.select(col("key"), col("bal").as("s_bal")),
          Seq("key"), "full_outer")
        .select(col("key"),
          coalesce(col("s_bal"), col("t_bal")).as("bal"),
          when(col("s_bal").isNotNull && col("t_bal").isNotNull, "updated")
            .when(col("s_bal").isNotNull, "inserted")
            .otherwise("unchanged").as("action"))
      merged.groupBy(col("action"))
        .agg(count(lit(1)).as("n_rows"),
          round(sum(floor(col("bal") * 100)) / 100.0, 2).as("total_bal"))
    },
    Some("""
      WITH target AS (
        SELECT c_custkey AS key, c_acctbal AS bal FROM customer),
      mk AS (SELECT MAX(key) AS mk FROM target),
      source AS (
        SELECT CASE WHEN key % 20 = 0 THEN key ELSE key + mk + 1 END AS key,
               ROUND(bal + 100.0, 2) AS bal
        FROM target, mk
        WHERE (key % 100000) * 2654435761 % 10 = 0),
      merged AS (
        SELECT COALESCE(t.key, s.key) AS key,
               COALESCE(s.bal, t.bal) AS bal,
               CASE WHEN s.bal IS NOT NULL AND t.bal IS NOT NULL
                      THEN 'updated'
                    WHEN s.bal IS NOT NULL THEN 'inserted'
                    ELSE 'unchanged' END AS action
        FROM target t FULL OUTER JOIN source s ON t.key = s.key)
      SELECT action, COUNT(*) AS n_rows,
             ROUND(SUM(FLOOR(bal * 100)) / 100.0, 2) AS total_bal
      FROM merged GROUP BY action"""))

  /** Table-version diff (the reconciliation pass after a merge):
    * compare the base table against its upserted version and count
    * added / changed / unchanged rows per balance tier — one
    * full-outer join on the key with field comparison, the
    * "what did this pipeline run change" audit at any scale. */
  val tableDiff = Op(
    "table_diff",
    (s, d) => {
      val base = Tables(s, d, "customer")
        .select(col("c_custkey").as("key"), col("c_acctbal").as("bal"))
      val updated = base
        .withColumn("bal",
          when(expr("(key % 100000) * 2654435761 % 10 = 0"),
            round(col("bal") + 100.0, 2)).otherwise(col("bal")))
      base.select(col("key"), col("bal").as("old_bal"))
        .join(updated.select(col("key"), col("bal").as("new_bal")),
          Seq("key"), "full_outer")
        .select(
          when(col("old_bal").isNull, "added")
            .when(col("new_bal").isNull, "deleted")
            .when(floor(col("old_bal") * 100) =!=
              floor(col("new_bal") * 100), "changed")
            .otherwise("unchanged").as("status"))
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n_rows"))
    },
    Some("""
      WITH base AS (
        SELECT c_custkey AS key, c_acctbal AS bal FROM customer),
      updated AS (
        SELECT key,
               CASE WHEN (key % 100000) * 2654435761 % 10 = 0
                    THEN ROUND(bal + 100.0, 2) ELSE bal END AS bal
        FROM base)
      SELECT CASE WHEN b.bal IS NULL THEN 'added'
                  WHEN u.bal IS NULL THEN 'deleted'
                  WHEN FLOOR(b.bal * 100) <> FLOOR(u.bal * 100)
                    THEN 'changed'
                  ELSE 'unchanged' END AS status,
             COUNT(*) AS n_rows
      FROM base b FULL OUTER JOIN updated u ON b.key = u.key
      GROUP BY 1"""))

  /** Interval-overlap COUNT by rank decomposition — the scale-proof
    * form of the interval join. Per urgent order, how many shipments
    * were in transit at any point during its 4-day fulfilment window
    * (transit = [ship, ship + 1 + l_suppkey%14 days], a deterministic
    * derived interval; the fixture has no receipt date). The naive
    * formulation is an inequality join whose pair count grows
    * QUADRATICALLY in SF (actives-per-day ∝ N and windows-per-day
    * ∝ N over a fixed calendar) — fine as the oracle at gate scale,
    * fatal at 100 TB. The op instead uses the classic sweep
    * decomposition: #overlaps([a,b]) = S(b) − E(a−1), where S(d) =
    * #transits starting ≤ d and E(d) = #transits ending ≤ d — two
    * prefix sums over a CALENDAR-sized day grid. Plan: two map-side-
    * combined per-day count rollups (dictionary-sized), one window
    * cumsum over the ~2 500-row grid (single tiny partition — bounded
    * by the calendar, not the data), and one broadcast of the grid to
    * the orders scan. Nothing data-sized is ever joined to anything
    * data-sized; the whole op is O(N + days). The independent-method
    * oracle (DuckDB runs the actual inequality join, IEJoin) makes
    * the count equality a strong cross-check of the decomposition. */
  val intervalOverlaps = Op(
    "interval_overlaps",
    (s, d) => {
      val epoch = to_date(lit("1992-01-01"))
      val li = Tables(s, d, "lineitem")
        .select(datediff(to_date(col("l_shipdate")), epoch).as("sd"),
          (datediff(to_date(col("l_shipdate")), epoch) +
            lit(1) + (col("l_suppkey") % 14).cast("int")).as("ed"))
      val ords = Tables(s, d, "orders")
        .filter(col("o_orderpriority").startsWith("1"))
        .select(col("o_orderkey"),
          datediff(to_date(col("o_orderdate")), epoch).as("od"))
      val sCnt = li.groupBy(col("sd").as("day")).agg(count(lit(1)).as("sc"))
      val eCnt = li.groupBy(col("ed").as("day")).agg(count(lit(1)).as("ec"))
      val bounds = li.agg(min(col("sd")).as("lo0"), max(col("ed")).as("hi0"))
        .crossJoin(ords.agg(min(col("od") - 1).as("lo1"),
          max(col("od") + 3).as("hi1")))
        .select(least(col("lo0"), col("lo1")).as("lo"),
          greatest(col("hi0"), col("hi1")).as("hi"))
      // the calendar grid with both prefix sums; ~2,500 rows at any SF
      val w = Window.orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = bounds
        .select(explode(expr("sequence(lo, hi)")).as("day"))
        .join(sCnt, Seq("day"), "left")
        .join(eCnt, Seq("day"), "left")
        .select(col("day"),
          sum(coalesce(col("sc"), lit(0L))).over(w).as("s_cum"),
          sum(coalesce(col("ec"), lit(0L))).over(w).as("e_cum"))
      ords
        .join(broadcast(cum.select(col("day").as("qs"),
          col("s_cum"))), col("od") + 3 === col("qs"))
        .join(broadcast(cum.select(col("day").as("qe"),
          col("e_cum"))), col("od") - 1 === col("qe"))
        .select(col("o_orderkey"),
          (col("s_cum") - col("e_cum")).as("n_overlap"))
    },
    Some("""
      WITH t AS (
        SELECT CAST(l_shipdate AS DATE) AS s,
               CAST(l_shipdate AS DATE)
                 + CAST(1 + l_suppkey % 14 AS INTEGER) AS e
        FROM lineitem),
      o AS (
        SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d
        FROM orders WHERE o_orderpriority LIKE '1%')
      SELECT o.o_orderkey, CAST(COUNT(t.s) AS BIGINT) AS n_overlap
      FROM o LEFT JOIN t ON t.s <= o.d + 3 AND t.e >= o.d
      GROUP BY 1"""))

  override def ops: Seq[Op] =
    Seq(joinInner, joinBcastStar, joinLeft, joinSemi, joinAnti,
      joinTheta, joinAsof, joinFull, joinScalarSub, bloomSemi,
      rangeJoinTime, joinAsofNearest, basketPairs, joinSalted,
      mergeUpsert, tableDiff, intervalOverlaps)
}
