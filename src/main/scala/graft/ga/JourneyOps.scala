package graft.ga

import graft.{Op, OpModule, Tables}
import graft.api.Graft
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** User-journey operators over the `events` hit stream (SURVEY.md
  * §2.10, round-6 batch 2): time-decay multi-touch attribution, the
  * top navigation paths report, and the inter-event latency
  * histogram — the journey-shaped analyses that sit between
  * `attribution_linear`/`first_touch` (credit), `page_transitions`
  * (single-step flow) and `conversion_lag` (one latency pair).
  *
  * Scale shapes (all three are GaOps-class plans):
  *  - `attribution_time_decay`: one user_id equi-join + one
  *    purchase-keyed window + a campaign-sized rollup — identical
  *    exchange structure to `attribution_linear`; the decay weights
  *    add zero shuffles.
  *  - `session_paths`: the sessionize exchange (one user_id shuffle,
  *    bounded per-user partitions), trigram production by lead()
  *    inside the same partitioning, then a map-side-combined
  *    path-key rollup and a global top-20 TakeOrderedAndProject —
  *    never a data-sized single-partition sort.
  *  - `inter_event_hist`: one (user_id-clustered) window shuffle,
  *    then a rollup whose cardinality is |event_type| × ~40 log2
  *    buckets — output-bounded at any SF.
  *
  * Determinism (SURVEY §2 rules): money splits in exact integer
  * cents via the telescoping floor-division scheme; decay weights
  * are integer powers of two (shiftleft — POWER() is double and
  * never used); gap buckets come from integer bin-string length,
  * not floating log2.
  *
  * Event time, session identity and their oracle CTEs come from
  * [[GaSessions]]; the attribution touch extraction (`campaign`,
  * `TouchSql`) and the page id from [[FlowOps]].
  */
object JourneyOps extends OpModule {
  import GaSessions.{ev, withSid, SessSql}

  /** Time-decay multi-touch attribution — the GA model that weights
    * recent touches over old ones: every click/view touch before a
    * purchase by the same user gets weight 2^(30 − min(age_days, 30))
    * (half-life of one day, floor at 30 days), and the purchase's
    * revenue is split ∝ weight with EXACT integer arithmetic: touch
    * i's credit is ⌊cents·cumw_i/W⌋ − ⌊cents·cumw_{i−1}/W⌋ (cumw =
    * cumulative weight in hit order, W = total weight), which
    * telescopes to exactly `cents` — revenue conserves to the cent
    * and no engine divides a double. No-touch purchases ride the
    * same formula (left join leaves one row: w=1, cumw=W=1 → full
    * credit) into a 'direct' bucket (-1).
    *
    * Weights are integer powers of two (max 2^30), so cents·cumw
    * stays < 2^63 for per-user touch counts into the tens of
    * thousands; beyond that a 100 TB deployment promotes the product
    * to decimal(38,0) — same plan, wider lanes. */
  val attributionTimeDecay = Op(
    "attribution_time_decay",
    (s, d) =>
      Graft.attribution(Tables.events(s, d), "user_id", "event_id", "ts",
        FlowOps.campaign, col("event_type").isin("click", "view"),
        col("event_type") === "purchase", col("value"), "time_decay", 30)
        .withColumnRenamed("channel", "campaign"),
    Some(s"""
      ${FlowOps.TouchSql},
      paired AS (
        SELECT p.p_id, p.cents, t.campaign, t.t_us, t.t_id,
               COALESCE(CAST(1 AS BIGINT) <<
                 CAST(30 - LEAST((p.p_us - t.t_us) // 86400000000, 30)
                   AS INT), 1) AS w
        FROM p LEFT JOIN t
          ON p.p_user = t.t_user AND t.t_us < p.p_us),
      weighted AS (
        SELECT p_id, cents, campaign, w,
               SUM(w) OVER (PARTITION BY p_id
                            ORDER BY t_us ASC NULLS FIRST,
                                     t_id ASC NULLS FIRST
                            ROWS UNBOUNDED PRECEDING) AS cumw,
               SUM(w) OVER (PARTITION BY p_id) AS totw
        FROM paired),
      credited AS (
        SELECT COALESCE(campaign, -1) AS campaign,
               (cents * cumw) // totw
                 - (cents * (cumw - w)) // totw AS credit
        FROM weighted)
      SELECT campaign, COUNT(*) AS n_credits,
             ROUND(CAST(SUM(credit) AS BIGINT) / 100.0, 2) AS revenue
      FROM credited GROUP BY campaign"""))

  /** Top navigation paths (GA behavior-flow report): the 20 most
    * common 3-page in-session sequences. Sessionize (30-min gap),
    * order hits within the session, slide a length-3 window via
    * lead(), count path keys, take the global top 20 under the
    * deterministic total order (count desc, then path asc).
    *
    * Pages stay integers end-to-end — no string concat whose
    * formatting could diverge between engines. */
  val sessionPaths = Op(
    "session_paths",
    (s, d) => {
      val hits = withSid(ev(s, d).withColumn("page", FlowOps.page), "sid")
      val perSess = Window
        .partitionBy(col("user_id"), col("sid"))
        .orderBy(col("us"), col("event_id"))
      hits
        .withColumn("p1", col("page"))
        .withColumn("p2", lead(col("page"), 1).over(perSess))
        .withColumn("p3", lead(col("page"), 2).over(perSess))
        .filter(col("p2").isNotNull && col("p3").isNotNull)
        .groupBy(col("p1"), col("p2"), col("p3"))
        .agg(count(lit(1)).as("n_paths"))
        .orderBy(col("n_paths").desc, col("p1"), col("p2"), col("p3"))
        .limit(20)
    },
    Some(s"""
      WITH ev AS (
        SELECT user_id, event_id,
               epoch_us(CAST(ts AS TIMESTAMP)) AS us,
               CAST(json_extract_string(props, '$$.k') AS INT) AS page
        FROM events),
      $SessSql,
      grams AS (
        SELECT page AS p1,
               LEAD(page, 1) OVER w2 AS p2,
               LEAD(page, 2) OVER w2 AS p3
        FROM sess
        WINDOW w2 AS (PARTITION BY user_id, sid
                      ORDER BY us, event_id))
      SELECT p1, p2, p3, COUNT(*) AS n_paths
      FROM grams WHERE p2 IS NOT NULL AND p3 IS NOT NULL
      GROUP BY p1, p2, p3
      ORDER BY n_paths DESC, p1, p2, p3 LIMIT 20"""))

  /** Inter-event latency histogram: per event type, the distribution
    * of gaps between a user's consecutive events of that type, in
    * power-of-two second buckets (bucket = ⌊log2(gap_s + 1)⌋). The
    * log2 is EXACT integer arithmetic — length of the binary string
    * of (gap_s + 1) minus one; both engines' `bin()` agree digit for
    * digit, where floating LOG2 at exact powers of two does not
    * (SURVEY §2 determinism rules). */
  val interEventHist = Op(
    "inter_event_hist",
    (s, d) => {
      val perUserType = Window
        .partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("us"), col("event_id"))
      ev(s, d)
        .withColumn("gap_us", col("us") - lag(col("us"), 1).over(perUserType))
        .filter(col("gap_us").isNotNull)
        .withColumn("gap_s", expr("gap_us div 1000000"))
        .withColumn("bucket", length(bin(col("gap_s") + 1)) - 1)
        .groupBy(col("event_type"), col("bucket"))
        .agg(count(lit(1)).as("n_gaps"),
          min(col("gap_s")).as("min_gap_s"),
          max(col("gap_s")).as("max_gap_s"),
          sum(col("gap_s")).as("total_gap_s"))
    },
    Some("""
      WITH ev AS (
        SELECT user_id, event_id, event_type,
               epoch_us(CAST(ts AS TIMESTAMP)) AS us
        FROM events),
      gaps AS (
        SELECT event_type,
               (us - LAG(us) OVER (PARTITION BY user_id, event_type
                                   ORDER BY us, event_id)) // 1000000
                 AS gap_s
        FROM ev)
      SELECT event_type,
             CAST(LENGTH(BIN(gap_s + 1)) AS INT) - 1 AS bucket,
             COUNT(*) AS n_gaps,
             MIN(gap_s) AS min_gap_s,
             MAX(gap_s) AS max_gap_s,
             CAST(SUM(gap_s) AS BIGINT) AS total_gap_s
      FROM gaps WHERE gap_s IS NOT NULL
      GROUP BY event_type, bucket"""))

  /** Position-based (U-shaped) multi-touch attribution — the GA4
    * model that rewards discovery and closing: the FIRST and LAST
    * touch before a purchase each take 40% of its revenue, the
    * middle touches split the remaining 20%. All splits are exact
    * integer cents (SURVEY §2 determinism rule 3):
    *   n = 1 → all cents; n = 2 → half each, odd cent to the first;
    *   n ≥ 3 → ends get (cents·2) div 5 each, the middle pool is
    *   the exact remainder, distributed div/mod across the n−2
    *   middles in hit order. Revenue conserves to the cent by
    *   construction — no engine ever multiplies a double by 0.4.
    * Purchases with no prior touch credit the 'direct' bucket (-1),
    * riding the n = 1 arm of the same formula.
    *
    * Scale: identical exchange structure to `attribution_linear` —
    * one user_id equi-join, one purchase-keyed window, a
    * campaign-sized rollup. The position arithmetic adds zero
    * shuffles. */
  val attributionPosition = Op(
    "attribution_position",
    (s, d) =>
      Graft.attribution(Tables.events(s, d), "user_id", "event_id", "ts",
        FlowOps.campaign, col("event_type").isin("click", "view"),
        col("event_type") === "purchase", col("value"), "position")
        .withColumnRenamed("channel", "campaign"),
    Some(s"""
      ${FlowOps.TouchSql},
      paired AS (
        SELECT p.p_id, p.cents, t.campaign, t.t_us, t.t_id
        FROM p LEFT JOIN t
          ON p.p_user = t.t_user AND t.t_us < p.p_us),
      pos AS (
        SELECT COALESCE(campaign, -1) AS campaign, cents,
               COUNT(*) OVER (PARTITION BY p_id) AS n,
               ROW_NUMBER() OVER (PARTITION BY p_id
                 ORDER BY t_us ASC NULLS FIRST, t_id ASC NULLS FIRST)
                 AS rn
        FROM paired),
      credited AS (
        SELECT campaign,
               CASE
                 WHEN n = 1 THEN cents
                 WHEN n = 2 THEN
                   CASE WHEN rn = 1 THEN cents - cents // 2
                        ELSE cents // 2 END
                 WHEN rn = 1 OR rn = n THEN (cents * 2) // 5
                 ELSE (cents - 2 * ((cents * 2) // 5)) // (n - 2)
                      + CASE WHEN rn - 1 <=
                          (cents - 2 * ((cents * 2) // 5)) % (n - 2)
                        THEN 1 ELSE 0 END
               END AS credit
        FROM pos)
      SELECT campaign, COUNT(*) AS n_credits,
             ROUND(SUM(credit) / 100.0, 2) AS revenue
      FROM credited GROUP BY campaign"""))

  /** Cart abandonment per session-start day — the GA e-commerce
    * funnel-health metric: among gap-sessions that contain a `click`
    * (the add-to-cart proxy), the share that end without a
    * `purchase`. Reported in integer basis points (no double
    * division — exact at any SF, same policy as `bounce_rate`).
    *
    * Scale: the one sessionize exchange (user_id shuffle, bounded
    * per-user partitions), a per-session bool rollup that collapses
    * the stream to one row per session BEFORE the day rollup, then a
    * day-sized result. Nothing global. */
  val cartAbandonment = Op(
    "cart_abandonment",
    (s, d) => {
      val sessions = withSid(ev(s, d), "sid")
        .groupBy(col("user_id"), col("sid"))
        .agg(min(col("us")).as("start_us"),
          max(when(col("event_type") === "click", 1L).otherwise(0L))
            .as("has_cart"),
          max(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("has_purchase"))
      sessions
        .filter(col("has_cart") === 1L)
        .groupBy(to_date(timestamp_micros(col("start_us"))).as("day"))
        .agg(count(lit(1)).as("n_cart_sessions"),
          sum(when(col("has_purchase") === 0L, 1L).otherwise(0L))
            .as("n_abandoned"))
        .withColumn("abandon_bp",
          expr("n_abandoned * 10000 div n_cart_sessions"))
    },
    Some(s"""
      WITH ev AS (
        SELECT user_id, event_id, event_type,
               epoch_us(CAST(ts AS TIMESTAMP)) AS us
        FROM events),
      $SessSql,
      sessions AS (
        SELECT user_id, sid, MIN(us) AS start_us,
               MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                 AS has_cart,
               MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                 AS has_purchase
        FROM sess GROUP BY user_id, sid)
      SELECT CAST(make_timestamp(start_us) AS DATE) AS day,
             COUNT(*) AS n_cart_sessions,
             CAST(SUM(CASE WHEN has_purchase = 0 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_abandoned,
             CAST(SUM(CASE WHEN has_purchase = 0 THEN 1 ELSE 0 END)
               * 10000 // COUNT(*) AS BIGINT) AS abandon_bp
      FROM sessions WHERE has_cart = 1 GROUP BY 1"""))

  /** Markov removal-effect attribution — the data-driven GA model
    * (vs the heuristic linear/time-decay/position splits): build the
    * user-journey channel transition graph (START → touches → CONV
    * if the user ever purchases, else NULL), then value each channel
    * by how much the START→CONV absorption probability drops when
    * that channel is removed (its transitions become dead ends) —
    * removal_effect = (p_base − p_removed) / p_base.
    *
    * Absorption probabilities come from K=8 unrolled fixed-point
    * iterations p(s) ← P(s→CONV) + Σ_ch P(s→ch)·p(ch) (the
    * `pagerank` unrolled-CTE oracle pattern), all 6 scenarios
    * (base + 5 removals) carried as one keyed table so the rounds
    * are joins, not per-scenario reruns. Probabilities are rounded
    * to 6dp each round so both engines iterate identically; journeys
    * are 1-2 hops deep in the fixture so K=8 is converged.
    *
    * Scale: the DATA-sized work is the transition extraction — one
    * user_id window shuffle, then a channel²-sized count rollup
    * (map-side combined). Everything after operates on the
    * channel-sized graph: 6·|states| rows through 8 small joins —
    * driver-coordinated but executor-executed, nothing ∝ events. */
  val markovRemoval = Op(
    "markov_removal",
    (s, d) =>
      Graft.markovRemoval(Tables.events(s, d), "user_id", "event_id", "ts",
        FlowOps.campaign, col("event_type").isin("click", "view"),
        col("event_type") === "purchase", 5)
        .withColumnRenamed("channel", "campaign"),
    Some {
      val iters = (1 to 8).map { k =>
        s"""
      p$k AS (
        SELECT r.rm, pr.from_s AS st,
               CASE WHEN pr.from_s = r.rm THEN 0 ELSE
                 ROUND(SUM(CASE WHEN pr.to_s = 101 THEN pr.p
                                WHEN pr.to_s BETWEEN 0 AND 4
                                  THEN pr.p * COALESCE(q.p, 0)
                                ELSE 0 END), 6) END AS p
        FROM probs pr
        CROSS JOIN (VALUES (-1), (0), (1), (2), (3), (4)) r(rm)
        LEFT JOIN p${k - 1} q ON q.rm = r.rm AND q.st = pr.to_s
        GROUP BY r.rm, pr.from_s)"""
      }.mkString(",")
      s"""
      WITH ev AS (
        SELECT event_id, user_id, event_type,
               epoch_us(CAST(ts AS TIMESTAMP)) AS us,
               CAST(json_extract_string(props, '$$.k') AS INT) % 5
                 AS campaign
        FROM events),
      hits AS (
        SELECT user_id, campaign, us, event_id
        FROM ev WHERE event_type IN ('click', 'view')),
      seq AS (
        SELECT user_id, campaign,
               ROW_NUMBER() OVER w AS rn,
               LEAD(campaign, 1) OVER w AS nx
        FROM hits
        WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
      conv AS (
        SELECT DISTINCT user_id FROM ev WHERE event_type = 'purchase'),
      trans AS (
        SELECT 100 AS from_s, campaign AS to_s FROM seq WHERE rn = 1
        UNION ALL
        SELECT campaign, nx FROM seq WHERE nx IS NOT NULL
        UNION ALL
        SELECT s.campaign,
               CASE WHEN c.user_id IS NOT NULL THEN 101 ELSE 102 END
        FROM seq s LEFT JOIN conv c USING (user_id)
        WHERE s.nx IS NULL),
      tc AS (
        SELECT from_s, to_s, COUNT(*) AS n FROM trans GROUP BY 1, 2),
      probs AS (
        SELECT from_s, to_s,
               ROUND(n * 1.0 / SUM(n) OVER (PARTITION BY from_s), 6)
                 AS p
        FROM tc),
      p0 AS (
        SELECT r.rm, st.st, CAST(0 AS DOUBLE) AS p
        FROM (VALUES (-1), (0), (1), (2), (3), (4)) r(rm),
             (SELECT DISTINCT from_s AS st FROM probs) st),$iters,
      base AS (SELECT p AS base_cvr FROM p8 WHERE rm = -1 AND st = 100)
      SELECT scen.rm AS campaign, base.base_cvr,
             scen.p AS removed_cvr,
             ROUND((base.base_cvr - scen.p) / NULLIF(base.base_cvr, 0), 4)
               AS removal_effect
      FROM p8 scen, base
      WHERE scen.rm >= 0 AND scen.st = 100"""
    })

  /** Cohort LTV curve (the revenue twin of `cohort_retention`):
    * users cohorted by first-activity epoch-week, purchase revenue
    * accumulated per (cohort, weeks-since-cohort) cell, reported as
    * exact cumulative cents and integer cents-per-user — the curve a
    * growth team reads LTV payback off. Week indexing is pure
    * integer arithmetic on the epoch-day grid (d div 7), so both
    * engines bucket identically with no timezone/week-start
    * ambiguity.
    *
    * Scale: one user_id shuffle for the first-activity rollup, a
    * broadcast-sized join back to purchases, a cohort×week rollup
    * (calendar²-bounded output), and the running sum windows over
    * that bounded rollup — never over events. */
  val cohortLtv = Op(
    "cohort_ltv",
    (s, d) => {
      val e = ev(s, d).withColumn("day", expr("us div 86400000000"))
      val firstW = e.groupBy(col("user_id"))
        .agg(expr("min(day) div 7").as("cohort_week"))
      val cohortSize = firstW.groupBy(col("cohort_week"))
        .agg(count(lit(1)).as("n_users"))
      val purch = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), expr("day div 7").as("w"),
          floor(col("value") * 100).cast("long").as("cents"))
      val cells = purch.join(firstW, "user_id")
        .withColumn("week_idx", (col("w") - col("cohort_week")).cast("int"))
        .groupBy(col("cohort_week"), col("week_idx"))
        .agg(sum(col("cents")).as("rev_cents"))
      val wCum = Window.partitionBy(col("cohort_week"))
        .orderBy(col("week_idx"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      cells
        .withColumn("cum_cents", sum(col("rev_cents")).over(wCum))
        .join(broadcast(cohortSize), "cohort_week")
        .select(col("cohort_week"), col("week_idx"), col("rev_cents"),
          col("cum_cents"), col("n_users"),
          expr("cum_cents div n_users").as("cum_cents_per_user"))
    },
    Some("""
      WITH ev AS (
        SELECT user_id, event_type, value,
               epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day
        FROM events),
      fw AS (
        SELECT user_id, MIN(day) // 7 AS cohort_week
        FROM ev GROUP BY user_id),
      cs AS (
        SELECT cohort_week, COUNT(*) AS n_users
        FROM fw GROUP BY cohort_week),
      cells AS (
        SELECT f.cohort_week,
               CAST(e.day // 7 - f.cohort_week AS INT) AS week_idx,
               CAST(SUM(CAST(FLOOR(e.value * 100) AS BIGINT)) AS BIGINT)
                 AS rev_cents
        FROM ev e JOIN fw f USING (user_id)
        WHERE e.event_type = 'purchase'
        GROUP BY 1, 2),
      cum AS (
        SELECT cohort_week, week_idx, rev_cents,
               CAST(SUM(rev_cents) OVER (PARTITION BY cohort_week
                 ORDER BY week_idx ROWS UNBOUNDED PRECEDING) AS BIGINT)
                 AS cum_cents
        FROM cells)
      SELECT cohort_week, week_idx, rev_cents, cum_cents, n_users,
             cum_cents // n_users AS cum_cents_per_user
      FROM cum JOIN cs USING (cohort_week)"""))

  /** A/B experiment readout with a deterministic assignment — the
    * product-analytics op downstream of every GA integration: variant
    * = Knuth-multiplicative hash of user_id (pure function — the same
    * stability contract as `split_hash`: re-runs and appends never
    * reassign), per-variant user/conversion/revenue rollups in exact
    * integers, conversion lift in basis points, and the two-proportion
    * z-score computed from the integer counts in one fixed formula
    * order (rounded 4dp) so both engines agree. This is the
    * `Graft.abLift` facade at fixed predicates, so it shares the
    * facade's empty-input rule: no users in an arm gives zero counts,
    * NULL rates and lift, and z = 0.
    *
    * Scale: one user_id-keyed rollup (map-side combined), then a
    * 2-row conditional aggregation — nothing after the first shuffle
    * is data-sized. */
  val abLift = Op(
    "ab_lift",
    (s, d) =>
      // conversion = a HIGH-VALUE purchase (> $150): in a fixture
      // where nearly every user purchases something, raw any-purchase
      // saturates both arms at 100% and the z-score degenerates; the
      // thresholded event keeps the readout a real two-proportion
      // comparison
      Graft.abLift(Tables.events(s, d), "user_id", "value",
        col("event_type") === "purchase" && col("value") > 150,
        col("event_type") === "purchase"),
    Some("""
      WITH u AS (
        SELECT user_id,
               ((user_id % 100000) * 2654435761 % 2 + 2) % 2 AS variant,
               MAX(CASE WHEN event_type = 'purchase' AND value > 150
                   THEN 1 ELSE 0 END) AS converted,
               SUM(CASE WHEN event_type = 'purchase'
                   THEN CAST(FLOOR(value * 100) AS BIGINT) ELSE 0 END)
                 AS cents
        FROM events GROUP BY 1, 2),
      agg AS (
        SELECT
          CAST(COALESCE(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END), 0)
            AS BIGINT) AS n_a,
          CAST(COALESCE(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END), 0)
            AS BIGINT) AS n_b,
          CAST(COALESCE(SUM(CASE WHEN variant = 0 THEN converted
            ELSE 0 END), 0) AS BIGINT) AS conv_a,
          CAST(COALESCE(SUM(CASE WHEN variant = 1 THEN converted
            ELSE 0 END), 0) AS BIGINT) AS conv_b,
          CAST(COALESCE(SUM(CASE WHEN variant = 0 THEN cents
            ELSE 0 END), 0) AS BIGINT) AS cents_a,
          CAST(COALESCE(SUM(CASE WHEN variant = 1 THEN cents
            ELSE 0 END), 0) AS BIGINT) AS cents_b
        FROM u)
      SELECT n_a, n_b, conv_a, conv_b, cents_a, cents_b,
             CASE WHEN n_a = 0 THEN NULL
                  ELSE conv_a * 10000 // n_a END AS conv_a_bp,
             CASE WHEN n_b = 0 THEN NULL
                  ELSE conv_b * 10000 // n_b END AS conv_b_bp,
             CASE WHEN n_a = 0 OR n_b = 0 THEN NULL
                  WHEN conv_a * 10000 // n_a = 0 THEN NULL
                  ELSE (conv_b * 10000 // n_b - conv_a * 10000 // n_a)
                    * 10000 // (conv_a * 10000 // n_a) END AS lift_bp,
             ROUND(CASE WHEN n_a = 0 OR n_b = 0 OR conv_a + conv_b = 0
                     OR conv_a + conv_b = n_a + n_b THEN 0.0 ELSE
               (CAST(conv_b AS DOUBLE) / n_b
                - CAST(conv_a AS DOUBLE) / n_a) /
               SQRT(CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b) *
                    (1.0 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b)) *
                    (CAST(1 AS DOUBLE) / n_a + CAST(1 AS DOUBLE) / n_b))
               END, 4) AS z_score
      FROM agg"""))

  override def ops: Seq[Op] =
    Seq(attributionTimeDecay, sessionPaths, interEventHist,
      attributionPosition, cartAbandonment, markovRemoval, cohortLtv,
      abLift)
}
