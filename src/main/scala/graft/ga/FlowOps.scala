package graft.ga

import graft.{Op, OpModule, Tables}
import graft.api.Graft
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Navigation-flow and entity-lifecycle operators over the `events`
  * hit stream (SURVEY.md §2.10/§2.11): the page-transition graph a
  * GA property exposes as "navigation summary", PageRank over it,
  * SCD2 state-history compaction, and interval-overlap concurrency —
  * the remaining event-shaped analyses a warehouse team runs beside
  * sessions/funnels/cohorts.
  *
  * Scale shapes:
  *  - `page_transitions`: one window shuffle on user_id (bounded
  *    per-user partitions, same exchange as sessionize) + a pair
  *    count whose output is |pages|² at most — catalog-sized.
  *  - `pagerank`: the rank vector grows with |nodes|, so each of the
  *    fixed iterations co-partitions it against the (pre-partitioned,
  *    checkpointed) edge list via a hinted shuffle-hash join — never
  *    a forced broadcast, which at web-scale node sets would OOM the
  *    executors. Identical join+combine rounds to
  *    `Graphs.connectedComponents`.
  *  - `scd2_track`: gaps-and-islands entirely inside ONE user_id
  *    exchange: both windows and the final groupBy reuse the same
  *    partitioning, so Catalyst plans a single shuffle.
  *  - `session_concurrency`: sweep line instead of the O(n²)
  *    interval self-join — ±1 deltas, pre-aggregated per distinct
  *    microsecond, running-summed per day with a day-total carry-in.
  *    The only ordered scan is within a day partition; the carry is
  *    a calendar-sized prefix sum. 100 TB of sessions reduce to
  *    |distinct boundary instants| rows before any ordered work.
  *
  * Event time and session identity come from [[GaSessions]]. The page
  * id (`page`, `campaign`) and its oracle CTEs (`TouchSql`,
  * `LaggedSql`) are defined here once, for this module and JourneyOps.
  */
object FlowOps extends OpModule {

  /** The page id: the `props.k` custom dimension (0..99 catalog). */
  private[ga] val page = get_json_object(col("props"), "$.k").cast("int")

  private def hits(s: SparkSession, d: String): DataFrame =
    GaSessions.ev(s, d).withColumn("page", page)

  /** The attribution ops' channel: the `props.k` dimension mod 5. */
  private[ga] val campaign = page % 5

  /** The attribution oracles' touch extraction, the SQL twin of
    * `campaign` and the click/view-touch, purchase-conversion
    * predicates: `ev` (events with `us` and `campaign`), `t` (the
    * touches) and `p` (the purchases, value in integer cents). Opens
    * the oracle's WITH; continue with `,` and the next CTE. */
  private[ga] val TouchSql = """WITH ev AS (
        SELECT event_id, user_id, event_type, value,
               epoch_us(CAST(ts AS TIMESTAMP)) AS us,
               CAST(json_extract_string(props, '$.k') AS INT) % 5
                 AS campaign
        FROM events),
      t AS (
        SELECT user_id AS t_user, campaign, us AS t_us,
               event_id AS t_id
        FROM ev WHERE event_type IN ('click', 'view')),
      p AS (
        SELECT user_id AS p_user, event_id AS p_id, us AS p_us,
               CAST(FLOOR(value * 100) AS BIGINT) AS cents
        FROM ev WHERE event_type = 'purchase')"""

  /** The navigation oracles' hit sequence: `seq` (pages with `us`)
    * and `lagged` (each page with its per-user previous page, in
    * (us, event_id) order). Opens the oracle's WITH. */
  private val LaggedSql = """WITH seq AS (
        SELECT user_id, event_id,
               CAST(json_extract_string(props, '$.k') AS INT) AS page,
               epoch_us(CAST(ts AS TIMESTAMP)) AS us
        FROM events),
      lagged AS (
        SELECT page, LAG(page) OVER (PARTITION BY user_id
                                     ORDER BY us, event_id) AS prev_page
        FROM seq)"""

  private val perUser = Window
    .partitionBy(col("user_id"))
    .orderBy(col("us"), col("event_id"))

  /** Navigation summary: previous-page → page transition counts
    * across all users (lag over the per-user hit order). The edge
    * list of the site's navigation graph, and `pagerank`'s input. */
  val pageTransitions = Op(
    "page_transitions",
    (s, d) =>
      hits(s, d)
        .withColumn("prev_page", lag(col("page"), 1).over(perUser))
        .filter(col("prev_page").isNotNull)
        .groupBy(col("prev_page"), col("page"))
        .agg(count(lit(1)).as("n_trans")),
    Some(s"""
      $LaggedSql
      SELECT prev_page, page, COUNT(*) AS n_trans
      FROM lagged WHERE prev_page IS NOT NULL
      GROUP BY 1, 2"""))

  /** PageRank over the navigation graph: fixed 3 iterations,
    * damping 0.85, uniform init over the pages observed in the
    * stream. Dangling mass is not redistributed (every fixture page
    * has out-edges; the loop's algebra is unchanged if a dangling
    * term is added). Ranks are rounded only at the output — the
    * per-iteration float drift is ~1e-15 relative, far inside the
    * 8-decimal cut. */
  val pagerank = Op(
    "pagerank",
    (s, d) => {
      val D = 0.85
      // ONE events pass feeds both the edge list and the node set:
      // the lagged sequence collapses to (prev_page, page) cells
      // catalog²-bounded BEFORE the checkpoint, and nodes reuse the
      // same materialization instead of a second scan + exchange
      val cells = hits(s, d)
        .withColumn("prev_page", lag(col("page"), 1).over(perUser))
        .groupBy(col("prev_page"), col("page"))
        .agg(count(lit(1)).as("n_trans"))
        .localCheckpoint()
      val edges = cells.filter(col("prev_page").isNotNull)
        .select(col("prev_page").as("src"), col("page").as("dst"),
          col("n_trans").cast("double").as("w"))
      val outW = edges.groupBy(col("src")).agg(sum(col("w")).as("ow"))
      // normalized transition weight: evaluated once, pre-partitioned
      // on src (the per-iteration join key), so each iteration
      // shuffles only the |nodes|-sized rank vector
      val norm = edges.join(outW.hint("shuffle_hash"), "src")
        .select(col("src"), col("dst"), (col("w") / col("ow")).as("p"))
        .repartition(col("src"))
        .localCheckpoint()
      // every page in the stream appears in a cell (first hits land
      // in the prev_page IS NULL row), so nodes = distinct dst pages
      val nodes = cells.select(col("page")).distinct()
        .localCheckpoint()
      val n = nodes.count()
      var ranks = nodes.withColumn("r", lit(1.0 / n))
      for (_ <- 1 to 3) {
        // shuffle_hash hint: the rank vector grows with |nodes|, so a
        // broadcast here is an OOM at web-scale node sets; hash
        // co-partitioning on src keeps every iteration all-parallel
        val contrib = norm
          .join(ranks.select(col("page").as("src"), col("r"))
            .hint("shuffle_hash"), "src")
          .groupBy(col("dst"))
          .agg(sum(col("p") * col("r")).as("c"))
          .withColumnRenamed("dst", "page")
        ranks = nodes.join(contrib.hint("shuffle_hash"), Seq("page"), "left")
          .select(col("page"),
            (lit((1.0 - D) / n) + lit(D) * coalesce(col("c"), lit(0.0)))
              .as("r"))
      }
      ranks.select(col("page"), round(col("r"), 8).as("rank"))
    },
    Some(s"""
      $LaggedSql,
      trans AS (
        SELECT prev_page AS src, page AS dst, COUNT(*) AS w
        FROM lagged WHERE prev_page IS NOT NULL GROUP BY 1, 2),
      norm AS (
        SELECT src, dst,
               CAST(w AS DOUBLE) / SUM(w) OVER (PARTITION BY src) AS p
        FROM trans),
      nodes AS (SELECT DISTINCT page FROM seq),
      nn AS (SELECT COUNT(*) AS n FROM nodes),
      r0 AS (SELECT page, 1.0 / (SELECT n FROM nn) AS r FROM nodes),
      c1 AS (SELECT e.dst AS page, SUM(e.p * r.r) AS c
             FROM norm e JOIN r0 r ON r.page = e.src GROUP BY 1),
      r1 AS (SELECT nodes.page,
                    0.15 / (SELECT n FROM nn)
                      + 0.85 * COALESCE(c1.c, 0) AS r
             FROM nodes LEFT JOIN c1 USING (page)),
      c2 AS (SELECT e.dst AS page, SUM(e.p * r.r) AS c
             FROM norm e JOIN r1 r ON r.page = e.src GROUP BY 1),
      r2 AS (SELECT nodes.page,
                    0.15 / (SELECT n FROM nn)
                      + 0.85 * COALESCE(c2.c, 0) AS r
             FROM nodes LEFT JOIN c2 USING (page)),
      c3 AS (SELECT e.dst AS page, SUM(e.p * r.r) AS c
             FROM norm e JOIN r2 r ON r.page = e.src GROUP BY 1),
      r3 AS (SELECT nodes.page,
                    0.15 / (SELECT n FROM nn)
                      + 0.85 * COALESCE(c3.c, 0) AS r
             FROM nodes LEFT JOIN c3 USING (page))
      SELECT page, ROUND(r, 8) AS rank FROM r3"""))

  /** SCD2 state history: compress each user's event_type stream into
    * change runs (gaps-and-islands), emit validity intervals
    * [valid_from_us, valid_to_us) with valid_to NULL on the open
    * current run — the slowly-changing-dimension type-2 build a
    * warehouse runs over any CDC attribute log. */
  val scd2Track = Op(
    "scd2_track",
    (s, d) =>
      Graft.scd2(hits(s, d), "user_id", "event_type", "us", "event_id")
        .select(col("user_id"), col("run_id"), col("state"),
          col("valid_from").as("valid_from_us"),
          col("valid_to").as("valid_to_us"), col("n_rows").as("n_events"),
          col("valid_to").isNull.as("is_current")),
    Some("""
      WITH seq AS (
        SELECT user_id, event_id, event_type,
               epoch_us(CAST(ts AS TIMESTAMP)) AS us
        FROM events),
      flagged AS (
        SELECT *, CASE WHEN LAG(event_type) OVER w IS NULL
                         OR LAG(event_type) OVER w <> event_type
                       THEN 1 ELSE 0 END AS chg
        FROM seq
        WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
      runs AS (
        SELECT *, SUM(chg) OVER (PARTITION BY user_id
                                 ORDER BY us, event_id
                                 ROWS UNBOUNDED PRECEDING) AS run_id
        FROM flagged),
      compact AS (
        SELECT user_id, CAST(run_id AS BIGINT) AS run_id,
               MIN(event_type) AS state,
               MIN(us) AS valid_from_us, COUNT(*) AS n_events
        FROM runs GROUP BY user_id, run_id)
      SELECT user_id, run_id, state, valid_from_us,
             LEAD(valid_from_us) OVER (PARTITION BY user_id
                                       ORDER BY run_id) AS valid_to_us,
             n_events,
             LEAD(valid_from_us) OVER (PARTITION BY user_id
                                       ORDER BY run_id) IS NULL
               AS is_current
      FROM compact"""))

  /** Peak concurrent sessions per day, by sweep line: sessions
    * (the `sessionize` definition) become ±1 deltas at [start,
    * end+1µs), deltas pre-aggregate per distinct boundary
    * microsecond, and the running concurrency is a per-day ordered
    * sum plus a carry-in prefix over calendar-sized day totals. The
    * naive formulation is an interval self-join — quadratic in
    * overlap; this is the O(n log n) plan that survives 100 TB. */
  val sessionConcurrency = Op(
    "session_concurrency",
    (s, d) => Graft.peakConcurrency(GaOps.sessionize.run(s, d),
      "start_us", "end_us"),
    Some(s"""
      WITH ev AS (
        SELECT user_id, event_id,
               epoch_us(CAST(ts AS TIMESTAMP)) AS us
        FROM events),
      ${GaSessions.SessSql},
      bounds AS (
        SELECT user_id, sid, MIN(us) AS start_us, MAX(us) AS end_us
        FROM sess GROUP BY 1, 2),
      deltas AS (
        SELECT start_us AS bus, 1 AS dl FROM bounds
        UNION ALL
        SELECT end_us + 1 AS bus, -1 AS dl FROM bounds),
      byus AS (
        SELECT bus, SUM(dl) AS d FROM deltas GROUP BY 1),
      run AS (
        SELECT bus, CAST(SUM(d) OVER (ORDER BY bus) AS BIGINT) AS conc
        FROM byus)
      SELECT CAST(make_timestamp(bus) AS DATE) AS day,
             MAX(conc) AS peak_concurrency
      FROM run GROUP BY 1"""))

  /** Period-over-period comparison (GA's date-range compare): split
    * the observed span at its midpoint, per-event_type metrics for
    * both halves side by side with a pct delta. One scan + one
    * catalog-sized agg; the span boundaries come from a scalar
    * min/max agg broadcast into the row predicate. */
  val periodCompare = Op(
    "period_compare",
    (s, d) => {
      val ev = Tables.events(s, d).withColumn("day", to_date(col("ts")))
      val span = ev.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
        .withColumn("mid", expr("date_add(d0, CAST(datediff(d1, d0) / 2 AS INT))"))
        .select(col("mid"))
      ev.crossJoin(broadcast(span))
        .groupBy(col("event_type"))
        .agg(
          sum(when(col("day") < col("mid"), 1L).otherwise(0L)).as("n_p1"),
          sum(when(col("day") >= col("mid"), 1L).otherwise(0L)).as("n_p2"),
          round(sum(when(col("day") < col("mid"), col("value"))
            .otherwise(lit(0.0))), 2).as("value_p1"),
          round(sum(when(col("day") >= col("mid"), col("value"))
            .otherwise(lit(0.0))), 2).as("value_p2"))
        .withColumn("pct_change",
          round((col("n_p2") - col("n_p1")).cast("double") /
            col("n_p1") * 100.0, 2))
    },
    Some("""
      WITH ev AS (
        SELECT event_type, value,
               CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
        FROM events),
      span AS (
        SELECT MIN(day) + CAST(FLOOR(date_diff('day', MIN(day), MAX(day))
                 / 2) AS INT) AS mid
        FROM ev)
      SELECT event_type,
             CAST(SUM(CASE WHEN day < mid THEN 1 ELSE 0 END) AS BIGINT)
               AS n_p1,
             CAST(SUM(CASE WHEN day >= mid THEN 1 ELSE 0 END) AS BIGINT)
               AS n_p2,
             ROUND(SUM(CASE WHEN day < mid THEN value ELSE 0 END), 2)
               AS value_p1,
             ROUND(SUM(CASE WHEN day >= mid THEN value ELSE 0 END), 2)
               AS value_p2,
             ROUND(CAST(SUM(CASE WHEN day >= mid THEN 1 ELSE 0 END)
                        - SUM(CASE WHEN day < mid THEN 1 ELSE 0 END)
                   AS DOUBLE)
                   / SUM(CASE WHEN day < mid THEN 1 ELSE 0 END) * 100.0, 2)
               AS pct_change
      FROM ev, span
      GROUP BY event_type"""))

  /** Trailing-window anomaly detection: per (event_type, day) count
    * vs the mean/stddev of the preceding 7 days (rows frame — both
    * engines see identical short frames at the series head), flag
    * |z| > 2. The window partitions on event_type over the
    * calendar-sized daily pre-aggregate — the ordered work is
    * days × types, never raw events, at any SF. */
  val anomalyZscore = Op(
    "anomaly_zscore",
    (s, d) => {
      val daily = Tables.events(s, d)
        .withColumn("day", to_date(col("ts")))
        .groupBy(col("event_type"), col("day"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
        .rowsBetween(-7, -1)
      daily
        .withColumn("mu", avg(col("n")).over(w))
        .withColumn("sd", stddev_samp(col("n")).over(w))
        .withColumn("z",
          when(col("sd").isNotNull && col("sd") =!= 0.0,
            round((col("n") - col("mu")) / col("sd"), 4)))
        .withColumn("is_anomaly",
          coalesce(abs(col("z")) > 2.0, lit(false)))
        .select(col("event_type"), col("day"), col("n"), col("z"),
          col("is_anomaly"))
    },
    Some("""
      WITH daily AS (
        SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
               COUNT(*) AS n
        FROM events GROUP BY 1, 2),
      stats AS (
        SELECT event_type, day, n,
               AVG(n) OVER w AS mu,
               STDDEV_SAMP(n) OVER w AS sd
        FROM daily
        WINDOW w AS (PARTITION BY event_type ORDER BY day
                     ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
      SELECT event_type, day, n,
             CASE WHEN sd IS NOT NULL AND sd <> 0
                  THEN ROUND((n - mu) / sd, 4) END AS z,
             COALESCE(ABS(CASE WHEN sd IS NOT NULL AND sd <> 0
                               THEN ROUND((n - mu) / sd, 4) END) > 2.0,
                      FALSE) AS is_anomaly
      FROM stats"""))

  /** Triangle count over the undirected navigation graph, by degree
    * orientation: every edge points from its (degree, id)-smaller
    * endpoint, wedges enumerate ordered out-neighbor pairs, and one
    * more equi-join closes them. Orientation bounds each node's
    * out-degree by O(√|E|), so the wedge join never explodes on hubs
    * — the standard skew-proof distributed triangle plan (vs the
    * naive a<b<c 3-way join the oracle runs, which is fine for DuckDB
    * at gate scale but hub-quadratic distributed). */
  val graphTriangles = Op(
    "graph_triangles",
    (s, d) => {
      val trans = pageTransitions.run(s, d)
      // canonical undirected edge set, self-loops dropped
      val und = trans.filter(col("prev_page") =!= col("page"))
        .select(
          least(col("prev_page"), col("page")).as("a"),
          greatest(col("prev_page"), col("page")).as("b"))
        .distinct()
      val deg = und.select(col("a").as("n")).unionAll(
        und.select(col("b").as("n")))
        .groupBy(col("n")).agg(count(lit(1)).as("deg"))
      // orientation key: (degree, id) packed into one long
      val keyed = und
        .join(deg.select(col("n").as("a"), col("deg").as("da")), "a")
        .join(deg.select(col("n").as("b"), col("deg").as("db")), "b")
        .select(
          (col("da") * 1000L + col("a")).as("ka"),
          (col("db") * 1000L + col("b")).as("kb"))
      val oriented = keyed.select(
        least(col("ka"), col("kb")).as("src"),
        greatest(col("ka"), col("kb")).as("dst"))
      val e1 = oriented.select(col("src"), col("dst").as("v"))
      val e2 = oriented.select(col("src"), col("dst").as("w"))
      val wedges = e1.join(e2, "src").filter(col("v") < col("w"))
      wedges.join(
          oriented.select(col("src").as("v"), col("dst").as("w")),
          Seq("v", "w"))
        .agg(count(lit(1)).as("n_triangles"))
    },
    Some("""
      WITH und AS (
        SELECT DISTINCT LEAST(prev_page, page) AS a,
               GREATEST(prev_page, page) AS b
        FROM (
          SELECT page,
                 LAG(page) OVER (PARTITION BY user_id
                                 ORDER BY us, event_id) AS prev_page
          FROM (SELECT user_id, event_id,
                       CAST(json_extract_string(props, '$.k') AS INT)
                         AS page,
                       epoch_us(CAST(ts AS TIMESTAMP)) AS us
                FROM events))
        WHERE prev_page IS NOT NULL AND prev_page <> page)
      SELECT COUNT(*) AS n_triangles
      FROM und e1
      JOIN und e2 ON e2.a = e1.b
      JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b"""))

  /** Longest consecutive-active-day streak per user (the GA-style
    * "engagement streak" metric): classic gaps-and-islands — distinct
    * active days, island id = day_no − row_number (constant within a
    * consecutive run), then a two-level rollup. One shuffle on
    * user_id; per-user state is bounded by the calendar. */
  val userStreaks = Op(
    "user_streaks",
    (s, d) => Graft.userStreaks(Tables.events(s, d), "user_id", "ts"),
    Some("""
      WITH days AS (
        SELECT DISTINCT user_id,
               CAST(date_diff('day', DATE '2024-01-01',
                 CAST(ts AS DATE)) AS INT) AS dno
        FROM events),
      isl AS (
        SELECT user_id, dno,
               dno - ROW_NUMBER() OVER (PARTITION BY user_id
                 ORDER BY dno) AS isl
        FROM days),
      streaks AS (
        SELECT user_id, isl, COUNT(*) AS len
        FROM isl GROUP BY user_id, isl)
      SELECT user_id, MAX(len) AS max_streak,
             COUNT(*) AS n_streaks,
             CAST(SUM(len) AS BIGINT) AS n_active_days
      FROM streaks GROUP BY user_id"""))

  /** Event-type Markov chain: P(next=B | current=A) over the per-user
    * hit order — `page_transitions`' page-graph analog at the
    * event-type level, with the conditional probability attached.
    * Counts are integers, so the probability divides identical exact
    * operands; the normalizing sum is a window over the |types|²
    * rollup (catalog-sized at any data scale). */
  val markovTransitions = Op(
    "markov_transitions",
    (s, d) =>
      Graft.markovTransitions(GaSessions.ev(s, d),
        "user_id", "event_type", Seq(col("us"), col("event_id")))
        .select(col("prev_state").as("prev_type"),
          col("state").as("event_type"), col("n"), col("p")),
    Some("""
      WITH seq AS (
        SELECT user_id, event_type,
               LAG(event_type, 1) OVER (PARTITION BY user_id
                 ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev_type
        FROM events),
      pairs AS (
        SELECT prev_type, event_type, COUNT(*) AS n
        FROM seq WHERE prev_type IS NOT NULL
        GROUP BY prev_type, event_type)
      SELECT prev_type, event_type, n,
             ROUND(n * 1.0 / SUM(n) OVER (PARTITION BY prev_type), 6) AS p
      FROM pairs"""))

  /** First-touch attribution: per user, the first event type in the
    * total hit order, and whether the user later converted
    * (purchased) — rolled up to conversion rate per acquisition type.
    * One user_id shuffle (window rank = 1 + conditional flags), then
    * a 5-row rollup; the GA acquisition-report shape. */
  val firstTouch = Op(
    "first_touch",
    (s, d) => {
      val w = Window
        .partitionBy(col("user_id"))
        .orderBy(col("us"), col("event_id"))
      val perUserFirst = GaSessions.ev(s, d)
        .withColumn("rn", row_number().over(w))
        .withColumn("converted",
          max(when(col("event_type") === "purchase", 1).otherwise(0))
            .over(Window.partitionBy(col("user_id"))))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_type").as("first_type"),
          col("converted"))
      perUserFirst
        .groupBy(col("first_type"))
        .agg(
          count(lit(1)).as("n_users"),
          sum(col("converted")).cast("long").as("n_converted"),
          round(sum(col("converted")) * lit(1.0) / count(lit(1)), 6)
            .as("conv_rate"))
    },
    Some("""
      WITH ranked AS (
        SELECT user_id, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id
                 ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn,
               MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                 OVER (PARTITION BY user_id) AS converted
        FROM events)
      SELECT event_type AS first_type, COUNT(*) AS n_users,
             CAST(SUM(converted) AS BIGINT) AS n_converted,
             ROUND(SUM(converted) * 1.0 / COUNT(*), 6) AS conv_rate
      FROM ranked WHERE rn = 1
      GROUP BY event_type"""))

  /** Conversion time-lag (the GA "time lag" report): per user, first
    * signup → first subsequent purchase delay; output count + exact
    * lag quartiles + mean. Quartiles interpolate over integer
    * microseconds with dyadic fractions (0/.25/.5/.75), so every
    * intermediate is FP-exact on both engines — the same reason
    * `quantile_exact` uses integer cents. One user_id window+agg
    * exchange, then a scalar rollup. */
  val conversionLag = Op(
    "conversion_lag",
    (s, d) => {
      val wU = Window.partitionBy(col("user_id"))
      val lags = GaSessions.ev(s, d)
        .withColumn("signup_us",
          min(when(col("event_type") === "signup", col("us"))).over(wU))
        .filter(col("event_type") === "purchase" &&
          col("signup_us").isNotNull && col("us") >= col("signup_us"))
        .groupBy(col("user_id"))
        .agg(min(col("us")).as("p_us"), min(col("signup_us")).as("s_us"))
        .withColumn("lag_us", col("p_us") - col("s_us"))
      // NO round: quartiles over integer µs are dyadic-exact and the
      // mean divides exact operands — both engines produce the same
      // IEEE double, while ROUND could land on a half-way value the
      // engines round apart (SURVEY §2 round-half trap)
      def q(p: Double) = percentile(col("lag_us"), lit(p)) / 1e6
      lags.agg(
        count(lit(1)).as("n_users"),
        q(0.25).as("q1_s"), q(0.5).as("med_s"), q(0.75).as("q3_s"),
        // decimal sum: µs lags × millions of users would wrap int64
        // where DuckDB's HUGEINT sum stays exact
        (sum(col("lag_us").cast("decimal(38,0)")) /
          (count(lit(1)) * lit(1e6))).as("avg_s"))
    },
    Some("""
      WITH ev AS (
        SELECT user_id, event_type,
               epoch_us(CAST(ts AS TIMESTAMP)) AS us,
               MIN(CASE WHEN event_type = 'signup' THEN
                 epoch_us(CAST(ts AS TIMESTAMP)) END)
                 OVER (PARTITION BY user_id) AS signup_us
        FROM events),
      lags AS (
        SELECT user_id,
               MIN(us) - MIN(signup_us) AS lag_us
        FROM ev
        WHERE event_type = 'purchase' AND signup_us IS NOT NULL
          AND us >= signup_us
        GROUP BY user_id)
      SELECT COUNT(*) AS n_users,
             quantile_cont(lag_us, 0.25) / 1e6 AS q1_s,
             quantile_cont(lag_us, 0.5)  / 1e6 AS med_s,
             quantile_cont(lag_us, 0.75) / 1e6 AS q3_s,
             SUM(lag_us) / (COUNT(*) * 1e6) AS avg_s
      FROM lags"""))

  /** Least-squares revenue trend per order priority: slope of daily
    * cents against day number, by the closed form
    * (nΣxy − ΣxΣy)/(nΣx² − (Σx)²). Every sum is exact (Σxy as
    * decimal(38,0) vs DuckDB's HUGEINT — int64 wraps near sf10) and
    * the final arithmetic runs on identical exact operands in the
    * identical association order, so the slope matches bit-for-bit.
    * One map-side-combined aggregation — no window, no sort. */
  val trendSlope = Op(
    "trend_slope",
    (s, d) => {
      val base = Tables(s, d, "orders")
        .withColumn("x",
          datediff(col("o_orderdate"), lit("1995-01-01")).cast("long"))
        .withColumn("y", floor(col("o_totalprice") * 100).cast("long"))
      base.groupBy(col("o_orderpriority"))
        .agg(
          count(lit(1)).as("n"),
          sum((col("x") * col("y")).cast("decimal(38,0)")).as("_sxy"),
          sum(col("x")).as("_sx"), sum(col("y")).as("_sy"),
          sum(col("x") * col("x")).as("_sxx"))
        .withColumn("_den",
          col("n") * lit(1.0) * col("_sxx") -
            col("_sx") * lit(1.0) * col("_sx"))
        // all orders on one day → zero variance → NULL slope; guarded
        // on BOTH sides (this when(), NULLIF in the oracle) so parity
        // never depends on DuckDB's div-by-zero default, which changed
        // across releases (ieee_floating_point_ops returns inf)
        .withColumn("slope_cents_per_day",
          when(col("_den") =!= 0.0,
            round((col("n") * lit(1.0) * col("_sxy") -
              col("_sx") * lit(1.0) * col("_sy")) / col("_den"), 6)))
        .select(col("o_orderpriority"), col("n"),
          col("slope_cents_per_day"))
    },
    Some("""
      WITH base AS (
        SELECT o_orderpriority,
               CAST(date_diff('day', DATE '1995-01-01',
                 CAST(o_orderdate AS DATE)) AS BIGINT) AS x,
               CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS y
        FROM orders)
      SELECT o_orderpriority, COUNT(*) AS n,
             ROUND((COUNT(*) * 1.0 * SUM(x * y) -
                    SUM(x) * 1.0 * SUM(y)) /
                   NULLIF(COUNT(*) * 1.0 * SUM(x * x) -
                    SUM(x) * 1.0 * SUM(x), 0), 6) AS slope_cents_per_day
      FROM base GROUP BY o_orderpriority"""))

  /** Day-of-week seasonality profile per event type: event count,
    * exact mean value (integer-cent sums), and the share of the
    * type's traffic falling on each weekday. The weekday index is
    * pure integer arithmetic (days-since-epoch mod 7) — calendar
    * functions differ across engines (Spark dayofweek is 1=Sunday,
    * DuckDB 0=Sunday), integers don't. */
  val seasonalityDow = Op(
    "seasonality_dow",
    (s, d) => {
      val ev = Tables.events(s, d)
        .withColumn("dow",
          pmod(datediff(to_date(col("ts")), lit("1970-01-01")), lit(7))
            .cast("int"))
        .withColumn("vc", floor(col("value") * 100).cast("long"))
      val w = Window.partitionBy(col("event_type"))
      ev.groupBy(col("event_type"), col("dow"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("vc")).as("_sum_vc"))
        .withColumn("share",
          round(col("n_events") * lit(1.0) /
            sum(col("n_events")).over(w), 6))
        .select(col("event_type"), col("dow"), col("n_events"),
          // NO round on the mean: exact-integer sum / count divides
          // identically on both engines; rounding risks a half-way
          // value at the 4th decimal
          (col("_sum_vc") / (col("n_events") * lit(100.0)))
            .as("avg_value"),
          col("share"))
    },
    Some("""
      WITH ev AS (
        SELECT event_type,
               CAST(date_diff('day', DATE '1970-01-01',
                 CAST(CAST(ts AS TIMESTAMP) AS DATE)) % 7 AS INT) AS dow,
               CAST(FLOOR(value * 100) AS BIGINT) AS vc
        FROM events),
      g AS (
        SELECT event_type, dow, COUNT(*) AS n_events,
               CAST(SUM(vc) AS BIGINT) AS sum_vc
        FROM ev GROUP BY event_type, dow)
      SELECT event_type, dow, n_events,
             sum_vc / (n_events * 100.0) AS avg_value,
             ROUND(n_events * 1.0 / SUM(n_events)
               OVER (PARTITION BY event_type), 6) AS share
      FROM g"""))

  /** Three-step ordered funnel (view → signup → purchase, each step
    * strictly after the previous): per-step user counts and
    * conversion rates. Step times chain as conditional mins over the
    * SAME per-user rollup re-joined twice — each join is user-keyed
    * (co-partitioned with the rollup), and integer counts divide
    * exactly for the rates. The GA goal-funnel report shape. */
  val funnelSteps = Op(
    "funnel_steps",
    (s, d) =>
      Graft.funnel(Tables.events(s, d), "user_id", "ts", Seq(
        col("event_type") === "view",
        col("event_type") === "signup",
        col("event_type") === "purchase")),
    Some("""
      WITH ev AS (
        SELECT user_id, event_type,
               epoch_us(CAST(ts AS TIMESTAMP)) AS us
        FROM events),
      t1 AS (
        SELECT user_id, MIN(us) AS t1 FROM ev
        WHERE event_type = 'view' GROUP BY user_id),
      t2 AS (
        SELECT ev.user_id, MIN(us) AS t2
        FROM ev JOIN t1 ON ev.user_id = t1.user_id
        WHERE event_type = 'signup' AND us > t1
        GROUP BY ev.user_id),
      t3 AS (
        SELECT ev.user_id, MIN(us) AS t3
        FROM ev JOIN t2 ON ev.user_id = t2.user_id
        WHERE event_type = 'purchase' AND us > t2
        GROUP BY ev.user_id)
      SELECT (SELECT COUNT(*) FROM t1) AS step1_users,
             (SELECT COUNT(*) FROM t2) AS step2_users,
             (SELECT COUNT(*) FROM t3) AS step3_users,
             ROUND((SELECT COUNT(*) FROM t2) * 1.0 /
                   (SELECT COUNT(*) FROM t1), 6) AS rate_12,
             ROUND((SELECT COUNT(*) FROM t3) * 1.0 /
                   (SELECT COUNT(*) FROM t2), 6) AS rate_23,
             ROUND((SELECT COUNT(*) FROM t3) * 1.0 /
                   (SELECT COUNT(*) FROM t1), 6) AS rate_13"""))

  /** Rolling 7-day distinct active users per day (the WAU curve):
    * each distinct (user, active-day) row explodes into the ≤7 report
    * days it covers, then one exact distinct count per report day —
    * no per-day set intersection, no quadratic window. The explode
    * factor is the window length (constant); the distinct count
    * shuffles (day, user) keys once. Report days are restricted to
    * the observed span. */
  val rollingWau = Op(
    "rolling_wau",
    (s, d) => {
      val days = Tables.events(s, d)
        .select(col("user_id"),
          datediff(to_date(col("ts")), lit("2024-01-01")).as("dno"))
        .distinct()
      val span = days.agg(min(col("dno")).as("d0"), max(col("dno")).as("d1"))
      val counts = days
        .crossJoin(broadcast(span))
        .select(col("user_id"),
          explode(sequence(col("dno"),
            least(col("dno") + 6, col("d1")))).as("report_day"))
        .groupBy(col("report_day"))
        .agg(countDistinct(col("user_id")).as("n"))
      // dense calendar: a report day inside the span with no active
      // user in its trailing window is a 0 row, not a missing row
      span.select(explode(sequence(col("d0"), col("d1"))).as("report_day"))
        .join(counts, Seq("report_day"), "left")
        .select(col("report_day"),
          coalesce(col("n"), lit(0L)).as("wau"))
    },
    Some("""
      WITH days AS (
        SELECT DISTINCT user_id,
               CAST(date_diff('day', DATE '2024-01-01',
                 CAST(ts AS DATE)) AS INT) AS dno
        FROM events),
      span AS (SELECT MIN(dno) AS d0, MAX(dno) AS d1 FROM days),
      cover AS (
        SELECT user_id, CAST(rd AS INT) AS report_day
        FROM days, span,
             UNNEST(generate_series(dno, LEAST(dno + 6, d1))) AS u(rd)),
      counts AS (
        SELECT report_day, COUNT(DISTINCT user_id) AS n
        FROM cover GROUP BY report_day),
      cal AS (
        SELECT CAST(rd AS INT) AS report_day
        FROM span, UNNEST(generate_series(d0, d1)) AS u(rd))
      SELECT report_day, COALESCE(n, 0) AS wau
      FROM cal LEFT JOIN counts USING (report_day)"""))

  /** Linear (equal-split) multi-touch attribution — the GA model
    * between `first_touch` and last-touch: every click/view touch
    * that precedes a purchase by the same user shares that purchase's
    * revenue equally; purchases with no prior touch credit a 'direct'
    * bucket (-1). The split is EXACT integer arithmetic: each touch
    * gets cents div n, and the first (cents mod n) touches in hit
    * order get one extra cent — revenue conserves to the cent and no
    * engine ever divides a double (the production-grade way to split
    * money; SURVEY §2 determinism rule 3).
    *
    * Scale: one user_id equi-join (pair count bounded by per-user
    * activity — a real deployment adds a lookback window, same
    * shape), one purchase-keyed window, then a campaign-sized rollup.
    * Nothing global, nothing all-pairs. */
  val attributionLinear = Op(
    "attribution_linear",
    (s, d) =>
      Graft.attribution(Tables.events(s, d), "user_id", "event_id", "ts",
        campaign, col("event_type").isin("click", "view"),
        col("event_type") === "purchase", col("value"), "linear")
        .withColumnRenamed("channel", "campaign"),
    Some(s"""
      $TouchSql,
      paired AS (
        SELECT p.p_id, p.cents, t.campaign, t.t_us, t.t_id
        FROM p LEFT JOIN t
          ON p.p_user = t.t_user AND t.t_us < p.p_us),
      credited AS (
        SELECT COALESCE(campaign, -1) AS campaign,
               cents // COUNT(*) OVER (PARTITION BY p_id)
                 + CASE WHEN ROW_NUMBER() OVER (PARTITION BY p_id
                          ORDER BY t_us ASC NULLS FIRST,
                                   t_id ASC NULLS FIRST)
                        <= cents % COUNT(*) OVER (PARTITION BY p_id)
                   THEN 1 ELSE 0 END AS credit
        FROM paired)
      SELECT campaign, COUNT(*) AS n_credits,
             ROUND(SUM(credit) / 100.0, 2) AS revenue
      FROM credited GROUP BY campaign"""))

  /** DAU/MAU stickiness (the GA engagement ratio): per calendar day,
    * distinct active users that day vs distinct active users over the
    * trailing 30 days, ratio in exact integer basis points. The MAU
    * side uses the same window-cover explode as `rolling_wau` (each
    * (user, active-day) row covers the ≤30 report days it counts
    * toward) — at 100 TB the fan-out is the calendar-bounded 30× of
    * the (user, day) ROLLUP, never of raw events, and the exactness
    * alternative to a sliding HLL. Dense calendar: inactive days in
    * the span report 0/0 with NULL stickiness.
    */
  val dauMau = Op(
    "dau_mau",
    (s, d) => Graft.dauMau(Tables.events(s, d), "user_id", "ts"),
    Some("""
      WITH days AS (
        SELECT DISTINCT user_id,
               CAST(date_diff('day', DATE '2024-01-01',
                 CAST(ts AS DATE)) AS INT) AS dno
        FROM events),
      span AS (SELECT MIN(dno) AS d0, MAX(dno) AS d1 FROM days),
      cover AS (
        SELECT user_id, CAST(rd AS INT) AS report_day
        FROM days, span,
             UNNEST(generate_series(dno, LEAST(dno + 29, d1))) AS u(rd)),
      mau AS (
        SELECT report_day, COUNT(DISTINCT user_id) AS mau
        FROM cover GROUP BY report_day),
      dau AS (
        SELECT dno AS report_day, COUNT(DISTINCT user_id) AS dau
        FROM days GROUP BY dno),
      cal AS (
        SELECT CAST(rd AS INT) AS report_day
        FROM span, UNNEST(generate_series(d0, d1)) AS u(rd))
      SELECT report_day,
             COALESCE(dau, 0) AS dau,
             COALESCE(mau, 0) AS mau,
             CASE WHEN COALESCE(mau, 0) = 0 THEN NULL
                  ELSE COALESCE(dau, 0) * 10000 // mau END
               AS stickiness_bp
      FROM cal LEFT JOIN dau USING (report_day)
               LEFT JOIN mau USING (report_day)"""))

  /** EWMA smoothing of the per-type daily event series (the GA
    * "smoothed trend" line): half-life-1-day exponential weights over
    * the trailing 14 calendar days, α = 0.5, so weight(lag j) = 2^(13−j)
    * — EXACT integer numerator/denominator (the `trend_slope`
    * discipline: one double division at the end, then round 4dp;
    * summation order can never drift the answer). Calendar gaps
    * renormalize automatically because the weight sum only covers
    * days that exist.
    *
    * Scale shape: the daily rollup is calendar-bounded (days ×
    * event types — metadata-sized at any corpus size), so the
    * trailing-window pair join joins two tiny rollups on
    * event_type; the only data-sized work is the first map-side-
    * combined day rollup, the same exchange `anomaly_zscore` does. */
  val ewmaSmooth = Op(
    "ewma_smooth",
    (s, d) => Graft.ewmaSmooth(Tables.events(s, d), "event_type", "ts"),
    Some("""
      WITH daily AS (
        SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
               COUNT(*) AS n
        FROM events GROUP BY 1, 2),
      pairs AS (
        SELECT a.event_type, a.day, a.n, b.n AS n2,
               date_diff('day', b.day, a.day) AS dd
        FROM daily a JOIN daily b ON a.event_type = b.event_type
        WHERE date_diff('day', b.day, a.day) BETWEEN 0 AND 13)
      SELECT event_type, day, n,
             ROUND(CAST(SUM(CAST(POWER(2.0, 13 - dd) AS BIGINT) * n2)
                     AS DOUBLE) /
                   SUM(CAST(POWER(2.0, 13 - dd) AS BIGINT)), 4) AS ewma,
             COUNT(*) AS n_days_in_window
      FROM pairs GROUP BY 1, 2, 3"""))

  override def ops: Seq[Op] =
    Seq(pageTransitions, pagerank, scd2Track, sessionConcurrency,
      periodCompare, anomalyZscore, graphTriangles, userStreaks,
      markovTransitions, firstTouch, conversionLag, trendSlope,
      seasonalityDow, funnelSteps, rollingWau, attributionLinear,
      ewmaSmooth, dauMau)
}
