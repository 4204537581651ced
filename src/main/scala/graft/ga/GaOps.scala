package graft.ga

import graft.{Op, OpModule, Tables}
import graft.api.Graft
import org.apache.spark.sql.functions._

/** GA-semantic composite operators (SURVEY.md §2.10): the reference's
  * distinctive query surface — sessions, funnels, cohorts, and the
  * full report pipeline — over the `events` hit-stream table.
  *
  * Scale shape: every op here is one shuffle on `user_id` (window
  * sort or groupBy) followed by small aggregates. Per-user partitions
  * are bounded (~tens of events per user), so the in-partition window
  * sort never explodes; at 100 TB the same plan holds with
  * user_id-hash exchange + AQE skew splitting.
  *
  * Event time (`ev`: integral epoch microseconds, never raw ns
  * timestamps, per SURVEY §2 rule 4) and session identity (the
  * 30-min gap kernel and its oracle CTEs) come from [[GaSessions]].
  */
object GaOps extends OpModule {
  import GaSessions.{ev, withSid, SessSql}

  /** Gap-based sessionization (GA's 30-min session definition):
    * lag → new-session flag → running sum = session id → per-session
    * aggregates. */
  val sessionize = Op(
    "sessionize",
    (s, d) =>
      withSid(ev(s, d), "sid")
        .groupBy(col("user_id"), col("sid"))
        .agg(
          count(lit(1)).as("n_events"),
          min(col("us")).as("start_us"),
          max(col("us")).as("end_us"),
          round(sum(col("value")), 2).as("session_value")),
    Some(s"""
      WITH ev AS (
        SELECT user_id, event_id, value,
               epoch_us(CAST(ts AS TIMESTAMP)) AS us
        FROM events),
      $SessSql
      SELECT user_id, CAST(sid AS BIGINT) AS sid, COUNT(*) AS n_events,
             MIN(us) AS start_us, MAX(us) AS end_us,
             ROUND(SUM(value), 2) AS session_value
      FROM sess GROUP BY user_id, sid"""))

  /** Native Spark session_window (the Structured-Streaming-ready
    * session operator) cross-checked against the classic gap SQL.
    * session_window closes a session at last event + gap, so the next
    * event opens a new one when it is >= last + gap: the oracle keeps
    * its own `>=` chain on purpose instead of the shared
    * [[GaSessions.SessSql]] (`>`, GA's rule). */
  val sessionWindow = Op(
    "session_window",
    (s, d) =>
      ev(s, d)
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(
          count(lit(1)).as("n_events"),
          min(col("us")).as("start_us"),
          max(col("us")).as("end_us"))
        .select(col("user_id"), col("n_events"), col("start_us"),
          col("end_us")),
    Some(s"""
      WITH ev AS (
        SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us
        FROM events),
      flagged AS (
        SELECT *, CASE WHEN LAG(us) OVER w IS NULL
                         OR us - LAG(us) OVER w >= ${GaSessions.GapUs}
                       THEN 1 ELSE 0 END AS new_s
        FROM ev
        WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
      sess AS (
        SELECT *, SUM(new_s) OVER (PARTITION BY user_id
                                   ORDER BY us, event_id
                                   ROWS UNBOUNDED PRECEDING) AS sid
        FROM flagged)
      SELECT user_id, COUNT(*) AS n_events,
             MIN(us) AS start_us, MAX(us) AS end_us
      FROM sess GROUP BY user_id, sid"""))

  /** Sequence segment (GA `sequence::` with `;->>`): users who signed
    * up and purchased strictly after; first qualifying purchase. */
  val funnelSeq = Op(
    "funnel_seq",
    (s, d) => {
      val e = ev(s, d).filter(col("event_type").isin("signup", "purchase"))
      val signups = e.filter(col("event_type") === "signup")
        .groupBy(col("user_id"))
        .agg(min(col("us")).as("signup_us"))
      e.filter(col("event_type") === "purchase")
        .join(signups, "user_id")
        .filter(col("us") > col("signup_us"))
        .groupBy(col("user_id"), col("signup_us"))
        .agg(
          min(col("us")).as("first_purchase_us"),
          count(lit(1)).as("n_purchases_after"))
    },
    Some("""
      WITH ev AS (
        SELECT user_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS us
        FROM events WHERE event_type IN ('signup', 'purchase')),
      signups AS (
        SELECT user_id, MIN(us) AS signup_us
        FROM ev WHERE event_type = 'signup' GROUP BY user_id)
      SELECT user_id, signup_us,
             MIN(us) AS first_purchase_us,
             COUNT(*) AS n_purchases_after
      FROM ev JOIN signups USING (user_id)
      WHERE event_type = 'purchase' AND us > signup_us
      GROUP BY user_id, signup_us"""))

  /** Weekly cohort retention (GA cohort reports): cohort = first-event
    * week, counts of distinct active users per week offset. Weeks are
    * integral epoch-week numbers (`us div week_us`) so both engines
    * share the exact same bucketing with no week-start convention. */
  val cohortRetention = Op(
    "cohort_retention",
    (s, d) =>
      Graft.cohortRetention(Tables.events(s, d), "user_id", "ts")
        .select(col("cohort_week").as("cohort_w"),
          col("week_offset").as("w_off"), col("n_users")),
    Some("""
      WITH ev AS (
        SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
      first AS (
        SELECT user_id, MIN(us) AS first_us FROM ev GROUP BY user_id)
      SELECT first_us // 604800000000 AS cohort_w,
             us // 604800000000 - first_us // 604800000000 AS w_off,
             COUNT(DISTINCT user_id) AS n_users
      FROM ev JOIN first USING (user_id)
      GROUP BY 1, 2"""))

  /** Batch analog of the streaming tumbling window: hourly counts per
    * event type. Spark `window()` aligns 1-hour windows to the epoch,
    * identical to date_trunc('hour'). */
  val windowTumbling = Op(
    "window_tumbling",
    (s, d) =>
      Tables.events(s, d)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(
          count(lit(1)).as("n_events"),
          round(sum(col("value")), 2).as("total_value"))
        .select(
          unix_micros(col("window.start")).as("hour_start_us"),
          col("event_type"), col("n_events"), col("total_value")),
    Some("""
      SELECT epoch_us(date_trunc('hour', CAST(ts AS TIMESTAMP)))
               AS hour_start_us,
             event_type, COUNT(*) AS n_events,
             ROUND(SUM(value), 2) AS total_value
      FROM events
      GROUP BY 1, 2"""))

  /** Batch analog of the sliding window (1 hour every 30 minutes):
    * every event lands in exactly two windows; the oracle reproduces
    * Spark's epoch-aligned window starts with integer µs arithmetic
    * (start ∈ {floor30(ts) − 30min, floor30(ts)}). */
  val windowSliding = Op(
    "window_sliding",
    (s, d) =>
      ev(s, d)
        .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
        .agg(
          count(lit(1)).as("n_events"),
          round(sum(col("value")), 2).as("total_value"))
        .select(
          unix_micros(col("window.start")).as("win_start_us"),
          col("event_type"), col("n_events"), col("total_value")),
    Some("""
      WITH ev AS (
        SELECT event_type, value,
               epoch_us(CAST(ts AS TIMESTAMP)) AS us
        FROM events),
      exp AS (
        SELECT event_type, value,
               unnest([us - (us % 1800000000) - 1800000000,
                       us - (us % 1800000000)]) AS win_start_us
        FROM ev)
      SELECT win_start_us, event_type, COUNT(*) AS n_events,
             ROUND(SUM(value), 2) AS total_value
      FROM exp GROUP BY 1, 2"""))

  /** Full GA report pipeline (date-range + user-scope segment + dims +
    * metrics + sort + max-results), compiled through the GaQuery DSL:
    * events in [2024-01-05, 2024-01-20), segment = users with ≥1
    * purchase, dims = (event_type, day), metrics = events / users /
    * value, sort by events desc, top 50. */
  val gaReport = Op(
    "ga_report",
    (s, d) =>
      GaQuery()
        .dateRange("2024-01-05", "2024-01-20")
        .segmentUsersWith(col("event_type") === "purchase")
        .dimensions("event_type" -> col("event_type"),
          "day" -> to_date(col("ts")))
        .metrics(
          "n_events" -> count(lit(1)),
          "n_users" -> countDistinct(col("user_id")),
          "total_value" -> round(sum(col("value")), 2))
        .sortDesc("n_events")
        .maxResults(50)
        .toDF(s, d),
    Some("""
      WITH ev AS (
        SELECT user_id, event_type, value,
               CAST(ts AS TIMESTAMP) AS tsx,
               epoch_us(CAST(ts AS TIMESTAMP)) AS us
        FROM events),
      seg AS (
        SELECT DISTINCT user_id FROM ev WHERE event_type = 'purchase')
      SELECT event_type, CAST(tsx AS DATE) AS day,
             COUNT(*) AS n_events,
             COUNT(DISTINCT user_id) AS n_users,
             ROUND(SUM(value), 2) AS total_value
      FROM ev JOIN seg USING (user_id)
      WHERE us >= 1704412800000000 AND us < 1705708800000000
      GROUP BY 1, 2
      ORDER BY n_events DESC, event_type, day
      LIMIT 50"""))

  /** The reference client's day-chunking rewrite as API (SURVEY.md §4
    * [P][R]: issue N one-day queries instead of one N-day query to dodge
    * server-side sampling, concat client-side). `chunkByDay("day")`
    * compiles the same report as a UNION of 15 per-day aggregates, each
    * over a day-bounded scan — the oracle computes the plain unchunked
    * report over the full range, so the gate proves chunked == unchunked.
    * GaChunkSpec plan-asserts the 15-branch union with per-day bounds
    * pushed below each aggregate. */
  val gaChunked = Op(
    "ga_chunked",
    (s, d) =>
      GaQuery()
        .dateRange("2024-01-05", "2024-01-20")
        .segmentUsersWith(col("event_type") === "purchase")
        .dimensions("day" -> to_date(col("ts")),
          "event_type" -> col("event_type"))
        .metrics(
          "n_events" -> count(lit(1)),
          "total_value" -> round(sum(col("value")), 2))
        .chunkByDay("day")
        .toDF(s, d),
    Some("""
      WITH ev AS (
        SELECT user_id, event_type, value,
               CAST(ts AS TIMESTAMP) AS tsx,
               epoch_us(CAST(ts AS TIMESTAMP)) AS us
        FROM events),
      seg AS (
        SELECT DISTINCT user_id FROM ev WHERE event_type = 'purchase')
      SELECT CAST(tsx AS DATE) AS day, event_type,
             COUNT(*) AS n_events,
             ROUND(SUM(value), 2) AS total_value
      FROM ev JOIN seg USING (user_id)
      WHERE us >= 1704412800000000 AND us < 1705708800000000
      GROUP BY 1, 2"""))

  /** The reference API's actual string surface: `filters=` and
    * `segment=` mini-language strings (SURVEY.md §2.2 [P] operators
    * `==,!=,>,<,=@,!@,=~,!~` with `,`=OR over `;`=AND) compiled by
    * [[GaFilters]] — exercises contains, equality, numeric compare,
    * regex-not-match, and a user-scope condition segment in one
    * report. */
  val gaFilters = Op(
    "ga_filters",
    (s, d) =>
      GaQuery()
        .filters("ga:event_type=@ur,ga:event_type==signup" +
          ";ga:value>50.5;ga:event_type!~^v")
        .segment("users::condition::ga:value>=180")
        .dimensions("event_type" -> col("event_type"))
        .metrics(
          "n_events" -> count(lit(1)),
          "total_value" -> round(sum(col("value")), 2))
        .sortDesc("n_events")
        .toDF(s, d),
    Some("""
      WITH seg AS (
        SELECT DISTINCT user_id FROM events WHERE value >= 180)
      SELECT event_type, COUNT(*) AS n_events,
             ROUND(SUM(value), 2) AS total_value
      FROM events JOIN seg USING (user_id)
      WHERE (contains(event_type, 'ur') OR event_type = 'signup')
        AND value > 50.5
        AND NOT regexp_matches(event_type, '^v')
      GROUP BY 1
      ORDER BY n_events DESC, event_type"""))

  /** GA session-quality metrics (`ga:bounceRate`,
    * `ga:avgSessionDuration` [P]): per day-of-session-start, session
    * count, bounce rate (single-event sessions / sessions) and mean
    * session duration. Two-level aggregation: the per-session rollup
    * rides the same user_id shuffle as sessionize; the daily rollup
    * is a second small shuffle on the day key. Duration is integral
    * µs and bounce counts are integers, so both ratios round
    * deterministically. */
  val sessionMetrics = Op(
    "session_metrics",
    (s, d) =>
      withSid(ev(s, d), "sid")
        .groupBy(col("user_id"), col("sid"))
        .agg(
          count(lit(1)).as("n_events"),
          min(col("us")).as("start_us"),
          max(col("us")).as("end_us"))
        .groupBy(to_date(timestamp_micros(col("start_us"))).as("day"))
        .agg(
          count(lit(1)).as("n_sessions"),
          round(avg(when(col("n_events") === 1, 1.0).otherwise(0.0)), 4)
            .as("bounce_rate"),
          round(avg(col("end_us") - col("start_us")), 2).as("avg_dur_us")),
    Some(s"""
      WITH ev AS (
        SELECT user_id, event_id,
               epoch_us(CAST(ts AS TIMESTAMP)) AS us
        FROM events),
      $SessSql,
      per_session AS (
        SELECT user_id, sid, COUNT(*) AS n_events,
               MIN(us) AS start_us, MAX(us) AS end_us
        FROM sess GROUP BY user_id, sid)
      SELECT CAST(make_timestamp(start_us) AS DATE) AS day,
             COUNT(*) AS n_sessions,
             ROUND(AVG(CASE WHEN n_events = 1 THEN 1.0 ELSE 0.0 END), 4)
               AS bounce_rate,
             ROUND(AVG(end_us - start_us), 2) AS avg_dur_us
      FROM per_session GROUP BY 1"""))

  /** Session-scope segment + `ga:sessions` metric through the facade:
    * keep whole 30-min-gap sessions containing >= 1 purchase, then
    * count distinct sessions and sum value per event type. Exercises
    * the facade's auto-sessionization (metrics named `sessions`
    * trigger the _sid window) and the session-scope semi-join on
    * (user_id, _sid) — one extra shuffle on user_id, same as
    * sessionize. */
  val gaSessions = Op(
    "ga_sessions",
    (s, d) =>
      GaQuery()
        .segment("sessions::condition::ga:event_type==purchase")
        .dimensions("event_type" -> col("event_type"))
        .metrics(GaMetrics.sessions, GaMetrics.totalValue)
        .sortDesc(GaMetrics.SessionsKey)
        .toDF(s, d),
    Some(s"""
      WITH ev AS (
        SELECT user_id, event_type, value, event_id,
               epoch_us(CAST(ts AS TIMESTAMP)) AS us
        FROM events),
      $SessSql,
      seg AS (
        SELECT DISTINCT user_id, sid FROM sess
        WHERE event_type = 'purchase')
      SELECT event_type,
             COUNT(DISTINCT (user_id, sid)) AS sessions,
             ROUND(SUM(value), 2) AS total_value
      FROM sess JOIN seg USING (user_id, sid)
      GROUP BY 1"""))

  /** GA pagination (`start-index` + `max-results`): page 3 of the
    * by-(event_type, day) report under a total order — sortDesc
    * appends the dims ascending, and (event_type, day) is the group
    * key, so every page is deterministic. Plans as a global sort +
    * CollectLimit(offset+limit): at 100 TB deep paging pays
    * offset+limit per partition, which is why GA caps start-index —
    * the facade mirrors that contract rather than materializing
    * row numbers. */
  val pageTopk = Op(
    "page_topk",
    (s, d) =>
      GaQuery()
        .dimensions("event_type" -> col("event_type"),
          "day" -> to_date(col("ts")))
        .metrics(
          "n_events" -> count(lit(1)),
          "total_value" -> round(sum(col("value")), 2))
        .sortDesc("n_events")
        .startAt(21)
        .maxResults(10)
        .toDF(s, d),
    Some("""
      SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
             COUNT(*) AS n_events, ROUND(SUM(value), 2) AS total_value
      FROM events
      GROUP BY 1, 2
      ORDER BY n_events DESC, event_type, day
      LIMIT 10 OFFSET 20"""))

  /** CDC log→snapshot compaction: the latest state per key
    * (last-write-wins on (ts, event_id)) — what a change-log reader
    * ships to turn an append-only event stream into a current-state
    * table.
    *
    * Scale shape: a single-pass `max(struct(...))` hash aggregate —
    * struct comparison is lexicographic, so the max over
    * (us, event_id, payload...) IS the latest row — with map-side
    * partial aggregation collapsing each scan partition to one row
    * per live key before the only shuffle. The window-function
    * formulation (`row_number` + filter, what the oracle runs) cannot
    * partial-aggregate: it shuffles every log row. At 100 TB of log
    * versus ~millions of live keys that is the whole game. */
  val cdcLatest = Op(
    "cdc_latest",
    (s, d) =>
      ev(s, d)
        .groupBy(col("user_id"))
        .agg(
          max(struct(col("us"), col("event_id"), col("event_type"),
            col("value"))).as("last"),
          count(lit(1)).as("n_versions"))
        .select(
          col("user_id"),
          col("last.us").as("last_us"),
          col("last.event_id").as("last_event_id"),
          col("last.event_type").as("last_event_type"),
          round(col("last.value"), 2).as("last_value"),
          col("n_versions")),
    // the oracle's tie-break mirrors the FULL struct ordering (us,
    // event_id, event_type, value), not just the (us, event_id) key:
    // event_id is unique in the fixture, but under at-least-once CDC
    // delivery a duplicated (us, event_id) with a differing payload
    // would otherwise let each engine pick a different winner
    Some("""
      WITH v AS (
        SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id,
               event_type, value,
               ROW_NUMBER() OVER (PARTITION BY user_id
                 ORDER BY epoch_us(CAST(ts AS TIMESTAMP)) DESC,
                          event_id DESC, event_type DESC, value DESC) AS rk,
               COUNT(*) OVER (PARTITION BY user_id) AS n_versions
        FROM events)
      SELECT user_id, us AS last_us, event_id AS last_event_id,
             event_type AS last_event_type, ROUND(value, 2) AS last_value,
             n_versions
      FROM v WHERE rk = 1"""))

  /** Time-series resample with gap fill: daily event counts per
    * event_type, zero-filled over the full [min_day, max_day] span —
    * the "no row ≠ no day" correction every dashboard/cohort pipeline
    * applies before trend math.
    *
    * Scale shape: the dense calendar × type grid is generated from
    * ONE global min/max aggregate (a scalar-sized subquery) and is
    * days × types rows — broadcast; the left join against the daily
    * pre-aggregate shuffles only the (day, type) group keys, never
    * raw events. */
  val resampleDaily = Op(
    "resample_daily",
    (s, d) => Graft.resampleDaily(Tables.events(s, d), "ts", "event_type"),
    Some("""
      WITH ev AS (
        SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, event_type
        FROM events),
      daily AS (
        SELECT day, event_type, COUNT(*) AS n FROM ev GROUP BY 1, 2),
      span AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM ev),
      calendar AS (
        SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE)
          AS day
        FROM span),
      grid AS (
        SELECT c.day, t.event_type
        FROM calendar c, (SELECT DISTINCT event_type FROM ev) t)
      SELECT g.day, g.event_type, COALESCE(d.n, 0) AS n_events
      FROM grid g LEFT JOIN daily d
        ON g.day = d.day AND g.event_type = d.event_type"""))

  /** New-vs-returning users per day (the GA audience overview): a
    * user is NEW on their first-ever active day, RETURNING on every
    * later active day. ONE user_id exchange: collect_set(day)
    * aggregates partially map-side (per-user state bounded by the
    * calendar), the sorted set's head is the first day, and the
    * exploded (day, is-new) pairs roll up to an output-sized daily
    * count. A (user, day) groupBy + user window would shuffle twice —
    * (user_id, day) hash partitioning does not satisfy a user-only
    * window. All-integer output. */
  val newVsReturning = Op(
    "new_vs_returning",
    (s, d) => {
      val perUser = ev(s, d)
        .groupBy(col("user_id"))
        .agg(sort_array(collect_set(to_date(col("ts")))).as("days"))
        .select(col("user_id"), explode(col("days")).as("day"),
          element_at(col("days"), 1).as("first_day"))
      perUser
        .groupBy(col("day"))
        .agg(
          sum(when(col("day") === col("first_day"), 1L).otherwise(0L))
            .as("n_new"),
          sum(when(col("day") =!= col("first_day"), 1L).otherwise(0L))
            .as("n_returning"),
          count(lit(1)).as("n_active"))
    },
    Some("""
      WITH active AS (
        SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
               COUNT(*) AS n_events
        FROM events GROUP BY 1, 2),
      tagged AS (
        SELECT day,
               MIN(day) OVER (PARTITION BY user_id) AS first_day
        FROM active)
      SELECT day,
             CAST(SUM(CASE WHEN day = first_day THEN 1 ELSE 0 END)
               AS BIGINT) AS n_new,
             CAST(SUM(CASE WHEN day <> first_day THEN 1 ELSE 0 END)
               AS BIGINT) AS n_returning,
             COUNT(*) AS n_active
      FROM tagged GROUP BY day"""))

  /** Bounce rate per session-start day (GA behavior overview): share
    * of sessions with exactly one hit. Reuses the gap-sessionization
    * chain, rolls sessions up to their start day, and reports the
    * bounce share in integer basis points (no double division) —
    * exact at any SF. */
  val bounceRate = Op(
    "bounce_rate",
    (s, d) => {
      val sessions = withSid(ev(s, d), "sid")
        .groupBy(col("user_id"), col("sid"))
        .agg(count(lit(1)).as("n_events"), min(col("us")).as("start_us"))
      sessions
        .groupBy(to_date(timestamp_micros(col("start_us"))).as("day"))
        .agg(
          count(lit(1)).as("n_sessions"),
          sum(when(col("n_events") === 1L, 1L).otherwise(0L))
            .as("n_bounced"))
        .withColumn("bounce_bp",
          expr("n_bounced * 10000 div n_sessions"))
    },
    Some(s"""
      WITH ev AS (
        SELECT user_id, event_id,
               epoch_us(CAST(ts AS TIMESTAMP)) AS us
        FROM events),
      $SessSql,
      sessions AS (
        SELECT user_id, sid, COUNT(*) AS n_events, MIN(us) AS start_us
        FROM sess GROUP BY user_id, sid)
      SELECT CAST(make_timestamp(start_us) AS DATE) AS day,
             COUNT(*) AS n_sessions,
             CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_bounced,
             CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) * 10000
               // COUNT(*) AS BIGINT) AS bounce_bp
      FROM sessions GROUP BY 1"""))

  override def ops: Seq[Op] = Seq(sessionize, sessionWindow, funnelSeq,
    cohortRetention, windowTumbling, windowSliding, gaReport, gaChunked,
    gaFilters,
    gaSessions, sessionMetrics, pageTopk, cdcLatest, resampleDaily,
    newVsReturning, bounceRate)
}
