package graft.ga

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import java.time.LocalDate

/** The reference's query facade re-expressed as a DataFrame compiler
  * (SURVEY.md §2.1 "GA-connector facade", §3.2 lifecycle A).
  *
  * The GA Core Reporting surface is: date-range + filters + segment +
  * dimensions + metrics + sort + max-results. Each setter only records
  * plan fragments; `toDF` composes a single declarative chain —
  * filter → semi-join (user-scope segment) → groupBy/agg → orderBy →
  * limit — and leaves physical planning to Catalyst (predicate
  * pushdown into the scan, partial aggregation, TakeOrderedAndProject
  * for the sorted limit).
  */
final case class GaQuery(
    dims: Seq[(String, Column)] = Nil,
    mets: Seq[(String, Column)] = Nil,
    startUs: Option[Long] = None,
    endUs: Option[Long] = None,
    rowFilters: Seq[Column] = Nil,
    userSegment: Option[Column] = None,
    sessionSegment: Option[Column] = None,
    sortDescKey: Option[String] = None,
    maxRows: Option[Int] = None,
    startIndex: Int = 0,
    havingFilters: Seq[Column] = Nil,
    chunkDayDim: Option[String] = None,
    chunkPeriod: String = "day") {

  private def dayUs(day: String): Long =
    LocalDate.parse(day).toEpochDay * 86400L * 1000000L

  /** GA start-date / end-date: [start, end) in UTC days. */
  def dateRange(start: String, end: String): GaQuery =
    copy(startUs = Some(dayUs(start)), endUs = Some(dayUs(end)))

  /** GA `filters=` — row-scope predicate. */
  def where(cond: Column): GaQuery = copy(rowFilters = rowFilters :+ cond)

  /** GA `filters=` string form, e.g.
    * `"ga:event_type==purchase,ga:event_type==signup;ga:value>50"`
    * (`,`=OR binds tighter than `;`=AND) — parsed by [[GaFilters]]. */
  def filters(s: String): GaQuery = where(GaFilters.parse(s))

  /** GA `segment=` string form: `users::condition::<filters>` (user
    * scope, semi-join) or `sessions::condition::<filters>` (session
    * scope, keeps whole 30-min-gap sessions). */
  def segment(s: String): GaQuery = GaFilters.parseSegment(s) match {
    case ("users", cond) => segmentUsersWith(cond)
    case (_, cond) => segmentSessionsWith(cond)
  }

  /** GA `users::condition::` segment — keep rows of users who have at
    * least one event (anywhere in the table) matching `cond`. */
  def segmentUsersWith(cond: Column): GaQuery = copy(userSegment = Some(cond))

  /** GA `sessions::condition::` segment — keep rows of 30-min-gap
    * sessions containing at least one event matching `cond` (session
    * scope: the filter keeps whole sessions, not just matching rows). */
  def segmentSessionsWith(cond: Column): GaQuery =
    copy(sessionSegment = Some(cond))

  def dimensions(ds: (String, Column)*): GaQuery = copy(dims = ds)

  def metrics(ms: (String, Column)*): GaQuery = copy(mets = ms)

  /** GA `sort=-metric`; dims are appended ascending for a total order. */
  def sortDesc(metric: String): GaQuery = copy(sortDescKey = Some(metric))

  /** GA `max-results`. */
  def maxResults(n: Int): GaQuery = copy(maxRows = Some(n))

  /** GA `start-index` (1-based, like the API). Requires a sort for a
    * stable page; pages are [start, start + max-results). */
  def startAt(index1: Int): GaQuery = copy(startIndex = index1 - 1)

  /** Post-aggregation metric filter (GA metric-scope `filters=`,
    * e.g. `ga:sessions>10`). */
  def having(cond: Column): GaQuery =
    copy(havingFilters = havingFilters :+ cond)

  /** The reference client's anti-sampling rewrite (SURVEY.md §4 [P][R]):
    * issue one query per day of the date range and concatenate,
    * instead of one N-day query. Compiled here as a UNION of per-day
    * aggregates, each over a day-bounded (hence partition/row-group
    * prunable) scan — on a date-partitioned lake each branch touches
    * exactly one partition, so the union IS the "N one-day queries"
    * plan, minus the N HTTP round-trips.
    *
    * `dayDim` names a declared dimension that must be day-granular
    * (e.g. `to_date(ts)`). With the day in the group key, every output
    * group lives in exactly one chunk, so the union equals the
    * unchunked report — the same contract the reference client relies
    * on when it concatenates per-day report pages. Sort, having,
    * start-index and max-results still apply globally, after the
    * union. A day-spanning 30-min session contributes to both days'
    * `ga:sessions` counts in BOTH forms (the session id is computed on
    * the unchunked stream; grouping is by row day), so the equivalence
    * holds for session metrics too. */
  def chunkByDay(dayDim: String): GaQuery = chunkBy(dayDim, "day")

  /** Generalized anti-sampling chunking — the reference client let
    * callers pick the chunk period so a long range stays under the
    * server's sampling threshold with as FEW branches as possible
    * (fewer round-trips there; a smaller union plan here). Splits the
    * declared range into disjoint [lo, hi) windows: `"day"` (1-day
    * strides), `"week"` (7-day strides anchored at the range start),
    * or `"month"` (calendar-month boundaries, first and last windows
    * clipped to the range). The disjointness contract is unchanged —
    * `dayDim` must be a declared day-granular dimension, and any
    * window that is a whole number of days contains each day's group
    * exactly once, so the union equals the unchunked report at every
    * granularity (GaChunkSpec locks the equivalence). */
  def chunkBy(dayDim: String, granularity: String): GaQuery = {
    require(Set("day", "week", "month")(granularity),
      s"chunkBy granularity must be day|week|month, got '$granularity'")
    copy(chunkDayDim = Some(dayDim), chunkPeriod = granularity)
  }

  def toDF(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = GaSessions.ev(spark, sfDir)

    // session scope and session-count metrics need a session id on
    // every row; compute it once over the UNFILTERED stream (GA
    // session identity is global, not per-date-range) — one shuffle
    // on user_id, same as sessionize
    val needsSessions = sessionSegment.isDefined ||
      mets.exists(_._1 == GaMetrics.SessionsKey)
    val base = if (!needsSessions) raw else
      GaSessions.withSid(raw, "_sid")

    require(mets.nonEmpty,
      "GaQuery needs at least one metric (GA reports always carry metrics); " +
        "call .metrics(\"name\" -> aggExpr, ...)")
    sortDescKey.foreach { k =>
      require(mets.exists(_._1 == k) || dims.exists(_._1 == k),
        s"sortDesc('$k') references no declared dimension or metric " +
          s"(have: ${(dims ++ mets).map(_._1).mkString(", ")})")
    }

    // filter → segment semi-joins → groupBy/agg over one [lo, hi) us
    // window; the unchunked path runs it once over the full range, the
    // chunked path once per day
    def aggregated(lo: Option[Long], hi: Option[Long]): DataFrame = {
      var df = base
      lo.foreach(l => df = df.filter(col("us") >= l))
      hi.foreach(h => df = df.filter(col("us") < h))
      rowFilters.foreach(c => df = df.filter(c))

      userSegment.foreach { cond =>
        // derive from `raw`, not `base`: a user-scope segment never
        // references _sid, so it must not pay the sessionization window
        val segUsers = raw.filter(cond).select(col("user_id")).distinct()
        df = df.join(segUsers, Seq("user_id"), "left_semi")
      }

      sessionSegment.foreach { cond =>
        val segSessions = base.filter(cond)
          .select(col("user_id"), col("_sid")).distinct()
        df = df.join(segSessions, Seq("user_id", "_sid"), "left_semi")
      }

      val dimCols = dims.map { case (n, c) => c.as(n) }
      val aggCols = mets.map { case (n, c) => c.as(n) }
      if (dims.isEmpty) df.agg(aggCols.head, aggCols.tail: _*)
      else df.groupBy(dimCols: _*).agg(aggCols.head, aggCols.tail: _*)
    }

    var out = chunkDayDim match {
      case None => aggregated(startUs, endUs)
      case Some(dd) =>
        require(startUs.isDefined && endUs.isDefined,
          "chunkByDay requires dateRange(start, end): the per-day chunks " +
            "are the days of the declared range")
        require(dims.exists(_._1 == dd),
          s"chunkByDay('$dd') references no declared dimension " +
            s"(have: ${dims.map(_._1).mkString(", ")}); the day must be " +
            "part of the group key for per-day chunks to be disjoint")
        val dayUs = 86400L * 1000000L
        val los: Seq[Long] = chunkPeriod match {
          case "day" => startUs.get until endUs.get by dayUs
          case "week" => startUs.get until endUs.get by 7 * dayUs
          case "month" =>
            val first = LocalDate.ofEpochDay(startUs.get / dayUs)
            val monthStarts = Iterator
              .iterate(first.withDayOfMonth(1).plusMonths(1))(
                _.plusMonths(1))
              .map(_.toEpochDay * dayUs)
              .takeWhile(_ < endUs.get)
              .toSeq
            startUs.get +: monthStarts
        }
        val edges = los :+ endUs.get
        val chunks = edges.sliding(2).map { w =>
          aggregated(Some(w(0)), Some(w(1)))
        }.toSeq
        chunks.reduce(_ union _)
    }

    havingFilters.foreach(c => out = out.filter(c))

    sortDescKey.foreach { k =>
      out = out.orderBy(col(k).desc +: dims.map(x => col(x._1).asc): _*)
    }
    require(startIndex == 0 || sortDescKey.isDefined,
      "startAt requires sortDesc: paging an unordered report returns " +
        "arbitrary, unstable pages")
    if (startIndex > 0) out = out.offset(startIndex)
    maxRows.foreach(n => out = out.limit(n))
    out
  }
}
