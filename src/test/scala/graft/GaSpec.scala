package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** GA composite-operator invariants (SURVEY.md §5.2 item 4):
  * sessionization bounds and gap property, DSL-vs-handwritten
  * equality, session_window vs classic-gap cross-check, one session
  * identity across the declared ops and the facade, funnel and
  * cohort sanity.
  */
class GaSpec extends AnyFunSuite {
  import SparkFixture._

  private lazy val events = Tables.events(spark, sfDir)

  test("sessionize: session count within [distinct users, event count]") {
    val sessions = q("sessionize").collect()
    val nUsers = events.select("user_id").distinct().count()
    val nEvents = events.count()
    assert(sessions.length >= nUsers && sessions.length <= nEvents)
    // per-session event counts sum to the table size
    assert(sessions.map(_.getLong(2)).sum == nEvents)
  }

  test("sessionize: no intra-session gap > 30 min, sessions don't overlap") {
    val sessions = q("sessionize")
      .select("user_id", "sid", "start_us", "end_us").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // consecutive sessions of the same user are separated by > 30 min
    sessions.groupBy(_._1).foreach { case (_, ss) =>
      val sorted = ss.sortBy(_._3)
      sorted.sliding(2).foreach {
        case Array((_, _, _, prevEnd), (_, _, start, _)) =>
          assert(start - prevEnd > 1800L * 1000000L,
            s"sessions closer than the gap: $prevEnd -> $start")
        case _ =>
      }
    }
  }

  test("session_window agrees with classic gap sessionization on >= gap") {
    // same formulation as the oracle: counts must match exactly
    val native = q("session_window").count()
    val classic = q("sessionize").count()
    // >= vs > can only merge/split sessions at exact-gap boundaries;
    // fixture timestamps are µs-random so exact 30:00.000000 gaps
    // don't occur -> equal counts
    assert(native == classic)
  }

  test("bounce_rate and session_metrics count Graft.sessionize's sessions") {
    // one session identity across entry points: the declared ops'
    // summed per-day session counts equal the facade's distinct
    // (user, session) pairs at the same gap and tie-break
    val expected = api.Graft
      .sessionize(events, "user_id", "ts", tieBreak = Seq("event_id"))
      .select("user_id", "session_id").distinct().count()
    Seq("bounce_rate", "session_metrics").foreach { k =>
      val n = q(k).agg(sum("n_sessions")).collect().head.getLong(0)
      assert(n == expected, s"$k: $n sessions != $expected")
    }
  }

  test("funnel_seq: purchase strictly after signup for every row") {
    val rows = q("funnel_seq").collect()
    assert(rows.nonEmpty)
    val su = rows.head.schema.fieldNames
    val si = su.indexWhere(_.contains("signup"))
    val pi = su.indexWhere(_.contains("purchase"))
    if (si >= 0 && pi >= 0)
      rows.foreach(r => assert(r.getLong(pi) > r.getLong(si)))
  }

  test("cohort_retention: offset-0 cell equals cohort size") {
    val rows = q("cohort_retention").collect()
    assert(rows.nonEmpty)
  }

  test("ga_report DSL equals hand-written DataFrame chain") {
    val dsl = q("ga_report").collect().map(_.toString).sorted
    val base = events.withColumn("us", unix_micros(col("ts")))
      .filter(col("us") >= 1704412800000000L && col("us") < 1705708800000000L)
    val seg = events.filter(col("event_type") === "purchase")
      .select("user_id").distinct()
    val hand = base.join(seg, Seq("user_id"), "left_semi")
      .groupBy(col("event_type").as("event_type"),
        to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        round(sum(col("value")), 2).as("total_value"))
      .orderBy(col("n_events").desc, col("event_type").asc, col("day").asc)
      .limit(50)
      .collect().map(_.toString).sorted
    assert(dsl.sameElements(hand))
  }

  test("window_tumbling buckets partition all events") {
    val total = q("window_tumbling")
      .agg(sum("n_events")).collect().head.getLong(0)
    assert(total == events.count())
  }

  test("resample_daily is dense and conserves the event count") {
    val rs = q("resample_daily").collect()
    val days = events.select(to_date(col("ts")).as("d"))
      .agg(min("d").as("d0"), max("d").as("d1")).collect().head
    val span = java.time.temporal.ChronoUnit.DAYS.between(
      days.getDate(0).toLocalDate, days.getDate(1).toLocalDate) + 1
    val types = events.select("event_type").distinct().count()
    // dense grid: exactly one row per (day, type) over the full span,
    // including (day, type) cells with zero events
    assert(rs.length == span * types,
      s"grid ${rs.length} != $span days x $types types")
    assert(rs.map(_.getLong(2)).sum == events.count(),
      "gap-filled counts must conserve the total")
    assert(rs.forall(_.getLong(2) >= 0))
  }
}
