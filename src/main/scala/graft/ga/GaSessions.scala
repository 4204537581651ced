package graft.ga

import graft.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** The one home of GA session identity, in both engines: the 30-min
  * inactivity gap, the event-time extraction (`us`), the Spark
  * gap-sessionization kernel (lag → new-session flag → running sum)
  * and its DuckDB oracle twin. GaQuery's session scope, the Graft
  * facade, the declared session ops and their oracles all build on
  * these, so session identity can't drift between entry points.
  *
  * The one deliberate exception is the `session_window` oracle: it
  * cross-checks Spark's native `session_window`, which closes a
  * session at last event + gap, so it keeps its own `>=` rule.
  */
private[graft] object GaSessions {

  /** GA's 30-minute inactivity gap, in microseconds. */
  val GapUs: Long = 1800L * 1000000L

  /** `events` with integral epoch-microsecond event time `us` — never
    * raw ns timestamps (SURVEY §2 rule 4). The Spark twin of the
    * oracles' `ev` CTEs. */
  def ev(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).withColumn("us", unix_micros(col("ts")))

  /** The gap-sessionization kernel: `out` = the per-user running
    * count of rows whose gap to the previous row exceeds `gapUs`.
    * `us` must be an integral microsecond expression; `order` the
    * full deterministic within-user ordering (include a tie-break
    * key). */
  def addSessionId(df: DataFrame, user: Column, us: Column,
      order: Seq[Column], gapUs: Long, out: String): DataFrame = {
    val w = Window.partitionBy(user).orderBy(order: _*)
    df.withColumn("_prev", lag(us, 1).over(w))
      .withColumn("_new", when(col("_prev").isNull ||
        us - col("_prev") > gapUs, 1L).otherwise(0L))
      .withColumn(out, sum(col("_new")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("_prev", "_new")
  }

  /** GA sessions over an [[ev]] frame: `out` = the per-user session
    * ordinal, in (us, event_id) order at the 30-minute gap. */
  def withSid(df: DataFrame, out: String): DataFrame =
    addSessionId(df, col("user_id"), col("us"),
      Seq(col("us"), col("event_id")), GapUs, out)

  /** The oracle twin of [[withSid]]: the `flagged` and `sess` CTEs
    * over the caller's own `ev` CTE (which must carry user_id,
    * event_id and us). `sess` is `ev` plus the session ordinal `sid`;
    * splice this after `ev AS (...),` at the CTE indent. */
  val SessSql: String = s"""flagged AS (
        SELECT *, CASE WHEN LAG(us) OVER w IS NULL
                         OR us - LAG(us) OVER w > $GapUs
                       THEN 1 ELSE 0 END AS new_s
        FROM ev
        WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
      sess AS (
        SELECT *, SUM(new_s) OVER (PARTITION BY user_id
                                   ORDER BY us, event_id
                                   ROWS UNBOUNDED PRECEDING) AS sid
        FROM flagged)"""
}
