package graft.ops

import graft.plans.{PrefixSum, PrefixSumStrategy}
import org.apache.spark.sql.catalyst.expressions.{Alias, Ascending, AttributeReference, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlanBridge
import org.apache.spark.sql.types.LongType
import org.apache.spark.sql.{Column, DataFrame}

/** Distributed exact order statistics (SURVEY.md §2.10 scale note).
  *
  * `withPrefixSum` adds each row's exact running sum of a weight under
  * a total order, and the grand total, WITHOUT a single-partition sort
  * or window: it builds the [[graft.plans.PrefixSum]] plan node, which
  * runs as one range exchange (each reducer owns a contiguous key
  * range), one job that sums each partition's weights (≤#partitions
  * longs reach the driver), and one pass that sorts each partition
  * once and adds its offset to the running sum. `withGlobalRank` is
  * the unit-weight case: the exact 1-based global rank, with the row
  * count as the total. The node is an ordinary part of the caller's
  * plan: Catalyst prunes and plans through it, and nothing runs before
  * the caller's action.
  *
  * `ntileFromRank` then reproduces SQL NTILE(k) bit-exactly as a pure
  * closed-form function of (rank, n): the first n%k buckets take
  * ceil(n/k) rows, the rest floor(n/k) — which is all NTILE is once
  * the sort order is total (unique keys). Together they replace the
  * "global ntile window" single-reducer scale-killer while still
  * hash-matching an unchanged NTILE oracle.
  */
object Ranks {

  /** Adds `out` = the inclusive prefix sum of the long column `weight`
    * (a null weight counts as 0) under `sortCols`, and `total` = its
    * sum over all rows; both non-null longs. `sortCols` must form a
    * total order: include a unique tie-break column. */
  def withPrefixSum(df: DataFrame, out: String, total: String,
      weight: String, sortCols: Column*): DataFrame = {
    require(df.schema(weight).dataType == LongType,
      s"withPrefixSum: weight '$weight' must be a long column")
    prefixSum(df, out, total, col(weight), sortCols)
  }

  /** Adds `rankCol` = exact global 1-based rank of each row under
    * `sortCols` (the prefix sum of a unit weight), and `total` = the
    * row count. */
  def withGlobalRank(df: DataFrame, rankCol: String, total: String,
      sortCols: Column*): DataFrame =
    prefixSum(df, rankCol, total, lit(1L), sortCols)

  private def prefixSum(df: DataFrame, out: String, total: String,
      weight: Column, sortCols: Seq[Column]): DataFrame = {
    val spark = df.sparkSession
    PrefixSumStrategy.setup(spark)
    val order = sortCols.map(c => PlanBridge.expression(spark, c) match {
      case o: SortOrder => o
      case e => SortOrder(e, Ascending)
    })
    val child = df.queryExecution.analyzed
    val sums = PrefixSum(order, PlanBridge.expression(spark, weight),
      AttributeReference(out, LongType, nullable = false)(),
      AttributeReference(total, LongType, nullable = false)(), child)
    // the two sums re-aliased: a self-join of the result renews these
    // aliases' ids (it cannot renew attributes a custom node produces)
    PlanBridge.ofRows(spark, Project(child.output ++ Seq(
      Alias(sums.out, out)(), Alias(sums.total, total)()), sums))
  }

  /** Exact integer division for non-negative long columns (numerator
    * below 2^52, so the double intermediate is exact). */
  private def idiv(a: Column, b: Column): Column =
    ((a - a % b) / b).cast("long")

  /** SQL NTILE(k) as a closed form of (global rank, total rows):
    * the first n%k buckets hold floor(n/k)+1 rows, the remaining
    * buckets floor(n/k). Matches DuckDB/Spark NTILE bit-exactly when
    * the underlying order is total. Lazy when/otherwise keeps the
    * q=0 (n<k) case away from the divide in the second branch.
    */
  def ntileFromRank(rank: Column, n: Column, k: Int): Column = {
    val q = idiv(n, lit(k))
    val rem = n % lit(k)
    val big = rem * (q + lit(1)) // rows covered by the (q+1)-sized buckets
    when(rank <= big, idiv(rank + q, q + lit(1)))
      .otherwise(rem + idiv(rank - big + q - lit(1), q))
      .cast("int")
  }
}
