package graft.ops

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.apache.spark.sql.{Column, DataFrame, Row}

/** Distributed exact order statistics (SURVEY.md §2.10 scale note).
  *
  * `withPrefixSum` materializes each row's exact running sum of a
  * weight under a total order WITHOUT a single-partition sort or
  * window: range-partition on the sort key (each reducer owns a
  * contiguous key range), sort within partitions, sum each
  * partition's weights, then give every row its partition's offset +
  * its local running sum. `withGlobalRank` is the unit-weight case:
  * the exact 1-based global rank. All stages are parallel; nothing
  * single-partition, nothing data-sized collected (the totals array
  * is ≤#partitions longs).
  *
  * `ntileFromRank` then reproduces SQL NTILE(k) bit-exactly as a pure
  * closed-form function of (rank, n): the first n%k buckets take
  * ceil(n/k) rows, the rest floor(n/k) — which is all NTILE is once
  * the sort order is total (unique keys). Together they replace the
  * "global ntile window" single-reducer scale-killer while still
  * hash-matching an unchanged NTILE oracle.
  */
object Ranks {

  /** Adds `out` = the inclusive prefix sum of the long column
    * `weight` under `sortCols` (which must form a total order —
    * include a unique tie-break column). One range shuffle +
    * per-partition sort, then a job that sums each partition's weights
    * and a final pass that adds each partition's offset to its running
    * sum; no data-sized single-partition stage anywhere, and only the
    * ≤#partitions totals are collected.
    *
    * Why not a __pid offsets self-join: the offsets approach evaluates
    * the range-shuffled branch TWICE (once for the per-partition
    * totals, once as the join's data side), and the two evaluations
    * may disagree on partition layout (AQE coalescing + range-bound
    * resampling are per-evaluation), silently dropping rows on the
    * inner __pid join — observed nondeterministic row loss at sf1
    * (r6). Here the totals job and the final pass both read the SAME
    * materialized shuffle stage (DAGScheduler reuses shuffle map
    * output across jobs) with a deterministic within-partition
    * total-order sort, so offsets and data can never diverge.
    *
    * Known, accepted cost: shuffle MAP output is reused across the
    * two jobs but the reduce-side SORT is not, so each partition sorts
    * twice (~2.4 s wall of the row-ranking equi_depth_hist's 8 s at
    * sf10 — r13). Materializing the sorted frame (`localCheckpoint`)
    * to dodge the re-sort was MEASURED WORSE: it leaks ~2 GB of
    * materialized rows per call (nothing can unpersist them — the
    * final pass is lazy, inside the caller's job) and bench runs went
    * 8.3 s → min 10.7 s with 30–36 s spreads under the resulting
    * memory pressure. The double sort is the deterministic-layout
    * price; it scales as one extra in-memory sort pass, never as data
    * motion (SCALE.md r13). */
  def withPrefixSum(df: DataFrame, out: String, weight: String,
      sortCols: Column*): DataFrame = {
    val at = df.schema.fieldIndex(weight)
    prefixSum(df, out, _.getLong(at), sortCols)
  }

  /** Adds `rankCol` = exact global 1-based rank of each row under
    * `sortCols`: the prefix sum of a unit weight. */
  def withGlobalRank(df: DataFrame, rankCol: String,
      sortCols: Column*): DataFrame =
    prefixSum(df, rankCol, _ => 1L, sortCols)

  /** The totals job skips the last partition (its total offsets
    * nothing), as zipWithIndex's count job does. */
  private def prefixSum(df: DataFrame, out: String, weightOf: Row => Long,
      sortCols: Seq[Column]): DataFrame = {
    val sorted = df
      .repartitionByRange(sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
    val schema = sorted.schema.add(out, LongType, nullable = false)
    val rows = sorted.rdd
    val n = rows.getNumPartitions
    val totals =
      if (n <= 1) Array.empty[Long]
      else rows.sparkContext.runJob(rows, (it: Iterator[Row]) =>
        it.foldLeft(0L)((acc, r) => acc + weightOf(r)), 0 until n - 1)
    val offsets = totals.scanLeft(0L)(_ + _)
    val summed = rows.mapPartitionsWithIndex { (p, it) =>
      var acc = offsets(p)
      it.map { r => acc += weightOf(r); Row.fromSeq(r.toSeq :+ acc) }
    }
    df.sparkSession.createDataFrame(summed, schema)
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
