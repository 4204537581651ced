package graft.plans

import org.apache.spark.SparkEnv
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{Distribution, OrderedDistribution, Partitioning}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.{SortPrefixUtils, SparkPlan, SparkStrategy, UnaryExecNode, UnsafeExternalRowSorter}
import org.apache.spark.sql.types.LongType

/** Inclusive prefix sum of the long `weight` under `order`, which must
  * be a total order: every child row, plus `out` = the sum of `weight`
  * over the rows up to and including it, plus `total` = the sum over
  * all rows. Both are non-null longs; a null weight counts as 0. A unit weight makes `out` the
  * exact 1-based global rank and `total` the row count.
  */
case class PrefixSum(
    order: Seq[SortOrder],
    weight: Expression,
    out: Attribute,
    total: Attribute,
    child: LogicalPlan)
    extends UnaryNode {

  override def output: Seq[Attribute] = child.output :+ out :+ total

  override def producedAttributes: AttributeSet = AttributeSet(Seq(out, total))

  override protected def withNewChildInternal(newChild: LogicalPlan): PrefixSum =
    copy(child = newChild)
}

/** Physical [[PrefixSum]]. It requires `OrderedDistribution(order)`,
  * so the planner puts one range exchange below it and each partition
  * owns a contiguous key range (an AQE coalesce merges adjacent ranges
  * and keeps that). At execution, one job sums each partition's weight
  * over the exchange's unsorted output; the final pass reads the same
  * materialized shuffle, sorts each partition once with Spark's
  * spill-capable row sorter, and emits offset + running sum and the
  * grand total. Only the ≤#partitions sums reach the driver; a single
  * partition runs no totals job, its sum is taken while it is fed to
  * the sorter. Nothing runs before the caller's action.
  *
  * Why the totals and the rows must read one materialized stage: a
  * plan that computes the offsets in a separate branch (e.g. a
  * partition-id self-join) evaluates the range exchange twice, and two
  * evaluations may disagree on the layout (AQE coalescing and
  * range-bound resampling are per evaluation), which silently drops
  * rows (seen at sf1 with an earlier offsets-join form). Here the totals job
  * and the final pass run over one RDD, so they share its shuffle map
  * output.
  */
case class PrefixSumExec(
    order: Seq[SortOrder],
    weight: Expression,
    out: Attribute,
    total: Attribute,
    child: SparkPlan)
    extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output :+ out :+ total

  override def producedAttributes: AttributeSet = AttributeSet(Seq(out, total))

  override def requiredChildDistribution: Seq[Distribution] =
    OrderedDistribution(order) :: Nil

  override def outputPartitioning: Partitioning = child.outputPartitioning

  override def outputOrdering: Seq[SortOrder] = order

  override protected def doExecute(): RDD[InternalRow] = {
    // locals only in the task closures: `this` is the whole subtree
    val childOutput = child.output
    val outAttrs = output
    val sortOrder = order
    // a null weight unboxes to 0 in every `w.eval(r).asInstanceOf[Long]`
    val w = BindReferences.bindReference(weight, childOutput)
    val radix = conf.enableRadixSort && order.length == 1 &&
      SortPrefixUtils.canSortFullyWithPrefix(
        BindReferences.bindReference(order.head, childOutput))
    val rows = child.execute()
    val n = rows.getNumPartitions
    val sums =
      if (n <= 1) Array.empty[Long]
      else sparkContext.runJob(rows, (it: Iterator[InternalRow]) =>
        it.foldLeft(0L)((acc, r) => acc + w.eval(r).asInstanceOf[Long]))
    val offsets = sums.scanLeft(0L)(_ + _)
    rows.mapPartitionsWithIndex { (p, it) =>
      var grand = offsets.last
      val fed =
        if (sums.nonEmpty) it
        else it.map { r => grand += w.eval(r).asInstanceOf[Long]; r }
      val sorter = PrefixSumExec.sorter(sortOrder, childOutput, radix)
      val sorted = sorter.sort(fed.asInstanceOf[Iterator[UnsafeRow]])
      val sumsRow = new SpecificInternalRow(Seq(LongType, LongType))
      sumsRow.setLong(1, grand)
      val joined = new JoinedRow
      val proj = UnsafeProjection.create(outAttrs, outAttrs)
      var acc = offsets(p)
      sorted.map { r =>
        acc += w.eval(r).asInstanceOf[Long]
        sumsRow.setLong(0, acc)
        proj(joined(r, sumsRow))
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): PrefixSumExec =
    copy(child = newChild)
}

object PrefixSumExec {
  /** The row sorter `SortExec` builds for `order`: a prefix on the
    * first key, radix sort when that prefix decides the whole order. */
  private def sorter(order: Seq[SortOrder], input: Seq[Attribute],
      radix: Boolean): UnsafeExternalRowSorter = {
    val first = BindReferences.bindReference(order.head, input)
    val prefix = SortPrefix(first)
    val prefixProj = UnsafeProjection.create(Seq(prefix))
    val computer = new UnsafeExternalRowSorter.PrefixComputer {
      private val result = new UnsafeExternalRowSorter.PrefixComputer.Prefix
      override def computePrefix(row: InternalRow): UnsafeExternalRowSorter.PrefixComputer.Prefix = {
        val p = prefixProj(row)
        result.isNull = p.isNullAt(0)
        result.value = if (result.isNull) prefix.nullValue else p.getLong(0)
        result
      }
    }
    UnsafeExternalRowSorter.create(DataTypeUtils.fromAttributes(input),
      RowOrdering.create(order, input),
      SortPrefixUtils.getPrefixComparator(first), computer,
      SparkEnv.get.memoryManager.pageSizeBytes, radix)
  }
}

/** Plans [[PrefixSum]] into [[PrefixSumExec]]. */
object PrefixSumStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case PrefixSum(order, weight, out, total, child) =>
      PrefixSumExec(order, weight, out, total, planLater(child)) :: Nil
    case _ => Nil
  }

  /** Adds the strategy to `session`'s planner once, so a plan holding
    * [[PrefixSum]] plans in any session. */
  def setup(session: SparkSession): Unit = {
    val extra = session.experimental.extraStrategies
    if (!extra.contains(PrefixSumStrategy))
      session.experimental.extraStrategies = PrefixSumStrategy +: extra
  }
}
