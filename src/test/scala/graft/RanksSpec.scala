package graft

import graft.ops.Ranks
import graft.plans.{PrefixSum, PrefixSumExec}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite

/** The prefix-sum kernel (`Ranks.withPrefixSum` / `withGlobalRank`,
  * the `PrefixSum` plan node) against a window oracle: `out` must be
  * `row_number` / `sum(w) ROWS UNBOUNDED PRECEDING` and `total` the
  * whole frame's count / sum, on every layout the exchange can hand
  * the exec (one partition, many, AQE-coalesced ranges). */
class RanksSpec extends AnyFunSuite {
  import SparkFixture._

  /** Every operator of an executed plan, inside AQE's final plan and
    * its query stages. */
  private def operators(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => operators(a.executedPlan)
    case s: QueryStageExec => operators(s.plan)
    case _ => p +: p.children.flatMap(operators)
  }

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** 2000 rows: a null-bearing key `k` with many ties, a unique
    * tie-break `id`, and a non-negative long weight `w` (zeros too). */
  private def frame(): DataFrame =
    spark.range(0, 2000, 1, 6).select(
      col("id"),
      when(col("id") % 7 === 3, lit(null)).otherwise(col("id") % 37).as("k"),
      (col("id") * 13 % 11).as("w"))

  /** (id, out, total) rows of the kernel and of the window oracle, and
    * the kernel's partition count. */
  private def bothSides(df: DataFrame, weighted: Boolean,
      order: Seq[org.apache.spark.sql.Column]): (Set[Row], Set[Row], Int) = {
    val got =
      if (weighted) Ranks.withPrefixSum(df, "out", "total", "w", order: _*)
      else Ranks.withGlobalRank(df, "out", "total", order: _*)
    val running = Window.orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val whole = Window.partitionBy()
    val want = df.select(col("id"),
      (if (weighted) sum(col("w")).over(running) else row_number().over(running))
        .cast(LongType).as("out"),
      (if (weighted) sum(col("w")).over(whole) else count(lit(1)).over(whole))
        .cast(LongType).as("total"))
    val rows = got.select("id", "out", "total")
    (rows.collect().toSet, want.collect().toSet,
      rows.queryExecution.toRdd.getNumPartitions)
  }

  private val orders = Seq(
    "k asc nulls first" -> Seq(col("k"), col("id")),
    "k asc nulls last" -> Seq(col("k").asc_nulls_last, col("id")),
    "k desc nulls last" -> Seq(col("k").desc, col("id").desc),
    "k desc nulls first" -> Seq(col("k").desc_nulls_first, col("id")))

  /** Name, confs, and the partition counts the layout must give. */
  private val layouts = Seq(
    ("one partition", Seq("spark.sql.adaptive.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> "1"), Set(1)),
    ("many partitions, AQE off", Seq("spark.sql.adaptive.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> "8"), Set(8)),
    ("many partitions, AQE coalescing", Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.shuffle.partitions" -> "8",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "24k",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1"),
      (2 to 7).toSet),
    ("AQE defaults", Seq("spark.sql.adaptive.enabled" -> "true"), (1 to 4).toSet))

  for ((layout, conf, parts) <- layouts; weighted <- Seq(false, true);
       (ord, cols) <- orders) {
    val what = if (weighted) "weighted prefix sum" else "rank"
    test(s"$what matches the window oracle: $layout, $ord") {
      withConf(conf: _*) {
        val (got, want, n) = bothSides(frame(), weighted, cols)
        assert(parts.contains(n), s"$n partitions")
        assert(got.size == 2000)
        assert(got == want)
      }
    }
  }

  test("an empty frame gives no rows and non-null long out/total") {
    for ((_, conf, _) <- layouts) withConf(conf: _*) {
      val empty = frame().filter(col("id") < 0)
      val ranked = Ranks.withGlobalRank(empty, "out", "total", col("id"))
      val summed = Ranks.withPrefixSum(empty, "out", "total", "w", col("id"))
      for (df <- Seq(ranked, summed)) {
        assert(df.collect().isEmpty)
        for (c <- Seq("out", "total")) {
          assert(df.schema(c).dataType == LongType)
          assert(!df.schema(c).nullable)
        }
      }
    }
  }

  test("the weight must be a long column") {
    intercept[IllegalArgumentException](
      Ranks.withPrefixSum(frame().withColumn("wi", col("w").cast("int")),
        "out", "total", "wi", col("id")))
  }

  test("a ranked frame joins itself and an aggregate of itself") {
    val r = Ranks.withGlobalRank(frame(), "rk", "n", col("k"), col("id"))
    val self = r.as("a").join(r.as("b"), col("a.id") === col("b.id"))
      .select(col("a.rk"), col("b.rk"), col("a.n"), col("b.n"))
      .collect()
    assert(self.length == 2000)
    assert(self.forall(x => x.getLong(0) == x.getLong(1) &&
      x.getLong(2) == 2000L && x.getLong(3) == 2000L))
    val maxRank = r.agg(max(col("rk")).as("mx"))
    assert(r.crossJoin(maxRank).filter(col("rk") === col("mx"))
      .count() == 1)
  }

  test("building a prefix-sum frame starts no Spark job") {
    val built = jobsStartedBy {
      val r1 = Ranks.withGlobalRank(frame(), "r", "n", col("k"), col("id"))
      Ranks.withPrefixSum(r1, "s", "t", "w", col("w").desc, col("id"))
    }
    assert(built == 0)
  }

  test("the plan holds the node, no LogicalRDD, and one range exchange " +
      "per prefix sum") {
    for ((layout, conf, _) <- layouts) withConf(conf: _*) {
      val r1 = Ranks.withGlobalRank(frame(), "r", "n", col("k"), col("id"))
      val df = Ranks.withPrefixSum(r1, "s", "t", "w", col("w").desc, col("id"))
      df.collect()
      val logical = df.queryExecution.optimizedPlan
      assert(logical.collect { case p: PrefixSum => p }.size == 2, layout)
      assert(logical.collect {
        case p if p.getClass.getSimpleName == "LogicalRDD" => p
      }.isEmpty, layout)
      val physical = operators(df.queryExecution.executedPlan)
      val ranges = physical.count {
        case e: ShuffleExchangeExec =>
          e.outputPartitioning.isInstanceOf[RangePartitioning]
        case _ => false
      }
      val nodes = physical.count(_.isInstanceOf[PrefixSumExec])
      assert(nodes == 2 && ranges == 2,
        s"$layout:\n${df.queryExecution.executedPlan}")
    }
  }
}
