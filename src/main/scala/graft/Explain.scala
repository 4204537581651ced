package graft

import scala.util.control.NonFatal

/** Plan-inspection utility: print the plan of named declared queries
  * (all of them with no args) at a given SF dir — the `.explain`
  * feedback loop SURVEY §4 prescribes, as a runnable main:
  *
  *   sbt "runMain graft.Explain /root/testdata/sf0.001 q1,q2"
  *
  * GRAFT_EXPLAIN_MODE=formatted prints `.explain("formatted")`
  * (numbered operators + per-operator details: PushedFilters,
  * ReadSchema, join build side, exchange partitioning — the
  * optimization guide §7.2 checklist) instead of the executed-plan
  * tree. Core count / shuffle partitions come from SPARK_GRAFT_CPUS
  * so captured plans match the bench's AQE decisions (default 4 for
  * quick interactive inspection).
  *
  * Every requested plan is printed even when one fails (an unknown
  * key or a plan that throws); the main then exits 1 and names the
  * failed keys on stderr.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val names: Seq[String] =
      if (args.length > 1) args(1).split(",").map(_.trim).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val spark = Sessions.local(Sessions.cpus(4))
    spark.sparkContext.setLogLevel("ERROR")
    val formatted =
      sys.env.get("GRAFT_EXPLAIN_MODE").contains("formatted")
    val failed = names.filterNot { n =>
      println(s"===== $n")
      try {
        val df = SparkEntry.queries(n)(spark, sfDir)
        if (formatted)
          println(df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
        else println(df.queryExecution.executedPlan.toString)
        true
      } catch {
        case NonFatal(e) => println(s"[explain] $n failed: $e"); false
      }
    }
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(
        s"[explain] ${failed.size} plan(s) failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
