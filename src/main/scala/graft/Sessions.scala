package graft

import org.apache.spark.sql.SparkSession

/** The one local SparkSession configuration: Bench, Verify, Explain,
  * Probe and the test fixture all build from it, so a result measured
  * or checked by one of them reproduces under the others. */
object Sessions {

  /** `local[cpus]` with as many shuffle partitions, UTC session time,
    * graft's native extensions (functions, the dot-product and
    * window-top-k rewrites, the top-k planner strategy), the
    * TIMESTAMP(NANOS) read conf `events.ts` needs (FIXTURES.md:85-91),
    * no UI and WARN logging. */
  def local(cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.ext.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** `$SPARK_GRAFT_CPUS`, or `default` when unset. Validated here, not
    * at session build: a non-numeric value otherwise surfaces as an
    * opaque SparkException from `master()` (ADVICE r19). */
  def cpus(default: Int): Int = sys.env.get("SPARK_GRAFT_CPUS") match {
    case None => default
    case Some(v) => v.toIntOption.filter(_ > 0).getOrElse(
      throw new IllegalArgumentException(
        s"SPARK_GRAFT_CPUS must be a positive integer, got '$v'"))
  }
}
