package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One shared local SparkSession for the whole forked test JVM.
  *
  * Built by `Sessions.local`, the builder Verify and Bench use, at a
  * fixed 4 cores so results do not depend on the host's core count.
  * Tests run on sf0.001 (6k lineitem rows) for speed.
  */
object SparkFixture {
  val sfDir = "/root/testdata/sf0.001"
  val sfDir01 = "/root/testdata/sf0.01"

  lazy val spark: SparkSession = Sessions.local(4)

  def q(name: String, dir: String = sfDir): DataFrame =
    SparkEntry.queries(name)(spark, dir)
}
