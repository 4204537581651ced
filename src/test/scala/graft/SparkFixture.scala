package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.Assertions.assert

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

  /** The number of Spark jobs `body` starts on this thread. They are
    * tagged with a job group; a fence job started afterwards shows
    * once the listener bus has delivered every earlier job start. */
  def jobsStartedBy(body: => Any): Int = {
    val sc = spark.sparkContext
    val group = s"counted-${java.util.UUID.randomUUID()}"
    val fence = s"fence-$group"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        seen.add(Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(fence, "fence")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!seen.contains(fence) && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(seen.contains(fence), "the fence job's start never arrived")
      seen.toArray.count(_ == group)
    } finally sc.removeSparkListener(listener)
  }
}
