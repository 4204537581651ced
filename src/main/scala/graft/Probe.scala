package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions.col

import scala.collection.concurrent.TrieMap

/** Per-stage and per-call-site attribution of a run: the fast way to
  * find WHICH pass of a multi-consumer plan owns a tail before
  * optimizing it.
  *
  *   java ... graft.Probe <sfDir> <key> [key...]
  *   java ... graft.Probe <sfDir> --ticks [n] [--emb]
  *
  * Key mode runs each declared op once to warm JIT/codegen, then once
  * probed, on the noop sink. Tick mode replays `n` (default 5)
  * doc_id-ordered ticks of the fixture's documents through
  * `Graft.curateIngest` in ledger mode; `--emb` arms the semantic
  * stage with the fixture embeddings (vec_id keyed as doc_id) to
  * attribute the 7-table form too.
  *
  * A probed run prints one `[stage]` row per stage it ran (wall, max
  * and summed task time, the owning RDD chain) and then one `[site]`
  * row per call site (summed job wall and job count). Since the curation tick
  * overlaps its stage-table commits with compute, site walls can
  * overlap: read them as per-site cost, not additive wall shares.
  */
object Probe {

  /** The one listener. Stages and jobs that START while `live` are
    * recorded; their end events may land after `live` drops. */
  private final class Recorder extends SparkListener {
    @volatile var live = false
    private val taskTimes = TrieMap.empty[Int, List[Double]]
    // SQL execution id -> the ACTION's call site ("localCheckpoint at
    // Graft.scala:1612"): AQE submits its stage-materialization jobs
    // through futures whose own call site is a CompletableFuture
    // lambda, so the execution description is the only stable label
    private val execDesc = TrieMap.empty[Long, String]
    private val jobs = TrieMap.empty[Int, (Long, String)]
    // call site -> (summed job wall, job count)
    private val siteWall = TrieMap.empty[String, (Double, Int)]

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        execDesc(s.executionId) = s.description
      case _ => ()
    }

    override def onStageSubmitted(ss: SparkListenerStageSubmitted): Unit =
      if (live) taskTimes(ss.stageInfo.stageId) = Nil

    override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
      taskTimes.updateWith(te.stageId)(
        _.map(te.taskInfo.duration / 1e3 :: _))

    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val si = sc.stageInfo
      for (ts <- taskTimes.remove(si.stageId)) {
        val secs = (for {
          s <- si.submissionTime; c <- si.completionTime
        } yield (c - s) / 1e3).getOrElse(-1.0)
        val rdds = si.rddInfos.map(r => s"${r.id}:${r.name}").mkString(" ")
        println(f"[stage] id=${si.stageId}%3d tasks=${si.numTasks}%3d " +
          f"wall=$secs%6.2f max=${if (ts.isEmpty) 0 else ts.max}%6.2f " +
          f"sum=${ts.sum}%7.2f  rdds: ${rdds.take(160)}")
      }
    }

    override def onJobStart(js: SparkListenerJobStart): Unit =
      if (live) {
        val byExec = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .flatMap(id => execDesc.get(id.toLong))
        jobs(js.jobId) = (js.time, byExec
          .orElse(js.stageInfos.lastOption.map(_.name)).getOrElse("?"))
      }

    override def onJobEnd(je: SparkListenerJobEnd): Unit =
      for ((t0, site) <- jobs.remove(je.jobId))
        siteWall.updateWith(site) { w =>
          val (wall, n) = w.getOrElse((0.0, 0))
          Some((wall + (je.time - t0) / 1e3, n + 1))
        }

    /** Runs `body` with recording on, waits for the listener bus to
      * deliver the end events of what it started, then prints the
      * total and the per-site rows (and clears them). */
    def probed(label: String)(body: => Unit): Unit = {
      Thread.sleep(300) // let the events of earlier, unprobed runs drain
      live = true
      val t0 = System.nanoTime()
      body
      val total = (System.nanoTime() - t0) / 1e9
      live = false
      val deadline = System.nanoTime() + 10e9.toLong
      Thread.sleep(200)
      while ((jobs.nonEmpty || taskTimes.nonEmpty) &&
        System.nanoTime() < deadline) Thread.sleep(200)
      println(f"[total] $label $total%6.2f s")
      siteWall.toSeq.sortBy(-_._2._1).foreach { case (site, (w, n)) =>
        println(f"[site] $w%7.2f s  ${w / total * 100}%5.1f%%  " +
          f"$n%4d jobs  $site")
      }
      siteWall.clear()
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: Probe <sfDir> <key> [key...] | Probe <sfDir> --ticks [n] [--emb]")
    val sfDir = args(0)
    val spark = Sessions.local(Sessions.cpus(32))
    val rec = new Recorder
    spark.sparkContext.addSparkListener(rec)
    if (args(1) == "--ticks") {
      val rest = args.drop(2)
      ticks(spark, sfDir, rec,
        rest.find(!_.startsWith("--")).map(_.toInt).getOrElse(5),
        rest.contains("--emb"))
    } else keys(spark, sfDir, rec, args.drop(1).toSeq)
    spark.stop()
  }

  private def keys(spark: SparkSession, sfDir: String, rec: Recorder,
      names: Seq[String]): Unit = {
    // noop sink, not collect(): forces every output column to compute
    // (count() prunes the aggregate subtree — the r12 "pruned lie")
    // without collecting data-sized results
    def run(key: String): Unit =
      SparkEntry.queries(key)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
    names.foreach { key =>
      println(s"== $key warm-up ==")
      run(key)
      println(s"== $key probed ==")
      rec.probed(key)(run(key))
    }
  }

  private def ticks(spark: SparkSession, sfDir: String, rec: Recorder,
      nTicks: Int, withEmb: Boolean): Unit = {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text", "n_chars")
    val ids = docs.select("doc_id").collect().map(_.getLong(0)).sorted
    val cuts = (1 to nTicks).map(i =>
      ids(((ids.length.toLong * i / nTicks) - 1).toInt))
    val emb =
      if (withEmb) Some(spark.read
        .parquet(s"$sfDir/embeddings.parquet")
        .select(col("vec_id").as("doc_id"), col("embedding")))
      else None
    val base = sources.Snapshots.freshTmpBase(spark, "probe", sfDir)
    rec.probed(s"$nTicks ticks, ${ids.length} docs") {
      var lo = Long.MinValue
      cuts.zipWithIndex.foreach { case (hi, i) =>
        val batch = docs.filter(col("doc_id") > lo && col("doc_id") <= hi)
        val t0 = System.nanoTime()
        api.Graft.curateIngest(batch, base, 0.4, Some(i + 1L), emb)
        println(f"[tick] ${i + 1} ${(System.nanoTime() - t0) / 1e9}%6.2f s")
        lo = hi
      }
    }
  }
}
