package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Per-layer counters of one traced run.
  *
  * A layer is a module of the engine (`ga`, `ops`, `text`, `vec`,
  * `sources`, `api`, `ckpt`). Each Spark job is charged to the module
  * whose source file holds the job's call site — the SQL execution
  * description (`parquet at Snapshots.scala:593`) when the job belongs
  * to one, else the name of its result stage. A job whose call site is
  * outside every module (benchmark code, `Tables`, `SparkEntry`) is
  * charged to the layer of the public function that built the
  * DataFrame, which the benchmark sets as a local property before each
  * call. Task metrics follow their stage's job.
  *
  * The tracer is one `SparkListener` plus one `QueryExecutionListener`
  * (Catalyst phase times, the `plans` layer). It is registered only
  * while a traced operation runs; `end` drains the listener bus before
  * unregistering, so no event of the operation is lost or leaks into
  * the next one. Spans and counters stay in memory until the run
  * writes them out.
  */
final class Tracer(spark: SparkSession, fileLayer: Map[String, String])
    extends SparkListener with QueryExecutionListener {
  import Tracer._

  val layers: Map[String, Array[Double]] =
    (Layers :+ "spark").map(_ -> new Array[Double](Fields.size)).toMap
  val plans: Array[Double] = new Array[Double](Phases.size)
  var tasks = 0L
  var stages = 0L
  var storagePeakBytes = 0L
  /** Time spent inside this tracer's callbacks: its own cost. */
  var listenerNs = 0L
  val spans = mutable.ArrayBuffer.empty[Span]

  private val execSite = mutable.Map.empty[Long, String]
  private val jobLayer = mutable.Map.empty[Int, String]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val stageLayer = mutable.Map.empty[Int, String]
  // per operation: job intervals and the bytes its blocks pin
  private val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  private val blockBytes = mutable.Map.empty[String, Long]
  private var pinned = 0L
  private var opSpans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Span]

  /** Start a traced operation: its span is the root of any child
    * spans opened until `end`. */
  def begin(name: String, layer: String): Unit = {
    synchronized {
      jobSpans.clear(); blockBytes.clear(); pinned = 0L
      opSpans = mutable.ArrayBuffer.empty
    }
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    open = Nil
    push(name, layer)
  }

  /** End the traced operation: wait for its events, unregister, and
    * charge each of its spans the time Spark jobs covered. */
  def end(): Unit = {
    pop()
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
    synchronized {
      val ivs = jobSpans.sortBy(_._1).toSeq
      opSpans.foreach(s => s.jobMs = covered(ivs, s.startMs, s.endMs))
      spans ++= opSpans
    }
  }

  def push(name: String, layer: String): Unit = {
    val s = Span(spans.size + opSpans.size, open.headOption.map(_.id),
      name, layer, System.currentTimeMillis())
    synchronized(opSpans += s)
    open = s :: open
  }

  def pop(): Unit = {
    open.head.endMs = System.currentTimeMillis()
    open = open.tail
  }

  private def timedCallback(body: => Unit): Unit = synchronized {
    val t0 = System.nanoTime()
    body
    listenerNs += System.nanoTime() - t0
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      timedCallback(execSite(s.executionId) = s.description)
    case _ => ()
  }

  override def onJobStart(js: SparkListenerJobStart): Unit = timedCallback {
    val props = Option(js.properties)
    val site = props
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => execSite.get(id.toLong))
      .orElse(js.stageInfos.sortBy(_.stageId).lastOption.map(_.name))
      .getOrElse("")
    val ctx = props.flatMap(p => Option(p.getProperty(LayerKey)))
      .getOrElse("spark")
    val layer = SiteFile.findFirstMatchIn(site).map(_.group(1))
      .flatMap(fileLayer.get).getOrElse(ctx)
    jobLayer(js.jobId) = layer
    jobStart(js.jobId) = js.time
    js.stageIds.foreach(id => stageLayer.getOrElseUpdate(id, layer))
    layers(layer)(Jobs) += 1
  }

  override def onJobEnd(je: SparkListenerJobEnd): Unit = timedCallback {
    for (t0 <- jobStart.remove(je.jobId)) {
      layers(jobLayer.getOrElse(je.jobId, "spark"))(JobWall) +=
        (je.time - t0) / 1e3
      jobSpans += ((t0, je.time))
    }
  }

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
    timedCallback(stages += 1)

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = timedCallback {
    tasks += 1
    val m = te.taskMetrics
    if (m != null) {
      val a = layers(stageLayer.getOrElse(te.stageId, "spark"))
      a(TaskRun) += m.executorRunTime / 1e3
      a(TaskCpu) += m.executorCpuTime / 1e9
      a(ShuffleWrite) += m.shuffleWriteMetrics.bytesWritten / MB
      a(ShuffleRead) += m.shuffleReadMetrics.totalBytesRead / MB
      a(Spill) += m.diskBytesSpilled / MB
      a(Gc) += m.jvmGCTime / 1e3
      a(InputRows) += m.inputMetrics.recordsRead
    }
  }

  override def onBlockUpdated(bu: SparkListenerBlockUpdated): Unit =
    timedCallback {
      val info = bu.blockUpdatedInfo
      val id = info.blockId.name
      val now = if (info.storageLevel.isValid) info.memSize + info.diskSize
        else 0L
      pinned += now - blockBytes.getOrElse(id, 0L)
      if (now > 0) blockBytes(id) = now else blockBytes.remove(id)
      storagePeakBytes = math.max(storagePeakBytes, pinned)
    }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = phases(qe)

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = phases(qe)

  private def phases(qe: QueryExecution): Unit = timedCallback {
    val ph = qe.tracker.phases
    Phases.zipWithIndex.foreach { case (p, i) =>
      ph.get(p).foreach(s => plans(i) += s.durationMs / 1e3)
    }
  }
}

/** A timed region. `jobMs` is the part of it some Spark job covered;
  * the rest is driver-side time. */
final case class Span(id: Int, parent: Option[Int], name: String,
    layer: String, startMs: Long, var endMs: Long = 0L,
    var jobMs: Long = 0L)

object Tracer {
  val LayerKey = "perfbench.layer"
  val Layers = Seq("ga", "ops", "text", "vec", "sources", "api", "ckpt")
  val Fields = Seq("jobs", "job_wall_s", "task_run_s", "task_cpu_s",
    "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "gc_s",
    "input_rows")
  val Phases = Seq("analysis", "optimization", "planning")
  private val Jobs = 0; private val JobWall = 1; private val TaskRun = 2
  private val TaskCpu = 3; private val ShuffleWrite = 4
  private val ShuffleRead = 5; private val Spill = 6; private val Gc = 7
  private val InputRows = 8
  private val MB = 1024.0 * 1024.0
  private val SiteFile = """ at ([A-Za-z0-9_$]+)\.scala:""".r

  /** Milliseconds of [lo, hi] covered by the sorted intervals. */
  def covered(ivs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var reach = lo
    ivs.foreach { case (a, b) =>
      val s = math.max(a, reach)
      val e = math.min(b, hi)
      if (e > s) { total += e - s; reach = e }
    }
    total
  }
}
