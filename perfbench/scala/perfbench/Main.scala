package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{Row, SparkSession}

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** The JVM half of the benchmark: runs one workload in one session and
  * writes what it measured to a JSON file.
  *
  *   java ... perfbench.Main <plan.json> <result.json>
  *
  * `perfbench/run.py` writes the plan (workload, data directory,
  * cores, seconds, trace flag and the seeded operation sequence) and
  * turns the result into metrics; it also runs the correctness checks
  * against the operation outputs recorded here.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val enteredMs = System.currentTimeMillis()
    val plan = new ObjectMapper().readTree(new File(args(0)))
    val cores = plan.get("cores").asInt()
    val work = plan.get("work").asText()
    val t0 = System.nanoTime()
    val spark = session(cores, work)
    spark.range(1).collect()
    val sessionS = (System.nanoTime() - t0) / 1e9
    val fileLayer = plan.get("file_layers").properties().asScala
      .map(e => e.getKey -> e.getValue.asText()).toMap
    val tracer =
      if (plan.get("trace").asBoolean()) Some(new Tracer(spark, fileLayer))
      else None
    val run = new Run(spark, plan, tracer)
    plan.get("workload").asText() match {
      case "ga_dashboard" => Workloads.gaDashboard(run)
      case "ingest_ticks" => Workloads.ingestTicks(run)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val out = mutable.LinkedHashMap[String, Any](
      "entered_ms" -> enteredMs,
      "session_s" -> sessionS,
      "ready_ms" -> run.readyMs,
      "window_s" -> run.windowS,
      "samples" -> run.samples.map(_.json).toSeq,
      "facts" -> run.facts)
    tracer.foreach(t => out("trace") = traceJson(t))
    Files.write(Paths.get(args(1)),
      Json(out).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  /** A local session sized to the host: `cores` task slots and as many
    * shuffle partitions; spill and scratch files stay in `work`. */
  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.ext.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.ext.GraftFunctions.register(s)
    s
  }

  private def traceJson(t: Tracer): Map[String, Any] = Map(
    "layers" -> t.layers.map { case (l, a) =>
      l -> Tracer.Fields.zip(a.toSeq).toMap },
    "plans" -> Tracer.Phases.zip(t.plans.toSeq).toMap,
    "tasks" -> t.tasks,
    "stages" -> t.stages,
    "storage_peak_bytes" -> t.storagePeakBytes,
    "listener_s" -> t.listenerNs / 1e9,
    "spans" -> t.spans.map(s => Map(
      "id" -> s.id, "parent" -> s.parent.getOrElse(-1), "name" -> s.name,
      "layer" -> s.layer, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
      "job_ms" -> s.jobMs)).toSeq)
}

/** One timed call. `kind` is `op` (the workload's main call), `aux`
  * (its secondary call), `warm` (set-up calls whose outputs are also
  * checked) or `check` (an untimed call made only for a check). */
final case class Sample(kind: String, name: String, startMs: Long,
    seconds: Double, ok: Boolean, error: Option[String], rows: Long,
    traced: Boolean, output: Any) {
  def json: Map[String, Any] = Map("kind" -> kind, "name" -> name,
    "start_ms" -> startMs, "seconds" -> seconds, "ok" -> ok,
    "error" -> error.orNull, "rows" -> rows, "traced" -> traced,
    "output" -> output)
}

/** The state of one run: the session, the plan, the samples taken and
  * the measurement window. Every call goes through `timed`, which
  * records a thrown exception with its class instead of a time. */
final class Run(val spark: SparkSession, val plan: JsonNode,
    tracer: Option[Tracer]) {
  val samples = mutable.ArrayBuffer.empty[Sample]
  val facts = mutable.LinkedHashMap.empty[String, Any]
  val data: String = plan.get("data").asText()
  val work: Path = Paths.get(plan.get("work").asText())
  var readyMs = 0L
  var windowS = 0.0
  private var tracing = false

  /** The measurement window, which ends set-up: runs `unit(0)`,
    * `unit(1)`, ... below `n` (a unit is a round of reports, a tick)
    * while the next one still fits the window, judging by the last
    * one's duration. The first always runs, so every window measures
    * whole units. Returns how many ran. */
  def window(n: Int)(unit: Int => Unit): Int = {
    readyMs = System.currentTimeMillis()
    val start = System.nanoTime()
    val seconds = plan.get("seconds").asDouble()
    var i = 0
    var last = 0.0
    def fits = (System.nanoTime() - start) / 1e9 + last <= seconds
    while (i < n && (i == 0 || fits)) {
      val t0 = System.nanoTime()
      unit(i)
      last = (System.nanoTime() - t0) / 1e9
      i += 1
    }
    windowS = (System.nanoTime() - start) / 1e9
    i
  }

  /** Run `body` as one operation, traced in a traced run unless it is
    * set-up or a check. `body` returns the rows the call consumed and
    * the output recorded for the checks. */
  def timed(kind: String, name: String, layer: String)(
      body: => (Long, Any)): Option[Any] = {
    val traced = tracer.isDefined && Run.Traced(kind)
    spark.sparkContext.setLocalProperty(Tracer.LayerKey, layer)
    if (traced) tracer.get.begin(kind + ":" + name, layer)
    tracing = traced
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val r = try Right(body) catch { case NonFatal(e) => Left(e) }
    val secs = (System.nanoTime() - t0) / 1e9
    tracing = false
    if (traced) tracer.get.end()
    spark.sparkContext.setLocalProperty(Tracer.LayerKey, null)
    r match {
      case Right((rows, out)) =>
        samples += Sample(kind, name, startMs, secs, ok = true, None, rows,
          traced, out)
        Some(out)
      case Left(e) =>
        System.err.println(s"[perfbench] $kind $name failed: $e")
        samples += Sample(kind, name, startMs, secs, ok = false,
          Some(e.getClass.getName + ": " + e.getMessage), 0L, traced, null)
        None
    }
  }

  /** A child span inside a traced operation (a no-op otherwise). */
  def span[T](name: String, layer: String)(body: => T): T =
    if (!tracing) body
    else {
      tracer.get.push(name, layer)
      try body finally tracer.get.pop()
    }
}

object Run {
  val Traced = Set("op", "aux")
}

/** A minimal JSON writer for maps, sequences, numbers, strings and the
  * values Spark rows hold. */
object Json {
  def apply(v: Any): String = {
    val sb = new StringBuilder
    write(sb, v)
    sb.result()
  }

  private def write(sb: StringBuilder, v: Any): Unit = v match {
    case null => sb.append("null")
    case s: String => str(sb, s)
    case b: Boolean => sb.append(b)
    case d: Double =>
      if (d.isNaN || d.isInfinite) str(sb, d.toString) else sb.append(d)
    case n: Int => sb.append(n)
    case n: Long => sb.append(n)
    case n: java.math.BigDecimal => sb.append(n.toPlainString)
    case d: java.sql.Date => str(sb, d.toLocalDate.toString)
    case r: Row => write(sb, r.toSeq)
    case m: scala.collection.Map[_, _] =>
      sb.append('{')
      var first = true
      m.foreach { case (k, x) =>
        if (!first) sb.append(',')
        first = false
        str(sb, k.toString); sb.append(':'); write(sb, x)
      }
      sb.append('}')
    case a: Array[_] => write(sb, a.toSeq)
    case xs: Iterable[_] =>
      sb.append('[')
      var first = true
      xs.foreach { x =>
        if (!first) sb.append(',')
        first = false
        write(sb, x)
      }
      sb.append(']')
    case other => str(sb, other.toString)
  }

  private def str(sb: StringBuilder, s: String): Unit = {
    sb.append('"')
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"')
  }
}
