package perfbench

import com.fasterxml.jackson.databind.JsonNode
import graft.api.Graft
import graft.ga.{GaMetrics, GaQuery}
import graft.sources.Snapshots
import graft.{SparkEntry, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** The workloads. Each is a closed loop with one client: set up, then
  * issue the plan's operations one after another in `Run.window`.
  * Outputs go into the samples for the checks `run.py` makes after the
  * run. */
object Workloads {

  // ---------------------------------------------------------------- GA

  /** Rounds of GaQuery reports interleaved with registered GA analysis
    * ops; the first `warm_rounds` rounds are the warm-up. */
  def gaDashboard(r: Run): Unit = {
    val queries = SparkEntry.queries
    val oracles = SparkEntry.oracleSql
    val opNames = r.plan.get("ops").elements().asScala.map(_.asText()).toSeq
    r.facts("oracle_sql") = opNames.map(n => n -> oracles(n)).toMap
    def report(kind: String, j: JsonNode): Unit =
      r.timed(kind, j.get("template").asText(), "ga") {
        val df = r.span("ga.todf", "ga")(gaQuery(j).toDF(r.spark, r.data))
        val rows = df.collect()
        (r.plan.get("events").asLong(),
          Map("columns" -> df.columns.toSeq, "rows" -> rows.toSeq))
      }
    def op(kind: String, name: String, collect: Boolean): Unit =
      r.timed(kind, name, layerOf(name)) {
        val df = queries(name)(r.spark, r.data)
        if (collect) {
          // the first round's outputs are the ones checked against the
          // op's oracle; later rounds write to the noop sink
          (0L, Map("columns" -> df.columns.toSeq,
            "rows" -> df.collect().toSeq))
        } else {
          df.write.format("noop").mode("overwrite").save()
          (0L, null)
        }
      }
    def round(j: JsonNode, warm: Boolean, collect: Boolean): Unit =
      j.elements().asScala.foreach { it =>
        if (it.has("op"))
          op(if (warm) "warm" else "aux", it.get("op").asText(), collect)
        else report(if (warm) "warm" else "op", it)
      }
    val rounds = r.plan.get("rounds")
    val warm = r.plan.get("warm_rounds").asInt()
    (0 until warm).foreach(i => round(rounds.get(i), warm = true, i == 0))
    r.window(rounds.size - warm)(i =>
      round(rounds.get(warm + i), warm = false, collect = false))
  }

  /** The layer of a registered op: the package of the module that
    * declares it (`graft.ops.Windows` -> `ops`). */
  private def layerOf(name: String): String =
    Seq(graft.ops.Windows, graft.ops.Aggs, graft.ga.GaOps,
      graft.ga.FlowOps, graft.ga.JourneyOps)
      .find(_.ops.exists(_.name == name))
      .map(_.getClass.getPackage.getName.stripPrefix("graft."))
      .getOrElse("ops")

  private def dim(name: String): Column = name match {
    case "event_type" => col("event_type")
    case "day" => to_date(col("ts"))
    case "hour" => hour(col("ts"))
    case "kbucket" => expr("int(regexp_extract(props, '([0-9]+)', 1)) div 10")
  }

  private def metric(name: String): (String, Column) = name match {
    case "users" => GaMetrics.users
    case "events" => GaMetrics.events
    case "sessions" => GaMetrics.sessions
    case "total_value" => GaMetrics.totalValue
    case "avg_value" => GaMetrics.avgValue
  }

  /** The GaQuery a report spec describes (see `reports.py`). */
  def gaQuery(j: JsonNode): GaQuery = {
    def strs(k: String) = j.get(k).elements().asScala.map(_.asText()).toSeq
    def opt(k: String) = Option(j.get(k)).filterNot(_.isNull)
    var q = GaQuery()
      .dimensions(strs("dims").map(d => d -> dim(d)): _*)
      .metrics(strs("metrics").map(metric): _*)
    opt("range").foreach(a =>
      q = q.dateRange(a.get(0).asText(), a.get(1).asText()))
    opt("filters").foreach(f => q = q.filters(f.asText()))
    opt("segment").foreach(s => q = q.segment(s.asText()))
    opt("having_events_gt").foreach(n =>
      q = q.having(col("events") > n.asLong()))
    opt("sort").foreach(k => q = q.sortDesc(k.asText()))
    opt("start").foreach(n => q = q.startAt(n.asInt()))
    opt("max").foreach(n => q = q.maxResults(n.asInt()))
    opt("chunk").foreach(g => q = q.chunkBy("day", g.asText()))
    q
  }

  // ------------------------------------------------------------ ingest

  private def docs(r: Run): DataFrame =
    Tables(r.spark, r.data, "documents").select("doc_id", "text", "n_chars")

  private def embeddings(r: Run): DataFrame =
    Tables(r.spark, r.data, "embeddings")
      .select(col("vec_id").as("doc_id"), col("embedding"))

  /** Files and bytes under `dir` (0, 0 when it does not exist). */
  private def stored(dir: Path): (Long, Long) =
    if (!Files.exists(dir)) (0L, 0L)
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .foldLeft((0L, 0L)) { case ((n, b), p) => (n + 1, b + Files.size(p)) }
      finally s.close()
    }

  private def stageRows(df: DataFrame): Seq[Seq[Any]] =
    df.orderBy("stage_no").collect().toSeq
      .map(x => Seq(x.getAs[Int]("stage_no"), x.getAs[String]("stage"),
        x.getAs[Long]("n_docs"), x.getAs[Long]("n_tokens")))

  /** count(*) and sum(n_tokens) of one stage table version. */
  private def readBack(r: Run, table: String): Seq[Any] = {
    val v = r.span("sources.latest", "sources")(
      Snapshots.latest(r.spark, table))
    val row = r.span("sources.read", "sources")(
      Snapshots.readAsOf(r.spark, table, v)
        .agg(count(lit(1)), coalesce(sum(col("n_tokens")), lit(0L)))
        .head())
    Seq(v, row.getLong(0), row.getLong(1))
  }

  /** The corpus fed to `Graft.curateIngest` in ledger mode as
    * monotone-doc_id ticks; after each tick a reader reads every stage
    * table back, `reads_per_tick` times. The seed tick runs during
    * set-up, the merge ticks in the window. */
  def ingestTicks(r: Run): Unit = {
    val d = docs(r)
    val e = embeddings(r)
    val cuts = r.plan.get("cuts").elements().asScala.map(_.asLong()).toSeq
    val stages = Seq("quality", "exact", "near", "sem")
    def tick(kind: String, base: Path, v: Int): Unit = {
      val lo = if (v == 1) 0L else cuts(v - 2)
      val hi = cuts(v - 1)
      r.timed(kind, "tick", "api") {
        val batch = d.filter(col("doc_id") >= lo && col("doc_id") < hi)
        val out = stageRows(Graft.curateIngest(
          batch, base.toString, 0.4, Some(v.toLong), Some(e)))
        (hi - lo, Map("v" -> v, "hi" -> hi, "report" -> out))
      }
    }
    def read(kind: String, base: Path): Unit =
      r.timed(kind, "read", "sources") {
        (0L, stages.map(t => readBack(r, s"$base/$t")))
      }
    val reads = r.plan.get("reads_per_tick").asInt()
    // set-up: the seed tick, read back once
    val base = r.work.resolve("ingest")
    tick("warm", base, 1)
    read("warm", base)
    val ticks = 1 + r.window(cuts.size - 1) { i =>
      tick("op", base, i + 2)
      (1 to reads).foreach(_ => read("aux", base))
    }
    val (files, bytes) = stored(base)
    r.facts("stored") = Map("files" -> files, "bytes" -> bytes,
      "versions" -> Snapshots.latest(r.spark, s"$base/quality"),
      "ingested" -> cuts(ticks - 1))
    // the ticks ≡ one-shot contract: curate the ingested prefix at once
    r.timed("check", "one_shot", "api") {
      val prefix = d.filter(col("doc_id") < cuts(ticks - 1))
      (0L, stageRows(Graft.curate(prefix,
        r.work.resolve("one-shot").toString, 0.4, Some(e))))
    }
  }
}
