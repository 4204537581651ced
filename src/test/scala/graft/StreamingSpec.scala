package graft

import graft.streaming.StreamOps
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import java.sql.Timestamp

/** Streaming tests (SURVEY.md §2.12): every stream op is checked for
  * batch equivalence — stream-until-end must equal the batch query on
  * the same rows — plus watermark late-drop and stateful-dedup
  * semantics. All inputs flow through MemoryStream with explicit
  * processAllAvailable() so tests are processing-time independent.
  */
class StreamingSpec extends AnyFunSuite {
  import SparkFixture._
  import StreamOps.Ev

  private def freshDir(): String =
    java.nio.file.Files.createTempDirectory("graft-stream").toString

  /** events rows (sf0.001) as typed Ev, ts in µs precision. */
  private lazy val allEvents: Seq[Ev] = {
    import org.apache.spark.sql.Row
    Tables.events(spark, sfDir)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .collect().toSeq.map { r: Row =>
        Ev(r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getString(3),
          r.getDouble(4))
      }
  }

  /** sf1 events (1M rows), collected once, time-ordered — shared by
    * the replay-throughput tests below. Only touched behind an
    * `assume` that the synthesized sf1 fixture exists. */
  private lazy val sf1Events: Array[Ev] =
    Tables.events(spark, "/tmp/sf1")
      .select("event_id", "ts", "user_id", "event_type", "value")
      .collect().map { r =>
        Ev(r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getString(3),
          r.getDouble(4))
      }.sortBy(e => (e.ts.getTime, e.event_id))

  /** BENCH_STREAM_sf1.json accumulator: each sf1 replay test registers
    * its shape's throughput row. write() is READ-modify-write: rows
    * from this JVM merge over the on-disk artifact per shape key, so
    * running a subset of tests (or reordering) never drops shapes
    * another run recorded (r9 ADVICE). The headline "value" field is
    * likewise kept unless this run re-measured the sessionize shape. */
  private object StreamArt {
    val shapes = scala.collection.mutable.LinkedHashMap[String, String]()
    var headline = ""
    // under the build's untracked target/ dir: a test run never
    // rewrites the tracked BENCH_STREAM_sf1.json artifact
    private val path =
      java.nio.file.Paths.get("target", "BENCH_STREAM_sf1.json")

    def write(): Unit = synchronized {
      val prior =
        if (java.nio.file.Files.exists(path))
          new String(java.nio.file.Files.readAllBytes(path), "UTF-8")
        else ""
      val merged = parseShapes(prior) ++ shapes // this run wins per key
      val head =
        if (headline.nonEmpty) headline
        else """"value":\d+,""".r.findFirstIn(prior).getOrElse("")
      val json = s"""{"metric":"stream_rows_per_sec",$head""" +
        s""""unit":"rows/s","sf":"/tmp/sf1",""" +
        s""""shapes":${merged.values.mkString("[", ",", "]")}}"""
      java.nio.file.Files.createDirectories(path.getParent)
      java.nio.file.Files.write(path, (json + "\n").getBytes("UTF-8"))
    }

    /** Prior artifact's shape objects keyed by their "shape" field
      * (fallback: "op", for artifacts written before keys existed).
      * Brace-counted, not regexed: rows contain nested batch arrays. */
    private def parseShapes(
        s: String): scala.collection.mutable.LinkedHashMap[String, String] = {
      val out = scala.collection.mutable.LinkedHashMap[String, String]()
      val start = s.indexOf("\"shapes\":[")
      if (start < 0) return out
      var i = start + "\"shapes\":[".length
      while (i < s.length && s(i) != ']') {
        if (s(i) == '{') {
          val b = i
          var depth = 0
          var done = false
          // bounded: a truncated/hand-edited prior artifact with an
          // unbalanced '{' must not run past the end — treat the
          // malformed tail as absent (this run's rows still land)
          while (!done && i < s.length) {
            if (s(i) == '{') depth += 1
            else if (s(i) == '}') { depth -= 1; if (depth == 0) done = true }
            if (!done) i += 1
          }
          if (!done) return out
          val obj = s.substring(b, i + 1)
          val key = """"shape":"([^"]+)"""".r
            .findFirstMatchIn(obj).map(_.group(1))
            .orElse(Seq("sessionize" -> "sessionize",
              "tumbling" -> "tumbling", "dropDuplicates" -> "dedup",
              "interval join" -> "join", "funnel" -> "funnel")
              .collectFirst { case (m, k) if obj.contains(m) => k })
          key.foreach(k => out(k) = obj)
        }
        i += 1
      }
      out
    }
  }

  private def runToEnd(sdf: org.apache.spark.sql.DataFrame, name: String,
      mode: OutputMode): org.apache.spark.sql.DataFrame = {
    val query = sdf.writeStream
      .format("memory").queryName(name).outputMode(mode)
      .option("checkpointLocation", freshDir())
      .start()
    query.processAllAvailable()
    query.stop()
    spark.table(name)
  }

  test("tumbling window: stream-until-end equals batch window()") {
    import spark.implicits._
    val in = MemoryStream[Ev](1, spark, None)
    in.addData(allEvents)
    val got = runToEnd(StreamOps.tumblingCounts(in.toDF()),
      "t_tumbling", OutputMode.Complete())
      .collect().map(_.toString).sorted
    val batch = allEvents.toDF()
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("total_value"))
      .select(unix_micros(col("window.start")).as("hour_start_us"),
        col("event_type"), col("n_events"), col("total_value"))
      .collect().map(_.toString).sorted
    assert(got.sameElements(batch))
    // the same shape replayed from the events parquet as a file
    // stream equals the declared batch query
    val replayed = runToEnd(
      StreamOps.tumblingCounts(StreamOps.replay(spark, sfDir)),
      "t_tumbling_replay", OutputMode.Complete())
      .collect().map(_.toString).sorted
    val declared = q("window_tumbling").collect().map(_.toString).sorted
    assert(replayed.nonEmpty && replayed.sameElements(declared))
  }

  test("sliding window: each event lands in exactly 2 slides") {
    import spark.implicits._
    val in = MemoryStream[Ev](2, spark, None)
    in.addData(allEvents)
    val total = runToEnd(StreamOps.slidingCounts(in.toDF()),
      "t_sliding", OutputMode.Complete())
      .agg(sum("n_events")).collect().head.getLong(0)
    assert(total == allEvents.size * 2L)
  }

  test("session windows: stream equals batch session_window counts") {
    import spark.implicits._
    val in = MemoryStream[Ev](3, spark, None)
    in.addData(allEvents)
    val got = runToEnd(StreamOps.sessionCounts(in.toDF()),
      "t_session", OutputMode.Complete())
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val batch = allEvents.toDF()
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("n_events"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(got.sameElements(batch))
  }

  test("watermark drops late rows in append mode") {
    import spark.implicits._
    val t0 = Timestamp.valueOf("2024-06-01 10:00:00")
    def at(min: Int) = new Timestamp(t0.getTime + min * 60000L)
    val in = MemoryStream[Ev](4, spark, None)
    val sdf = StreamOps.tumblingCounts(in.toDF())
    val query = sdf.writeStream.format("memory").queryName("t_late")
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", freshDir()).start()
    // batch 1: two events in the 10:00 hour
    in.addData(Ev(1, at(0), 1, "view", 1.0), Ev(2, at(30), 1, "view", 1.0))
    query.processAllAvailable()
    // batch 2: advance watermark far past the 10:00 window (+10min delay)
    in.addData(Ev(3, at(200), 1, "view", 1.0))
    query.processAllAvailable()
    // batch 3: a LATE event for the (already finalized) 10:00 hour
    in.addData(Ev(4, at(40), 1, "view", 99.0))
    query.processAllAvailable()
    // batch 4: advance even further so nothing else is pending
    in.addData(Ev(5, at(400), 1, "view", 1.0))
    query.processAllAvailable()
    query.stop()
    val hour0 = spark.table("t_late")
      .filter(col("hour_start_us") === t0.getTime * 1000L).collect()
    assert(hour0.length == 1)
    assert(hour0.head.getLong(hour0.head.fieldIndex("n_events")) == 2L,
      "late event must not be counted in the finalized window")
  }

  test("dropDuplicatesWithinWatermark removes stateful duplicates") {
    import spark.implicits._
    val t0 = Timestamp.valueOf("2024-06-01 10:00:00")
    def at(min: Int) = new Timestamp(t0.getTime + min * 60000L)
    val in = MemoryStream[Ev](5, spark, None)
    val query = StreamOps.dedup(in.toDF()).writeStream
      .format("memory").queryName("t_dedup")
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", freshDir()).start()
    in.addData(Ev(10, at(0), 1, "view", 1.0), Ev(11, at(1), 1, "view", 1.0))
    query.processAllAvailable()
    in.addData(Ev(10, at(2), 1, "view", 1.0)) // duplicate within horizon
    query.processAllAvailable()
    query.stop()
    assert(spark.table("t_dedup").count() == 2)
  }

  test("stateful sessionization equals batch sessionize on closed sessions") {
    import spark.implicits._
    val in = MemoryStream[Ev](6, spark, None)
    in.addData(allEvents)
    val query = StreamOps.sessionizeStateful(in.toDS()).writeStream
      .format("memory").queryName("t_statesess")
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", freshDir()).start()
    query.processAllAvailable()
    // sentinel far-future event for a user id outside the fixture
    // domain: advances the watermark past every last-event + gap so
    // EventTimeTimeout fires and all real sessions close
    in.addData(Ev(-1, Timestamp.valueOf("2030-01-01 00:00:00"), -1L, "x", 0.0))
    query.processAllAvailable()
    query.stop()
    val got = spark.table("t_statesess")
      .filter(col("user_id") =!= -1L)
      .select("user_id", "start_us", "end_us", "n_events")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sorted
    val batchFixed = q("sessionize").collect().map { r =>
      (r.getLong(r.fieldIndex("user_id")), r.getLong(r.fieldIndex("start_us")),
        r.getLong(r.fieldIndex("end_us")), r.getLong(r.fieldIndex("n_events")))
    }.sorted
    assert(got.sameElements(batchFixed))
  }

  test("transformWithState sessionization equals batch sessionize") {
    import spark.implicits._
    val prior = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val in = MemoryStream[Ev](7, spark, None)
      in.addData(allEvents)
      val query = StreamOps.sessionizeTws(in.toDS()).writeStream
        .format("memory").queryName("t_tws")
        .outputMode(OutputMode.Append())
        .option("checkpointLocation", freshDir()).start()
      query.processAllAvailable()
      in.addData(Ev(-1, Timestamp.valueOf("2030-01-01 00:00:00"), -1L, "x", 0.0))
      query.processAllAvailable()
      query.stop()
      val got = spark.table("t_tws")
        .filter(col("user_id") =!= -1L)
        .select("user_id", "start_us", "end_us", "n_events")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sorted
      val batch = q("sessionize").collect().map { r =>
        (r.getLong(r.fieldIndex("user_id")), r.getLong(r.fieldIndex("start_us")),
          r.getLong(r.fieldIndex("end_us")), r.getLong(r.fieldIndex("n_events")))
      }.sorted
      assert(got.sameElements(batch))
    } finally {
      prior match {
        case Some(v) =>
          spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None =>
          spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("RocksDB transformWithState holds user-sized state over an sf1 replay") {
    // the 100 TB streaming claim, executed: replay the synthesized
    // sf1 events (1M rows, ~15k users) through the RocksDB-backed
    // transformWithState sessionization in time-ordered chunks and
    // assert from StreamingQueryProgress that state is ∝ ACTIVE USERS
    // (open sessions + their timers), never ∝ events seen — the
    // property that lets the operator run forever on an unbounded
    // stream. Cancels (not fails) when the sf1 artifact is absent.
    import spark.implicits._
    val sf1 = "/tmp/sf1"
    assume(new java.io.File(s"$sf1/events.parquet").exists(),
      "synthesized sf1 fixture not present (tools/make_sf.py)")
    val prior = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val evs = sf1Events
      val nUsers = evs.map(_.user_id).distinct.length
      val in = MemoryStream[Ev](11, spark, None)
      val query = StreamOps.sessionizeTws(in.toDS()).writeStream
        .format("memory").queryName("t_tws_sf1")
        .outputMode(OutputMode.Append())
        .option("checkpointLocation", freshDir()).start()
      // 4 time-ordered chunks: sessions must survive chunk boundaries
      // in state, and the watermark only ever moves forward
      val chunk = (evs.length + 3) / 4
      var maxState = 0L
      evs.grouped(chunk).foreach { c =>
        in.addData(c.toIndexedSeq)
        query.processAllAvailable()
        val st = query.lastProgress.stateOperators
        if (st.nonEmpty) maxState = math.max(maxState, st(0).numRowsTotal)
      }
      // close everything still open with a far-future sentinel
      in.addData(Ev(-1, Timestamp.valueOf("2030-01-01 00:00:00"), -1L, "x", 0.0))
      query.processAllAvailable()
      // throughput artifact (VERDICT r6 missing item 5): rows/s and
      // per-batch durations from StreamingQueryProgress, committed as
      // BENCH_STREAM_sf1.json — the streaming claim, measured
      val prog = query.recentProgress.filter(_.numInputRows > 0)
      val batches = prog.map { p =>
        val ms: Long = p.durationMs.getOrDefault("triggerExecution", 0L)
        (p.batchId, p.numInputRows, ms)
      }
      val totalRows = batches.map(_._2).sum
      val totalSec = batches.map(_._3).sum / 1e3
      query.stop()
      if (totalRows > 0 && totalSec > 0) {
        val rps = totalRows / totalSec
        val bJson = batches.map { case (id, n, ms) =>
          s"""{"batch":$id,"rows":$n,"ms":$ms}"""
        }.mkString("[", ",", "]")
        StreamArt.headline = s""""value":${"%.0f".format(rps)},"""
        StreamArt.shapes("sessionize") =
          s"""{"shape":"sessionize","op":"transformWithState sessionize",""" +
            s""""rows_per_sec":${"%.0f".format(rps)},"rows":$totalRows,""" +
            s""""seconds":${"%.2f".format(totalSec)},"batches":$bJson,""" +
            s""""state_rows_max":$maxState,"users":$nUsers,""" +
            s""""store":"rocksdb"}"""
        StreamArt.write()
        info(s"throughput: ${"%.0f".format(rps)} rows/s over $totalRows rows")
      }
      // state scaled with users, not with the 1M replayed events:
      // ≤ 2 rows per user (session value + pending timer)
      assert(maxState > 0, "no state operator progress reported")
      assert(maxState <= 2L * nUsers,
        s"state rows $maxState exceed 2x the $nUsers active users")
      assert(maxState < evs.length / 10L,
        s"state rows $maxState scale with events (${evs.length}), not users")
      // and the emitted sessions are the batch answer, at sf1 scale
      val gotN = spark.table("t_tws_sf1")
        .filter(col("user_id") =!= -1L).count()
      val batchN = SparkEntry.queries("sessionize")(spark, sf1).count()
      assert(gotN == batchN,
        s"streamed sessions $gotN != batch sessions $batchN at sf1")
    } finally {
      prior match {
        case Some(v) =>
          spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None =>
          spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("sf1 replay throughput: tumbling window and watermarked dedup") {
    // the two remaining §2.12 high-volume shapes, measured on the same
    // 1M-row sf1 replay as the sessionize row (VERDICT r8 item 7):
    // windowed aggregation state is WINDOW-sized (hours x types), and
    // dropDuplicatesWithinWatermark state is horizon-bounded — both
    // recorded to BENCH_STREAM_sf1.json from StreamingQueryProgress.
    import spark.implicits._
    assume(new java.io.File("/tmp/sf1/events.parquet").exists(),
      "synthesized sf1 fixture not present (tools/make_sf.py)")

    def replay(memId: Int, name: String, mode: OutputMode,
        mk: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
        : (Double, Long, Double, Long, Long) = {
      val in = MemoryStream[Ev](memId, spark, None)
      val query = mk(in.toDF()).writeStream
        .format("memory").queryName(name).outputMode(mode)
        .option("checkpointLocation", freshDir()).start()
      val chunk = (sf1Events.length + 3) / 4
      var maxState = 0L
      sf1Events.grouped(chunk).foreach { c =>
        in.addData(c.toIndexedSeq)
        query.processAllAvailable()
        val st = query.lastProgress.stateOperators
        if (st.nonEmpty) maxState = math.max(maxState, st(0).numRowsTotal)
      }
      val batches = query.recentProgress.filter(_.numInputRows > 0).map {
        p => (p.numInputRows,
          p.durationMs.getOrDefault("triggerExecution", 0L): Long)
      }
      val outRows = spark.table(name).count()
      query.stop()
      val rows = batches.map(_._1).sum
      val sec = batches.map(_._2).sum / 1e3
      (rows / sec, rows, sec, maxState, outRows)
    }

    val (tRps, tRows, tSec, tState, _) = replay(12, "t_sf1_tumbling",
      OutputMode.Append(), StreamOps.tumblingCounts)
    assert(tRows == sf1Events.length.toLong)
    // state ∝ open windows (hour x event_type), never ∝ events: the
    // fixture spans ~7 months => bounded by total windows x 5 types
    assert(tState > 0 && tState < sf1Events.length / 10L,
      s"tumbling state $tState scales with events")
    StreamArt.shapes("tumbling") =
      s"""{"shape":"tumbling","op":"tumblingCounts 1h watermark 10m",""" +
        s""""rows_per_sec":${"%.0f".format(tRps)},"rows":$tRows,""" +
        s""""seconds":${"%.2f".format(tSec)},""" +
        s""""state_rows_max":$tState,"store":"hdfs"}"""
    StreamArt.write()

    val (dRps, dRows, dSec, dState, dOut) = replay(13, "t_sf1_dedup",
      OutputMode.Append(), StreamOps.dedup)
    assert(dRows == sf1Events.length.toLong)
    // every event_id in the fixture is unique => dedup passes all rows
    assert(dOut == sf1Events.length.toLong,
      s"dedup emitted $dOut of ${sf1Events.length} unique rows")
    StreamArt.shapes("dedup") =
      s"""{"shape":"dedup","op":"dropDuplicatesWithinWatermark event_id 10m",""" +
        s""""rows_per_sec":${"%.0f".format(dRps)},"rows":$dRows,""" +
        s""""seconds":${"%.2f".format(dSec)},""" +
        s""""state_rows_max":$dState,"store":"hdfs"}"""
    StreamArt.write()
    info(s"tumbling ${"%.0f".format(tRps)} rows/s, " +
      s"dedup ${"%.0f".format(dRps)} rows/s")
  }

  test("sf1 replay throughput: transformWithState funnel on RocksDB") {
    // the deadline-timer funnel's throughput row, measured on the
    // same 1M-row sf1 replay as the sessionize/tumbling/dedup shapes
    // (every unit-tested stateful shape should carry a rows/s number)
    import spark.implicits._
    assume(new java.io.File("/tmp/sf1/events.parquet").exists(),
      "synthesized sf1 fixture not present (tools/make_sf.py)")
    val prior = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val in = MemoryStream[Ev](15, spark, None)
      val query = StreamOps.funnelTws(in.toDS()).writeStream
        .format("memory").queryName("t_sf1_funnel")
        .outputMode(OutputMode.Append())
        .option("checkpointLocation", freshDir()).start()
      val chunk = (sf1Events.length + 3) / 4
      var maxState = 0L
      sf1Events.grouped(chunk).foreach { c =>
        in.addData(c.toIndexedSeq)
        query.processAllAvailable()
        val st = query.lastProgress.stateOperators
        if (st.nonEmpty) maxState = math.max(maxState, st(0).numRowsTotal)
      }
      // 'view' sentinel: passes the step-type filter, advances the
      // watermark to 2030 so every open funnel's deadline timer fires
      in.addData(Ev(-1, Timestamp.valueOf("2030-01-01 00:00:00"), -1L,
        "view", 0.0))
      query.processAllAvailable()
      val batches = query.recentProgress.filter(_.numInputRows > 0).map {
        p => (p.numInputRows,
          p.durationMs.getOrDefault("triggerExecution", 0L): Long)
      }
      val outRows = spark.table("t_sf1_funnel")
        .filter(col("user_id") =!= -1L).count()
      query.stop()
      val rows = batches.map(_._1).sum
      val sec = batches.map(_._2).sum / 1e3
      val nUsers = sf1Events.map(_.user_id).distinct.length
      assert(rows == sf1Events.length.toLong + 1)
      // recurring funnels: the 30-day replay spans ~4 deadline
      // horizons, so a user can resolve several funnels (state clears
      // after each resolution — see FunnelState's scaladoc); rows
      // stay ∝ users·horizons, far below the event count
      assert(outRows >= nUsers.toLong / 2 && outRows < rows / 10,
        s"funnel rows $outRows implausible for $nUsers users")
      // state ∝ users (funnel value + deadline timer), never ∝ events
      assert(maxState > 0 && maxState <= 2L * nUsers,
        s"funnel state rows $maxState exceed 2x the $nUsers users")
      assert(maxState < sf1Events.length / 10L,
        s"funnel state $maxState scales with events")
      if (sec > 0) {
        val rps = rows / sec
        StreamArt.shapes("funnel") =
          s"""{"shape":"funnel","op":"transformWithState 3-step funnel """ +
            s"""7d deadline","rows_per_sec":${"%.0f".format(rps)},""" +
            s""""rows":$rows,"seconds":${"%.2f".format(sec)},""" +
            s""""state_rows_max":$maxState,"users":$nUsers,""" +
            s""""out_rows":$outRows,"store":"rocksdb"}"""
        StreamArt.write()
        info(s"funnel throughput: ${"%.0f".format(rps)} rows/s " +
          s"over $rows rows, $outRows funnels")
      }
    } finally {
      prior match {
        case Some(v) =>
          spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None =>
          spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("transformWithState funnel equals the declarative batch funnel " +
      "(completion mid-stream, abandonment via deadline timer)") {
    import spark.implicits._
    val prior = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val in = MemoryStream[Ev](14, spark, None)
      in.addData(allEvents)
      val query = StreamOps.funnelTws(in.toDS()).writeStream
        .format("memory").queryName("t_funnel")
        .outputMode(OutputMode.Append())
        .option("checkpointLocation", freshDir()).start()
      query.processAllAvailable()
      // 'view' sentinel (user -1): passes the step-type filter, so
      // the watermark jumps to 2030 and every open funnel's deadline
      // timer fires — all real funnels resolve
      in.addData(Ev(-1, Timestamp.valueOf("2030-01-01 00:00:00"), -1L,
        "view", 0.0))
      query.processAllAvailable()
      query.stop()
      val got = spark.table("t_funnel")
        .filter(col("user_id") =!= -1L)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
          r.getLong(3))).sorted
      // independent declarative mirror (min-binding formulation):
      // first view; first click strictly after it; first purchase
      // strictly after that click — all within the 7-day deadline
      def us(t: Timestamp): Long =
        math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
      val D = StreamOps.FunnelDeadlineUs
      val expected = allEvents
        .filter(e => Set("view", "click", "purchase")(e.event_type))
        .groupBy(_.user_id).toSeq
        .flatMap { case (uid, evs) =>
          val views = evs.filter(_.event_type == "view").map(e => us(e.ts))
          if (views.isEmpty) None
          else {
            val v = views.min
            val clicks = evs.filter(e => e.event_type == "click" &&
              us(e.ts) > v && us(e.ts) <= v + D).map(e => us(e.ts))
            val c = if (clicks.isEmpty) -1L else clicks.min
            val purchases =
              if (c < 0) Seq.empty
              else evs.filter(e => e.event_type == "purchase" &&
                us(e.ts) > c && us(e.ts) <= v + D).map(e => us(e.ts))
            if (purchases.nonEmpty) Some((uid, v, 3, purchases.min))
            else if (c >= 0) Some((uid, v, 2, -1L))
            else Some((uid, v, 1, -1L))
          }
        }.sorted
      assert(got.length == expected.length,
        s"funnel rows ${got.length} vs expected ${expected.length}")
      assert(got.sameElements(expected))
      // both resolution paths must actually occur on the fixture
      assert(got.exists(_._3 == 3), "no completed funnel in fixture")
      assert(got.exists(_._3 < 3), "no abandoned funnel in fixture")
    } finally {
      prior match {
        case Some(v) =>
          spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None =>
          spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("file sink is exactly-once across a checkpoint restart; " +
      "uncommitted files are invisible to readers") {
    import spark.implicits._
    val srcDir = freshDir() + "/src"
    val sinkDir = freshDir() + "/sink"
    val chkDir = freshDir() + "/chk"
    // 6 single-file slices of the fixture = 6 micro-batches
    val slices = allEvents.grouped((allEvents.length + 5) / 6).toSeq
    def addSlice(s: Seq[Ev]): Unit =
      s.toDF().coalesce(1).write.mode("append").parquet(srcDir)
    def runOnce(): Unit = {
      val q = spark.readStream
        .schema(Seq.empty[Ev].toDF().schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(srcDir)
        .select(col("event_id"), col("user_id"), col("value"))
        .writeStream
        .format("parquet")
        .option("path", sinkDir)
        .option("checkpointLocation", chkDir)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    slices.take(3).foreach(addSlice)
    runOnce() // phase 1: 3 batches committed, then the query "dies"
    // simulate a crashed task's file: data in the sink dir that no
    // committed batch wrote (not in _spark_metadata)
    val committed = new java.io.File(sinkDir).listFiles()
      .filter(f => f.getName.startsWith("part-") &&
        f.getName.endsWith(".parquet"))
    assert(committed.nonEmpty)
    val orphan = new java.io.File(sinkDir, "part-09999-orphan.snappy.parquet")
    java.nio.file.Files.copy(committed.head.toPath, orphan.toPath)
    slices.drop(3).foreach(addSlice)
    runOnce() // phase 2: restart from the same checkpoint
    // exactly-once: every source row appears exactly once — the
    // restart neither reprocessed the committed batches nor skipped
    // the new ones — and the orphan's rows are excluded because the
    // read path trusts _spark_metadata, not the directory listing
    val sunk = spark.read.parquet(sinkDir)
    assert(sunk.count() == allEvents.length.toLong)
    assert(sunk.select("event_id").distinct().count()
      == allEvents.length.toLong)
    // the orphan IS on disk and readable as a bare file...
    assert(spark.read.parquet(orphan.getAbsolutePath).count() > 0)
    // ...and a metadata-blind directory glob would double-count
    val raw = spark.read.parquet(
      new java.io.File(sinkDir).listFiles()
        .filter(f => f.getName.startsWith("part-"))
        .map(_.getAbsolutePath).toIndexedSeq: _*)
    assert(raw.count() > sunk.count(),
      "orphan file not visible even raw — the demo proves nothing")
  }

  test("stream-static join enriches events with a dimension") {
    import spark.implicits._
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier")
    val in = MemoryStream[Ev](8, spark, None)
    val t0 = Timestamp.valueOf("2024-06-01 10:00:00")
    in.addData(Ev(1, t0, 1L, "view", 1.0), Ev(2, t0, 2L, "view", 1.0),
      Ev(3, t0, 99L, "view", 1.0))
    val got = runToEnd(StreamOps.enrich(in.toDF(), dim, "user_id"),
      "t_enrich", OutputMode.Append())
      .select("event_id", "tier").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(got(1L).contains("gold"))
    assert(got(2L).contains("silver"))
    assert(got(3L).isEmpty) // left join keeps unmatched stream rows
  }

  test("streaming contamination screen equals the batch screen and " +
      "never misses a true gram hit") {
    ext.GraftFunctions.register(spark)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    // batch-compiled bloom over the eval slice's distinct gram hashes
    val bloom = docs.filter(col("doc_id") % 10 === 0)
      .withColumn("toks", split(col("text"), " "))
      .select(expr("ngram_hashes(toks, 8)"))
      .agg(expr("bloom_agg(g)").as("b"))
      .head().getAs[Array[Byte]]("b")
    val got = runToEnd(
      StreamOps.contaminationScreen(StreamOps.replayDocs(spark, sfDir),
        bloom),
      "t_contam", OutputMode.Append())
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(got.size == docs.count())
    // stream equals the same stateless screen applied in batch
    val batch = StreamOps.contaminationScreen(docs, bloom)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(got == batch)
    // bloom guarantee: every doc that truly shares an 8-gram with the
    // eval slice must be flagged (false positives allowed, negatives not)
    val g = docs.withColumn("toks", split(col("text"), " "))
      .select(col("doc_id"), expr("ngram_hashes(toks, 8)"))
    val evalG = docs.filter(col("doc_id") % 10 === 0)
      .withColumn("toks", split(col("text"), " "))
      .select(expr("ngram_hashes(toks, 8)")).distinct()
    val trueHits = g.join(evalG, "g").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(trueHits.nonEmpty)
    assert(trueHits.forall(got(_)))
  }

  test("foreachBatch + Snapshots.commitAs: exactly-once versioned " +
      "table commits across a checkpoint restart") {
    import spark.implicits._
    val srcDir = freshDir() + "/src"
    val base = freshDir() + "/snap_stream"
    val chkDir = freshDir() + "/chk"
    val slices = allEvents.grouped((allEvents.length + 5) / 6).toSeq
    def addSlice(s: Seq[Ev]): Unit =
      s.toDF().coalesce(1).write.mode("append").parquet(srcDir)
    def runOnce(): Unit = {
      val q = spark.readStream
        .schema(Seq.empty[Ev].toDF().schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(srcDir)
        .select(col("event_id"), col("user_id"), col("value"))
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          // version = batchId + 1: a restarted batch re-offers its
          // version; commitAs makes the re-offer a no-op
          graft.sources.Snapshots.commitAs(b, base, id + 1)
          ()
        }
        .option("checkpointLocation", chkDir)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    slices.take(3).foreach(addSlice)
    runOnce() // 3 micro-batches -> versions 1..3, then the query "dies"
    assert(graft.sources.Snapshots.versions(spark, base) == Seq(1L, 2L, 3L))
    // a batch whose snapshot committed but whose checkpoint write was
    // lost gets re-offered on restart: simulate by re-offering v3
    assert(!graft.sources.Snapshots.commitAs(
      allEvents.take(1).toDF().select(col("event_id"), col("user_id"),
        col("value")), base, 3L))
    slices.drop(3).foreach(addSlice)
    runOnce() // restart from the same checkpoint: versions 4..6 only
    assert(graft.sources.Snapshots.versions(spark, base)
      == (1L to 6L).toSeq)
    // exactly-once across the table history: the union of all version
    // contents is the source, each row exactly once
    val all = (1L to 6L)
      .map(v => graft.sources.Snapshots.readAsOf(spark, base, v))
      .reduce(_ unionAll _)
    assert(all.count() == allEvents.length.toLong)
    assert(all.select("event_id").distinct().count()
      == allEvents.length.toLong)
    // and time travel reads one slice, not the union
    assert(graft.sources.Snapshots.readAsOf(spark, base, 1L).count()
      == slices.head.length.toLong)
  }

  test("foreachBatch sink sees every micro-batch exactly once") {
    import spark.implicits._
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val in = MemoryStream[Ev](9, spark, None)
    val query = in.toDF().writeStream
      .option("checkpointLocation", freshDir())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        seen.synchronized { seen += ((id, batch.count())) }
        () // Unit: required shape for the Scala foreachBatch overload
      }
      .start()
    in.addData(allEvents.take(10))
    query.processAllAvailable()
    in.addData(allEvents.slice(10, 15))
    query.processAllAvailable()
    query.stop()
    val byBatch = seen.toSeq.sortBy(_._1)
    assert(byBatch.map(_._2).sum == 15)
    assert(byBatch.map(_._1) == byBatch.map(_._1).distinct)
  }

  test("stream-stream join with watermarks equals the batch range join") {
    import spark.implicits._
    val in = MemoryStream[Ev](10, spark, None)
    in.addData(allEvents)
    val got = runToEnd(StreamOps.signupPurchaseJoin(in.toDF()),
      "t_ssjoin", OutputMode.Append())
      .collect().map(_.toString).sorted
    val ev = allEvents.toDF()
    val signups = ev.filter(col("event_type") === "signup")
      .select(col("user_id").as("s_user"), col("ts").as("signup_ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("purchase_ts"),
        col("event_id"), col("value"))
    val batch = purchases.join(signups,
        expr("""user_id = s_user
                AND purchase_ts >= signup_ts
                AND purchase_ts <= signup_ts + INTERVAL 2 HOURS"""))
      .select(col("event_id"), col("user_id"),
        unix_micros(col("signup_ts")).as("signup_us"),
        unix_micros(col("purchase_ts")).as("purchase_us"))
      .collect().map(_.toString).sorted
    assert(got.length == batch.length && got.sameElements(batch))
    assert(batch.nonEmpty, "fixture should contain matching pairs")
  }

  test("mg_topk streams: incremental sketch keeps the MG guarantees") {
    import spark.implicits._
    // the realtime heavy-hitters shape: the mergeable sketch is also
    // an incremental one — complete-mode streaming aggregation feeds
    // batches through the same merge path the batch partials use
    val in = MemoryStream[Ev](90, spark, None)
    val sdf = in.toDF()
      .groupBy()
      .agg(expr("mg_topk(event_type, 3)").as("sk"),
        count(lit(1)).as("n"))
    val query = sdf.writeStream
      .format("memory").queryName("mg_stream")
      .outputMode(OutputMode.Complete())
      .option("checkpointLocation", freshDir())
      .start()
    // feed in three uneven chunks so state merges across triggers
    val chunks = allEvents.grouped((allEvents.size / 3).max(1)).toSeq
    chunks.foreach { c => in.addData(c); query.processAllAvailable() }
    query.stop()
    val row = spark.table("mg_stream").collect().head
    val est = row.getMap[String, Long](0)
    val n = row.getLong(1)
    val exact = allEvents.groupBy(_.event_type)
      .map { case (t, xs) => t -> xs.size.toLong }
    // 5 distinct types through 3 counters: guarantees, not equality
    est.foreach { case (t, e) =>
      assert(e <= exact(t) && exact(t) - e <= n / 4,
        s"stream sketch out of bound for $t: $e vs ${exact(t)}")
    }
    exact.filter(_._2 > n / 4).keys.foreach(t =>
      assert(est.contains(t), s"heavy type $t missing"))
  }

  test("dedupIndexMerge: streamed incremental index equals the " +
      "one-shot build; replays are no-ops across a restart") {
    import spark.implicits._
    val srcDir = freshDir() + "/docs_src"
    val base = freshDir() + "/dedup_idx"
    val chkDir = freshDir() + "/chk"
    // 40 docs in 4 slices; every text recurs across slices so the
    // cross-batch merge (keeper = least, n = sum) is exercised
    val docs = (0L until 40L).map(i => (i, s"doc text ${i % 10}"))
    def addSlice(s: Seq[(Long, String)]): Unit =
      s.toDF("doc_id", "text").coalesce(1)
        .write.mode("append").parquet(srcDir)
    def runOnce(): Unit = {
      val q = spark.readStream
        .schema(docs.take(1).toDF("doc_id", "text").schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(srcDir)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          streaming.StreamOps.dedupIndexMerge(b, id, base)
          ()
        }
        .option("checkpointLocation", chkDir)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    docs.grouped(10).take(2).foreach(addSlice)
    runOnce() // batches 0,1 -> versions 1,2; the query "dies"
    assert(sources.Snapshots.versions(spark, base) == Seq(1L, 2L))
    // a re-offered batch (snapshot committed, checkpoint write lost)
    // must be a no-op: same batchId, any content
    def indexRows(v: Long): Seq[(String, Long, Long)] =
      sources.Snapshots.readAsOf(spark, base, v)
        .select(col("h"), col("keeper"), col("n").cast("long"))
        .collect().map(r =>
          (r.getString(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    val before = indexRows(2L)
    assert(!streaming.StreamOps.dedupIndexMerge(
      docs.take(3).toDF("doc_id", "text"), 1L, base))
    assert(sources.Snapshots.versions(spark, base) == Seq(1L, 2L))
    val after = indexRows(2L)
    assert(after == before)
    // restart from the same checkpoint: remaining slices only
    docs.grouped(10).drop(2).foreach(addSlice)
    runOnce()
    assert(sources.Snapshots.versions(spark, base)
      == Seq(1L, 2L, 3L, 4L))
    // streamed index == one-shot md5 rollup of ALL docs
    val got = indexRows(4L).toSet
    val want = docs.toDF("doc_id", "text")
      .groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(got == want)
    assert(got.size == 10 && got.forall(_._3 == 4L))
  }

  test("sf1 replay throughput: contamination screen and dedup-index " +
      "ingest") {
    // the two r14 corpus-side shapes' rows/s numbers, measured on the
    // 50k-doc sf1 corpus replay (every tested shape carries a
    // throughput row — the r12 funnel precedent)
    import spark.implicits._
    assume(new java.io.File("/tmp/sf1/documents.parquet").exists(),
      "synthesized sf1 fixture not present (tools/make_sf.py)")
    ext.GraftFunctions.register(spark)
    val sf1Docs = spark.read.parquet("/tmp/sf1/documents.parquet")
      .select("doc_id", "text", "source")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    // batch-compiled bloom over the eval slice's distinct gram hashes
    val bloom = spark.read.parquet("/tmp/sf1/documents.parquet")
      .filter(col("doc_id") % 10 === 0)
      .withColumn("toks", split(col("text"), " "))
      .select(expr("ngram_hashes(toks, 8)"))
      .agg(expr("bloom_agg(g)").as("b"))
      .head().getAs[Array[Byte]]("b")
    val in = MemoryStream[(Long, String, String)](14, spark, None)
    val q = StreamOps.contaminationScreen(
      in.toDF().toDF("doc_id", "text", "source"), bloom)
      .writeStream.format("memory").queryName("t_sf1_screen")
      .outputMode("append")
      .option("checkpointLocation", freshDir()).start()
    val chunk = (sf1Docs.length + 3) / 4
    sf1Docs.grouped(chunk).foreach { c =>
      in.addData(c.toIndexedSeq); q.processAllAvailable()
    }
    val batches = q.recentProgress.filter(_.numInputRows > 0).map { p =>
      (p.numInputRows,
        p.durationMs.getOrDefault("triggerExecution", 0L): Long)
    }
    val sRows = batches.map(_._1).sum
    val sSec = batches.map(_._2).sum / 1e3
    assert(sRows == sf1Docs.length.toLong)
    val flagged = spark.table("t_sf1_screen")
      .filter(col("flagged")).count()
    assert(flagged > 0L) // the eval slice screens itself
    q.stop()
    StreamArt.shapes("screen") =
      s"""{"shape":"screen","op":"contaminationScreen 8-gram bloom",""" +
        s""""rows_per_sec":${"%.0f".format(sRows / sSec)},""" +
        s""""rows":$sRows,"seconds":${"%.2f".format(sSec)},""" +
        s""""flagged":$flagged,"store":"stateless"}"""
    StreamArt.write()
    // dedup-index ingest: 5-slice file replay through foreachBatch,
    // wall-clock includes the per-tick snapshot commits (the write
    // path IS the op)
    val srcDir = freshDir() + "/docs_sf1"
    val base = freshDir() + "/idx_sf1"
    sf1Docs.grouped((sf1Docs.length + 4) / 5).foreach(sl =>
      sl.toSeq.toDF("doc_id", "text", "source").coalesce(1)
        .write.mode("append").parquet(srcDir))
    val t0 = System.nanoTime()
    val q2 = spark.readStream
      .schema(sf1Docs.take(1).toSeq
        .toDF("doc_id", "text", "source").schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir)
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        StreamOps.dedupIndexMerge(b, id, base)
        ()
      }
      .option("checkpointLocation", freshDir())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q2.awaitTermination()
    val iSec = (System.nanoTime() - t0) / 1e9
    val vLatest = sources.Snapshots.latest(spark, base)
    assert(sources.Snapshots.versions(spark, base).size == 5)
    val idxRows = sources.Snapshots.readAsOf(spark, base, vLatest)
    val oneShot = spark.read.parquet("/tmp/sf1/documents.parquet")
      .select(countDistinct(md5(col("text")))).head.getLong(0)
    assert(idxRows.count() == oneShot)
    assert(idxRows.select(sum(col("n"))).head.getLong(0)
      == sf1Docs.length.toLong)
    StreamArt.shapes("dedup_index") =
      s"""{"shape":"dedup_index","op":"foreachBatch dedupIndexMerge""" +
        s""" 5 ticks","rows_per_sec":${
          "%.0f".format(sf1Docs.length / iSec)},""" +
        s""""rows":${sf1Docs.length},"seconds":${"%.2f".format(iSec)},""" +
        s""""versions":5,"index_rows":$oneShot,"store":"snapshot"}"""
    StreamArt.write()
    info(s"screen ${"%.0f".format(sRows / sSec)} rows/s, dedup_index " +
      s"${"%.0f".format(sf1Docs.length / iSec)} rows/s")
  }

  test("dedupIndexMerge: empty batches leave version gaps and cannot " +
      "wedge the seed; merges resume from the latest version") {
    import spark.implicits._
    val base = freshDir() + "/dedup_idx_gaps"
    val docs = (0L until 20L).map(i => (i, s"doc text ${i % 10}"))
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    // empty batch 0: no version committed, nothing wedged
    assert(!streaming.StreamOps.dedupIndexMerge(empty, 0L, base))
    assert(sources.Snapshots.versions(spark, base).isEmpty)
    // the first NON-empty batch (id 1) seeds at version 2 — gap at 1
    assert(streaming.StreamOps.dedupIndexMerge(
      docs.take(10).toDF("doc_id", "text"), 1L, base))
    assert(sources.Snapshots.versions(spark, base) == Seq(2L))
    // a replayed empty batch is still a no-op
    assert(!streaming.StreamOps.dedupIndexMerge(empty, 0L, base))
    // the next batch merges against the LATEST version across the gap
    assert(streaming.StreamOps.dedupIndexMerge(
      docs.drop(10).toDF("doc_id", "text"), 2L, base))
    assert(sources.Snapshots.versions(spark, base) == Seq(2L, 3L))
    val got = sources.Snapshots.readAsOf(spark, base, 3L)
      .select(col("h"), col("keeper"), col("n").cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSet
    val want = docs.toDF("doc_id", "text")
      .groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(got == want)
  }

  test("minhashIndexMerge: streamed incremental band index equals the " +
      "one-shot build; replays are no-ops across a restart") {
    import spark.implicits._
    ext.GraftFunctions.register(spark)
    val srcDir = freshDir() + "/docs_src"
    val base = freshDir() + "/mh_idx"
    val chkDir = freshDir() + "/chk"
    // 40 docs in 4 slices; texts recur (mod 10) so batch buckets
    // collide with base buckets, and two SHORT docs (< 3 tokens) per
    // slice exercise the zero-band-row path inside non-empty batches
    val docs = (0L until 40L).map { i =>
      if (i % 10 >= 8) (i, "too short")
      else (i, s"alpha beta gamma delta ${i % 10} epsilon zeta")
    }
    def addSlice(s: Seq[(Long, String)]): Unit =
      s.toDF("doc_id", "text").coalesce(1)
        .write.mode("append").parquet(srcDir)
    def runOnce(): Unit = {
      val q = spark.readStream
        .schema(docs.take(1).toDF("doc_id", "text").schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(srcDir)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          streaming.StreamOps.minhashIndexMerge(b, id, base)
          ()
        }
        .option("checkpointLocation", chkDir)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    docs.grouped(10).take(2).foreach(addSlice)
    runOnce() // batches 0,1 -> versions 1,2; the query "dies"
    assert(sources.Snapshots.versions(spark, base) == Seq(1L, 2L))
    def indexRows(v: Long): Set[(Int, Long, Int, Long)] =
      sources.Snapshots.readAsOf(spark, base, v)
        .select(col("pb").cast("int"), col("doc_id"),
          col("band").cast("int"), col("bk"))
        .collect().map(r =>
          (r.getInt(0), r.getLong(1), r.getInt(2), r.getLong(3))).toSet
    // a re-offered batch (snapshot committed, checkpoint write lost)
    // must be a no-op: same batchId, any content
    val before = indexRows(2L)
    assert(!streaming.StreamOps.minhashIndexMerge(
      docs.take(3).toDF("doc_id", "text"), 1L, base))
    assert(sources.Snapshots.versions(spark, base) == Seq(1L, 2L))
    assert(indexRows(2L) == before)
    // a batch of ONLY short docs (non-empty, zero band rows) leaves a
    // version gap instead of wedging or committing an empty frame
    assert(!streaming.StreamOps.minhashIndexMerge(
      Seq((100L, "nope")).toDF("doc_id", "text"), 2L, base))
    assert(sources.Snapshots.versions(spark, base) == Seq(1L, 2L))
    // restart from the same checkpoint: remaining slices only
    docs.grouped(10).drop(2).foreach(addSlice)
    runOnce()
    assert(sources.Snapshots.versions(spark, base)
      == Seq(1L, 2L, 3L, 4L))
    // streamed index == one-shot band rollup of ALL docs (the batch
    // kernel itself, which the sf0.01 oracle gate pins to minhash_det)
    val want = text.SimilarityOps
      .minhashIndexRollup(docs.toDF("doc_id", "text"))
      .select(col("pb").cast("int"), col("doc_id"),
        col("band").cast("int"), col("bk"))
      .collect().map(r =>
        (r.getInt(0), r.getLong(1), r.getInt(2), r.getLong(3))).toSet
    assert(indexRows(4L) == want)
    // 32 long-enough docs x 4 bands
    assert(want.size == 32 * 4)
  }

  test("semdedupIndexMerge: streamed incremental cluster index equals " +
      "the one-shot frozen-seed assignment; replays are no-ops") {
    import spark.implicits._
    ext.GraftFunctions.register(spark)
    val base = freshDir() + "/sem_idx"
    // deterministic 8-dim embeddings, 24 vectors; seeds = first 4
    def emb(i: Long): Array[Float] =
      Array.tabulate(8)(j => (((i * 31 + j * 17) % 13) - 6).toFloat / 6f)
    val vecs = (0L until 24L).map(i => (i, emb(i)))
    val all = vecs.toDF("vec_id", "embedding")
    val seeds = vecs.take(4)
      .toDF("c_id", "c_emb")
    def idxRows(v: Long): Set[(Long, Long)] =
      sources.Snapshots.readAsOf(spark, base, v)
        .select(col("c_id").cast("long"), col("vec_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // three manual ticks (foreachBatch bodies are plain calls)
    val slices = vecs.grouped(8).toSeq
    assert(streaming.StreamOps.semdedupIndexMerge(
      slices(0).toDF("vec_id", "embedding"), 0L, base, seeds))
    assert(streaming.StreamOps.semdedupIndexMerge(
      slices(1).toDF("vec_id", "embedding"), 1L, base, seeds))
    // replay of batch 1 is a no-op whatever its content
    val before = idxRows(2L)
    assert(!streaming.StreamOps.semdedupIndexMerge(
      slices(2).toDF("vec_id", "embedding"), 1L, base, seeds))
    assert(idxRows(2L) == before)
    // empty batch leaves a version gap
    assert(!streaming.StreamOps.semdedupIndexMerge(
      Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding"),
      2L, base, seeds))
    assert(sources.Snapshots.versions(spark, base) == Seq(1L, 2L))
    assert(streaming.StreamOps.semdedupIndexMerge(
      slices(2).toDF("vec_id", "embedding"), 3L, base, seeds))
    assert(sources.Snapshots.versions(spark, base) == Seq(1L, 2L, 4L))
    // streamed index == one-shot assignment of the full corpus
    val want = vec.VectorOps.semdedupIndexRollup(all, seeds)
      .select(col("c_id").cast("long"), col("vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(idxRows(4L) == want)
    assert(want.size == 24)
  }

  test("semdedupIndexMerge: a pre-coarse-cell index (partitioned by " +
      "c_id) fails with the migration path, writing nothing") {
    import spark.implicits._
    ext.GraftFunctions.register(spark)
    val base = freshDir() + "/sem_idx_old"
    def emb(i: Long): Array[Float] =
      Array.tabulate(8)(j => (((i * 31 + j * 17) % 13) - 6).toFloat / 6f)
    val vecs = (0L until 12L).map(i => (i, emb(i)))
    val seeds = vecs.take(4).toDF("c_id", "c_emb")
    // the one-dir-per-cluster layout: the rollup without its cc_id
    sources.Snapshots.commitPartitioned(
      vec.VectorOps.semdedupIndexRollup(
        vecs.take(8).toDF("vec_id", "embedding"), seeds).drop("cc_id"),
      base, "c_id")
    val e = intercept[IllegalArgumentException](
      streaming.StreamOps.semdedupIndexMerge(
        vecs.drop(8).toDF("vec_id", "embedding"), 1L, base, seeds))
    assert(e.getMessage.contains(
      "persisted semantic index predates the coarse-cell layout"),
      e.getMessage)
    assert(e.getMessage.contains("re-run the base build"), e.getMessage)
    assert(!e.getMessage.contains("reclusterSem"), e.getMessage)
    assert(sources.Snapshots.versions(spark, base) == Seq(1L))
  }

  test("sf1 replay throughput: minhash band-index ingest") {
    import spark.implicits._
    assume(new java.io.File("/tmp/sf1/documents.parquet").exists(),
      "synthesized sf1 fixture not present (tools/make_sf.py)")
    ext.GraftFunctions.register(spark)
    val sf1Docs = spark.read.parquet("/tmp/sf1/documents.parquet")
      .select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val srcDir = freshDir() + "/docs_mh_sf1"
    val base = freshDir() + "/mh_idx_sf1"
    sf1Docs.grouped((sf1Docs.length + 4) / 5).foreach(sl =>
      sl.toSeq.toDF("doc_id", "text").coalesce(1)
        .write.mode("append").parquet(srcDir))
    val t0 = System.nanoTime()
    val q = spark.readStream
      .schema(sf1Docs.take(1).toSeq.toDF("doc_id", "text").schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir)
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        StreamOps.minhashIndexMerge(b, id, base)
        ()
      }
      .option("checkpointLocation", freshDir())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val iSec = (System.nanoTime() - t0) / 1e9
    assert(sources.Snapshots.versions(spark, base).size == 5)
    val vLatest = sources.Snapshots.latest(spark, base)
    val idxRows = sources.Snapshots.readAsOf(spark, base, vLatest).count()
    // band rows: 4 per doc with >= 3 tokens
    val eligible = spark.read.parquet("/tmp/sf1/documents.parquet")
      .filter(size(split(col("text"), " ")) >= 3).count()
    assert(idxRows == eligible * 4)
    StreamArt.shapes("minhash_index") =
      s"""{"shape":"minhash_index","op":"foreachBatch minhashIndexMerge""" +
        s""" 5 ticks","rows_per_sec":${
          "%.0f".format(sf1Docs.length / iSec)},""" +
        s""""rows":${sf1Docs.length},"seconds":${"%.2f".format(iSec)},""" +
        s""""versions":5,"index_rows":$idxRows,"store":"snapshot"}"""
    StreamArt.write()
    info(s"minhash_index ${"%.0f".format(sf1Docs.length / iSec)} rows/s")
  }

  test("curateStreamMerge: streamed curation equals the one-shot " +
      "kernels; full-tick replays no-op; a partial tick resumes") {
    ext.GraftFunctions.register(spark)
    val srcDir = freshDir() + "/curate_src"
    val base = freshDir() + "/curate"
    val chkDir = freshDir() + "/chk"
    val docs = Tables(spark, sfDir, "documents")
      .select("doc_id", "text", "n_chars")
    val mx = docs.agg(max(col("doc_id"))).head.getLong(0)
    // 3 monotone doc_id slices (curateIngest's append contract)
    def slice(i: Int): org.apache.spark.sql.DataFrame = i match {
      case 0 => docs.filter(col("doc_id") <= mx - 40)
      case 1 => docs.filter(col("doc_id") > mx - 40 &&
        col("doc_id") <= mx - 20)
      case 2 => docs.filter(col("doc_id") > mx - 20)
    }
    def runOnce(): Unit = {
      val q = spark.readStream
        .schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(srcDir)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          StreamOps.curateStreamMerge(b, id, base)
          ()
        }
        .option("checkpointLocation", chkDir)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    def ids(t: String, v: Long): Set[Long] =
      sources.Snapshots.readAsOf(spark, s"$base/$t", v)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    slice(0).coalesce(1).write.mode("append").parquet(srcDir)
    slice(1).coalesce(1).write.mode("append").parquet(srcDir)
    runOnce() // ticks 0,1 -> versions 1,2 on all four stage tables
    for (t <- Seq("quality", "exact", "near", "bands"))
      assert(sources.Snapshots.versions(spark, s"$base/$t")
        == Seq(1L, 2L), s"$t versions after 2 ticks")
    // a re-offered FULLY-committed tick is a pure no-op
    val before = ids("near", 2L)
    assert(!StreamOps.curateStreamMerge(slice(1), 1L, base))
    assert(ids("near", 2L) == before)
    // a tick that crashed BETWEEN stage commits (quality landed, the
    // rest died — simulated by deleting their version-3 markers)
    // resumes on replay: the committed stage skips, the rest
    // recompute against latestBefore reads and commit
    assert(StreamOps.curateStreamMerge(slice(2), 2L, base))
    for (t <- Seq("exact", "near", "bands")) {
      val m = new java.io.File(s"$base/$t/_commits/3")
      assert(m.exists, s"$t v3 marker missing before crash sim")
      assert(m.delete())
    }
    assert(StreamOps.curateStreamMerge(slice(2), 2L, base))
    for (t <- Seq("quality", "exact", "near", "bands"))
      assert(sources.Snapshots.versions(spark, s"$base/$t")
        == Seq(1L, 2L, 3L), s"$t versions after recovery")
    // an empty batch leaves a version gap on every table
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], docs.schema)
    assert(!StreamOps.curateStreamMerge(empty, 3L, base))
    for (t <- Seq("quality", "exact", "near", "bands"))
      assert(sources.Snapshots.versions(spark, s"$base/$t")
        == Seq(1L, 2L, 3L))
    // streamed stage tables == the one-shot declared kernels
    val q1 = text.CurationOps.qualitySignals(docs).filter(col("keep_q"))
      .select(col("doc_id"), col("text"),
        col("n").cast("long").as("n_tokens"))
    val ex = text.CurationOps.exactKeepers(q1)
    val nd = text.CurationOps.nearDupSurvivors(ex, 0.4)
    def kIds(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids("quality", 3L) == kIds(q1), "quality diverges")
    assert(ids("exact", 3L) == kIds(ex), "exact diverges")
    assert(ids("near", 3L) == kIds(nd), "near diverges")
  }

  test("curateStreamMerge with embeddings: the streamed semantic " +
      "stage equals the one-shot; sem-family tables crash-resume") {
    ext.GraftFunctions.register(spark)
    val base = freshDir() + "/curate_sem"
    val oneShot = freshDir() + "/curate_sem_one"
    val docs = Tables(spark, sfDir, "documents")
      .select("doc_id", "text", "n_chars")
    val mx = docs.agg(max(col("doc_id"))).head.getLong(0)
    // the (doc_id, embedding) lookup with PLANTED semantic clones:
    // docs 300-309 copy vectors 0-9 (same batch as their originals),
    // doc mx-5 copies vector 1 (a LATER tick, so its drop must come
    // from the committed cluster index, not a batch-mate)
    val emb = Tables(spark, sfDir, "embeddings")
      .select(col("vec_id").as("doc_id"), col("embedding"))
    // one row per doc_id (the lookup contract, ADVICE r16): drop the
    // planted ids' own base vectors before unioning the clones in
    val embAll = emb
      .filter(col("doc_id") < 300 ||
        (col("doc_id") > 309 && col("doc_id") =!= (mx - 5)))
      .unionByName(emb.filter(col("doc_id") < 10)
        .select((col("doc_id") + 300L).as("doc_id"), col("embedding")))
      .unionByName(emb.filter(col("doc_id") === 1L)
        .select(lit(mx - 5).as("doc_id"), col("embedding")))
    def slice(i: Int): org.apache.spark.sql.DataFrame = i match {
      case 0 => docs.filter(col("doc_id") <= mx - 40)
      case 1 => docs.filter(col("doc_id") > mx - 40 &&
        col("doc_id") <= mx - 20)
      case 2 => docs.filter(col("doc_id") > mx - 20)
    }
    val semTables =
      Seq("quality", "exact", "near", "bands", "sem", "semidx", "semseeds")
    for (i <- 0 until 3)
      StreamOps.curateStreamMerge(slice(i), i.toLong, base, 0.4,
        Some(embAll), 0.3, 8)
    // semseeds froze on the seed tick; the merging tables ticked
    assert(sources.Snapshots.versions(spark, s"$base/semseeds")
      == Seq(1L))
    assert(sources.Snapshots.latest(spark, s"$base/sem") == 3L)
    // crash between stage commits with the SEM stage unfinished:
    // core tables committed, sem family died — the replay resumes it
    for (t <- Seq("sem", "semidx")) {
      val m = new java.io.File(s"$base/$t/_commits/3")
      assert(m.exists, s"$t v3 marker missing before crash sim")
      assert(m.delete())
    }
    assert(StreamOps.curateStreamMerge(slice(2), 2L, base, 0.4,
      Some(embAll), 0.3, 8))
    assert(sources.Snapshots.latest(spark, s"$base/sem") == 3L,
      "sem did not resume")
    assert(sources.Snapshots.latest(spark, s"$base/semidx") == 3L,
      "semidx did not resume")
    // streamed final tables equal the one-shot 4-stage curate
    val oneReport = graft.api.Graft.curate(docs, oneShot, 0.4,
      Some(embAll), 0.3, 8)
      .collect().map(r => r.getString(1) -> r.getLong(4)).toMap
    def tIds(t: String): Set[Long] =
      sources.Snapshots.readAsOf(spark, s"$base/$t", Long.MaxValue)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    def oIds(v: Long): Set[Long] =
      sources.Snapshots.readAsOf(spark, oneShot, v)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(tIds("near") == oIds(oneReport("dedup_near")),
      "streamed near stage diverges")
    assert(tIds("sem") == oIds(oneReport("dedup_semantic")),
      "streamed semantic stage diverges")
    // the planted late clone was dropped by the committed index iff
    // it survived the earlier stages — and its original, being
    // lower-id, always outlives it
    if (tIds("near").contains(mx - 5))
      assert(!tIds("sem").contains(mx - 5),
        "late planted clone survived the semantic stage")
    for (t <- semTables)
      assert(sources.Snapshots.versions(spark, s"$base/$t").nonEmpty,
        s"$t never committed")
  }

  test("curateStreamMerge: a batch below the recorded seed-tick max " +
      "doc_id fires the monotone-id guard; compliant batches do not") {
    import spark.implicits._
    ext.GraftFunctions.register(spark)
    val base = freshDir() + "/mono"
    val docs = Tables(spark, sfDir, "documents")
      .select("doc_id", "text", "n_chars")
    val mx = docs.agg(max(col("doc_id"))).head.getLong(0)
    val embAll = Tables(spark, sfDir, "embeddings")
      .select(col("vec_id").as("doc_id"), col("embedding"))
    // seed tick: the MIDDLE id band — its max becomes the recorded
    // seed_max_id; a compliant higher band then a violating lower one
    val seed = docs.filter(col("doc_id") > 100 && col("doc_id") <= 300)
    val okTick = docs.filter(col("doc_id") > 400)
    // above the seed tick's recorded max but BELOW okTick's max: the
    // running-ingest-max upgrade (ADVICE r17) must catch this too —
    // the seed-tick max alone would let it pass silently
    val gapTick = docs.filter(col("doc_id") > 300 &&
      col("doc_id") <= 400)
    val badTick = docs.filter(col("doc_id") <= 100)
    val before = graft.api.Graft.monotoneWarnings.get()
    StreamOps.curateStreamMerge(seed, 0L, base, 0.4,
      Some(embAll), 0.3, 8)
    assert(sources.Snapshots.latest(spark, s"$base/semseeds") == 1L,
      "seed tick did not freeze seeds — fixture band has no " +
        "embedded survivors")
    StreamOps.curateStreamMerge(okTick, 1L, base, 0.4,
      Some(embAll), 0.3, 8)
    assert(graft.api.Graft.monotoneWarnings.get() == before,
      "compliant batch false-alarmed the monotone-id guard")
    // a replayed compliant tick compares against records strictly
    // below its own version — its own max never false-alarms it
    StreamOps.curateStreamMerge(okTick, 1L, base, 0.4,
      Some(embAll), 0.3, 8)
    assert(graft.api.Graft.monotoneWarnings.get() == before,
      "replayed tick false-alarmed against its own recorded max")
    StreamOps.curateStreamMerge(gapTick, 2L, base, 0.4,
      Some(embAll), 0.3, 8)
    assert(graft.api.Graft.monotoneWarnings.get() == before + 1,
      "out-of-order batch above the seed max but below the running " +
        "ingested max did not fire the guard")
    StreamOps.curateStreamMerge(badTick, 3L, base, 0.4,
      Some(embAll), 0.3, 8)
    assert(graft.api.Graft.monotoneWarnings.get() == before + 2,
      "violating batch did not fire the monotone-id guard")
    // the recorded metadata is the seed set's own max id
    val st = sources.Snapshots.readAsOf(spark, s"$base/semseeds", 1L)
    assert(st.agg(max(col("seed_max_id"))).head.getLong(0) ==
      st.agg(max(col("c_id"))).head.getLong(0))
    // sidecar retention (VERDICT r18 #2): after 5 recorded ticks the
    // running-max dir holds O(1) files (the two newest records), not
    // one per tick — and the guard above still fired on both
    // violations, so retention kept its memory
    // Option-wrap listFiles: null (dir missing) must fail the assert
    // below with its message, not an NPE in filterNot (ADVICE r19)
    val sidecars = Option(new java.io.File(s"$base/_ledger/ingest_max")
      .listFiles()).getOrElse(Array.empty[java.io.File])
      .filterNot(_.getName.startsWith(".")) // local-FS .crc shadows
    assert(sidecars.nonEmpty && sidecars.length <= 2,
      s"ingest_max sidecar dir holds ${sidecars.length} records " +
        "after 5 ticks — retention is not pruning to the two newest")
  }

  test("reclusterSemLedger: pause-recluster-resume — the next tick " +
      "merges on the new seed epoch and equals a one-shot build") {
    ext.GraftFunctions.register(spark)
    val base = freshDir() + "/recluster_ledger"
    val docs = Tables(spark, sfDir, "documents")
      .select("doc_id", "text", "n_chars")
    val mx = docs.agg(max(col("doc_id"))).head.getLong(0)
    val embAll = Tables(spark, sfDir, "embeddings")
      .select(col("vec_id").as("doc_id"), col("embedding"))
    def slice(i: Int): org.apache.spark.sql.DataFrame = i match {
      case 0 => docs.filter(col("doc_id") <= mx - 40)
      case 1 => docs.filter(col("doc_id") > mx - 40 &&
        col("doc_id") <= mx - 20)
      case 2 => docs.filter(col("doc_id") > mx - 20)
    }
    // ticks 0-1, then stop at the tick boundary
    for (i <- 0 to 1)
      StreamOps.curateStreamMerge(slice(i), i.toLong, base, 0.4,
        Some(embAll), 0.3, 8)
    // ledger-mode rebuild pinned at the last completed tick's version
    val v = graft.api.Graft.reclusterSemLedger(spark, base, embAll, 1L)
    assert(v == 2L)
    // the reset left EXACTLY one version on each semantic table, in
    // the tick version space
    assert(sources.Snapshots.versions(spark, s"$base/semseeds")
      == Seq(2L))
    assert(sources.Snapshots.versions(spark, s"$base/semidx")
      == Seq(2L))
    // rebuilt seeds = the tau-rule set over today's embedded
    // stage-3 survivors (k lowest ids), not the old semK seed tick
    val ne1 = sources.Snapshots
      .readAsOf(spark, s"$base/near", Long.MaxValue)
      .select("doc_id").join(embAll, Seq("doc_id"))
      .localCheckpoint()
    val n1 = ne1.count()
    val k = math.max(8L, math.ceil(n1.toDouble / 100.0).toLong)
    val seedT = sources.Snapshots
      .readAsOf(spark, s"$base/semseeds", 2L).localCheckpoint()
    assert(seedT.count() == math.min(k, n1))
    // the guard metadata: every seed row carries the rebuilt set's max
    assert(seedT.agg(max(col("seed_max_id"))).head.getLong(0) ==
      seedT.agg(max(col("c_id"))).head.getLong(0))
    assert(seedT.select("c_id").collect().map(_.getLong(0)).toSet ==
      ne1.select("doc_id").orderBy(col("doc_id")).limit(k.toInt)
        .collect().map(_.getLong(0)).toSet)
    def idxSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
      df.select(col("cc_id").cast("long"), col("c_id"), col("vec_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
    val seeds = seedT.select(col("c_id"), col("c_emb"))
    assert(idxSet(sources.Snapshots.readAsOf(spark, s"$base/semidx", 2L))
      == idxSet(vec.VectorOps.semdedupIndexRollup(
        ne1.select(col("doc_id").as("vec_id"), col("embedding")),
        seeds)),
      "rebuilt semidx diverges from a from-scratch build on the " +
        "new seeds")
    // resume: the next tick commits strictly ahead of the rebuild
    assert(StreamOps.curateStreamMerge(slice(2), 2L, base, 0.4,
      Some(embAll), 0.3, 8))
    assert(sources.Snapshots.latest(spark, s"$base/semidx") == 3L,
      "post-rebuild tick did not merge the semantic index")
    // streamed ≡ one-shot on the new epoch: the merged index equals
    // assigning ALL embedded survivors (ticks 0-2) against the new
    // seeds at once
    val neAll = sources.Snapshots
      .readAsOf(spark, s"$base/near", Long.MaxValue)
      .select("doc_id").join(embAll, Seq("doc_id"))
      .localCheckpoint()
    val wantIdx3 = vec.VectorOps.semdedupIndexRollup(
      neAll.select(col("doc_id").as("vec_id"), col("embedding")),
      seeds).localCheckpoint()
    assert(idxSet(sources.Snapshots.readAsOf(spark, s"$base/semidx", 3L))
      == idxSet(wantIdx3),
      "streamed post-rebuild index diverges from the one-shot build")
    // the tick-2 sem/ keep decisions follow the NEW clustering: a
    // batch doc drops iff a lower-id embedded survivor shares its
    // new-epoch cluster at rounded cosine >= 0.3
    val cluster = wantIdx3.select(col("vec_id"), col("c_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val vecs = neAll.select(col("doc_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def fdot(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    def r4(x: Double): Double =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val near3 = sources.Snapshots
      .readAsOf(spark, s"$base/near", Long.MaxValue)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val sem3 = sources.Snapshots
      .readAsOf(spark, s"$base/sem", Long.MaxValue)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    for (d <- near3 if d > mx - 20) {
      val kept =
        if (!cluster.contains(d)) true // unembedded: pass-through
        else !cluster.keys.exists(a => a < d &&
          cluster(a) == cluster(d) && r4(fdot(vecs(a), vecs(d))) >= 0.3)
      assert(sem3.contains(d) == kept,
        s"tick-2 doc $d kept=${sem3.contains(d)}, expected $kept " +
          "under the new seed epoch")
    }
  }

  test("reclusterSemLedger: a crash between the two commits " +
      "converges on re-run with the same lastBatchId") {
    ext.GraftFunctions.register(spark)
    val base = freshDir() + "/recluster_crash"
    val docs = Tables(spark, sfDir, "documents")
      .select("doc_id", "text", "n_chars")
    val mx = docs.agg(max(col("doc_id"))).head.getLong(0)
    val embAll = Tables(spark, sfDir, "embeddings")
      .select(col("vec_id").as("doc_id"), col("embedding"))
    StreamOps.curateStreamMerge(docs.filter(col("doc_id") <= mx - 20),
      0L, base, 0.4, Some(embAll), 0.3, 8)
    StreamOps.curateStreamMerge(docs.filter(col("doc_id") > mx - 20),
      1L, base, 0.4, Some(embAll), 0.3, 8)
    val v = graft.api.Graft.reclusterSemLedger(spark, base, embAll, 1L)
    def rows(t: String): Set[(Long, Long)] =
      sources.Snapshots.readAsOf(spark, s"$base/$t", Long.MaxValue)
        .select(col("c_id"), col("vec_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = rows("semidx")
    // crash simulation: the second commit (semidx) never happened —
    // the documented recovery is a re-run with the same lastBatchId
    // (deterministic derivation + idempotent reset)
    val p = new org.apache.hadoop.fs.Path(s"$base/semidx")
    val fsys = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fsys.delete(p, true))
    val v2 = graft.api.Graft.reclusterSemLedger(spark, base, embAll, 1L)
    assert(v2 == v && v2 == 2L)
    assert(sources.Snapshots.versions(spark, s"$base/semseeds")
      == Seq(2L))
    assert(sources.Snapshots.versions(spark, s"$base/semidx")
      == Seq(2L))
    assert(rows("semidx") == want,
      "re-run rebuilt a different index from the same corpus")
  }

  test("curateStreamMerge fails loudly when a second writer " +
      "committed to semseeds") {
    ext.GraftFunctions.register(spark)
    val base = freshDir() + "/recluster_collision"
    val docs = Tables(spark, sfDir, "documents")
      .select("doc_id", "text", "n_chars")
    val mx = docs.agg(max(col("doc_id"))).head.getLong(0)
    val embAll = Tables(spark, sfDir, "embeddings")
      .select(col("vec_id").as("doc_id"), col("embedding"))
    StreamOps.curateStreamMerge(docs.filter(col("doc_id") <= mx - 20),
      0L, base, 0.4, Some(embAll), 0.3, 8)
    // a foreign writer's optimistic commit lands a second semseeds
    // version in the next tick's slot
    val dT = s"$base/semseeds"
    assert(sources.Snapshots.commit(
      sources.Snapshots.readAsOf(spark, dT, 1L).localCheckpoint(),
      dT) == 2L)
    val e = intercept[IllegalArgumentException](
      StreamOps.curateStreamMerge(docs.filter(col("doc_id") > mx - 20),
        1L, base, 0.4, Some(embAll), 0.3, 8))
    assert(e.getMessage.contains("second writer"), e.getMessage)
    assert(e.getMessage.contains("reclusterSemLedger"),
      s"guard message lacks the rebuild path: ${e.getMessage}")
  }

  test("Graft.curateStream facade: the attached query seeds and " +
      "maintains the stage tables") {
    ext.GraftFunctions.register(spark)
    val srcDir = freshDir() + "/facade_src"
    val base = freshDir() + "/facade_curate"
    val docs = Tables(spark, sfDir, "documents")
      .select("doc_id", "text", "n_chars")
    docs.coalesce(1).write.parquet(srcDir)
    val q = graft.api.Graft.curateStream(
      spark.readStream.schema(docs.schema).parquet(srcDir),
      base, freshDir() + "/chk")
    q.processAllAvailable()
    q.stop()
    for (t <- Seq("quality", "exact", "near", "bands"))
      assert(sources.Snapshots.latest(spark, s"$base/$t") == 1L,
        s"$t not seeded at version 1")
    val gotQ = sources.Snapshots.readAsOf(spark, s"$base/quality", 1L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val wantQ = text.CurationOps.qualitySignals(docs)
      .filter(col("keep_q"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(gotQ == wantQ)
  }

  test("sf1m replay throughput: streaming curation pipeline") {
    import spark.implicits._
    // the MUTATED fixture, not the clone union: on byte-identical
    // clones every tick after the first is 100% already-seen hashes,
    // so the exact/near/bands stages correctly leave version gaps
    // forever (asserted semantics, useless throughput evidence);
    // mutated clones carry fresh hashes and a realistic Jaccard
    // spectrum, so every stage works every tick
    assume(new java.io.File("/tmp/sf1m/documents.parquet").exists(),
      "synthesized sf1m fixture not present (tools/make_sf.py --mutate)")
    ext.GraftFunctions.register(spark)
    val srcDir = freshDir() + "/curate_sf1_src"
    val base = freshDir() + "/curate_sf1"
    // 5 doc_id-ordered slices so ticks honor the append contract
    val rows = spark.read.parquet("/tmp/sf1m/documents.parquet")
      .select("doc_id", "text", "n_chars")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .sortBy(_._1)
    rows.grouped((rows.length + 4) / 5).foreach(sl =>
      sl.toSeq.toDF("doc_id", "text", "n_chars").coalesce(1)
        .write.mode("append").parquet(srcDir))
    val t0 = System.nanoTime()
    val q = spark.readStream
      .schema(rows.take(1).toSeq
        .toDF("doc_id", "text", "n_chars").schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir)
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        StreamOps.curateStreamMerge(b, id, base)
        ()
      }
      .option("checkpointLocation", freshDir())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val iSec = (System.nanoTime() - t0) / 1e9
    for (t <- Seq("quality", "exact", "near", "bands"))
      assert(sources.Snapshots.versions(spark, s"$base/$t").size == 5,
        s"$t did not commit all 5 ticks")
    val nQ = sources.Snapshots.readAsOf(spark, s"$base/quality",
      sources.Snapshots.latest(spark, s"$base/quality")).count()
    val nN = sources.Snapshots.readAsOf(spark, s"$base/near",
      sources.Snapshots.latest(spark, s"$base/near")).count()
    assert(nQ > 0L && nN > 0L && nN <= nQ)
    StreamArt.shapes("curate") =
      s"""{"shape":"curate","op":"foreachBatch curateStreamMerge""" +
        s""" 5 ticks (quality+exact+near+bands)","rows_per_sec":${
          "%.0f".format(rows.length / iSec)},""" +
        s""""rows":${rows.length},"seconds":${"%.2f".format(iSec)},""" +
        s""""versions":5,"quality_docs":$nQ,"near_docs":$nN,""" +
        s""""fixture":"sf1m","store":"snapshot"}"""
    StreamArt.write()
    info(s"curate ${"%.0f".format(rows.length / iSec)} rows/s")
  }

  test("sf1m replay throughput: streaming curation with the " +
      "semantic fourth stage (7 tables per tick)") {
    import spark.implicits._
    assume(new java.io.File("/tmp/sf1m/documents.parquet").exists(),
      "synthesized sf1m fixture not present (tools/make_sf.py --mutate)")
    ext.GraftFunctions.register(spark)
    val srcDir = freshDir() + "/curate_sem_sf1_src"
    val base = freshDir() + "/curate_sem_sf1"
    val rows = spark.read.parquet("/tmp/sf1m/documents.parquet")
      .select("doc_id", "text", "n_chars")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .sortBy(_._1)
    rows.grouped((rows.length + 4) / 5).foreach(sl =>
      sl.toSeq.toDF("doc_id", "text", "n_chars").coalesce(1)
        .write.mode("append").parquet(srcDir))
    // the static (doc_id, embedding) lookup: the fixture's mutated
    // embeddings keyed by doc_id (covers 20k of the 50k docs)
    val embAll = spark.read.parquet("/tmp/sf1m/embeddings.parquet")
      .select(col("vec_id").as("doc_id"), col("embedding"))
    val t0 = System.nanoTime()
    val q = spark.readStream
      .schema(rows.take(1).toSeq
        .toDF("doc_id", "text", "n_chars").schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir)
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        StreamOps.curateStreamMerge(b, id, base, 0.4, Some(embAll))
        ()
      }
      .option("checkpointLocation", freshDir())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val iSec = (System.nanoTime() - t0) / 1e9
    for (t <- Seq("quality", "exact", "near", "bands", "sem"))
      assert(sources.Snapshots.versions(spark, s"$base/$t").size == 5,
        s"$t did not commit all 5 ticks")
    assert(sources.Snapshots.versions(spark, s"$base/semseeds")
      == Seq(1L), "seeds must freeze once")
    val nN = sources.Snapshots.readAsOf(spark, s"$base/near",
      sources.Snapshots.latest(spark, s"$base/near")).count()
    val nS = sources.Snapshots.readAsOf(spark, s"$base/sem",
      sources.Snapshots.latest(spark, s"$base/sem")).count()
    val nI = sources.Snapshots.readAsOf(spark, s"$base/semidx",
      sources.Snapshots.latest(spark, s"$base/semidx")).count()
    assert(nS > 0L && nS <= nN, "sem must be a subset of near")
    assert(nI > 0L, "cluster index never populated")
    StreamArt.shapes("curate_sem") =
      s"""{"shape":"curate_sem","op":"foreachBatch curateStreamMerge""" +
        s""" 5 ticks (quality+exact+near+bands+sem+semidx+semseeds)",""" +
        s""""rows_per_sec":${"%.0f".format(rows.length / iSec)},""" +
        s""""rows":${rows.length},"seconds":${"%.2f".format(iSec)},""" +
        s""""versions":5,"near_docs":$nN,"sem_docs":$nS,""" +
        s""""index_rows":$nI,"fixture":"sf1m","store":"snapshot"}"""
    StreamArt.write()
    info(s"curate_sem ${"%.0f".format(rows.length / iSec)} rows/s " +
      s"(near $nN -> sem $nS, index $nI)")
  }

  test("sf1m replay: curate tick-size sweep — fewer, larger ticks " +
      "amortize the commit-bound tail (VERDICT r16 #6)") {
    import spark.implicits._
    assume(new java.io.File("/tmp/sf1m/documents.parquet").exists(),
      "synthesized sf1m fixture not present (tools/make_sf.py --mutate)")
    ext.GraftFunctions.register(spark)
    val rows = spark.read.parquet("/tmp/sf1m/documents.parquet")
      .select("doc_id", "text", "n_chars")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .sortBy(_._1)
    // TickProbe attributed 31-41% of every tick to the commit write
    // sites; the identified lever is the CALLER's trigger size. This
    // sweep measures it: the same 50k-doc mutated corpus replayed as
    // 20, 5, and 1 tick(s) — identical final tables (monotone-id
    // ticks compose), different commit counts.
    def runAt(nTicks: Int): (Double, Long) = {
      val srcDir = freshDir() + s"/curate_sweep_src_$nTicks"
      val base = freshDir() + s"/curate_sweep_$nTicks"
      rows.grouped((rows.length + nTicks - 1) / nTicks).foreach(sl =>
        sl.toSeq.toDF("doc_id", "text", "n_chars").coalesce(1)
          .write.mode("append").parquet(srcDir))
      val t0 = System.nanoTime()
      val q = spark.readStream
        .schema(rows.take(1).toSeq
          .toDF("doc_id", "text", "n_chars").schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(srcDir)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          StreamOps.curateStreamMerge(b, id, base)
          ()
        }
        .option("checkpointLocation", freshDir())
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val iSec = (System.nanoTime() - t0) / 1e9
      assert(sources.Snapshots.versions(spark, s"$base/quality")
        .size == nTicks, s"expected $nTicks quality ticks")
      val nN = sources.Snapshots.readAsOf(spark, s"$base/near",
        sources.Snapshots.latest(spark, s"$base/near")).count()
      (iSec, nN)
    }
    val sweep = Seq(20, 5, 1).map(n => n -> runAt(n))
    // identical outputs across trigger sizes — the sweep varies cost
    // only; any row delta would mean tick composition is broken
    assert(sweep.map(_._2._2).distinct.size == 1,
      s"near-survivor counts diverged across tick sizes: $sweep")
    // per-tick overhead from the endpoints: the commit-bound share
    // the caller's trigger choice controls
    val t20 = sweep.head._2._1; val t1 = sweep.last._2._1
    val perTick = (t20 - t1) / 19.0
    val sizesJson = sweep.map { case (n, (sec, _)) =>
      s"""{"ticks":$n,"docs_per_tick":${rows.length / n},""" +
        s""""rows_per_sec":${"%.0f".format(rows.length / sec)},""" +
        s""""seconds":${"%.2f".format(sec)}}"""
    }.mkString("[", ",", "]")
    StreamArt.shapes("curate_trigger") =
      s"""{"shape":"curate_trigger","op":"foreachBatch """ +
        s"""curateStreamMerge trigger-size sweep (4 tables)",""" +
        s""""rows_per_sec":${
          "%.0f".format(rows.length / sweep.last._2._1)},""" +
        s""""sizes":$sizesJson,"per_tick_overhead_sec":${
          "%.2f".format(perTick)},""" +
        s""""fixture":"sf1m","store":"snapshot"}"""
    StreamArt.write()
    info(sweep.map { case (n, (sec, _)) =>
      s"$n ticks: ${"%.0f".format(rows.length / sec)} rows/s"
    }.mkString("; ") + s"; per-tick overhead ${"%.2f".format(perTick)} s")
  }
}
