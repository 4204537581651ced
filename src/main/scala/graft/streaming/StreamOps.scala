package graft.streaming

import graft.ga.GaSessions.GapUs
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

import java.sql.Timestamp

/** Structured Streaming surface (SURVEY.md §2.12): the `events` hit
  * stream replayed as an unbounded source. GA's product model is
  * streaming (hits arrive, reports update); the reference consumes
  * batch report snapshots, so these ops are engine parity plus the
  * scale path — each transform below is the incremental version of a
  * declared batch query, and the tests assert stream-until-end
  * equals the batch result on the same data.
  *
  * Scale shape: every stateful op keys state by (window, type) or
  * user_id, stored in the executor StateStore and evicted by the
  * event-time watermark — state is bounded by active keys within the
  * watermark horizon, not by stream length.
  */
object StreamOps {

  /** The events table replayed as a file-based stream (schema fixed
    * from the batch read; ns epoch -> µs timestamp like Tables.events). */
  def replay(spark: SparkSession, sfDir: String): DataFrame = {
    // events.ts is Parquet TIMESTAMP(NANOS) — same defensive conf as
    // Tables.events, so replay works in any session
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$sfDir/events.parquet"
    val schema = spark.read.parquet(path).schema
    // the file stream source wants a directory: when events.parquet is
    // itself a directory of part files stream it directly; when it is
    // a single file (the fixture layout), stream the parent with a
    // basename glob — a glob against a directory layout would match
    // nothing and silently yield an empty stream
    val reader = spark.readStream.schema(schema)
    val stream =
      if (new java.io.File(path).isDirectory) reader.parquet(path)
      else reader.option("pathGlobFilter", "events.parquet").parquet(sfDir)
    graft.Tables.normalizeTs(stream)
  }

  /** Tumbling 1-hour counts per event_type, 10-minute watermark —
    * streaming twin of the declared `window_tumbling` query. */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("total_value"))
      .select(unix_micros(col("window.start")).as("hour_start_us"),
        col("event_type"), col("n_events"), col("total_value"))

  /** Sliding 1-hour window every 30 minutes. */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(unix_micros(col("window.start")).as("win_start_us"),
        col("event_type"), col("n_events"))

  /** Native session windows (30-min gap) per user — streaming twin of
    * the declared `session_window` query. */
  def sessionCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("n_events"))

  /** Stream-static enrichment: join the hit stream to a static
    * dimension (broadcast per micro-batch — the static side is
    * re-planned each trigger, so dimension updates are picked up). */
  def enrich(events: DataFrame, dim: DataFrame,
      joinKey: String): DataFrame =
    events.join(broadcast(dim), Seq(joinKey), "left")

  /** Stream-stream self-join with event-time range: each purchase
    * matched to same-user signups in the preceding 2 hours. Both
    * sides carry watermarks so the join state (buffered unmatched
    * rows) is evicted once the range condition can no longer match —
    * the only shape under which stream-stream join state stays
    * bounded at 100 TB. */
  def signupPurchaseJoin(events: DataFrame): DataFrame = {
    val signups = events
      .filter(col("event_type") === "signup")
      .select(col("user_id").as("s_user"), col("ts").as("signup_ts"))
      .withWatermark("signup_ts", "1 hour")
    val purchases = events
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("purchase_ts"),
        col("event_id"), col("value"))
      .withWatermark("purchase_ts", "1 hour")
    purchases.join(signups,
      expr("""user_id = s_user
              AND purchase_ts >= signup_ts
              AND purchase_ts <= signup_ts + INTERVAL 2 HOURS"""))
      .select(col("event_id"), col("user_id"),
        unix_micros(col("signup_ts")).as("signup_us"),
        unix_micros(col("purchase_ts")).as("purchase_us"))
  }

  /** The documents table replayed as a file-based stream — the
    * ingest-side twin of [[replay]] for corpus-curation shapes. */
  def replayDocs(spark: SparkSession, sfDir: String): DataFrame = {
    val path = s"$sfDir/documents.parquet"
    val schema = spark.read.parquet(path).schema
    val reader = spark.readStream.schema(schema)
    if (new java.io.File(path).isDirectory) reader.parquet(path)
    else reader.option("pathGlobFilter", "documents.parquet").parquet(sfDir)
  }

  /** Streaming decontamination screen — `contamination_bloom`'s
    * prefilter as an ingest-time gate: every arriving document is
    * flagged when any of its hashed 8-grams MIGHT be in a bloom
    * filter compiled (in batch) from the static eval/reference
    * corpus. The screen is a STATELESS row-local map — no state
    * store, no watermark, no shuffle — so it runs at scan throughput
    * and is exactly the shape a 100 TB crawl ingest wants: quarantine
    * probable hits at the door (no false negatives by bloom
    * construction; fpp-rate false positives go to a cheaper exact
    * recheck downstream, which is the batch `contamination_bloom`
    * join). The bloom bytes ride the plan as a literal, shipped once
    * per task binary like a broadcast. */
  def contaminationScreen(docs: DataFrame, bloom: Array[Byte]): DataFrame =
    docs
      .withColumn("toks", split(col("text"), " "))
      .withColumn("bl", lit(bloom))
      .select(col("doc_id"), col("source"),
        when(size(col("toks")) >= 8, expr(
          """exists(
               transform(sequence(0, size(toks) - 8),
                 i -> xxhash64(concat_ws(' ', slice(toks, i + 1, 8)))),
               h -> bloom_contains(bl, h))"""))
          .otherwise(lit(false)).as("flagged"))

  /** Stateful exact dedup on event_id within the watermark horizon. */
  def dedup(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark(Seq("event_id"))

  // ---- arbitrary stateful sessionization (flatMapGroupsWithState) ----

  case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)

  case class SessionState(startUs: Long, lastUs: Long, n: Long, value: Double)

  case class SessionOut(user_id: Long, start_us: Long, end_us: Long,
      n_events: Long, session_value: Double)

  /** µs since epoch; Timestamp.getTime is ms-truncated, sub-ms lives
    * in getNanos. */
  private def tsUs(t: Timestamp): Long =
    math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

  /** Gap-session fold shared by both stateful implementations:
    * returns (closed sessions emitted this batch, open session). */
  private def foldSessions(userId: Long, sorted: Seq[Ev],
      start: Option[SessionState]): (Seq[SessionOut], Option[SessionState]) = {
    var cur = start
    val closed = Seq.newBuilder[SessionOut]
    for (e <- sorted) {
      val eUs = tsUs(e.ts)
      cur match {
        case Some(s) if eUs - s.lastUs > GapUs =>
          closed += SessionOut(userId, s.startUs, s.lastUs, s.n, s.value)
          cur = Some(SessionState(eUs, eUs, 1L, e.value))
        case Some(s) =>
          cur = Some(SessionState(s.startUs, eUs, s.n + 1, s.value + e.value))
        case None =>
          cur = Some(SessionState(eUs, eUs, 1L, e.value))
      }
    }
    (closed.result(), cur)
  }

  /** Custom sessionization with explicit state: 30-min gap splits
    * inside a micro-batch; event-time timeout (watermark past
    * last-event + gap) closes a session across batches. Emits only
    * CLOSED sessions (append semantics) — the arbitrary-state
    * extension point the built-in session_window can't cover (e.g.
    * per-session custom payloads). */
  def sessionizeStateful(events: Dataset[Ev]): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "0 seconds")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, evs: Iterator[Ev], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(SessionOut(userId, s.startUs, s.lastUs, s.n, s.value))
          } else {
            val sorted = evs.toSeq.sortBy(e => (tsUs(e.ts), e.event_id))
            val (closed, cur) = foldSessions(userId, sorted, state.getOption)
            cur.foreach { s =>
              state.update(s)
              // close when watermark passes last event + gap
              state.setTimeoutTimestamp((s.lastUs + GapUs) / 1000L)
            }
            closed.iterator
          }
      }
  }

  // ---- transformWithState variant (Spark 4 arbitrary-state API) ----

  /** Same closed-session semantics as [[sessionizeStateful]], on the
    * transformWithState API: typed ValueState handle + explicit
    * event-time timers (re-registered as the session extends; stale
    * timers are ignored by re-checking the session's true expiry).
    * Requires the RocksDB state store provider. */
  class SessionProcessor extends StatefulProcessor[Long, Ev, SessionOut] {
    @transient private var state: ValueState[SessionState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[SessionState](
        "session", Encoders.product[SessionState], TTLConfig.NONE)

    override def handleInputRows(userId: Long, rows: Iterator[Ev],
        timerValues: TimerValues): Iterator[SessionOut] = {
      val sorted = rows.toSeq.sortBy(e => (tsUs(e.ts), e.event_id))
      val prior = if (state.exists()) Some(state.get()) else None
      val (closed, cur) = foldSessions(userId, sorted, prior)
      cur.foreach { s =>
        state.update(s)
        getHandle.registerTimer((s.lastUs + GapUs) / 1000L)
      }
      closed.iterator
    }

    override def handleExpiredTimer(userId: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[SessionOut] = {
      if (!state.exists()) return Iterator.empty
      val s = state.get()
      // a timer registered before the session was extended fires
      // early — only close when this timer IS the session's expiry
      if (expiredTimerInfo.getExpiryTimeInMs >= (s.lastUs + GapUs) / 1000L) {
        state.clear()
        Iterator(SessionOut(userId, s.startUs, s.lastUs, s.n, s.value))
      } else Iterator.empty
    }
  }

  def sessionizeTws(events: Dataset[Ev]): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "0 seconds")
      .groupByKey(_.user_id)
      .transformWithState(new SessionProcessor,
        TimeMode.EventTime(), OutputMode.Append())
  }

  // ---- streaming funnel (transformWithState + deadline timer) ----

  /** Per-user funnel progress: -1 = step not reached. `emitted`
    * marks a completed funnel; the state row then lives on as a
    * tombstone until its deadline timer fires, so in-deadline events
    * can't restart it. AFTER the timer clears the state, a later view
    * starts a NEW funnel — recurring-funnel semantics, deliberately:
    * an all-time tombstone would grow state with every user ever
    * seen, which an unbounded stream can't afford (state must stay
    * ∝ users inside the deadline horizon). Over a window shorter
    * than the deadline this reduces to one funnel per user — the
    * regime the batch-equivalence test pins. */
  case class FunnelState(viewUs: Long, clickUs: Long, purchaseUs: Long,
      emitted: Boolean)

  /** One row per resolved funnel: steps = 1 (view only) / 2 (+click)
    * / 3 (completed, `completed_us` = the purchase time; -1 for
    * abandoned funnels emitted by the deadline timer). */
  case class FunnelOut(user_id: Long, first_view_us: Long, steps: Int,
      completed_us: Long)

  /** Conversion deadline: a funnel must complete within 7 days of
    * its first view or it is emitted as abandoned. */
  val FunnelDeadlineUs: Long = 7L * 86400L * 1000000L

  /** Streaming 3-step funnel (view → click → purchase, strictly
    * increasing event time, deadline-bounded) with explicit state
    * and an event-time TIMEOUT — the shape `mapGroupsWithState`-era
    * funnels needed a session hack for: completion emits
    * immediately mid-stream, abandonment emits when the watermark
    * passes the first view's deadline (the timer), and the state for
    * resolved funnels is a tombstone that blocks restarts.
    *
    * Scale: state is one fixed-width row per user inside the
    * deadline horizon; the timer count equals open funnels. At
    * 100 TB/day the key space shards across executors by user hash —
    * no operator sees more than its shard's open funnels (RocksDB
    * state store, same as the sessionizer). Late data beyond the
    * watermark is dropped by the runtime — same contract as every
    * watermarked shape here. */
  class FunnelProcessor extends StatefulProcessor[Long, Ev, FunnelOut] {
    @transient private var state: ValueState[FunnelState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[FunnelState](
        "funnel", Encoders.product[FunnelState], TTLConfig.NONE)

    override def handleInputRows(userId: Long, rows: Iterator[Ev],
        timerValues: TimerValues): Iterator[FunnelOut] = {
      val sorted = rows.toSeq.sortBy(e => (tsUs(e.ts), e.event_id))
      var st =
        if (state.exists()) state.get()
        else FunnelState(-1L, -1L, -1L, emitted = false)
      val out = Seq.newBuilder[FunnelOut]
      for (e <- sorted if !st.emitted) {
        val us = tsUs(e.ts)
        e.event_type match {
          case "view" if st.viewUs < 0 =>
            st = st.copy(viewUs = us)
            getHandle.registerTimer((us + FunnelDeadlineUs) / 1000L)
          case "click" if st.viewUs >= 0 && st.clickUs < 0 &&
              us > st.viewUs && us <= st.viewUs + FunnelDeadlineUs =>
            st = st.copy(clickUs = us)
          case "purchase" if st.clickUs >= 0 && st.purchaseUs < 0 &&
              us > st.clickUs && us <= st.viewUs + FunnelDeadlineUs =>
            st = st.copy(purchaseUs = us, emitted = true)
            out += FunnelOut(userId, st.viewUs, 3, us)
          case _ =>
        }
      }
      if (st.viewUs >= 0) state.update(st)
      out.result().iterator
    }

    override def handleExpiredTimer(userId: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[FunnelOut] = {
      if (!state.exists()) return Iterator.empty
      val st = state.get()
      if (st.emitted) { state.clear(); return Iterator.empty }
      // only the timer matching the (sole) first view's deadline
      // resolves the funnel — a stale timer can't exist here (the
      // first view never moves), but keep the sessionizer's guard
      if (expiredTimerInfo.getExpiryTimeInMs >=
          (st.viewUs + FunnelDeadlineUs) / 1000L) {
        state.clear()
        val steps = if (st.clickUs >= 0) 2 else 1
        Iterator(FunnelOut(userId, st.viewUs, steps, -1L))
      } else Iterator.empty
    }
  }

  /** The funnel stream: filter to the three step types BEFORE the
    * watermark/shuffle (anything else never reaches state). */
  def funnelTws(events: Dataset[Ev]): Dataset[FunnelOut] = {
    import events.sparkSession.implicits._
    events
      .filter(e => e.event_type == "view" || e.event_type == "click" ||
        e.event_type == "purchase")
      .withWatermark("ts", "0 seconds")
      .groupByKey(_.user_id)
      .transformWithState(new FunnelProcessor,
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Streaming incremental exact-dedup index maintenance — the
    * `dedup_append` merge as a `foreachBatch` body: each arriving
    * micro-batch of documents rolls up its (md5 → keeper, count)
    * rows and merges them into ONLY the touched hash-prefix
    * partitions of the persisted snapshot index (batch 0 seeds the
    * table with `commitPartitioned`; later batches
    * `commitPartitions`-merge with keeper = least, n = sum — the
    * associative merge that makes the streamed index row-identical
    * to hashing all batches at once, which StreamingSpec asserts).
    *
    * Exactly-once across restarts via the version ledger: batch i
    * commits AT version i+1 (`commitPartitionedAs` /
    * `commitPartitionsAs`, `commitAs`'s partitioned twins), so a
    * replayed batch — Structured Streaming re-offers the last batch
    * when the snapshot committed but the checkpoint write was lost —
    * finds its version already marked and returns false without
    * touching the table. EMPTY batches commit nothing and leave a
    * version-number GAP (the fixed-version API allows sparse
    * versions; an empty replay is trivially a no-op), so an empty
    * first batch can never wedge the seed — the first NON-empty
    * batch seeds the table whatever its batchId. The rollup and the
    * keeper/count merge are `dedup_append`'s own kernel
    * (CurationOps.dedupIndexRollup / dedupIndexMergeFrames), so the
    * streamed index cannot drift from the batch op.
    *
    * Scale: this is the rolling-crawl ingest loop running
    * continuously — per tick, write amplification is O(touched hash
    * prefixes), the index rows are ~50 B regardless of doc size, and
    * no document text persists anywhere in the index.
    *
    * CAVEAT — the checkpoint and the snapshot table are COUPLED: the
    * version ledger maps batch i ↔ version i+1, and batch ids come
    * from the streaming CHECKPOINT. Deleting/resetting the checkpoint
    * while the snapshot table survives restarts batchIds at 0, so
    * genuinely NEW batches land on already-marked versions and are
    * silently skipped as "replays". [[replayGuard]] detects the
    * signature of that state (a version hit FAR below the table's
    * latest — a true re-offered batch is always the latest version)
    * and logs a warning; reset both together, or neither.
    *
    * @return true when the batch committed, false on a replay or
    *         empty-batch no-op. */
  def dedupIndexMerge(batch: DataFrame, batchId: Long,
      base: String): Boolean = {
    import graft.sources.Snapshots
    import graft.text.CurationOps
    val s = batch.sparkSession
    val v = batchId + 1
    if (Snapshots.versionExists(s, base, v)) {
      replayGuard(s, base, v, "dedupIndexMerge"); false // replay no-op
    }
    else if (batch.isEmpty) false // nothing to apply; v stays a gap
    else {
      val b = CurationOps.dedupIndexRollup(batch)
        .localCheckpoint() // 2 consumers: touched semi + merge
      val prevV = Snapshots.latest(s, base)
      if (prevV == 0L)
        Snapshots.commitPartitionedAs(clustered(b, "hp"), base, "hp", v)
      else Snapshots.commitPartitionsAs(
        clustered(CurationOps.dedupIndexMergeFrames(
          Snapshots.readAsOf(s, base, prevV), b), "hp"),
        base, "hp", v)
    }
  }

  /** One file per hive partition per version: hash-repartition a tick
    * frame by its partition column before the partitioned write —
    * unclustered, partitionBy writes up to #tasks tiny files per
    * partition per commit and successive versions compound the file
    * count every pruned read lists (TickProbe measured the
    * maintainers commit-bound; `Snapshots.appendPartitions` clusters
    * appends the same way). The exchange moves only the tick's
    * touched-partition rows. */
  private def clustered(rows: DataFrame, partCol: String): DataFrame =
    rows.repartition(org.apache.spark.sql.functions.col(partCol))

  /** Streaming incremental MinHash-LSH band-index maintenance — the
    * `minhash_append` merge as a `foreachBatch` body, completing the
    * lifecycle symmetry with [[dedupIndexMerge]] (exact) and
    * [[semdedupIndexMerge]] (semantic): each arriving micro-batch of
    * documents rolls up its (pb, doc_id, band, bk) band rows —
    * signatures are pure functions of a doc's own text, so
    * batch-isolated signatures ARE the full-corpus signatures — and
    * merges them into ONLY the touched (band, bk mod 16) partitions
    * of the persisted snapshot index (`Snapshots.appendPartitionsAs`
    * seeds the table on the first batch with band rows and appends
    * later ones). The rollup and the append are `minhash_append`'s
    * own (SimilarityOps.minhashIndexRollup, appendPartitions), so the
    * streamed index cannot drift from the batch op — StreamingSpec
    * asserts streamed ≡ one-shot.
    *
    * Exactly-once, empty-batch gaps, and the checkpoint–table
    * coupling caveat are IDENTICAL to [[dedupIndexMerge]] (batch i ↔
    * version i+1; see its scaladoc). One extra no-op case: a
    * non-empty batch whose docs all have < 3 tokens produces zero
    * band rows and leaves a version gap, like an empty batch.
    *
    * Scale: per tick the write amplification is O(touched band
    * buckets); index rows are (int, long, int, long) ≈ 24 B with no
    * text, and the bucket shuffle key is the 8-byte hashed bk.
    *
    * @return true when the batch committed, false on a replay /
    *         empty-batch / no-band-rows no-op. */
  def minhashIndexMerge(batch: DataFrame, batchId: Long,
      base: String): Boolean = {
    import graft.sources.Snapshots
    import graft.text.SimilarityOps
    val s = batch.sparkSession
    graft.ext.GraftFunctions.register(s) // ngrams generator
    val v = batchId + 1
    if (Snapshots.versionExists(s, base, v)) {
      replayGuard(s, base, v, "minhashIndexMerge"); false // replay no-op
    }
    // an empty batch, or one whose docs all have < 3 tokens, rolls up
    // no band rows: the append commits nothing and v stays a gap
    else Snapshots.appendPartitionsAs(
      SimilarityOps.minhashIndexRollup(batch)
        .localCheckpoint(), // 2 consumers: touched partitions + union
      base, "pb", v)
  }

  /** Streaming incremental semantic-dedup cluster-index maintenance —
    * the `semdedup_append` merge as a `foreachBatch` body, the third
    * member of the lifecycle trio ([[dedupIndexMerge]] exact,
    * [[minhashIndexMerge]] lexical, this op embedding-semantic): each
    * arriving micro-batch of (vec_id, embedding) rows is assigned to
    * the FROZEN `seeds` (c_id, c_emb — trained once on the base
    * corpus, exactly `semdedup_append`'s contract: assignments are
    * pure functions of (own embedding, frozen seeds), so
    * batch-isolated rollups ARE full-corpus assignment slices) and
    * merged into ONLY the touched coarse-cell partitions of the persisted
    * snapshot index. The rollup and the append are
    * `semdedup_append`'s own (VectorOps.semdedupIndexRollup,
    * appendPartitions), so stream and batch cannot drift —
    * StreamingSpec asserts streamed ≡ one-shot assignment.
    * Re-clustering (new k as the corpus grows) stays a scheduled full
    * rebuild, NOT a stream tick.
    *
    * Exactly-once, empty-batch gaps, and the checkpoint–table
    * coupling caveat are IDENTICAL to [[dedupIndexMerge]] (batch i ↔
    * version i+1; see its scaladoc).
    *
    * @return true when the batch committed, false on a replay or
    *         empty-batch no-op. */
  def semdedupIndexMerge(batch: DataFrame, batchId: Long,
      base: String, seeds: DataFrame): Boolean = {
    import graft.sources.Snapshots
    import graft.vec.VectorOps
    val s = batch.sparkSession
    graft.ext.GraftFunctions.register(s) // dot_f kernel
    val v = batchId + 1
    if (Snapshots.versionExists(s, base, v)) {
      replayGuard(s, base, v, "semdedupIndexMerge"); false // replay no-op
    }
    else {
      // a pre-coarse-cell index (one dir per CLUSTER, no cc_id column)
      // cannot be appended to: fail with the migration path instead
      // of a partition-column mismatch (ADVICE r17)
      val prevV = Snapshots.latest(s, base)
      require(prevV == 0L ||
        Snapshots.readAsOf(s, base, prevV).columns.contains("cc_id"),
        "persisted semantic index predates the coarse-cell layout " +
          "(no cc_id partition column) — re-run the base build " +
          "against the current seeds (semdedupIndexRollup over the " +
          "indexed corpus, appended by cc_id to a fresh table) before " +
          "merging new batches")
      // an empty batch appends nothing; v stays a gap
      Snapshots.appendPartitionsAs(
        VectorOps.semdedupIndexRollup(batch, seeds)
          .localCheckpoint(), // 2 consumers: touched partitions + union
        base, "cc_id", v)
    }
  }

  /** Streaming incremental CURATION — the whole `Graft.curateIngest`
    * pipeline (quality battery → exact dedup → near-dup dedup, each
    * stage a hash-prefix-partitioned snapshot table, plus the
    * persisted MinHash band index) as a `foreachBatch` body: the
    * product-level capstone over the three single-index maintainers
    * ([[dedupIndexMerge]] / [[minhashIndexMerge]] /
    * [[semdedupIndexMerge]]). The tick kernel IS `curateIngest` run
    * at the caller-fixed version batchId + 1, so stream and batch
    * curation cannot drift — StreamingSpec asserts streamed ≡
    * tick-by-tick ≡ one-shot per stage table.
    *
    * Exactly-once differs from the single-table maintainers in one
    * way: a tick commits FOUR tables, so the guard is per-TABLE, not
    * per-tick — a tick that crashed between stage commits is resumed
    * by the replay (already-committed stages skip, the rest recompute
    * against `latestBefore(v)` reads and commit), which is exactly
    * the recovery a multi-table transaction needs without a
    * cross-table commit protocol. A fully-committed tick replays as a
    * pure no-op; an empty batch (or a degenerate unseeded first
    * batch) leaves a version gap on all four tables. The
    * checkpoint–table coupling caveat is [[dedupIndexMerge]]'s, with
    * one SHARPER edge here: because stage tables can legitimately
    * carry version GAPS (a tick whose batch was all dups merges
    * quality but gaps exact/near/bands), a reset checkpoint over
    * surviving tables can re-land a NEW batch on a version that only
    * SOME tables have — indistinguishable by version numbers from a
    * crash-resume, and a resume with DIFFERENT batch content would
    * merge the new docs into some stage tables but not others
    * (breaking exact ⊆ quality). The partial-resume warning below
    * flags every such tick; resumes are rare enough to audit, and
    * resetting table and checkpoint together (the trio's contract)
    * never produces one.
    *
    * `embeddings` (r16): a STATIC (doc_id, embedding) frame arming
    * curateIngest's semantic fourth stage — three more tables
    * (`sem`/`semidx`/`semseeds`) join the per-table resume set. The
    * frame is static because the vectors are a lookup the tick joins
    * against, not a second stream; docs the frame misses pass the
    * stage untouched. With the stage armed the fully-committed
    * fast path fires rarely (semseeds commits once ever, legitimate
    * gaps follow), so re-offered ticks take the idempotent recompute
    * path instead — correct, just not short-circuited.
    *
    * @return true when any stage table committed this tick. */
  def curateStreamMerge(batch: DataFrame, batchId: Long,
      base: String, threshold: Double = 0.4,
      embeddings: Option[DataFrame] = None,
      semThreshold: Double = 0.3,
      semK: Int = 16): Boolean = {
    import graft.sources.Snapshots
    val s = batch.sparkSession
    val v = batchId + 1
    val tables = graft.api.Graft.curateTables(base, embeddings.isDefined)
    val marked = tables.filter(t => Snapshots.versionExists(s, t, v))
    if (marked.size == tables.size) {
      replayGuard(s, tables.head, v, "curateStreamMerge")
      false // fully-committed tick re-offered: pure no-op
    }
    else {
      // the partial-resume warning runs BEFORE the empty-batch return:
      // a partially committed tick re-offered with an empty batch
      // (possible only after a checkpoint/source reset — the exact
      // hazard the warning exists for) must still surface the
      // stranded partial version instead of returning silently
      if (marked.nonEmpty) {
        marked.foreach(t => replayGuard(s, t, v, "curateStreamMerge"))
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"curateStreamMerge: resuming tick version $v — " +
            s"${marked.map(_.split('/').last).mkString("/")} already " +
            "committed it; the remaining stage tables recompute now " +
            "and either commit at this version (if it is still ahead " +
            "of their latest) or fail commit's version-ordering " +
            "require (if the table has already moved past it). " +
            "Legitimate after a crash between stage commits; if the " +
            "streaming checkpoint was instead RESET over surviving " +
            "tables, this batch is NEW data landing on an old tick's " +
            "partial version — the require catches the moved-past " +
            "case, but a batch landing exactly one version ahead " +
            "would merge into some stage tables and not others. " +
            "Reset tables and checkpoint together.")
      }
      if (batch.isEmpty) return false // nothing to apply; v stays a gap
      val before = tables.map(marked.contains)
      // the stage commits inside curateIngest are EAGER (each commit
      // runs its own write job); the returned report frame is lazy
      // and unused here — callers wanting the report read the
      // committed tables (or call curateIngest directly)
      graft.api.Graft.curateIngest(batch, base, threshold, Some(v),
        embeddings, semThreshold, semK)
      tables.zip(before).exists { case (t, had) =>
        !had && Snapshots.versionExists(s, t, v)
      }
    }
  }

  /** Warn when a "replay" hit is suspicious: a genuinely re-offered
    * batch (snapshot committed, checkpoint write lost) is always the
    * table's LATEST version; a version hit strictly below latest
    * means the checkpoint restarted from 0 while the snapshot table
    * survived — new data is being dropped as replays. Logged, not
    * thrown: foreachBatch can't distinguish intent, the operator can. */
  private def replayGuard(s: org.apache.spark.sql.SparkSession,
      base: String, v: Long, who: String): Unit = {
    val latest = graft.sources.Snapshots.latest(s, base)
    if (v < latest)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"$who: batch version $v already exists but table $base is at " +
          s"version $latest — a re-offered batch is always the latest " +
          "version, so the streaming checkpoint has likely been reset " +
          "while the snapshot table survived; NEW batches are being " +
          "skipped as replays. Reset the table and checkpoint together.")
  }
}
