package graft.api

import graft.ga.GaQuery
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** User-facing facade: the operations a user of the reference
  * connector runs today, as reusable DataFrame transforms, each the
  * generalized form of a declared, oracle-verified query. Most of
  * those queries ARE the facade call at fixed parameters plus a
  * rename/round projection, so the oracle checks this code directly;
  * the few whose output is not a projection of the facade's keep
  * their own plan, locked to the facade by an ApiSpec equivalence.
  *
  * Every transform is lazy plan construction; nothing executes until
  * an action, so Catalyst sees the whole pipeline (pushdown through
  * these helpers works — asserted in PlanShapeSpec/ApiSpec).
  */
object Graft {

  /** Collision-free internal column name: `base` if unused in `taken`,
    * else the first `base1`, `base2`, ... that is — user frames with
    * columns named like our temporaries must not be corrupted. */
  private def fresh(base: String, taken: Set[String]): String =
    if (!taken(base)) base
    else Iterator.from(1).map(i => s"$base$i").find(n => !taken(n)).get

  /** Bigram start positions 1..size-1 of a token array, empty for
    * fewer than 2 tokens: exploding it drops short rows inside the
    * generator (Spark's sequence(1, 0) would descend to [1, 0]). */
  private def nonEmptyIndices(toks: Column): Column =
    when(size(toks) >= 2, sequence(lit(1), size(toks) - 1))
      .otherwise(expr("CAST(array() AS array<int>)"))

  /** Entry point mirroring the reference's report query facade. */
  def query(): GaQuery = GaQuery()

  def register(spark: SparkSession): Unit =
    graft.ext.GraftFunctions.register(spark)

  /** SQL entry (SURVEY §3.3 lifecycle B): register every fixture
    * table as a temp view (events with the ns→µs normalization
    * applied) so `spark.sql(...)` works directly alongside the
    * DataFrame DSL — same Catalyst pipeline plus a parse step. */
  def registerTables(spark: SparkSession, sfDir: String): Unit =
    graft.Tables.names.foreach { t =>
      val df =
        if (t == "events") graft.Tables.events(spark, sfDir)
        else graft.Tables(spark, sfDir, t)
      df.createOrReplaceTempView(t)
    }

  // ---- GA composites ----

  /** Gap-based sessionization: appends `session_id` (per-user ordinal)
    * to an event frame. One shuffle on `userCol`. Gaps compare at
    * MICROSECOND precision (unix_micros), matching the oracle-verified
    * sessionize query — casting a timestamp to long would truncate to
    * seconds and merge sessions whose gap is within 1s of the
    * threshold. `tieBreak` columns extend the event-time ordering so
    * equal-timestamp events sessionize deterministically. */
  def sessionize(events: DataFrame, userCol: String, tsCol: String,
      gapMinutes: Int = 30, tieBreak: Seq[String] = Nil): DataFrame =
    graft.ga.GaSessions.addSessionId(events, col(userCol),
      unix_micros(col(tsCol)),
      unix_micros(col(tsCol)) +: tieBreak.map(col),
      gapMinutes * 60L * 1000000L, "session_id")

  /** As-of join: for each left row, the single most recent right row
    * with rightTime <= leftTime, per key (null right columns when no
    * such row exists). Same running-window kernel as the declared
    * `join_asof` (ops/Joins.scala): both sides union-tagged, ONE
    * shuffle on `key`, a running `last(right_struct, ignoreNulls)`
    * window carries O(1) state per partition row — no per-left-row
    * fanout, no window partitioned by row id. At a trades/quotes
    * shape this streams in time order regardless of how many right
    * rows precede each left row. */
  def asofJoin(left: DataFrame, right: DataFrame, key: String,
      leftTime: String, rightTime: String): DataFrame = {
    // all internal names derived collision-free from BOTH schemas — a
    // user column named _side/_ord/<col>_r must survive unchanged
    var taken = left.columns.toSet ++ right.columns.toSet
    val side = fresh("_side", taken); taken += side
    val ord = fresh("_ord", taken); taken += ord
    val rs = fresh("_rstate", taken); taken += rs
    val rsLast = fresh("_rlast", taken); taken += rsLast
    // right columns that collide with left names (the common
    // trades.ts / quotes.ts shape) are suffixed `_r` in the output
    val collisions = right.columns.toSet
      .intersect(left.columns.toSet) - key
    val renames = right.columns.filter(collisions).map { c =>
      val n = fresh(c + "_r", taken); taken += n
      c -> n
    }.toMap
    val r = renames.foldLeft(right) { case (df, (from, to)) =>
      df.withColumnRenamed(from, to)
    }
    val rtName = renames.getOrElse(rightTime, rightTime)
    val rPayload = r.columns.filterNot(_ == key).toIndexedSeq
    // right rows carry their payload as ONE struct (null on left
    // rows), so the running window tracks a single value. A right row
    // with a null timestamp can never satisfy rightTime <= leftTime
    // (SQL comparison is null) — drop it here; unfiltered it would
    // sort NULLS FIRST and leak its payload into every left row
    val rTagged = r.filter(col(rtName).isNotNull).select(
      col(key),
      col(rtName).as(ord),
      struct(rPayload.map(col): _*).as(rs),
      lit(0).as(side))
    val lTagged = left
      .withColumn(ord, col(leftTime))
      .withColumn(side, lit(1))
    val unioned = lTagged.unionByName(rTagged, allowMissingColumns = true)
    // order: time asc; right before left at equal time (<= semantics);
    // among equal-time right rows the struct DESC makes last() pick the
    // field-wise minimum — the same deterministic winner as ordering
    // the remaining right columns ascending
    val w = Window.partitionBy(col(key))
      .orderBy(col(ord).asc, col(side).asc, col(rs).desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    unioned
      .withColumn(rsLast, last(col(rs), ignoreNulls = true).over(w))
      .filter(col(side) === 1)
      .select(left.columns.toIndexedSeq.map(col) ++
        rPayload.map(c => col(rsLast).getField(c).as(c)): _*)
  }

  /** Weekly cohort retention: (cohort week start, week offset,
    * distinct users). */
  def cohortRetention(events: DataFrame, userCol: String,
      tsCol: String): DataFrame = {
    // both the cohort label and the offset use the SAME epoch-week
    // bucketing (us div week), matching the oracle-verified
    // cohort_retention query — mixing calendar weeks with
    // days-since-first/7 would misalign cells for users whose first
    // event falls mid-week
    val weekUs = 604800000000L
    var taken = events.columns.toSet
    val firstUs = fresh("_first_us", taken); taken += firstUs
    // tsCol resolves through col() (DataFrame API), like sessionize —
    // splicing it into SQL text with backticks would break dotted /
    // struct-field paths. Only our own fresh top-level temporaries
    // appear in expr() below (`div` has no Column-API equivalent).
    val usCol = fresh("_us", taken)
    val first = events.groupBy(col(userCol))
      .agg(min(unix_micros(col(tsCol))).as(firstUs))
    events.join(first, userCol)
      .withColumn(usCol, unix_micros(col(tsCol)))
      .withColumn("cohort_week", expr(s"`$firstUs` div $weekUs"))
      .withColumn("week_offset",
        expr(s"`$usCol` div $weekUs") - col("cohort_week"))
      .drop(usCol)
      .groupBy(col("cohort_week"), col("week_offset"))
      .agg(countDistinct(col(userCol)).as("n_users"))
  }

  // ---- LLM-pipeline transforms ----

  /** Exact dedup: keep the first row (min orderCol) per textCol hash. */
  def dedupExact(df: DataFrame, textCol: String,
      orderCol: String): DataFrame = {
    val rn = fresh("_rn", df.columns.toSet)
    val w = Window.partitionBy(md5(col(textCol))).orderBy(col(orderCol))
    df.withColumn(rn, row_number().over(w))
      .filter(col(rn) === 1).drop(rn)
  }

  /** Near-dup clustering: connected components over a pair DataFrame
    * (e.g. from a similarity join) — each node gets the min reachable
    * id as `cluster_id`; keep `cluster_id == id` rows as the
    * canonical documents. Hash-to-min label propagation, one
    * join+min-combine shuffle per round, diameter(G) rounds. */
  def neardupCluster(nodes: DataFrame, idCol: String, pairs: DataFrame,
      srcCol: String, dstCol: String): DataFrame =
    graft.ops.Graphs.connectedComponents(nodes, idCol, pairs, srcCol, dstCol)

  /** Brute-force top-k rows by dot product against one target vector.
    * Broadcast of the 1-row target + TakeOrderedAndProject merge —
    * the block-partitioned exact baseline. */
  def vectorTopK(df: DataFrame, vecCol: String, target: DataFrame,
      targetVecCol: String, k: Int, idCol: String): DataFrame = {
    register(df.sparkSession)
    val t = fresh("_t", df.columns.toSet)
    df.crossJoin(broadcast(target.select(col(targetVecCol).as(t))))
      .withColumn("score", expr(s"dot_f(`$vecCol`, `$t`)"))
      .drop(t)
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** Per-document quality signals (token count, char span, stopword
    * ratio) for corpus filtering. */
  def qualityScore(df: DataFrame, textCol: String,
      stopwords: Seq[String] = Seq("a", "the")): DataFrame = {
    require(stopwords.nonEmpty, "qualityScore needs at least one stopword")
    // escape quotes/backslashes: the predicate is spliced into SQL text
    def esc(w: String): String =
      w.replace("\\", "\\\\").replace("'", "\\'")
    val stopPred = stopwords.map(w => s"x = '${esc(w)}'").mkString(" or ")
    val stop = fresh("_stop", df.columns.toSet)
    df.withColumn("n_tokens", size(split(col(textCol), " ")))
      .withColumn(stop,
        expr(s"size(filter(split(`$textCol`, ' '), x -> $stopPred))"))
      .withColumn("stop_ratio",
        col(stop).cast("double") / col("n_tokens"))
      .withColumn("quality",
        least(lit(1.0), col("n_tokens").cast("double") / 60.0) *
          (lit(1.0) - col("stop_ratio")))
      .drop(stop)
  }

  /** Token n-grams per row via the native generator (one row per
    * OCCURRENCE — apply .distinct() downstream for set semantics). */
  def ngrams(df: DataFrame, textCol: String, n: Int,
      idCol: String): DataFrame = {
    register(df.sparkSession)
    val toks = fresh("_toks", df.columns.toSet)
    df.withColumn(toks, split(col(textCol), " "))
      .filter(size(col(toks)) >= n)
      .select(col(idCol), expr(s"ngrams(`$toks`, $n)"))
  }

  /** Approximate heavy hitters over a string column: Misra–Gries with
    * `k` counters (graft.ext.MgTopK). Returns (item, est) rows for
    * the claimed items; est underestimates by at most n/(k+1)
    * regardless of partitioning, and every item with frequency above
    * n/(k+1) is present. One scan, k-sized state, no shuffle of raw
    * items. */
  def heavyHitters(df: DataFrame, itemCol: String, k: Int = 64): DataFrame = {
    register(df.sparkSession)
    df.select(col(itemCol).cast("string").as("_item"))
      .agg(expr(s"mg_topk(_item, $k)").as("_sk"))
      .select(explode(col("_sk")).as(Seq("item", "est")))
  }

  /** Bloom-prefiltered semi-join: keep fact rows whose `factKey`
    * (BIGINT) appears in `dims.dimKey`. The 128 KiB filter is built
    * distributed (`bloom_agg`, OR-merged partials) and reduced to the
    * driver — a deliberate one-row collect, the same materialization
    * a scalar subquery performs — then embedded as a literal so the
    * codegen'd probe is a plain Filter on the fact scan, guaranteed
    * below the exact semi-join. Answers are exact at any
    * false-positive rate; the bloom only cuts shuffle volume. */
  def bloomSemiJoin(fact: DataFrame, factKey: String,
      dims: DataFrame, dimKey: String): DataFrame = {
    register(fact.sparkSession)
    val bloom = dims.select(col(dimKey).cast("long").as("_k"))
      .agg(expr("bloom_agg(_k)")).head.getAs[Array[Byte]](0)
    val dk = fresh("_dk", fact.columns.toSet ++ dims.columns)
    fact
      .filter(call_function("bloom_contains",
        lit(bloom), col(factKey).cast("long")))
      .join(dims.select(col(dimKey).as(dk)).distinct(),
        col(factKey) === col(dk), "left_semi")
  }

  /** pandas `.resample('D')`-parity: dense daily counts per group —
    * one row per (day, group) over the full [min_day, max_day] span,
    * zero-filled where no events fall. The calendar comes from one
    * scalar min/max aggregate; the grid is days × groups (broadcast-
    * sized); only (day, group) keys shuffle. */
  def resampleDaily(events: DataFrame, tsCol: String,
      groupCol: String): DataFrame = {
    val ev = events.withColumn("day", to_date(col(tsCol)))
    val daily = ev.groupBy(col("day"), col(groupCol))
      .agg(count(lit(1)).as("n"))
    val calendar = ev
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
    calendar.crossJoin(daily.select(col(groupCol)).distinct())
      .join(daily, Seq("day", groupCol), "left")
      .select(col("day"), col(groupCol),
        coalesce(col("n"), lit(0L)).as("n_events"))
  }

  /** CDC log→snapshot compaction: the latest row per key, last-write-
    * wins on (orderCol, tieCol). Single-pass max(struct) hash
    * aggregate — partials collapse map-side, so the shuffle carries
    * one row per live key, not the log. Returns keyCol plus
    * `<payload>` columns prefixed `last_`. */
  def cdcLatest(log: DataFrame, keyCol: String, orderCol: String,
      tieCol: String, payload: Seq[String]): DataFrame = {
    val structCols = (Seq(orderCol, tieCol) ++ payload).map(col)
    val last = fresh("_last", log.columns.toSet)
    log.groupBy(col(keyCol))
      .agg(max(struct(structCols: _*)).as(last))
      .select(col(keyCol) +:
        (Seq(orderCol, tieCol) ++ payload)
          .map(c => col(s"$last.$c").as(s"last_$c")): _*)
  }

  /** Per-row symmetric int8 quantization of a float-vector column:
    * adds `<vecCol>_q` (array<bigint> with int8-range values) and
    * `<vecCol>_scale` (127/max|x|). floor-based, so results are
    * bit-reproducible across engines; dequantize as q[i]/scale. */
  def quantizeInt8(df: DataFrame, vecCol: String): DataFrame = {
    val mx = fresh("_mx", df.columns.toSet)
    df.withColumn(mx, expr(
        s"greatest(array_max(transform(`$vecCol`, x -> abs(CAST(x AS DOUBLE)))), CAST(1e-30 AS DOUBLE))"))
      .withColumn(s"${vecCol}_scale", lit(127.0) / col(mx))
      .withColumn(s"${vecCol}_q", expr(
        s"transform(`$vecCol`, x -> CAST(floor(CAST(x AS DOUBLE) * `${vecCol}_scale`) AS BIGINT))"))
      .drop(mx)
  }

  /** PageRank over a weighted edge list: (node, rank) after `iters`
    * rounds at damping `d`, uniform init over the nodes appearing in
    * `edges`. Ranks broadcast per round (node-catalog-sized); for
    * web-scale node sets swap the broadcast for a src-co-partitioned
    * join — the loop shape is unchanged. Dangling mass is dropped,
    * matching the declared `pagerank` query. */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: String, iters: Int = 3, d: Double = 0.85): DataFrame = {
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
      col(weightCol).cast("double").as("w"))
    val outW = e.groupBy(col("src")).agg(sum(col("w")).as("ow"))
    val norm = e.join(outW, "src")
      .select(col("src"), col("dst"), (col("w") / col("ow")).as("p"))
      .localCheckpoint()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct().localCheckpoint()
    val n = nodes.count()
    var ranks = nodes.withColumn("rank", lit(1.0 / n))
    for (_ <- 1 to iters) {
      val contrib = norm
        .join(broadcast(ranks.select(col("node").as("src"), col("rank"))),
          "src")
        .groupBy(col("dst")).agg(sum(col("p") * col("rank")).as("c"))
        .withColumnRenamed("dst", "node")
      ranks = nodes.join(contrib, Seq("node"), "left")
        .select(col("node"),
          (lit((1.0 - d) / n) + lit(d) * coalesce(col("c"), lit(0.0)))
            .as("rank"))
    }
    ranks
  }

  /** SCD2 history build: compress consecutive equal `stateCol` values
    * per key into validity runs [valid_from, valid_to) ordered by
    * `orderCol` (+`tieCol` tie-break), NULL valid_to = current run.
    * One exchange on the key carries both windows and the run agg. */
  def scd2(df: DataFrame, keyCol: String, stateCol: String,
      orderCol: String, tieCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(orderCol), col(tieCol))
    val taken = df.columns.toSet
    val (prev, chg, run) = (fresh("_prev", taken), fresh("_chg", taken),
      fresh("run_id", taken))
    df.withColumn(prev, lag(col(stateCol), 1).over(w))
      .withColumn(chg, when(col(prev).isNull ||
        col(prev) =!= col(stateCol), 1L).otherwise(0L))
      .withColumn(run, sum(col(chg)).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(keyCol), col(run))
      .agg(min(col(stateCol)).as("state"),
        min(col(orderCol)).as("valid_from"),
        count(lit(1)).as("n_rows"))
      .withColumn("valid_to", lead(col("valid_from"), 1).over(
        Window.partitionBy(col(keyCol)).orderBy(col(run))))
      .withColumnRenamed(run, "run_id")
  }

  /** Overlapping fixed-width character chunking (the context-window
    * splitting step): one row per (id, chunk_idx) with the chunk
    * text. Pure per-row generation — no shuffle at any scale. */
  def chunkDocs(df: DataFrame, textCol: String, idCol: String,
      chunkLen: Int = 512, stride: Int = 384): DataFrame = {
    require(chunkLen > 0 && stride > 0 && stride <= chunkLen,
      "need 0 < stride <= chunkLen")
    val off = fresh("_off", df.columns.toSet)
    df.filter(length(col(textCol)) > 0)
      .select(col(idCol), col(textCol),
        explode(sequence(lit(0), length(col(textCol)) - 1,
          lit(stride))).as(off))
      .select(col(idCol),
        (col(off) / stride).cast("long").as("chunk_idx"),
        expr(s"substring(`$textCol`, `$off` + 1, $chunkLen)").as("chunk"))
  }

  /** PMI-scored token-bigram collocations over a corpus: positional
    * bigrams (no position self-join), broadcast unigram counts,
    * ln(p(x,y)/(p(x)p(y))) with a min pair count. */
  def pmiBigrams(df: DataFrame, textCol: String, minCount: Int = 5,
      topK: Int = 25): DataFrame = {
    // internal frames carry only our own aliases after the initial
    // projection, so only the input column ROLES can collide
    require(!Set("w1", "w2", "_c1", "_c2", "_nu", "_nb")(textCol),
      s"pmiBigrams: column name '$textCol' is reserved")
    val taken = df.columns.toSet
    val (toks, i) = (fresh("_toks", taken), fresh("_i", taken))
    val t = df.select(split(col(textCol), " ").as(toks))
    val bg = t
      // single-token rows: sequence(1, 0) descends in Spark — the guard
      // lives INSIDE the generator (empty array → row dropped), not in
      // a pushdown-eligible filter that would tokenize below the
      // corpus-spread exchange
      .select(col(toks), explode(nonEmptyIndices(col(toks))).as(i))
      .select(element_at(col(toks), col(i)).as("w1"),
        element_at(col(toks), col(i) + 1).as("w2"))
    val cb = bg.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("pair_count"))
    val cu = df.select(explode(split(col(textCol), " ")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    val nu = cu.agg(sum(col("c")).as("_nu"))
    val nb = cb.agg(sum(col("pair_count")).as("_nb"))
    cb.join(broadcast(cu.select(col("w").as("w1"), col("c").as("_c1"))), "w1")
      .join(broadcast(cu.select(col("w").as("w2"), col("c").as("_c2"))), "w2")
      .crossJoin(broadcast(nu)).crossJoin(broadcast(nb))
      .filter(col("pair_count") >= minCount)
      // rounded to 4dp like the declared op so the top-K cut and its
      // (w1, w2) tie-break select the same rows
      .withColumn("pmi",
        round(log(col("pair_count") * lit(1.0) * col("_nu") / col("_nb") *
          (col("_nu") * lit(1.0) / col("_c1")) / col("_c2")), 4))
      .select(col("w1"), col("w2"), col("pair_count"), col("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(topK)
  }

  /** Unigram-LM scoring (perplexity proxy for quality filtering):
    * per-id token count and mean ln(count(w)/N) under the corpus's
    * own unigram distribution. */
  def unigramLogprob(df: DataFrame, textCol: String,
      idCol: String): DataFrame = {
    require(!Set("_w", "_c", "_nu")(idCol),
      s"unigramLogprob: id column '$idCol' is reserved")
    val toks = df.select(col(idCol), explode(split(col(textCol), " ")).as("_w"))
    val cu = toks.groupBy(col("_w")).agg(count(lit(1)).as("_c"))
    val nu = cu.agg(sum(col("_c")).as("_nu"))
    toks.join(broadcast(cu), "_w").crossJoin(broadcast(nu))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        avg(log(col("_c") * lit(1.0) / col("_nu"))).as("avg_logprob"))
  }

  /** Blocked fuzzy matching: id pairs whose `nameCol` values are
    * within `maxDist` levenshtein, compared only inside equal
    * `blockCols` blocks, with the distance computed once per DISTINCT
    * name pair and expanded back to id pairs (duplicate records
    * multiply the cheap expansion join, not the distance kernel). */
  def editDistPairs(df: DataFrame, idCol: String, nameCol: String,
      blockCols: Seq[String], maxDist: Int = 3): DataFrame = {
    require(blockCols.nonEmpty, "editDistPairs needs at least one block col")
    val reserved = Set("_n1", "_n2", "_ka", "_kb", "dist")
    require(!blockCols.exists(reserved), s"editDistPairs: block columns " +
      s"may not use the reserved names ${reserved.mkString(", ")}")
    val bc = blockCols.map(col)
    val names = df.select(bc :+ col(nameCol).as("_n1"): _*).distinct()
    val cand = names
      .join(names.toDF(names.columns.map {
          case "_n1" => "_n2"; case c => c }: _*), blockCols)
      .filter(col("_n1") <= col("_n2"))
      .withColumn("dist", levenshtein(col("_n1"), col("_n2")))
      .filter(col("dist") <= maxDist)
    val k1 = df.select(bc ++ Seq(col(nameCol).as("_n1"),
      col(idCol).as("_ka")): _*)
    val k2 = df.select(bc ++ Seq(col(nameCol).as("_n2"),
      col(idCol).as("_kb")): _*)
    cand
      .join(k1, blockCols :+ "_n1")
      .join(k2, blockCols :+ "_n2")
      // _ka =!= _kb also on the distinct-name branch: one id carrying
      // two similar names in a block must not emit a self-pair
      .filter((col("_n1") < col("_n2") && col("_ka") =!= col("_kb")) ||
        (col("_n1") === col("_n2") && col("_ka") < col("_kb")))
      .select(least(col("_ka"), col("_kb")).as("id1"),
        greatest(col("_ka"), col("_kb")).as("id2"), col("dist"))
  }

  /** Market-basket affinity: co-occurrence counts of item pairs within
    * the same basket, top `topK` by support. Candidates are bounded
    * by basket size via the basket-keyed self-join. */
  def basketPairs(df: DataFrame, basketCol: String, itemCol: String,
      topK: Int = 20): DataFrame = {
    require(basketCol != "_it" && basketCol != "_it2" && itemCol != "_bk",
      "basketPairs: _bk/_it/_it2 are reserved temp names")
    val b = df.select(col(basketCol).as("_bk"), col(itemCol).as("_it"))
      .distinct()
    b.join(b.toDF("_bk", "_it2"), "_bk")
      .filter(col("_it") < col("_it2"))
      .groupBy(col("_it").as("item1"), col("_it2").as("item2"))
      .agg(count(lit(1)).as("support"))
      .orderBy(col("support").desc, col("item1"), col("item2"))
      .limit(topK)
  }

  /** Equi-width histogram of a numeric column per group: `nBuckets`
    * buckets over the global [min, max] span (one broadcast scalar
    * agg); returns (group, bucket, n, lo, hi observed). */
  def histogram(df: DataFrame, valueCol: String, groupCol: String,
      nBuckets: Int = 10): DataFrame = {
    require(nBuckets > 0, "histogram needs nBuckets > 0")
    require(groupCol != "bucket" && valueCol != "bucket",
      "histogram: 'bucket' is a reserved output name")
    val taken = df.columns.toSet
    val (mn, mx) = (fresh("_mn", taken), fresh("_mx", taken))
    val span = df.agg(min(col(valueCol)).as(mn), max(col(valueCol)).as(mx))
    df.crossJoin(broadcast(span))
      .withColumn("bucket",
        least(floor((col(valueCol) - col(mn)) * nBuckets /
          (col(mx) - col(mn) + lit(1e-12))).cast("int"),
          lit(nBuckets - 1)))
      .groupBy(col(groupCol), col("bucket"))
      .agg(count(lit(1)).as("n"),
        min(col(valueCol)).as("lo"), max(col(valueCol)).as("hi"))
  }

  /** Gains/lift table: entities bucketed into `nTiles` by descending
    * total `valueCol`, each tile's share + cumulative share. Tiles
    * are assigned on the per-entity rollup via distributed exact rank
    * (`Ranks.withGlobalRank`, whose total is the entity count) + the
    * closed-form NTILE — no global window, so the transform holds at
    * web-scale entity counts. */
  def decileLift(df: DataFrame, keyCol: String, valueCol: String,
      nTiles: Int = 10): DataFrame = {
    require(!Set("_v", "_tv", "_tot", "_n", "_rnk", "tile")(keyCol),
      s"decileLift: key column '$keyCol' is reserved")
    val per = df.groupBy(col(keyCol))
      .agg(sum(col(valueCol)).as("_v"))
    val byTile = graft.ops.Ranks
      .withGlobalRank(per, "_rnk", "_n", col("_v").desc, col(keyCol))
      .withColumn("tile",
        graft.ops.Ranks.ntileFromRank(col("_rnk"), col("_n"), nTiles))
      .groupBy(col("tile"))
      .agg(count(lit(1)).as("n_keys"), sum(col("_v")).as("_tv"))
    // one window over the nTiles-row rollup gives both the running
    // and the grand total, so the ranked rollup is computed once
    val byOrder = Window.orderBy(col("tile"))
    val wc = byOrder
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = byOrder
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    byTile
      .withColumn("_tot", sum(col("_tv")).over(all))
      .withColumn("share", col("_tv") / col("_tot"))
      .withColumn("cum_share", sum(col("_tv")).over(wc) / col("_tot"))
      .select(col("tile"), col("n_keys"), col("_tv").as("total"),
        col("share"), col("cum_share"))
  }

  /** Longest consecutive-active-day streak per user (gaps-and-islands
    * over distinct active days): (user, max_streak, n_streaks,
    * n_active_days). */
  def userStreaks(events: DataFrame, userCol: String,
      tsCol: String): DataFrame = {
    require(userCol != "_len",
      "userStreaks: '_len' is a reserved temp name")
    val taken = events.columns.toSet
    val (dno, isl) = (fresh("_dno", taken), fresh("_isl", taken))
    val days = events
      .select(col(userCol), datediff(to_date(col(tsCol)),
        to_date(lit("1970-01-01"))).as(dno))
      .distinct()
    val w = Window.partitionBy(col(userCol)).orderBy(col(dno))
    days.withColumn(isl, col(dno) - row_number().over(w))
      .groupBy(col(userCol), col(isl))
      .agg(count(lit(1)).as("_len"))
      .groupBy(col(userCol))
      .agg(max(col("_len")).as("max_streak"),
        count(lit(1)).as("n_streaks"),
        sum(col("_len")).cast("long").as("n_active_days"))
  }

  /** Peak interval concurrency per day, by sweep line (±1 deltas per
    * distinct boundary instant, per-day running sum + calendar-sized
    * carry-in) — O(n log n) where the interval self-join is
    * quadratic. `startCol`/`endCol` are inclusive epoch-µs bounds. */
  def peakConcurrency(intervals: DataFrame, startCol: String,
      endCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val deltas = intervals
      .select(col(startCol).cast("long").as("bus"), lit(1L).as("dl"))
      .unionAll(intervals.select((col(endCol).cast("long") + 1L).as("bus"),
        lit(-1L).as("dl")))
      .groupBy(col("bus")).agg(sum(col("dl")).as("d"))
      .withColumn("day", to_date(timestamp_micros(col("bus"))))
    val perDay = Window.partitionBy(col("day")).orderBy(col("bus"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carry = deltas.groupBy(col("day")).agg(sum(col("d")).as("dt"))
      .withColumn("carry",
        coalesce(sum(col("dt")).over(Window.orderBy(col("day"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("day"), col("carry"))
    deltas.withColumn("run", sum(col("d")).over(perDay))
      .join(broadcast(carry), "day")
      .groupBy(col("day"))
      .agg(max(col("run") + col("carry")).as("peak_concurrency"))
  }

  // ---- round-8 curation / vector / experiment transforms ----

  /** Character-entropy quality gate (generalizes `entropy_filter`):
    * appends `entropy` (nats, 4dp) and `keep` (1/0 at `threshold`).
    * Rows with empty text are dropped (entropy undefined). Row-local:
    * the native `char_entropy` kernel counts code points per row, so
    * nothing explodes or shuffles. */
  def entropyFilter(df: DataFrame, textCol: String, idCol: String,
      threshold: Double = 2.0): DataFrame = {
    register(df.sparkSession)
    df.filter(length(col(textCol)) > 0)
      .select(col(idCol),
        round(call_function("char_entropy", col(textCol)), 4).as("entropy"))
      .select(col(idCol), col("entropy"),
        when(col("entropy") >= threshold, lit(1)).otherwise(lit(0))
          .as("keep"))
  }

  /** Windowed skip-gram co-occurrence counts (generalizes
    * `cooccur_topk`): ordered token pairs within ±`window`, top
    * `topK` by (count desc, pair). Never joins on token position. */
  def cooccurTopK(df: DataFrame, textCol: String, window: Int = 3,
      topK: Int = 20): DataFrame = {
    // the ≥2-token guard lives inside the first generator (see
    // pmiBigrams); the second explode's sequence(1, least(window,
    // size-i)) is nonempty for every i ≤ size-1
    df.select(split(col(textCol), " ").as("_toks"))
      .select(col("_toks"), explode(nonEmptyIndices(col("_toks"))).as("_i"))
      .select(col("_toks"), col("_i"),
        explode(sequence(lit(1),
          least(lit(window), size(col("_toks")) - col("_i")))).as("_k"))
      .select(element_at(col("_toks"), col("_i")).as("w1"),
        element_at(col("_toks"), col("_i") + col("_k")).as("w2"))
      .groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("n_cooccur"))
      .orderBy(col("n_cooccur").desc, col("w1"), col("w2"))
      .limit(topK)
  }

  /** DSIR-style importance weights (generalizes `dsir_weights`): the
    * per-row mean add-one-smoothed log-likelihood ratio of word
    * bigrams between the `isTarget` slice and the whole corpus.
    * `isTarget` is any deterministic boolean Column (a lang match, a
    * hash slice, a source filter) — weights stay reproducible iff it
    * is. Output: (idCol, n_bigrams, dsir_w). */
  def importanceWeights(df: DataFrame, textCol: String, idCol: String,
      isTarget: Column): DataFrame = {
    val t = df
      .select(col(idCol), split(col(textCol), " ").as("_toks"),
        when(isTarget, 1).otherwise(0).as("_tgt"))
    // bigrams shuffle and join as xxhash64 longs (equality is all the
    // rollup and the scoring join need; a 64-bit collision merges two
    // smoothed count cells), with the ≥2-token guard inside the
    // generator (see pmiBigrams)
    val bg = t
      .select(col(idCol), col("_tgt"), col("_toks"),
        explode(nonEmptyIndices(col("_toks"))).as("_i"))
      .select(col(idCol), col("_tgt"),
        xxhash64(concat(element_at(col("_toks"), col("_i")), lit(" "),
          element_at(col("_toks"), col("_i") + 1))).as("_g"))
    val cnt = bg.groupBy(col("_g"))
      .agg(count(lit(1)).as("_all"), sum(col("_tgt")).as("_tc"))
      .localCheckpoint()
    val tot = cnt.agg(sum(col("_all")).as("_tn"),
      sum(col("_tc")).as("_tt"), count(lit(1)).as("_tv"))
    bg.join(cnt, "_g")
      .crossJoin(broadcast(tot))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(
          log((col("_tc") + lit(1.0)) / (col("_tt") + col("_tv"))) -
            log((col("_all") + lit(1.0)) / (col("_tn") + col("_tv")))),
          4).as("dsir_w"))
  }

  /** SemDeDup-style semantic dedup (generalizes `semdedup`): assign
    * every vector to its nearest `centroids` row (the shared
    * THREE-LEVEL frozen-seed rule, VectorOps.assignFrozen — MIPS,
    * 4dp-rounded `dot_f`, ties → lowest id at every level; with
    * ≤ 4 centroids the rule degenerates to the plain argmax), then
    * drop any vector with a lower-id same-cluster neighbor at
    * rounded cosine ≥ `threshold`. The pair self-join is salted
    * `saltB` ways so parallelism is k·saltB, not k. `centroids`
    * (k rows: (cIdCol, cVecCol)) may be ⌈N/τ⌉-sized — only its
    * ⌈∛k⌉-row coarse level broadcasts; requires
    * `Graft.register(spark)` for dot_f.
    * Output: (idCol, cluster, kept). */
  def semdedup(df: DataFrame, vecCol: String, idCol: String,
      centroids: DataFrame, cIdCol: String, cVecCol: String,
      threshold: Double = 0.3, saltB: Int = 16): DataFrame = {
    val assigned = graft.vec.VectorOps.assignFrozen(
      df.select(col(idCol).as("vec_id"), col(vecCol).as("embedding")),
      centroids.select(col(cIdCol).as("c_id"),
        col(cVecCol).as("c_emb")))
    val dropped = graft.vec.VectorOps
      .lowerIdDuplicates(assigned, threshold, saltB)
      .withColumn("_dropped", lit(1))
    assigned.join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id").as(idCol), col("c_id").as("cluster"),
        when(col("_dropped").isNull, lit(1)).otherwise(lit(0))
          .as("kept"))
  }

  /** A/B experiment readout (generalizes `ab_lift`): deterministic
    * Knuth-hash variant from `userCol`, conversion = `isConversion`,
    * revenue = `valueCol` cents over rows matching `isRevenue` (both
    * arbitrary boolean Columns — conversion is often a stricter
    * predicate than revenue, e.g. high-value purchases vs all
    * purchases). One-row output with counts, rates (bp), lift (bp)
    * and the two-proportion z-score (zero-variance pools → z = 0).
    *
    * NOT a general hash (same disclosure as [[splitHash]]): the
    * multiplier is odd, so pmod((id % 100000) * 2654435761, 2)
    * reduces to pmod(id, 2) — the arm IS user-id parity. Fine for a
    * deterministic reproducible split; biased whenever id parity
    * correlates with behavior (e.g. alternating allocation across
    * sources). For a true random-looking split, assign arms from a
    * pre-hashed id expression (e.g. pmod(xxhash64(col), 2)). */
  def abLift(events: DataFrame, userCol: String, valueCol: String,
      isConversion: Column, isRevenue: Column): DataFrame = {
    var taken = events.columns.toSet
    val v = fresh("_v", taken); taken += v
    val cv = fresh("_conv", taken); taken += cv
    val ce = fresh("_cents", taken); taken += ce
    // pmod, not %: a negative user id must still land in exactly one
    // arm (JVM % yields -1 for odd negative hashes, dropping the row
    // from BOTH arms and piling even ones into arm A)
    val users = events
      .withColumn(v,
        pmod((col(userCol) % 100000L) * lit(2654435761L), lit(2)))
      .groupBy(col(userCol), col(v))
      .agg(
        max(when(isConversion, 1L).otherwise(0L)).as(cv),
        sum(when(isRevenue,
          floor(col(valueCol) * 100).cast("long")).otherwise(0L))
          .as(ce))
    // empty/one-sided inputs: counts coalesce to 0, the rate/lift
    // columns go NULL instead of dividing by zero (ANSI mode throws),
    // and the z-score CASE treats an empty arm as zero variance
    users.groupBy()
      .agg(
        coalesce(sum(when(col(v) === 0, 1L).otherwise(0L)), lit(0L))
          .as("n_a"),
        coalesce(sum(when(col(v) === 1, 1L).otherwise(0L)), lit(0L))
          .as("n_b"),
        coalesce(sum(when(col(v) === 0, col(cv))
          .otherwise(0L)), lit(0L)).as("conv_a"),
        coalesce(sum(when(col(v) === 1, col(cv))
          .otherwise(0L)), lit(0L)).as("conv_b"),
        coalesce(sum(when(col(v) === 0, col(ce))
          .otherwise(0L)), lit(0L)).as("cents_a"),
        coalesce(sum(when(col(v) === 1, col(ce))
          .otherwise(0L)), lit(0L)).as("cents_b"))
      .withColumn("conv_a_bp",
        expr("CASE WHEN n_a = 0 THEN NULL" +
          " ELSE conv_a * 10000 div n_a END"))
      .withColumn("conv_b_bp",
        expr("CASE WHEN n_b = 0 THEN NULL" +
          " ELSE conv_b * 10000 div n_b END"))
      .withColumn("lift_bp",
        // sequential WHEN branches: n_a/n_b = 0 is excluded before
        // the rate is evaluated, and a 0-bp rate (0 < rate < 1 bp,
        // e.g. 1 conversion in 20k users) goes NULL instead of
        // dividing by zero under ANSI mode
        expr("CASE WHEN n_a = 0 OR n_b = 0 THEN NULL" +
          " WHEN conv_a * 10000 div n_a = 0 THEN NULL" +
          " ELSE (conv_b * 10000 div n_b - conv_a * 10000 div n_a)" +
          " * 10000 div (conv_a * 10000 div n_a) END"))
      .withColumn("z_score", round(expr(
        "CASE WHEN n_a = 0 OR n_b = 0 OR conv_a + conv_b = 0" +
          " OR conv_a + conv_b = n_a + n_b THEN 0.0 ELSE " +
          "(CAST(conv_b AS DOUBLE) / n_b" +
          " - CAST(conv_a AS DOUBLE) / n_a) / " +
          "sqrt(CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b) * " +
          "(1.0 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b)) * " +
          "(CAST(1 AS DOUBLE) / n_a + CAST(1 AS DOUBLE) / n_b))" +
          " END"), 4))
  }

  /** Asymmetric containment near-dup pairs (generalizes
    * `shingle_containment`): C(A→B) = |∩| / |shingles(A)| over rare
    * `gramN`-gram shingles (doc frequency ≤ `maxDf`); a pair is
    * reported when either direction's 4dp-rounded containment ≥
    * `threshold`. The df cap bounds candidate fan-out per gram at
    * maxDf² — the same guard that keeps `ngram_jaccard` linear.
    * Shingles are the native `ngram_hashes` xxhash64 longs,
    * deduplicated per row (`SimilarityOps.rareGramStats`, shared with
    * `ngram_jaccard`). Output: (doc_a, doc_b, contain_a, contain_b). */
  def containmentPairs(df: DataFrame, textCol: String, idCol: String,
      gramN: Int = 3, maxDf: Int = 50,
      threshold: Double = 0.6): DataFrame =
    graft.text.SimilarityOps.rareGramStats(df, textCol, idCol, gramN, maxDf)
      .withColumn("contain_a",
        round(col("n_inter").cast("double") / col("n_a"), 4))
      .withColumn("contain_b",
        round(col("n_inter").cast("double") / col("n_b"), 4))
      .filter(col("contain_a") >= threshold ||
        col("contain_b") >= threshold)
      .select(col("doc_a"), col("doc_b"),
        col("contain_a"), col("contain_b"))

  /** EWMA smoothing of a keyed daily count series (generalizes
    * `ewma_smooth`): α = 0.5 exponential weights over the trailing
    * `windowDays` calendar days — exact integer weights 2^(windowDays−1−j),
    * one final double division, 4dp round. Calendar gaps renormalize
    * via the weight sum. Output: (groupCol, day, n, ewma,
    * n_days_in_window). */
  def ewmaSmooth(events: DataFrame, groupCol: String, tsCol: String,
      windowDays: Int = 14): DataFrame = {
    // weights are exact BIGINT powers 2^(windowDays-1-j); 2^63
    // overflows the cast (ANSI throws, legacy silently saturates)
    require(windowDays >= 1 && windowDays <= 63,
      s"windowDays must be in [1, 63], got $windowDays")
    // output/internal names are fixed by the contract; a groupCol
    // that collides would be silently shadowed mid-plan — error loud
    require(!Set("day", "n", "ewma", "n_days_in_window",
        "_day2", "_n2", "_dd", "_w").contains(groupCol),
      s"groupCol '$groupCol' collides with an ewmaSmooth output/" +
        "internal column; alias it first")
    val daily = events
      .withColumn("day", to_date(col(tsCol)))
      .groupBy(col(groupCol), col("day"))
      .agg(count(lit(1)).as("n"))
    val hist = daily.select(
      col(groupCol), col("day").as("_day2"), col("n").as("_n2"))
    daily.join(hist, groupCol)
      .withColumn("_dd", datediff(col("day"), col("_day2")))
      .filter(col("_dd").between(0, windowDays - 1))
      .withColumn("_w",
        expr(s"CAST(POWER(2.0, ${windowDays - 1} - _dd) AS BIGINT)"))
      .groupBy(col(groupCol), col("day"), col("n"))
      .agg(
        round(sum(col("_w") * col("_n2")).cast("double") /
          sum(col("_w")), 4).as("ewma"),
        count(lit(1)).as("n_days_in_window"))
  }

  /** DAU/MAU stickiness (generalizes `dau_mau`): per calendar day,
    * distinct daily actives vs distinct trailing-`windowDays`
    * actives, exact integer basis points; dense day span, inactive
    * days report 0/0 with NULL stickiness. The MAU side is the
    * `rolling_wau` window-cover explode of the (user, day) rollup. */
  def dauMau(events: DataFrame, userCol: String, tsCol: String,
      windowDays: Int = 30): DataFrame = {
    require(!Set("report_day", "dau", "mau", "stickiness_bp",
        "_dno", "_d0", "_d1").contains(userCol),
      s"userCol '$userCol' collides with a dauMau output/internal " +
        "column; alias it first")
    val days = events
      .select(col(userCol),
        datediff(to_date(col(tsCol)), lit("2024-01-01")).as("_dno"))
      .distinct()
    val span = days.agg(min(col("_dno")).as("_d0"), max(col("_dno")).as("_d1"))
    val mau = days
      .crossJoin(broadcast(span))
      .select(col(userCol),
        explode(sequence(col("_dno"),
          least(col("_dno") + (windowDays - 1), col("_d1"))))
          .as("report_day"))
      .groupBy(col("report_day"))
      .agg(countDistinct(col(userCol)).as("mau"))
    val dau = days
      .groupBy(col("_dno").as("report_day"))
      .agg(countDistinct(col(userCol)).as("dau"))
    span.select(explode(sequence(col("_d0"), col("_d1"))).as("report_day"))
      .join(dau, Seq("report_day"), "left")
      .join(mau, Seq("report_day"), "left")
      .select(col("report_day"),
        coalesce(col("dau"), lit(0L)).as("dau"),
        coalesce(col("mau"), lit(0L)).as("mau"))
      .withColumn("stickiness_bp",
        expr("CASE WHEN mau = 0 THEN NULL ELSE dau * 10000 div mau END"))
  }

  /** Zipf-law OLS fit over a text column's token-frequency
    * distribution (generalizes `zipf_fit`): slope/intercept of
    * ln(count) on ln(rank) for the top `topK` tokens, ranked through
    * the distributed exact-rank kernel. One row out. */
  def zipfFit(df: DataFrame, textCol: String,
      topK: Int = 1000): DataFrame = {
    val counts = df
      .select(explode(split(col(textCol), " ")).as("_w"))
      .filter(col("_w") =!= "")
      .groupBy(col("_w"))
      .agg(count(lit(1)).as("_c"))
    graft.ops.Ranks
      .withGlobalRank(counts, "_r", "_n", col("_c").desc, col("_w"))
      .filter(col("_r") <= topK)
      .withColumn("_x", round(log(col("_r").cast("double")), 6))
      .withColumn("_y", round(log(col("_c").cast("double")), 6))
      .agg(
        count(lit(1)).as("n_tokens"),
        round(
          (count(lit(1)) * sum(col("_x") * col("_y")) -
            sum(col("_x")) * sum(col("_y"))) /
            nullif(count(lit(1)) * sum(col("_x") * col("_x")) -
              sum(col("_x")) * sum(col("_x")), lit(0.0)), 4)
          .as("slope"),
        round(
          (sum(col("_y")) -
            (count(lit(1)) * sum(col("_x") * col("_y")) -
              sum(col("_x")) * sum(col("_y"))) /
              nullif(count(lit(1)) * sum(col("_x") * col("_x")) -
                sum(col("_x")) * sum(col("_x")), lit(0.0)) *
              sum(col("_x"))) / count(lit(1)), 4)
          .as("intercept"))
  }

  /** Winnowing fingerprint selection (generalizes
    * `winnowing_fingerprint`; Schleimer–Wilkerson–Aiken): hash token
    * `k`-grams, keep each `w`-window's minimum. Returns the declared
    * op's summary columns PLUS the selected `fingerprints` array —
    * the set a pair-matching stage explodes and shuffles on. Pure
    * per-row array arithmetic; zero shuffle. */
  def winnowFingerprints(df: DataFrame, textCol: String, idCol: String,
      k: Int = 4, w: Int = 4): DataFrame = {
    require(!df.columns.contains("fingerprints"),
      "input already has a 'fingerprints' column; rename it first " +
        "(winnowFingerprints would silently overwrite it)")
    require(!Set("fingerprints", "n_grams", "n_fp", "fp_min", "fp_xor")
        .contains(idCol),
      s"idCol '$idCol' collides with a winnowFingerprints output " +
        "column; rename it first (the result would carry a " +
        "duplicate-named column)")
    var taken = df.columns.toSet
    val ths = fresh("_ths", taken); taken += ths
    val gh = fresh("_gh", taken); taken += gh
    val nw = fresh("_nw", taken); taken += nw
    df
      .withColumn(ths,
        expr(s"""transform(split($textCol, ' '),
                   tk -> aggregate(
                           transform(split(tk, ''),
                                     c -> CAST(ascii(c) AS BIGINT)),
                           CAST(7 AS BIGINT),
                           (acc, x) -> (acc * 31 + x) % 1073741824))"""))
      .withColumn(gh,
        expr(s"""CASE WHEN size($ths) >= $k THEN
                   transform(sequence(1, size($ths) - ${k - 1}),
                     i -> aggregate(slice($ths, i, $k),
                            CAST(7 AS BIGINT),
                            (acc, x) -> (acc * 1000003 + x) % 1073741824))
                 ELSE CAST(array() AS ARRAY<BIGINT>) END"""))
      .withColumn(nw,
        expr(s"""CASE WHEN size($gh) = 0 THEN 0
                      WHEN size($gh) <= $w THEN 1
                      ELSE size($gh) - ${w - 1} END"""))
      .withColumn("fingerprints",
        expr(s"""array_distinct(
                   CASE WHEN $nw = 0 THEN CAST(array() AS ARRAY<BIGINT>)
                        ELSE transform(sequence(1, $nw),
                               j -> array_min(slice($gh, j,
                                      least($w, size($gh) - j + 1))))
                   END)"""))
      .select(
        col(idCol),
        expr(s"CAST(size($gh) AS BIGINT)").as("n_grams"),
        expr("CAST(size(fingerprints) AS BIGINT)").as("n_fp"),
        expr("COALESCE(array_min(fingerprints), CAST(0 AS BIGINT))")
          .as("fp_min"),
        expr("""aggregate(fingerprints, CAST(0 AS BIGINT),
                          (acc, x) -> acc ^ x)""").as("fp_xor"),
        col("fingerprints"))
  }

  /** Ordered N-step funnel (generalizes `funnel_steps`): step 1 users
    * are those with any event matching `steps(0)`; step i users are
    * those whose first step-(i-1) completion is strictly before some
    * event matching `steps(i)` (chained conditional mins, the GA
    * goal-funnel definition). Output: one row of per-step user
    * counts, consecutive conversion rates `rate_i(i+1)`, and the
    * overall `rate_1N`.
    *
    * Scale: each chained step is a user-keyed aggregate re-joined on
    * the same key (co-partitioned with the previous rollup); the
    * final cross joins combine single-row aggregates only. */
  def funnel(events: DataFrame, userCol: String, tsCol: String,
      steps: Seq[Column]): DataFrame = {
    require(steps.size >= 2, "funnel needs at least 2 steps")
    // the timestamp temp lands on the full frame BEFORE the user's
    // step predicates are evaluated — fresh() so a user `_us` column
    // is never shadowed out from under those predicates
    val usT = fresh("_us", events.columns.toSet)
    val ev = events
      .withColumn(usT, unix_micros(col(tsCol)))
      .select(Seq(col(userCol).as("_u"), col(usT).as("_us")) ++
        steps.zipWithIndex.map { case (p, i) => p.as(s"_p$i") }: _*)
    val stepTimes = scala.collection.mutable.ArrayBuffer(
      ev.filter(col("_p0"))
        .groupBy(col("_u")).agg(min(col("_us")).as("_t0")))
    for (i <- 1 until steps.size)
      stepTimes += ev
        .join(stepTimes.last.select(col("_u"), col(s"_t${i - 1}")), "_u")
        .filter(col(s"_p$i") && col("_us") > col(s"_t${i - 1}"))
        .groupBy(col("_u")).agg(min(col("_us")).as(s"_t$i"))
    def rate(num: Column, den: Column) =
      when(den > 0, round(num * lit(1.0) / den, 6))
    val joined = stepTimes.zipWithIndex
      .map { case (df, i) => df.agg(count(lit(1)).as(s"step${i + 1}_users")) }
      .reduce(_.crossJoin(_))
    val withConsec = (1 until steps.size).foldLeft(joined) { (df, i) =>
      df.withColumn(s"rate_$i${i + 1}",
        rate(col(s"step${i + 1}_users"), col(s"step${i}_users")))
    }
    withConsec.withColumn(s"rate_1${steps.size}",
      rate(col(s"step${steps.size}_users"), col("step1_users")))
  }

  /** Multi-touch attribution (generalizes `attribution_linear`,
    * `attribution_position`, `attribution_time_decay`, and the
    * first/last-touch models): join each conversion to the user's
    * strictly-earlier touches, split the conversion value in EXACT
    * integer cents per `model`, and roll up credited revenue per
    * channel. Conversions with no prior touch credit channel -1.
    *
    * Models: "linear" (equal split), "position" (40/20/40),
    * "time_decay" (weight 2^(horizon - age_days), halving per day;
    * horizonDays is bounded to [0, 62] so the BIGINT weight cannot
    * wrap — and keep cents · touches · 2^horizon < 2^63, i.e. prefer
    * a small horizon for very-high-value conversions with many
    * touches), "first" / "last" (all credit to one touch).
    *
    * Scale: one user-keyed equi-join (pair count bounded by per-user
    * activity; add a lookback window in production — same shape), one
    * conversion-keyed window, then a channel-sized rollup. */
  def attribution(events: DataFrame, userCol: String, idCol: String,
      tsCol: String, channel: Column, touchPred: Column,
      convPred: Column, value: Column, model: String = "linear",
      horizonDays: Int = 30): DataFrame = {
    require(Set("linear", "position", "time_decay", "first", "last")(model),
      s"unknown attribution model '$model'")
    require(model != "time_decay" ||
        (horizonDays >= 0 && horizonDays <= 62),
      s"time_decay horizonDays must be in [0, 62] (weight 2^horizon " +
        s"must fit a BIGINT; shiftleft wraps mod 64), got $horizonDays")
    // `_us` lands on the full frame BEFORE touchPred/convPred/channel
    // are evaluated — fresh() so a user `_us` column is never
    // shadowed out from under those user expressions
    val usT = fresh("_us", events.columns.toSet)
    val e = events.withColumn(usT, unix_micros(col(tsCol)))
    val touches = e.filter(touchPred)
      .select(col(userCol).as("_tu"), channel.as("_ch"),
        col(usT).as("_tus"), col(idCol).as("_tid"))
    val conv = e.filter(convPred)
      .select(col(userCol).as("_pu"), col(idCol).as("_pid"),
        col(usT).as("_pus"),
        floor(value * 100).cast("long").as("_cents"))
    val paired = conv.join(touches,
      col("_pu") === col("_tu") && col("_tus") < col("_pus"), "left")
    val wP = Window.partitionBy(col("_pid"))
    val ordAsc = wP.orderBy(col("_tus").asc_nulls_first,
      col("_tid").asc_nulls_first)
    val base = paired
      .withColumn("_n", count(lit(1)).over(wP))
      .withColumn("_rn", row_number().over(ordAsc))
    val credited = model match {
      case "linear" =>
        // cents div n each; the first (cents mod n) touches get the
        // extra cent — conserves revenue exactly (no double division)
        base.withColumn("_credit",
          expr("_cents div _n") +
            when(col("_rn") <= col("_cents") % col("_n"), 1L).otherwise(0L))
      case "position" =>
        base.withColumn("_credit", expr("""
          CASE
            WHEN _n = 1 THEN _cents
            WHEN _n = 2 THEN
              CASE WHEN _rn = 1 THEN _cents - _cents div 2
                   ELSE _cents div 2 END
            WHEN _rn = 1 OR _rn = _n THEN (_cents * 2) div 5
            ELSE (_cents - 2 * ((_cents * 2) div 5)) div (_n - 2)
                 + CASE WHEN _rn - 1 <=
                     (_cents - 2 * ((_cents * 2) div 5)) % (_n - 2)
                   THEN 1 ELSE 0 END
          END"""))
      case "time_decay" =>
        base
          .withColumn("_age", expr("(_pus - _tus) div 86400000000"))
          .withColumn("_w", coalesce(
            expr(s"shiftleft(CAST(1 AS BIGINT), CAST($horizonDays" +
              s" - LEAST(_age, $horizonDays) AS INT))"), lit(1L)))
          .withColumn("_cumw", sum(col("_w")).over(ordAsc
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .withColumn("_totw", sum(col("_w")).over(wP))
          .withColumn("_credit",
            expr("(_cents * _cumw) div _totw") -
              expr("(_cents * (_cumw - _w)) div _totw"))
      case "first" =>
        base.filter(col("_rn") === 1).withColumn("_credit", col("_cents"))
      case "last" =>
        base.filter(col("_rn") === col("_n"))
          .withColumn("_credit", col("_cents"))
    }
    credited
      .withColumn("_ch", coalesce(col("_ch"), lit(-1)))
      .groupBy(col("_ch"))
      .agg(count(lit(1)).as("n_credits"),
        round(sum(col("_credit")) / 100.0, 2).as("revenue"))
      .withColumnRenamed("_ch", "channel")
  }

  /** Per-user state-transition probabilities (generalizes
    * `markov_transitions`): P(next = B | current = A) over each
    * user's ordered event sequence. `order` breaks ties
    * deterministically (e.g. Seq(col("ts"), col("event_id"))).
    *
    * Scale: one user-keyed window, then a |states|^2-sized rollup —
    * the normalizing window runs on the catalog-sized rollup, never
    * the data. */
  def markovTransitions(events: DataFrame, userCol: String,
      stateCol: String, order: Seq[Column]): DataFrame = {
    // `_prev` lands on the full frame; fresh() so a user `_prev`
    // column referenced by `order`/`stateCol` is never shadowed
    val prev = fresh("_prev", events.columns.toSet)
    val w = Window.partitionBy(col(userCol)).orderBy(order: _*)
    val pairs = events
      .withColumn(prev, lag(col(stateCol), 1).over(w))
      .filter(col(prev).isNotNull)
      .groupBy(col(prev), col(stateCol))
      .agg(count(lit(1)).as("n"))
    val wp = Window.partitionBy(col(prev))
    pairs
      .withColumn("p",
        round(col("n") * lit(1.0) / sum(col("n")).over(wp), 6))
      .select(col(prev).as("prev_state"),
        col(stateCol).as("state"), col("n"), col("p"))
  }

  /** Markov removal-effect attribution (generalizes
    * `markov_removal`): build the touch-channel transition graph with
    * synthetic START/CONVERT/DROP states, solve the absorption
    * probability by `iters` rounds of fixed-point iteration (total
    * paths are bounded by iters hops, matching the declared op), and
    * report each channel's removal effect on the base conversion
    * rate. `channel` must evaluate to an INT in [0, nChannels).
    *
    * Scale: everything after the one user-keyed window runs on the
    * channel^2-sized transition rollup (localCheckpoint'd once), so
    * the iteration cost is independent of data size. */
  def markovRemoval(events: DataFrame, userCol: String, idCol: String,
      tsCol: String, channel: Column, touchPred: Column,
      convPred: Column, nChannels: Int, iters: Int = 8): DataFrame = {
    val startS = nChannels      // synthetic states, disjoint from
    val convS = nChannels + 1   // the [0, nChannels) channel ids
    val dropS = nChannels + 2
    // fresh() for the same reason as attribution: `_us` precedes the
    // user's touchPred/convPred/channel expressions
    val usT = fresh("_us", events.columns.toSet)
    val e = events.withColumn(usT, unix_micros(col(tsCol)))
    val hits = e.filter(touchPred)
      .select(col(userCol).as("_u"), channel.as("_ch"),
        col(usT).as("_us"), col(idCol).as("_id"))
    val wSeq = Window.partitionBy(col("_u"))
      .orderBy(col("_us"), col("_id"))
    val seq = hits
      .withColumn("_rn", row_number().over(wSeq))
      .withColumn("_nx", lead(col("_ch"), 1).over(wSeq))
    val convU = e.filter(convPred)
      .select(col(userCol).as("_u")).distinct()
      .withColumn("_has_c", lit(1))
    val trans = seq.filter(col("_rn") === 1)
      .select(lit(startS).as("from_s"), col("_ch").as("to_s"))
      .union(seq.filter(col("_nx").isNotNull)
        .select(col("_ch").as("from_s"), col("_nx").as("to_s")))
      .union(seq.filter(col("_nx").isNull)
        .join(convU, Seq("_u"), "left")
        .select(col("_ch").as("from_s"),
          when(col("_has_c").isNotNull, lit(convS))
            .otherwise(lit(dropS)).as("to_s")))
    val wFrom = Window.partitionBy(col("from_s"))
    val probs = trans.groupBy(col("from_s"), col("to_s"))
      .agg(count(lit(1)).as("n"))
      .withColumn("p",
        round(col("n") * lit(1.0) / sum(col("n")).over(wFrom), 6))
      .select(col("from_s"), col("to_s"), col("p"))
      .localCheckpoint()
    val rmDf = probs.sparkSession.range(-1, nChannels)
      .select(col("id").cast("int").as("rm"))
    var p = rmDf.crossJoin(
      probs.select(col("from_s").as("st")).distinct())
      .withColumn("p", lit(0.0))
      .select(col("rm"), col("st"), col("p"))
    for (_ <- 1 to iters) {
      val prev = p.select(col("rm").as("q_rm"), col("st").as("q_s"),
        col("p").as("q_p"))
      p = probs.crossJoin(rmDf)
        .join(prev,
          col("q_rm") === col("rm") && col("q_s") === col("to_s"),
          "left")
        .groupBy(col("rm"), col("from_s"))
        .agg(round(sum(
          when(col("to_s") === convS, col("p"))
            .when(col("to_s").between(0, nChannels - 1),
              col("p") * coalesce(col("q_p"), lit(0.0)))
            .otherwise(lit(0.0))), 6).as("psum"))
        .select(col("rm"),
          col("from_s").as("st"),
          when(col("from_s") === col("rm"), lit(0.0))
            .otherwise(col("psum")).as("p"))
    }
    val base = p.filter(col("rm") === -1 && col("st") === startS)
      .select(col("p").as("base_cvr"))
    p.filter(col("rm") >= 0 && col("st") === startS)
      .select(col("rm").as("channel"), col("p").as("removed_cvr"))
      .crossJoin(broadcast(base))
      .withColumn("removal_effect",
        round((col("base_cvr") - col("removed_cvr")) /
          nullif(col("base_cvr"), lit(0.0)), 4))
      .select(col("channel"), col("base_cvr"), col("removed_cvr"),
        col("removal_effect"))
  }

  /** Deterministic train/val/test labeling (generalizes
    * `split_hash`): the declared op's multiplicative bucket maps the
    * id column into [0, 100); cumulative `splits` percentages label
    * the buckets. Row-level (adds a `split` column); aggregate
    * downstream as needed.
    *
    * NOT a general hash: because the final reduction is mod 100, the
    * bucket is a fixed PERMUTATION of pmod(id, 100) — ids congruent
    * mod 100 always share a split, so any correlation between
    * id-assignment order and content (e.g. sequential ids per source)
    * carries into the splits. When ids are not uniform mod 100, pass
    * a pre-hashed id expression instead (e.g. register a
    * `xxhash64(id)` column and split on that). Negative ids bucket
    * via pmod — every id lands in exactly one split.
    *
    * Scale: pure narrow projection — no shuffle, survives any data
    * size, and the same row always lands in the same split. */
  def splitHash(df: DataFrame, idCol: String,
      splits: Seq[(String, Int)] =
        Seq("train" -> 80, "val" -> 10, "test" -> 10)): DataFrame = {
    require(splits.nonEmpty && splits.map(_._2).sum == 100,
      "split percentages must sum to 100")
    require(!df.columns.contains("split"),
      "input already has a 'split' column; rename it first " +
        "(splitHash would silently overwrite it)")
    val bucket = pmod((col(idCol) % 100000L) * lit(2654435761L), lit(100))
    val cuts = splits.scanLeft(0) { case (a, (_, pct)) => a + pct }.tail
    val label = splits.map(_._1).zip(cuts).init
      .foldRight(lit(splits.last._1): Column) {
        case ((name, cut), acc) => when(bucket < cut, name).otherwise(acc)
      }
    df.withColumn("split", label)
  }

  /** Per-key contribution cap (generalizes `domain_cap` — the
    * CCNet/RefinedWeb "no domain contributes more than K docs" rule):
    * keep each key's first `k` rows under `order` (best-first; make
    * the order total — e.g. end with an id column — or ties at the
    * boundary are nondeterministic). Compiled as the
    * `row_number() <= k` idiom, which GraftExtensions rewrites to the
    * bounded-heap TopKPerKey exec: the exchange carries
    * O(k · #keys · #partitions) rows, never a full per-key sort. */
  def domainCap(df: DataFrame, keyCol: String, k: Int,
      order: Seq[Column]): DataFrame = {
    require(k > 0, "domainCap needs k > 0")
    require(order.nonEmpty, "domainCap needs a best-first ordering")
    val rn = fresh("_rn", df.columns.toSet)
    val w = Window.partitionBy(col(keyCol)).orderBy(order: _*)
    df.withColumn(rn, row_number().over(w))
      .filter(col(rn) <= k)
      .drop(rn)
  }

  /** Temperature-scaled source mixing (generalizes `mix_temperature`:
    * multinomial α-sampling, P(key) ∝ n_key^α — α < 1 boosts small
    * sources, α = 1 is natural sampling). Splits `budget` rows into
    * per-key quotas ∝ floor(n^α · 1000) in integer arithmetic, turns
    * each quota into a ppm rate, and KEEPS the selected rows:
    * membership is a pure function of `idCol` (Knuth bucket), so
    * re-runs and appends never flip a kept row. Per-key counts ride a
    * broadcast join; selection is a per-row filter.
    *
    * Exactness: budget·weight can reach ~1e29 (budget ≤ 1e12 times a
    * weight of ~1e16 for a 1e13-row key at α = 1), far past int64, so
    * the quota numerator is computed in DECIMAL(38,0) — exact integer
    * arithmetic at any scale the require admits — and only the
    * ≤-budget quota comes back to int64. Every nonzero key gets a
    * quota of AT LEAST 1 (the α < 1 contract is that small sources
    * are boosted, so the floor must not silently drop them); the
    * realized total can therefore exceed `budget` by at most one row
    * per key whose natural share floored to zero. */
  def mixTemperature(df: DataFrame, keyCol: String, idCol: String,
      budget: Long, alpha: Double = 0.5): DataFrame = {
    require(budget > 0 && budget <= 1000000000000L,
      "mixTemperature needs 0 < budget <= 1e12 (quota arithmetic is " +
        "exact integer)")
    require(alpha > 0 && alpha <= 1, "need 0 < alpha <= 1")
    var taken = df.columns.toSet
    val b = fresh("_bucket", taken); taken += b
    val n = fresh("_n", taken); taken += n
    val wgt = fresh("_w", taken); taken += wgt
    val tw = fresh("_tw", taken); taken += tw
    val rate = fresh("_rate", taken); taken += rate
    // sqrt for the α = 0.5 default: correctly-rounded IEEE sqrt (pow's
    // rounding is weaker), matching the declared op bit-for-bit
    val scaled = if (alpha == 0.5) sqrt(col(n)) else pow(col(n), alpha)
    val counts = df.groupBy(col(keyCol))
      .agg(count(lit(1)).as(n))
      .withColumn(wgt, floor(scaled * 1000).cast("long"))
    val totW = counts.agg(sum(col(wgt)).as(tw))
    df
      .withColumn(b,
        pmod((col(idCol) % 100000L) * lit(2654435761L), lit(1000000L)))
      .join(broadcast(counts), keyCol)
      .crossJoin(broadcast(totW))
      .withColumn(rate,
        least(lit(1000000L),
          expr(s"CAST(greatest(1L, (CAST($budget AS DECIMAL(38,0)) * $wgt)" +
            s" div $tw) * 1000000 div $n AS BIGINT)")))
      .filter(col(b) < col(rate))
      .drop(b, n, wgt, tw, rate)
  }

  /** Deterministic training-order resharding (generalizes
    * `shuffle_shard` — the per-epoch "global shuffle" before writing
    * tokenized shards): adds `shard` (Knuth bucket of `idCol`) and
    * `pos` (the row's rank within its shard under an independent
    * multiplicative hash) — a pseudo-random write order that is a
    * pure function of the id: reproducible across re-runs, stable
    * under appends, auditable. One exchange on the shard key, then
    * per-shard sorts in parallel; size `nShards` ≈ #output files at
    * scale so parallelism = #shards. */
  def shuffleShards(df: DataFrame, idCol: String,
      nShards: Int = 8): DataFrame = {
    require(nShards > 0, "shuffleShards needs nShards > 0")
    require(!Set("shard", "pos").exists(df.columns.contains),
      "input already has a 'shard' or 'pos' column; rename it first " +
        "(shuffleShards would produce duplicate-named columns)")
    val ord = fresh("_ord", df.columns.toSet)
    val w = Window.partitionBy(col("shard"))
      .orderBy(col(ord), col(idCol))
    df
      .withColumn("shard",
        pmod((col(idCol) % 100000L) * lit(2654435761L), lit(nShards.toLong))
          .cast("int"))
      .withColumn(ord,
        pmod((col(idCol) % 100000L) * lit(1540483477L), lit(1000000L)))
      .withColumn("pos", row_number().over(w))
      .drop(ord)
  }

  /** Deterministic MinHash-LSH near-duplicate pairs (generalizes
    * `minhash_det`): trigram shingles -> 8 md5 min-signatures -> 4
    * banded bucket keys -> equi-join on band key -> exact Jaccard
    * verify on the candidates. Never all-pairs: the only shuffle keys
    * are band keys and doc ids.
    *
    * Output: (doc_a, doc_b, jaccard) for pairs >= `threshold`. */
  def minhashPairs(df: DataFrame, textCol: String, idCol: String,
      threshold: Double = 0.4): DataFrame =
    graft.text.SimilarityOps.minhashDetPairs(
      df.select(col(idCol).as("doc_id"), col(textCol).as("text")),
      threshold)

  /** Winsorized summary per group (generalizes `winsorize`): clamp an
    * integer-cents value to its per-group [pLo, pHi] order statistics
    * and report raw vs winsorized means. Exact: order statistics are
    * computed on the distinct-VALUE CDF (the ordered pass runs on the
    * value rollup, never the fact rows) and every mean divides exact
    * integer operands.
    *
    * `valueCents` must be an integral-typed column (pre-scale floats
    * to cents with floor(x * 100) to stay exact). */
  def winsorize(df: DataFrame, valueCents: Column, groupCol: String,
      pLo: Double = 0.05, pHi: Double = 0.95): DataFrame = {
    require(0 <= pLo && pLo < pHi && pHi <= 1, "need 0 <= pLo < pHi <= 1")
    val rows = df.select(col(groupCol).as("_g"),
      valueCents.cast("long").as("_cents"))
    val wc = Window.partitionBy(col("_g")).orderBy(col("_cents"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cdf = rows.groupBy(col("_g"), col("_cents"))
      .agg(count(lit(1)).as("_m"))
      .withColumn("_cum", sum(col("_m")).over(wc))
    val wn = Window.partitionBy(col("_g"))
    val keyed = cdf
      .withColumn("_n", max(col("_cum")).over(wn))
      .withColumn("_klo", floor(lit(pLo) * (col("_n") - 1)) + 1)
      .withColumn("_khi", floor(lit(pHi) * (col("_n") - 1)) + 1)
    val bounds = keyed.groupBy(col("_g")).agg(
      min(when(col("_cum") >= col("_klo"), col("_cents"))).as("_lo"),
      min(when(col("_cum") >= col("_khi"), col("_cents"))).as("_hi"))
    rows
      .join(broadcast(bounds), "_g")
      .withColumn("_clamped",
        least(greatest(col("_cents"), col("_lo")), col("_hi")))
      .groupBy(col("_g"))
      .agg(
        count(lit(1)).as("n_rows"),
        (max(col("_lo")) / 100.0).as("p_lo"),
        (max(col("_hi")) / 100.0).as("p_hi"),
        (avg(col("_cents")) / 100.0).as("mean_raw"),
        (avg(col("_clamped")) / 100.0).as("mean_winsor"))
      .withColumnRenamed("_g", groupCol)
  }

  /** BPE merge-rule training (generalizes `bpe_merges`): roll the
    * corpus up to the vocabulary-sized (word, count) table once, then
    * run `rounds` greedy merge rounds (count desc, pair-lexicographic
    * tie-break). Returns the ranked merge table
    * (merge_rank, s1, s2, pair_count).
    *
    * Scale: only the initial word rollup touches the data; every
    * round operates on the vocabulary-sized segmentation table with
    * the 1-row argmax broadcast executor-side (no driver collect). */
  def bpeMerges(df: DataFrame, textCol: String,
      rounds: Int = 8): DataFrame = {
    val words = df
      .select(explode(split(col(textCol), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    graft.text.LmOps.learnMerges(words.select(
      concat(lit("||"), regexp_replace(col("w"), "(.)", "$1||")).as("seg"),
      col("c")), rounds)._1
  }

  /** Run the standard curation pipeline (quality battery → exact
    * dedup → near-dup dedup) over a documents DataFrame, committing
    * each stage's SURVIVOR CORPUS as a snapshot version of the table
    * at `base` (v1 = quality survivors, v2 = exact-dedup keepers,
    * v3 = near-dup keepers) — the production form of the
    * `curation_funnel` report: every stage is time-travel-readable
    * afterwards (an audit can load the exact corpus any stage
    * shipped), and the returned report is derived from the COMMITTED
    * tables, not a recompute, so report and tables cannot disagree.
    *
    * Stage kernels are the declared ops' own — the `gopher_filter`
    * conjunction (CurationOps.qualitySignals), `dedup_exact`'s
    * md5-group min-id keeper, and the `minhash_det` band→verify
    * chain (jaccard ≥ `threshold`) with the EXISTS-lower-id drop
    * rule — so stages 1–3 reconcile with `curation_funnel` exactly
    * (ApiSpec locks the reconciliation). Requires `doc_id`, `text`,
    * `n_chars` columns.
    *
    * `embeddings` (r16, VERDICT r15 task 4) arms the FOURTH stage —
    * semantic dedup over the near-dup survivors: a (doc_id,
    * embedding) LOOKUP covering any subset of the docs — ONE row per
    * doc_id (a duplicate-keyed frame duplicates the stage's join
    * rows and the argmax silently collapses them by max score, so
    * which vector "wins" becomes score-dependent); survivors
    * with a vector are assigned to frozen seeds (the `semK`
    * lowest-doc_id EMBEDDED survivors — `semdedup_append`'s
    * lowest-id seed rule with a fixed k; re-clustering as the corpus
    * grows is a rebuild, the scheduled-maintenance path) and a doc
    * is dropped iff a LOWER-id same-cluster survivor scores rounded
    * cosine ≥ `semThreshold` (`semdedup`'s EXISTS-lower-id rule,
    * evidence = ALL embedded stage-3 survivors, dropped or not).
    * Docs without a vector always pass — no evidence, no drop. v4 =
    * the semantic keepers; the report gains a `dedup_semantic` row.
    *
    * Returns (stage_no, stage, n_docs, n_tokens, version). */
  def curate(docs: DataFrame, base: String,
      threshold: Double = 0.4,
      embeddings: Option[DataFrame] = None,
      semThreshold: Double = 0.3,
      semK: Int = 16): DataFrame = {
    val s = docs.sparkSession
    graft.ext.GraftFunctions.register(s)
    import graft.sources.Snapshots
    val q = graft.text.CurationOps.qualitySignals(docs)
      .filter(col("keep_q"))
      .select(col("doc_id"), col("text"),
        col("n").cast("long").as("n_tokens"))
    val v1 = Snapshots.commit(q, base)
    val q1 = Snapshots.readAsOf(s, base, v1)
    val v2 = Snapshots.commit(
      graft.text.CurationOps.exactKeepers(q1), base)
    val e2 = Snapshots.readAsOf(s, base, v2)
    val v3 = Snapshots.commit(
      graft.text.CurationOps.nearDupSurvivors(e2, threshold), base)
    val report3 = stageRow(s, 1, "quality", base, v1)
      .unionByName(stageRow(s, 2, "dedup_exact", base, v2))
      .unionByName(stageRow(s, 3, "dedup_near", base, v3))
    embeddings match {
      case None => report3
      case Some(embAll) =>
        val e3 = Snapshots.readAsOf(s, base, v3)
        // embedded stage-3 survivors: the semantic stage's whole world
        val ne = e3.select(col("doc_id"))
          .join(embAll.select(col("doc_id"), col("embedding")),
            Seq("doc_id"))
          .localCheckpoint() // consumers: seeds + assignment rollup
        val seeds = ne.orderBy(col("doc_id")).limit(semK)
          .select(col("doc_id").as("c_id"), col("embedding").as("c_emb"))
        val dropped = semanticDroppedIds(ne, seeds, semThreshold)
        val v4 = Snapshots.commit(
          e3.join(dropped, Seq("doc_id"), "left_anti"), base)
        report3.unionByName(stageRow(s, 4, "dedup_semantic", base, v4))
    }
  }

  /** One row (stage_no, stage, n_docs, n_tokens, version) of the
    * [[curate]] / [[curateIngest]] report: `table` read at `v`. */
  private def stageRow(s: SparkSession, no: Int, name: String,
      table: String, v: Long): DataFrame =
    graft.sources.Snapshots.readAsOf(s, table, v)
      .agg(count(lit(1)).as("n_docs"),
        // a stage that legitimately keeps zero docs sums to NULL —
        // downstream getLong consumers NPE; 0 is the true total
        coalesce(sum(col("n_tokens")), lit(0L)).as("n_tokens"))
      .select(lit(no).as("stage_no"), lit(name).as("stage"),
        col("n_docs"), col("n_tokens"), lit(v).as("version"))

  /** The semantic-dedup drop set shared by [[curate]] and
    * [[curateIngest]]'s one-shot form: assign `embedded` (doc_id,
    * embedding) rows to the frozen `seeds` (c_id, c_emb) via the
    * `semdedup_append` rollup kernel, then return the doc_ids with a
    * LOWER-id same-cluster neighbor at rounded cosine ≥ `threshold`
    * (the salted pair join `VectorOps.lowerIdDuplicates`). */
  private[graft] def semanticDroppedIds(embedded: DataFrame, seeds: DataFrame,
      threshold: Double): DataFrame = {
    val assigned = graft.vec.VectorOps.semdedupIndexRollup(
      embedded.select(col("doc_id").as("vec_id"), col("embedding")),
      seeds)
      .localCheckpoint() // consumers: both sides of the pair self-join
    graft.vec.VectorOps.lowerIdDuplicates(assigned, threshold)
      .select(col("vec_id").as("doc_id"))
  }

  /** INCREMENTAL curation — the rolling-crawl form of [[curate]]
    * (VERDICT r14 task 9): each pipeline stage lives as its own
    * hash-prefix-partitioned snapshot table under `base`
    * (`quality/`, `exact/`, `near/`, plus `bands/` — the MinHash band
    * index over the exact-dedup keepers, `minhash_append`'s layout),
    * each seeded by its first batch and maintained by appending each
    * ingest batch's stage survivors through
    * `Snapshots.appendPartitions` — per tick, each stage rewrites
    * ONLY the hash-prefix partitions its batch rows land in,
    * O(touched) write amplification instead of [[curate]]'s
    * full-snapshot-per-stage. (The fixture layout uses 16 prefixes;
    * at 100 TB the prefix space is sized so |batch| ≪ #prefixes, and
    * the natural next step — manifests allowing multiple dirs per
    * partition — would make survivor appends zero-rewrite, with
    * `compactPartitions` bounding the file count; every append here
    * goes through `appendPartitions`, so that step changes only
    * `Snapshots`.)
    *
    * Tick-by-tick ≡ one-shot because doc_ids are MONOTONE across
    * ticks (the append contract): quality is per-doc pure; exact
    * keepers are md5-group min-ids, and a later batch's ids are all
    * larger, so committed keepers never move and a batch doc survives
    * iff its hash is unseen in the table AND it is its batch-group
    * minimum; the near-dup EXISTS-lower-id rule can only drop BATCH
    * docs (their committed partners are lower-id), so committed rows
    * never retract. Near-dup candidates come from probing the
    * persisted band index (signatures are pure per-doc functions —
    * `minhash_append`'s argument), and the exact-Jaccard verify reads
    * only candidate docs' texts (SimilarityOps.verifiedPairs).
    * ApiSpec locks ticks ≡ one-shot per stage and the touched-only
    * write amplification.
    *
    * Returns the [[curate]]-shaped report (stage_no, stage, n_docs,
    * n_tokens, version) from the three committed survivor tables.
    *
    * Every call is one LEDGER TICK at a single version `v` shared by
    * all of the tick's tables ([[curateTables]]): the caller's
    * `version` (the streaming `foreachBatch` ledger —
    * [[graft.streaming.StreamOps.curateStreamMerge]] passes
    * batchId + 1), or, when `version` is None, the next free version
    * 1 + the highest committed version across those tables. Every
    * stage table commits AT `v` via `appendPartitionsAs` (`commitAs`
    * for `semseeds/`), a stage whose `v` is already committed is
    * skipped (per-TABLE idempotency — a tick that crashed between
    * stage commits resumes exactly where it died when it is replayed
    * at the same `version`), and every pre-tick read uses
    * `latestBefore(table, v)` so a replayed tick recomputes against
    * the same table states the first attempt saw (plain `latest`
    * would include the crashed attempt's own partial commits and
    * double-merge). Per-table idempotency is sufficient for
    * exactly-once overall because each stage's output is a
    * deterministic function of (batch, pre-tick table states) — the
    * monotone-doc_id contract again. A first tick whose batch keeps
    * no quality survivor commits nothing and returns an empty report.
    *
    * `embeddings` (r16) arms the semantic FOURTH stage: a static
    * (doc_id, embedding) lookup the tick joins against. Three more
    * tables under `base` — `sem/` (stage-4 survivors, hash-prefix
    * partitioned), `semidx/` (the frozen-seed cluster index over ALL
    * embedded stage-3 survivors, coarse-cell-partitioned (cc_id,
    * ⌈√k⌉ dirs — bounded as k grows) so the at-ingest
    * probe is a pruned read), `semseeds/` (catalog-sized, committed
    * once at the seed tick) — with the same per-table resume/gap
    * semantics. A batch doc drops iff a LOWER-id embedded stage-3
    * survivor (committed or batch-mate) shares its cluster at
    * rounded cosine ≥ `semThreshold`; docs the lookup misses pass
    * untouched. Seeds freeze as the `semK` lowest-doc_id embedded
    * survivors of the seed tick — under the monotone-id contract
    * those ARE the corpus's k lowest, making ticks ≡ [[curate]]'s
    * one-shot stage exactly (give the seed batch ≥ semK embedded
    * survivors; fewer freezes a smaller set and logs). A batch whose
    * min doc_id is at or below the running ingested max (the
    * per-tick `_ledger/ingest_max` sidecar) or the seed tick's
    * `seed_max_id` logs a counted monotone-id warning. */
  def curateIngest(batch: DataFrame, base: String,
      threshold: Double = 0.4,
      version: Option[Long] = None,
      embeddings: Option[DataFrame] = None,
      semThreshold: Double = 0.3,
      semK: Int = 16): DataFrame = {
    val s = batch.sparkSession
    graft.ext.GraftFunctions.register(s)
    import graft.sources.Snapshots
    import graft.text.{CurationOps, SimilarityOps}
    val tables = curateTables(base, embeddings.isDefined)
    val Seq(qT, eT, nT, bT) = tables.take(4)
    val survivorCols = Seq("hp", "h", "doc_id", "text", "n_tokens")
    val v = version.getOrElse(
      1L + tables.map(t => Snapshots.latest(s, t)).max)
    // the pre-tick read point: the latest version BELOW the tick's
    // own (replay must not see the crashed attempt's partial commits)
    def preV(table: String): Long = Snapshots.latestBefore(s, table, v)
    // Overlap the stage-table commits with the next stage's compute
    // (guide §2.6 — independent actions submitted from a small pool
    // back-fill each other): a stage's commit is consumed only by
    // the end-of-tick report, because every intra-tick read is of a
    // PRE-tick version (preV/latestBefore) or a checkpointed frame —
    // so the commit write jobs (TickProbe r20: ~30% of sequential
    // tick wall at sf1m) need not serialize against the verify and
    // assignment kernels. ALL futures are joined before the report
    // reads the committed versions back and before the tick returns,
    // so cross-tick ordering (tick i+1's preV) and the per-table
    // resume contract are byte-identical to the sequential order; on
    // a compute failure the catch below drains in-flight commits
    // first (each was already past its own compute, so it would have
    // landed in the sequential order too), then rethrows.
    val commitPool = java.util.concurrent.Executors.newFixedThreadPool(
      if (embeddings.isDefined) 3 else 2)
    val commitEc =
      scala.concurrent.ExecutionContext.fromExecutorService(commitPool)
    val pending = scala.collection.mutable.ArrayBuffer
      .empty[scala.concurrent.Future[Long]]
    // Tick-size sensitivity was checked, not assumed: at 20×2500-doc
    // sf1m ticks (every stage fixed-overhead-dominated — the trigger
    // sweep's documented anti-pattern) an order-controlled 3-pair
    // A/B measured the overlap NEUTRAL within the host's ±20% noise
    // (new 166/213/230 s vs old 181/211/234 s, no consistent
    // direction), so the overlap is unconditional — no size gate.
    def asyncCommit(body: => Long): scala.concurrent.Future[Long] = {
      val f = scala.concurrent.Future(body)(commitEc)
      pending += f // appended from the tick thread only
      f
    }
    def await(f: scala.concurrent.Future[Long]): Long =
      scala.concurrent.Await.result(
        f, scala.concurrent.duration.Duration.Inf)
    def tick(): DataFrame = {
    // stage-1 rows of THIS batch (per-doc pure battery + content hash)
    val qb = CurationOps.qualitySignals(batch)
      .filter(col("keep_q"))
      .select(col("doc_id"), col("text"),
        col("n").cast("long").as("n_tokens"), md5(col("text")).as("h"))
      .withColumn("hp", substring(col("h"), 1, 1))
      .select(survivorCols.map(col): _*)
      .localCheckpoint() // consumers: quality merge + exact stage
    if (preV(qT) == 0L && qb.isEmpty) {
      // a degenerate first tick can't throw — a stream must keep
      // running; the tick leaves a version gap on every table and
      // reports nothing
      import s.implicits._
      return Seq.empty[(Int, String, Long, Long, Long)]
        .toDF("stage_no", "stage", "n_docs", "n_tokens", "version")
    }
    // a false from the As-commits means the version was already there
    // (either this tick's own guard raced a replay — benign — or a
    // concurrent second writer took it, violating the single-writer-
    // per-table contract and interleaving another stream's rows into
    // the ledger). Silent before r16 (ADVICE); now always surfaced.
    def unconfirmed(table: String): Unit =
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"curateIngest: fixed-version commit of $table@$v returned " +
          "false — the version was committed by someone else between " +
          "this tick's guard and its write. Benign iff it was a " +
          "re-offered replay of THIS stream's tick; if a second " +
          "writer shares the table, the single-writer contract is " +
          "broken and the stage's reported rows are the other " +
          "writer's. Audit the table's writers.")
    // the append shared by every stage table (Snapshots.appendPartitionsAs
    // builds the touched-partitions merge, clusters it one file per
    // partition, seeds a fresh table and commits nothing for empty
    // rows) AT the tick's version, skipping a table that already holds
    // it (per-table resume). Returns the version the report reads: the
    // tick's, or the table's pre-tick version when `rows` was empty.
    def append(table: String, rows: DataFrame, partCol: String): Long =
      if (Snapshots.versionExists(s, table, v) ||
          Snapshots.appendPartitionsAs(rows, table, partCol, v)) v
      else if (Snapshots.versionExists(s, table, v)) {
        unconfirmed(table); v
      } else preV(table) // empty rows: nothing to commit this tick
    def survivors(rows: DataFrame): DataFrame =
      rows.select(survivorCols.map(col): _*)
    val fQ = asyncCommit(append(qT, survivors(qb), "hp"))
    // stage-2: batch keepers — hash unseen in the committed table
    // (probe prunes to the batch's own hash prefixes) AND batch-group
    // min doc_id
    val prevE = preV(eT)
    val unseen =
      if (prevE == 0L) qb
      else qb.join(
        Snapshots.readAsOf(s, eT, prevE)
          .join(broadcast(qb.select(col("hp")).distinct()),
            Seq("hp"), "left_semi")
          .select(col("h")),
        Seq("h"), "left_anti")
    val kb = unseen.join(
      unseen.groupBy(col("h")).agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id")),
      Seq("doc_id"), "left_semi")
      .localCheckpoint() // consumers: exact merge, bands, near verify
    val fE = asyncCommit(append(eT, survivors(kb), "hp"))
    // stage-3: probe the persisted band index with the batch keepers'
    // band rows; a batch doc is dropped iff a LOWER-id exact keeper
    // (committed or batch-mate) verifies at jaccard >= threshold
    val kbBands = SimilarityOps.minhashIndexRollup(
      kb.select(col("doc_id"), col("text")))
      .localCheckpoint() // consumers: probe + bands merge
    val prevB = preV(bT)
    val allBands =
      if (prevB == 0L) kbBands
      else Snapshots.readAsOf(s, bT, prevB)
        .select(col("pb"), col("doc_id"), col("band"), col("bk"))
        .unionByName(kbBands)
    val cand = allBands
      .select(col("doc_id").as("doc_a"), col("band"), col("bk"))
      .join(kbBands.select(col("doc_id").as("doc_b"), col("band"),
        col("bk")), Seq("band", "bk"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
      .distinct()
    // candidate texts: committed keepers (pruned read) + this batch
    val candTexts =
      (if (prevE == 0L) kb
       else Snapshots.readAsOf(s, eT, prevE)
         .select(survivorCols.map(col): _*).unionByName(kb))
        .select(col("doc_id"), col("text"))
    val dropped = SimilarityOps.verifiedPairs(cand, candTexts, threshold)
      .filter(col("jaccard") >= threshold)
      .select(col("doc_b").as("doc_id")).distinct()
    // materialized: nb's lineage is the whole band-probe + verify
    // chain, and it has 2-4 consumers (the append's touched-partition
    // list and union, plus the semantic stage's embed join and
    // anti-join) — unchecked it re-executed the verify per consumer
    // (TickProbe r16)
    val nb = kb.join(dropped, Seq("doc_id"), "left_anti")
      .localCheckpoint()
    val fN = asyncCommit(append(nT, survivors(nb), "hp"))
    asyncCommit(append(bT, kbBands, "pb"))
    // stage-4 (armed by `embeddings`): semantic dedup of the batch's
    // stage-3 survivors against the persisted cluster index — three
    // more tables (sem/ survivors by hp, semidx/ cluster index by
    // c_id, semseeds/ the frozen catalog-sized seed set). Seeds
    // freeze on the SEED tick as the semK lowest-doc_id embedded
    // survivors of that batch — the monotone-doc_id contract puts
    // the corpus's k lowest ids in the first batch, so ticks ≡
    // one-shot exactly when the seed batch carries ≥ semK embedded
    // survivors (fewer freezes a smaller set; logged). Until a tick
    // has an embedded survivor the stage passes batch docs through
    // UNFILTERED — but sem/ still seeds and ticks on every batch
    // (sb = nb commits below); only semidx/ and semseeds/ stay
    // unseeded (version gaps) until the seed tick.
    val semStage = embeddings.map { embAll =>
      import graft.vec.VectorOps
      val Seq(sT, iT, dT) = tables.drop(4)
      // rebuild-collision guard (ADVICE r17): a ledger freezes seeds
      // exactly ONCE (the seed tick; reclusterSemLedger's reset also
      // leaves exactly one version), so a second semseeds version, or
      // a semantic table ahead of this tick's version without this
      // version committed (a genuine replay always has its own
      // version committed), can only come from a second writer —
      // whose commits land in future tick slots, so later ticks would
      // skip their semidx merge as "replays" or read cross-epoch
      // seeds/index. Both fail loudly with the rebuild path.
      val dvs = Snapshots.versions(s, dT)
      require(dvs.size <= 1,
        s"curateIngest: $dT has ${dvs.size} committed versions " +
          s"(${dvs.mkString(", ")}) — a ledger freezes seeds exactly " +
          "once, so a second version means a second writer has " +
          "committed to this pipeline's tables. Stop the ticks at a " +
          "tick boundary and rebuild with " +
          "Graft.reclusterSemLedger(lastBatchId), which resets the " +
          "semantic tables into the tick version space")
      Seq(dT, iT).foreach { t =>
        val lt = Snapshots.latest(s, t)
        require(lt <= v || Snapshots.versionExists(s, t, v),
          s"curateIngest: $t is at version $lt — ahead of this " +
            s"tick's version $v, which is itself not committed. A " +
            "second writer has committed to this pipeline's tables " +
            "(its commits land in future tick slots). Stop the ticks " +
            "at a tick boundary and rebuild with " +
            "Graft.reclusterSemLedger(lastBatchId)")
      }
      val nbe = nb.select(col("doc_id"))
        .join(embAll.select(col("doc_id"), col("embedding")),
          Seq("doc_id"))
        .localCheckpoint() // consumers: seed slice + assignment rollup
      // running ingest max (ADVICE r17): the seed-tick max alone
      // misses a batch arriving above it but below a PREVIOUSLY
      // committed batch's max — also a monotone-contract break (the
      // 'committed rows are the lower-id side' pair evidence). Each
      // tick records running-max(ingested doc_id) as a tiny
      // driver-written sidecar keyed by its version; the guard reads
      // the latest record STRICTLY BELOW this tick's version, so a
      // replayed tick never false-alarms against its own record.
      // One job: NULLs mean an empty batch.
      val mm = batch.agg(min(col("doc_id")), max(col("doc_id"))).head
      val batchMinMax =
        if (mm.isNullAt(0)) None else Some((mm.getLong(0), mm.getLong(1)))
      val priorMax = readIngestMax(s, base, v)
      val prevD = preV(dT)
      // the committed seed set this tick assigns against: the
      // pre-tick version, or this tick's own on a replayed seed tick
      val seedV =
        if (prevD > 0L) prevD
        else if (Snapshots.versionExists(s, dT, v)) v
        else 0L
      // (seeds, non-empty flag)
      val (seedsT, hasSeeds) =
        if (seedV > 0L) {
          val t = Snapshots.readAsOf(s, dT, seedV)
          // one job: the seed count and the freeze tick's recorded max
          val r = t.agg(count(lit(1)),
            if (t.columns.contains("seed_max_id")) max(col("seed_max_id"))
            else lit(null).cast("long")).head
          // monotone-id guard (VERDICT r16 #5): the frozen seed set
          // is the corpus's semK lowest ids ONLY under the
          // monotone-doc_id append contract. A batch dipping below
          // the running ingested max (or the seed tick's recorded
          // max, whichever is higher) means a one-shot curate over
          // the full corpus would have picked a different seed set
          // or different pair evidence — convert that silent
          // divergence into a loud, counted warning.
          if (prevD > 0L && !r.isNullAt(1) && batchMinMax.isDefined) {
            val recorded = math.max(r.getLong(1),
              priorMax.getOrElse(Long.MinValue))
            val bmin = batchMinMax.get._1
            if (bmin <= recorded) {
              monotoneWarnings.incrementAndGet()
              org.slf4j.LoggerFactory.getLogger(getClass).warn(
                s"curateIngest: batch min doc_id $bmin <= $recorded " +
                  "(the max doc_id ingested by earlier ticks) — the " +
                  "monotone-id append contract is violated, so the " +
                  "frozen seeds are NOT the corpus's lowest ids " +
                  "and/or committed rows are no longer the lower-id " +
                  "pair side; tick results diverge from a one-shot " +
                  "curate. Re-cluster with Graft.reclusterSemLedger " +
                  "or fix the feed order")
            }
          }
          (t, r.getLong(0) > 0L)
        }
        else {
          val sd = nbe.orderBy(col("doc_id")).limit(semK)
            .select(col("doc_id").as("c_id"),
              col("embedding").as("c_emb"))
            .localCheckpoint() // consumers: count/max, commit, rollup
          val r = sd.agg(count(lit(1)), max(col("c_id"))).head
          val nSeeds = r.getLong(0)
          // no embedded survivor yet: nothing to seed from, so the
          // stage passes the batch through and semseeds stays a gap
          if (nSeeds > 0L) {
            if (nSeeds < semK)
              org.slf4j.LoggerFactory.getLogger(getClass).warn(
                s"curateIngest: seeding $dT with $nSeeds < semK=$semK " +
                  "embedded survivors — the frozen seed set is smaller " +
                  "than requested, and a one-shot curate over the full " +
                  "corpus would pick a different (larger) set; for " +
                  "tick ≡ one-shot give the seed batch ≥ semK embedded " +
                  "docs")
            // the guard metadata: every seed row carries the freeze
            // tick's max seed id (constant column — the snapshot
            // commit IS the record)
            if (!Snapshots.commitAs(
                sd.withColumn("seed_max_id", lit(r.getLong(1))), dT, v))
              unconfirmed(dT)
          }
          (sd, nSeeds > 0L)
        }
      // record this tick's running max (idempotent on replay: the
      // same batch re-derives the same value)
      batchMinMax.foreach { case (_, bmax) =>
        writeIngestMax(s, base, v,
          math.max(priorMax.getOrElse(Long.MinValue), bmax))
      }
      // the assignment kernels take exactly (c_id, c_emb); the guard
      // column stays in the table, not the kernel input
      val seeds = seedsT.select(col("c_id"), col("c_emb"))
      val dropped =
        if (!hasSeeds) nbe.limit(0).select(col("doc_id"))
        else {
          val batchIdx = VectorOps.semdedupIndexRollup(
            nbe.select(col("doc_id").as("vec_id"), col("embedding")),
            seeds)
            .localCheckpoint() // consumers: touched semi, merge, probe
          val prevI = preV(iT)
          val touched = batchIdx.select(col("cc_id")).distinct()
          // the committed index for the evidence semi-join; a
          // pre-coarse-cell table (no cc_id) fails HERE with the
          // migration path instead of a downstream missing-column
          // AnalysisException (ADVICE r17 — the streaming maintainer
          // runs the same check)
          val prevIdx =
            if (prevI == 0L) None
            else {
              val t = Snapshots.readAsOf(s, iT, prevI)
              require(t.columns.contains("cc_id"),
                s"curateIngest: persisted semantic index $iT " +
                  "predates the coarse-cell layout (no cc_id " +
                  "partition column) — rebuild it with " +
                  "Graft.reclusterSemLedger before ticking against it")
              Some(t)
            }
          // evidence = committed index (all earlier embedded stage-3
          // survivors, touched COARSE CELLS only — the cell-
          // partitioned layout's pruned read; cells ⊇ the batch's
          // clusters, and the pair join on c_id below filters inside
          // them) + this batch's own rows; monotone ids make
          // committed rows always the lower-id side
          val allIdx = prevIdx.map(_
              .join(broadcast(touched), Seq("cc_id"), "left_semi")
              .select(col("cc_id"), col("c_id"), col("vec_id"),
                col("embedding"))
              .unionByName(batchIdx))
            .getOrElse(batchIdx)
          val drops = allIdx
            .select(col("c_id"), col("vec_id").as("_aid"),
              col("embedding").as("_aemb"))
            .join(batchIdx.select(col("c_id"), col("vec_id").as("_bid"),
              col("embedding").as("_bemb")), Seq("c_id"))
            .filter(col("_aid") < col("_bid"))
            .withColumn("_s", round(expr("dot_f(_bemb, _aemb)"), 4))
            .filter(col("_s") >= semThreshold)
            .select(col("_bid").as("doc_id")).distinct()
          asyncCommit(append(iT, batchIdx, "cc_id"))
          drops
        }
      // materialized for the append's two reads (touched partitions +
      // union) — sb's lineage re-runs the cluster probe otherwise
      val sb = nb.join(dropped, Seq("doc_id"), "left_anti")
        .localCheckpoint()
      val fS = asyncCommit(append(sT, survivors(sb), "hp"))
      (sT, fS)
    }
    // the commit barrier: EVERY submitted commit (bands and semidx
    // have no report row) lands before the report reads versions
    // back and before the tick returns
    pending.toList.foreach(await)
    val report3 = stageRow(s, 1, "quality", qT, await(fQ))
      .unionByName(stageRow(s, 2, "dedup_exact", eT, await(fE)))
      .unionByName(stageRow(s, 3, "dedup_near", nT, await(fN)))
    semStage.map { case (sT, fS) =>
      report3.unionByName(
        stageRow(s, 4, "dedup_semantic", sT, await(fS)))
    }.getOrElse(report3)
    } // tick()
    try tick()
    catch {
      case e: Throwable =>
        // drain in-flight commits before rethrowing, so no write
        // outlives the tick (their own failures stay secondary)
        pending.toList.foreach(f => scala.util.Try(await(f)))
        throw e
    } finally commitPool.shutdown()
  }

  /** The snapshot tables one [[curateIngest]] tick commits under
    * `base`: quality, exact, near and the band index, plus sem,
    * semidx and semseeds when the semantic stage is armed. */
  private[graft] def curateTables(base: String,
      semantic: Boolean): Seq[String] =
    (Seq("quality", "exact", "near", "bands") ++
      (if (semantic) Seq("sem", "semidx", "semseeds") else Nil))
      .map(t => s"$base/$t")

  /** STREAMING curation — the third member of the family
    * ([[curate]] one-shot audit, [[curateIngest]] ledger ticks, this
    * op a continuous crawl): attaches
    * `graft.streaming.StreamOps.curateStreamMerge` as the
    * `foreachBatch` body of `docs` (a streaming DataFrame of
    * doc_id/text/n_chars rows, doc_ids monotone across batches — the
    * append contract) and starts the query. Each micro-batch runs one
    * curateIngest tick at the caller-fixed version batchId + 1, so
    * the committed stage tables under `base` are identical to
    * curateIngest ticks over the same slices, crash recovery is
    * per-table resume, and replays are no-ops — see
    * curateStreamMerge's scaladoc for the checkpoint–table coupling
    * caveats. The returned query runs until stopped (pair with
    * `Trigger.AvailableNow` upstream semantics by configuring the
    * reader; this facade deliberately leaves trigger choice to the
    * caller's reader/writer defaults).
    *
    * `embeddings` (r16): a STATIC (doc_id, embedding) lookup frame
    * arming the semantic fourth stage on every tick — see
    * [[curateIngest]] and `curateStreamMerge` for the three extra
    * tables and the frozen-seed contract. */
  def curateStream(docs: DataFrame, base: String, checkpoint: String,
      threshold: Double = 0.4,
      embeddings: Option[DataFrame] = None,
      semThreshold: Double = 0.3,
      semK: Int = 16)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .foreachBatch { (b: DataFrame, id: Long) =>
        graft.streaming.StreamOps.curateStreamMerge(b, id, base,
          threshold, embeddings, semThreshold, semK)
        ()
      }
      .option("checkpointLocation", checkpoint)
      .start()

  /** Count of monotone-id contract warnings emitted by the semantic
    * stage's seed guard — package-visible so tests assert the guard
    * fires without a log-capture harness. Monotonic; never reset by
    * production code. */
  private[graft] val monotoneWarnings =
    new java.util.concurrent.atomic.AtomicLong(0)

  /** The curation ledger's running-ingest-max sidecar dir: tiny
    * driver-written files under `base/_ledger/ingest_max/<version>`,
    * each holding max(doc_id) ingested up to and including that
    * tick. Pipeline metadata, not a snapshot table — the monotone-id
    * guard's memory across ticks and restarts.
    *
    * RETENTION (VERDICT r18 #2): only the TWO newest version records
    * are kept — the guard only ever reads the latest record strictly
    * below the current tick's version, and exactly-once resume only
    * replays the newest tick, so the newest record serves live ticks
    * and the second-newest serves a replay of the newest. Older
    * records are pruned at write, keeping both the dir's file count
    * and every read/listing O(1) regardless of stream age (r18
    * shipped one file per tick with a full listStatus per tick —
    * per-tick cost linear in stream age, quadratic cumulative). */
  private def ingestMaxDir(base: String): String =
    s"$base/_ledger/ingest_max"

  /** Latest recorded running max from versions STRICTLY BELOW
    * `beforeV` (a replayed tick must never compare against its own
    * record). None when no earlier tick recorded one — or when the
    * record was pruned by retention, which can only happen for a
    * replay older than the newest tick (not a path exactly-once
    * resume produces). */
  private def readIngestMax(s: SparkSession, base: String,
      beforeV: Long): Option[Long] = {
    val dir = new org.apache.hadoop.fs.Path(ingestMaxDir(base))
    val f = dir.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!f.exists(dir)) None
    else {
      // O(1): retention bounds the dir at ≤2 records (+1 transient)
      val all = f.listStatus(dir).toSeq
        .flatMap(st => scala.util.Try(st.getPath.getName.toLong).toOption)
      val vs = all.filter(_ < beforeV)
      if (vs.isEmpty) {
        // retention pruned the guard's memory for this replay depth:
        // a replay more than one tick behind the newest otherwise
        // falls back to seed-max-only SILENTLY, indistinguishable
        // from "no earlier tick" (ADVICE r19) — say so once, loudly
        if (all.nonEmpty)
          System.err.println(
            s"curateIngest: ledger sidecar $dir holds only versions " +
              s">= $beforeV (${all.sorted.mkString(",")}) — the " +
              s"running-max record for a replay of tick $beforeV was " +
              "pruned by retention; the monotone-id guard falls back " +
              "to the seed-epoch max for this tick")
        None
      } else {
        val p = new org.apache.hadoop.fs.Path(dir, vs.max.toString)
        val in = f.open(p)
        val raw =
          try {
            val bos = new java.io.ByteArrayOutputStream()
            val buf = new Array[Byte](64)
            var n = in.read(buf)
            while (n >= 0) { bos.write(buf, 0, n); n = in.read(buf) }
            new String(bos.toByteArray, "UTF-8").trim
          } finally in.close()
        // the temp+rename write makes a torn record unreachable on
        // rename-atomic filesystems; keep the parse failure loud and
        // actionable anyway (ADVICE r18: a bare NumberFormatException
        // named neither the file nor the fix)
        scala.util.Try(raw.toLong).toOption match {
          case some @ Some(_) => some
          case None => throw new IllegalStateException(
            s"curation ledger sidecar $p is unreadable (content: " +
              s"'${raw.take(32)}') — delete the file and replay the " +
              "tick that wrote it (the record is re-derived from " +
              "the batch), or rewrite it with the correct running max")
        }
      }
    }
  }

  /** Write (overwrite — replays re-derive the same value) the
    * running max for tick `v`: temp file + rename into place (a
    * crash between create and write can otherwise leave a 0-byte
    * record — ADVICE r18), then prune every record older than the
    * two newest so the dir stays O(1) files (see [[ingestMaxDir]]).
    *
    * SINGLE-WRITER ASSUMPTION (ADVICE/VERDICT r19): ticks against one
    * `base` are serial — the foreachBatch contract already guarantees
    * it for a stream, and concurrent batch callers on one base are
    * outside the ledger's contract (the snapshot commit itself would
    * race first). The prune therefore only needs to dodge a CRASHED
    * writer's debris, not a live one: it deletes `.tmp-<v>` entries
    * only for versions at or below the newest committed record (a
    * crashed writer's leftover whose tick already superseded it, or
    * this writer's own), and leaves anything else in place. */
  private def writeIngestMax(s: SparkSession, base: String, v: Long,
      value: Long): Unit = {
    val dir = new org.apache.hadoop.fs.Path(ingestMaxDir(base))
    val f = dir.getFileSystem(s.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(dir, s".tmp-$v")
    val out = f.create(tmp, true)
    try out.write(value.toString.getBytes("UTF-8"))
    finally out.close()
    val p = new org.apache.hadoop.fs.Path(dir, v.toString)
    if (f.exists(p)) f.delete(p, false) // replay overwrite
    require(f.rename(tmp, p),
      s"could not rename ledger sidecar $tmp into place at $p")
    // retention: keep the two newest version records, drop the rest.
    // Stale `.tmp-<v>` debris (a crashed writer) is deleted only when
    // its version is already committed-or-superseded; unparseable
    // names are left alone (ADVICE r19: deleting EVERY non-numeric
    // entry would include a concurrent writer's in-flight temp file —
    // out of contract, but the prune shouldn't be the thing that
    // breaks it)
    val entries = f.listStatus(dir).toSeq
    val versions = entries
      .flatMap(st =>
        scala.util.Try(st.getPath.getName.toLong).toOption)
    val keep = versions.sorted.takeRight(2).toSet
    val newest = if (versions.isEmpty) Long.MinValue else versions.max
    entries.foreach { st =>
      val name = st.getPath.getName
      val drop = scala.util.Try(name.toLong).toOption match {
        case Some(ver) => !keep.contains(ver)
        case None => // .tmp-<v> with v already superseded = crash debris
          name.startsWith(".tmp-") &&
            scala.util.Try(name.stripPrefix(".tmp-").toLong).toOption
              .exists(_ <= newest)
      }
      if (drop) f.delete(st.getPath, false)
    }
  }

  /** RE-CLUSTER the curation family's semantic index — the
    * scheduled-maintenance rebuild the ingest tick deliberately
    * never performs (seeds freeze at the seed tick so that per-tick
    * assignments stay pure functions of frozen state; as the corpus
    * grows past the frozen k the clusters fatten and the at-ingest
    * pair work drifts above its |batch|·O(τ) budget — this is the
    * rebuild that re-pins it, completing the lifecycle
    * `semdedup_append`'s scaladoc promises). Every [[curateIngest]]
    * base is a ledger (tick i of a stream commits version i+1; a
    * version-less tick commits at the next free version), so this is
    * the one rebuild: the executable form of the stream trio's
    * "reset tables and checkpoint together" maintenance step, scoped
    * to the two semantic tables so the checkpoint and every other
    * stage table keep running untouched.
    *
    * Protocol: STOP the ticks at a tick boundary, call this with
    * `lastBatchId` = the last COMPLETED tick's version - 1 (a
    * stream's last batchId), then resume. The rebuild derives FRESH
    * seeds from the CURRENT corpus — the embedded stage-3 survivors
    * (latest `near/` joined to the `embeddings` lookup), k = max(8,
    * ⌈n/τ⌉) lowest doc_ids, `semdedup`'s τ rule sized to today's
    * corpus, not the seed tick's — and re-assigns every embedded
    * survivor with the shared three-level kernel (it reads only
    * `near/` and `embeddings`, never the tables it replaces), then
    * RESETS `semseeds/` and `semidx/` and commits the rebuilt
    * contents at version lastBatchId + 1 — the last completed tick's
    * version — so the next tick (version lastBatchId + 2) reads the
    * new seed epoch via its latestBefore and merges strictly ahead
    * of it.
    *
    * The reset DELETES the two tables' history (they are derived
    * indexes — rebuildable from near/ + embeddings at any time; the
    * corpus-holding stage tables quality/exact/near/sem and the band
    * index keep full time-travel history). Crash between the two
    * commits: re-run with the same lastBatchId (the derivation is
    * deterministic, the reset idempotent). Do not run ticks
    * concurrently with the rebuild — that is what "stop at a tick
    * boundary" means. Returns the committed version. */
  def reclusterSemLedger(s: SparkSession, base: String,
      embeddings: DataFrame, lastBatchId: Long,
      tau: Int = 100): Long = {
    import graft.sources.Snapshots
    val v = lastBatchId + 1
    require(lastBatchId >= 0L,
      s"reclusterSemLedger: lastBatchId must be >= 0 (got $lastBatchId)")
    // quality/ commits on every non-gap tick — its latest version is
    // the ledger's clock; a rebuild pinned BEHIND it would collide
    // with already-committed tick versions
    val tick = Snapshots.latest(s, s"$base/quality")
    require(tick <= v,
      s"reclusterSemLedger: lastBatchId + 1 = $v is behind the " +
        s"ledger's last committed tick version $tick — pass the " +
        "batchId of the stream's LAST completed batch (stop the " +
        "stream at a tick boundary first)")
    val (sdM, idx) = semRebuildFrames(s, base, embeddings, tau)
    // both frames are checkpoint-backed and read nothing under the
    // two tables being reset, so the delete cannot invalidate them
    val conf = s.sparkContext.hadoopConfiguration
    Seq(s"$base/semseeds", s"$base/semidx").foreach { t =>
      val p = new org.apache.hadoop.fs.Path(t)
      val f = p.getFileSystem(conf)
      if (f.exists(p)) f.delete(p, true)
    }
    require(Snapshots.commitAs(sdM, s"$base/semseeds", v),
      s"reclusterSemLedger: semseeds@$v exists after reset — a " +
        "concurrent writer is violating the single-writer contract")
    require(Snapshots.commitPartitionedAs(
        idx.repartition(col("cc_id")), s"$base/semidx", "cc_id", v),
      s"reclusterSemLedger: semidx@$v exists after reset — a " +
        "concurrent writer is violating the single-writer contract")
    v
  }

  /** Shared derivation of the semantic rebuild: fresh seeds (the
    * k = max(8, ⌈n/τ⌉) lowest embedded stage-3 survivor ids, carrying
    * the seed_max_id guard column) and the fully re-assigned cluster
    * index. Reads ONLY `near/` and `embeddings` — never semseeds/
    * semidx — and checkpoint-backs both frames, so [[reclusterSemLedger]]
    * can reset those tables between deriving and committing. */
  private def semRebuildFrames(s: SparkSession, base: String,
      embeddings: DataFrame, tau: Int): (DataFrame, DataFrame) = {
    graft.ext.GraftFunctions.register(s)
    import graft.sources.Snapshots
    import graft.vec.VectorOps
    val nT = s"$base/near"
    val vN = Snapshots.latest(s, nT)
    require(vN > 0L,
      s"reclusterSemLedger needs a curated corpus under $base — no " +
        "committed near/ version found (run curate ticks first)")
    val ne = Snapshots.readAsOf(s, nT, vN).select(col("doc_id"))
      .join(embeddings.select(col("doc_id"), col("embedding")),
        Seq("doc_id"))
      .localCheckpoint() // consumers: count + seed slice + rollup
    val n = ne.count()
    require(n > 0L,
      "reclusterSemLedger: no embedded stage-3 survivors to cluster")
    val k = math.max(8L, math.ceil(n.toDouble / tau).toLong)
    // the k lowest SURVIVOR ids (sparse — the semdedup ops' dense
    // `id < k` rule doesn't apply): the global top-k runs on the
    // SKINNY id column only (TakeOrdered holds 8·k bytes, not
    // k full embedding rows — ~80 MB at a 1 B-doc corpus), then a
    // semi-join recovers the vectors. Past ~1 B seeds the driver-side
    // merge itself is the bound; the declared next rung there is
    // range-partitioned selection of the k-th id, not a bigger
    // TakeOrdered.
    val seedIds = ne.select(col("doc_id"))
      .orderBy(col("doc_id")).limit(k.toInt)
    val sd = ne.join(seedIds, Seq("doc_id"), "left_semi")
      .select(col("doc_id").as("c_id"), col("embedding").as("c_emb"))
      .localCheckpoint() // consumers: max + commit + rollup
    val sdMax = sd.agg(max(col("c_id"))).head.getLong(0)
    val idx = VectorOps.semdedupIndexRollup(
      ne.select(col("doc_id").as("vec_id"), col("embedding")), sd)
    (sd.withColumn("seed_max_id", lit(sdMax)), idx)
  }
}
