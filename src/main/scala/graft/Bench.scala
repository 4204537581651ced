package graft

import scala.util.control.NonFatal

object Bench {

  /** Headline queries benched at sf0.1, mirroring BASELINE.md's 11-query
    * table (pricing_agg..vector_topk). The full 49-query inventory runs in
    * Verify at sf0.01; the quadratic ops (knn_label, cosine_neardup) are
    * correctness-only and excluded from the timed set by design.
    */
  val headline: Seq[String] = Seq(
    "pricing_agg", "join_bcast_star", "join_inner", "window_rank", "topk",
    "agg_distinct", "join_anti", "date_funcs", "json_funcs", "sessionize",
    "vector_topk")

  /** The linear-plan LLM-pipeline set, timed when
    * SPARK_GRAFT_BENCH_SET=pipeline (secondary evidence, not the
    * driver's headline contract — BASELINE.md has no rows for these).
    * Quadratic/correctness-only ops (knn_label, cosine_neardup,
    * dedup_minhash, ngram_jaccard, simhash_*, neardup_cluster,
    * minhash_det, dedup_keep_best) stay excluded by design. */
  val pipeline: Seq[String] = Seq(
    "dedup_exact", "token_count", "quality_score", "rep_ratio",
    "redact_terms", "sample_stratified", "sample_budget", "split_hash",
    "pack_sequences", "doc_fingerprint", "lang_id", "vocab_build",
    "tfidf_top", "contamination", "contamination_bloom", "heavy_hitters",
    "bloom_semi", "cdc_latest", "resample_daily", "embed_quantize",
    "ann_bucket_topk", "ivf_topk", "kmeans_assign", "bm25_top",
    "dup_span_frac", "chunk_docs", "pmi_bigrams", "unigram_logprob",
    "mix_uniform", "media_dedup", "media_decode", "edit_dist_pairs")

  /** The GA-composite / flow / journey / warehouse families, timed when
    * SPARK_GRAFT_BENCH_SET=ga (VERDICT r6 missing item 1: these 145 ops
    * had no per-round timing artifact). 34 representative keys spanning
    * every family: sessionize-chain composites, funnel/cohort/attribution,
    * time-series, graph, and the merge/diff/audit warehouse ops. The
    * remaining keys in those families share the same plan shapes
    * (clustered window exchange → bounded rollup) as these. */
  val ga: Seq[String] = Seq(
    "ga_report", "ga_sessions", "session_metrics", "funnel_seq",
    "funnel_steps", "cohort_retention", "cdc_latest", "scd2_track",
    "session_concurrency", "anomaly_zscore", "user_streaks",
    "markov_transitions", "first_touch", "conversion_lag", "trend_slope",
    "seasonality_dow", "rfm_segments", "decile_lift", "churn_flags",
    "rolling_wau", "new_vs_returning", "bounce_rate", "attribution_linear",
    "attribution_time_decay", "session_paths", "inter_event_hist",
    "merge_upsert", "merge_partitioned", "table_diff", "fk_orphans",
    "equi_depth_hist", "key_skew", "page_transitions", "pagerank")

  /** The LLM-curation family beyond `pipeline`, timed when
    * SPARK_GRAFT_BENCH_SET=curation: quality batteries, corpus
    * statistics, mixing and sampling plans, the dedup reports and the
    * two text-index appends. */
  val curation: Seq[String] = Seq(
    "entropy_filter", "cooccur_topk", "dsir_weights", "bpe_encode",
    "shingle_containment", "winnowing_fingerprint", "zipf_fit",
    "domain_cap", "mix_temperature", "shuffle_shard", "bigram_logprob",
    "kl_source_divergence", "dedup_spans", "dedup_append",
    "perplexity_mix", "minhash_append", "gopher_filter", "epoch_plan",
    "curation_funnel", "dataset_card", "oov_rate", "ccnet_buckets",
    "weighted_sample", "gopher_ablation")

  /** The vector family beyond `pipeline`, timed when
    * SPARK_GRAFT_BENCH_SET=vector: trained and quantized ANN indexes,
    * recall evaluation and the two vector-index appends. `semdedup`
    * is quadratic-within-cluster by design (bounded by cluster size —
    * see SCALE.md) and stays in the set deliberately so its growth is
    * measured, not assumed. */
  val vector: Seq[String] = Seq(
    "semdedup", "pq_topk", "ivf_topk_trained", "pq_topk_trained",
    "ivfpq_topk", "hard_negatives", "semdedup_append", "ann_recall",
    "ivfpq_append", "ann_recall_suite", "ivfpq_rerank_topk")

  /** The analytics family beyond `ga`, timed when
    * SPARK_GRAFT_BENCH_SET=analytics: attribution, cohort, A/B and
    * engagement ops, the chunked GA report and the interval join. */
  val analytics: Seq[String] = Seq(
    "attribution_position", "cart_abandonment", "markov_removal",
    "cohort_ltv", "ab_lift", "ewma_smooth", "dau_mau", "ga_chunked",
    "interval_overlaps")

  /** The snapshot-table family, timed when
    * SPARK_GRAFT_BENCH_SET=snapshot: commit, read, diff, compaction
    * and layout. Timings include the setup commits by design — the
    * write path IS the op. */
  val snapshot: Seq[String] = Seq(
    "compaction_plan", "snapshot_read", "snapshot_diff",
    "snapshot_compact", "snapshot_merge", "zorder_write",
    "compact_partitions")

  /** Every op that commits onto an existing partitioned snapshot
    * table, timed when SPARK_GRAFT_BENCH_SET=append: the four index
    * appends (`Snapshots.appendPartitions`), the keeper/count merge,
    * the upsert merge and partition compaction. Timings include the
    * setup commits. */
  val append: Seq[String] = Seq(
    "minhash_append", "ivf_append", "semdedup_append", "ivfpq_append",
    "dedup_append", "snapshot_merge", "compact_partitions")

  /** The named sets, by their SPARK_GRAFT_BENCH_SET value. */
  val sets: Seq[(String, Seq[String])] = Seq(
    "headline" -> headline, "pipeline" -> pipeline, "ga" -> ga,
    "curation" -> curation, "vector" -> vector,
    "analytics" -> analytics, "snapshot" -> snapshot,
    "append" -> append)

  /** The queries a SPARK_GRAFT_BENCH_SET value names: unset is
    * `headline`, `custom:a,b` times the listed keys (ad-hoc targeted
    * timing, e.g. "custom:pagerank,page_transitions"), and any other
    * value must be a name in `sets` — an unknown one throws, listing
    * the valid names. */
  def selectSet(name: Option[String]): Seq[String] = name match {
    case None => headline
    case Some(s) if s.startsWith("custom:") =>
      s.stripPrefix("custom:").split(",").map(_.trim)
        .filter(_.nonEmpty).toSeq
    case Some(s) => sets.toMap.getOrElse(s,
      throw new IllegalArgumentException(
        s"unknown SPARK_GRAFT_BENCH_SET '$s': valid sets are " +
          sets.map(_._1).mkString(", ") + ", or custom:<key>,<key>,..."))
  }

  /** Bench protocol: timings are only comparable on the pinned 8 GB
    * driver heap (the identical binary moves ~1.5 s between 8 GB and
    * 64+ GB at local[32] sf0.1 — GC geometry, not code; SCALE.md
    * protocol note). `heap_gb` rounds maxMemory to the NEAREST GiB
    * because Serial/Parallel GC exclude a survivor space from
    * maxMemory, so an 8 GB `-Xmx` floor-divides to 7 (ADVICE r16).
    * In-protocol acceptance is NOT the rounded value (nearest-GiB
    * stamped -Xmx7700m/-Xmx8400m as in-protocol — ADVICE r17): only
    * the survivor-space-exclusion band below an exact 8 GiB `-Xmx`
    * qualifies, i.e. maxMemory ∈ [7.4 GiB, 8.0 GiB], and the raw
    * byte count is stamped into the JSON so any mislabel is
    * auditable. */
  private def heapGb: Long =
    (Runtime.getRuntime.maxMemory + (1L << 29)) >> 30

  /** In-protocol = the JVM was LAUNCHED with an exact 8 GiB -Xmx
    * (read from the input arguments, not inferred from maxMemory:
    * under G1 a -Xmx7700m launch reports maxMemory ~7.52 GiB, lands
    * inside the old [7.4, 8.0] GiB acceptance band, and would be
    * mislabeled in-protocol — ADVICE r18). Any -Xmx spelling of
    * exactly 2^33 bytes qualifies (8g/8192m/8388608k/8589934592);
    * maxMemory stays stamped as `heap_bytes` for the audit trail.
    * No -Xmx at all (ergonomic default heap) is off-protocol.
    * `-XX:MaxHeapSize=` is the same JVM option under its long name
    * (last-flag-wins across both spellings), so it is accepted too —
    * an exact-8-GiB launch via the long spelling previously paid a
    * needless re-exec (ADVICE r19). */
  private def heapInProtocol: Boolean = {
    import scala.jdk.CollectionConverters._
    val xmx = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala
      .filter(a => a.startsWith("-Xmx") || a.startsWith("-XX:MaxHeapSize="))
      .lastOption
    xmx.exists { a =>
      val v = a.stripPrefix("-Xmx").stripPrefix("-XX:MaxHeapSize=")
        .toLowerCase
      val d = v.takeWhile(_.isDigit)
      val mult = v.drop(d.length) match {
        case "g" => Some(1L << 30)
        case "m" => Some(1L << 20)
        case "k" => Some(1L << 10)
        case ""  => Some(1L)
        case _   => None
      }
      d.nonEmpty && mult.exists(m =>
        scala.util.Try(d.toLong).toOption.exists(_ * m == 8L << 30))
    }
  }

  /** When launched off-protocol (any heap but 8 GB), re-exec this
    * main once under `-Xmx8g` — same JVM module flags, same
    * classpath, same env — so the artifact of record is always an
    * in-protocol measurement no matter how the caller sized the
    * heap (r16's headline shipped at 89 GB and read as a ~1 s
    * regression). Returns None when the child ran and printed its
    * JSON line (already relayed); Some(reason) when the re-exec
    * could not produce one (e.g. an sbt layered-classloader launch
    * where java.class.path lacks the project classes) — the caller
    * then measures inline and self-labels `off_protocol`. */
  private def reexecAt8g(args: Array[String]): Option[String] = {
    import scala.jdk.CollectionConverters._
    try {
      val jvm = java.nio.file.Paths
        .get(System.getProperty("java.home"), "bin", "java").toString
      // forward EVERY inherited JVM flag except the heap sizing being
      // overridden (ADVICE r17: dropping GC choice / -XX / -Xss flags
      // silently changed the child's JVM configuration)
      val inherited = java.lang.management.ManagementFactory
        .getRuntimeMXBean.getInputArguments.asScala
        .filterNot(a => a.startsWith("-Xmx") || a.startsWith("-Xms"))
      val cmd = (Seq(jvm) ++ inherited ++ Seq("-Xmx8g", "-cp",
        System.getProperty("java.class.path"), "graft.Bench") ++
        args).asJava
      val pb = new ProcessBuilder(cmd)
      pb.environment().put("GRAFT_BENCH_NO_REEXEC", "1")
      pb.redirectError(ProcessBuilder.Redirect.INHERIT)
      val p = pb.start()
      val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
      val code = p.waitFor()
      if (code == 0 && out.contains("\"metric\"")) {
        print(out); None
      } else Some(s"re-exec exit=$code jsonSeen=" +
        out.contains("\"metric\""))
    } catch { case e: Exception => Some(e.toString) }
  }

  def main(args: Array[String]): Unit = {
    val set = selectSet(sys.env.get("SPARK_GRAFT_BENCH_SET"))
    // enforce the heap protocol BEFORE any Spark work: an
    // off-protocol launch re-execs at 8 GB (fallback: measure here
    // and stamp off_protocol so the artifact is self-labeling)
    var offProtocol = false
    if (!heapInProtocol && !sys.env.contains("GRAFT_BENCH_NO_REEXEC")) {
      reexecAt8g(args) match {
        case None => return // child measured in-protocol and printed
        case Some(reason) =>
          offProtocol = true
          System.err.println(s"Bench: OFF-PROTOCOL heap ${heapGb}g " +
            s"(pinned 8g) and re-exec failed ($reason) — timings " +
            "are not comparable to BASELINE/SCALE rows")
      }
    } else if (!heapInProtocol) {
      offProtocol = true
      System.err.println(s"Bench: OFF-PROTOCOL heap ${heapGb}g " +
        "(pinned 8g; re-exec suppressed) — timings are not " +
        "comparable to BASELINE/SCALE rows")
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Sessions.cpus(32)
    val spark = Sessions.local(cpus)
    // Warm-up: run every headline query once at the bench SF so JIT +
    // whole-stage-codegen compilation and parquet footer caches are
    // paid outside timing (BASELINE.md timed a warm PySpark session;
    // cold JVM first-runs are 3-6x slower purely from C2/codegen, and
    // warming at a smaller SF doesn't help because AQE picks different
    // physical plans there). Steady-state throughput is the number
    // that extrapolates to the 100 TB target.
    val queries = SparkEntry.queries
    // Sink choice (SPARK_GRAFT_BENCH_SINK): `count` (default) keeps
    // methodology parity with BASELINE.md, whose PySpark baseline
    // consumed results the same way — apples-to-apples for the 2x
    // headline gate. `noop` forces EVERY output column to compute
    // (count() prunes aggregate values and final-projection compute —
    // edit_dist_pairs measured 11.5 s counted vs 173 s real at sf10,
    // SCALE.md r13) — the honest sink for per-op scale evidence.
    val consume: org.apache.spark.sql.DataFrame => Unit =
      sys.env.get("SPARK_GRAFT_BENCH_SINK") match {
        case Some("noop") =>
          df => df.write.format("noop").mode("overwrite").save()
        case _ => df => { df.count(); () }
      }
    // query -> its first failure ("ExceptionClass: message"), warm-up
    // included: a failure is reported, never swallowed
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def attempt(name: String): Boolean =
      try { consume(queries(name)(spark, sfDir)); true }
      catch {
        case NonFatal(e) =>
          errors.getOrElseUpdate(name, s"${e.getClass.getName}: ${e.getMessage}")
          false
      }
    set.filter(queries.contains).foreach(attempt)
    // min-of-3 within the warm session: a single-shot time cannot
    // distinguish a plan regression from machine-load noise (r4→r5
    // moved 22% on identical code); the min is the steady-state
    // number, and the per-query spread (max-min) quantifies how much
    // of any round-over-round delta is noise
    val results = set.filter(queries.contains).map { name =>
      val times = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        val ok = attempt(name)
        // a failed query must not masquerade as a fast one: report -1
        if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
      }
      name -> times
    }
    def f(v: Double): String = "%.4f".format(v)
    val best = results.map { case (k, ts) =>
      k -> (if (ts.exists(_ < 0)) -1.0 else ts.min)
    }
    val qs = best.map { case (k, v) => s"\"" + k + "\":" + f(v) }
      .mkString("{", ",", "}")
    val spreads = results.map { case (k, ts) =>
      s"\"" + k + "\":" + (if (ts.exists(_ < 0)) "-1.0"
        else f(ts.max - ts.min))
    }.mkString("{", ",", "}")
    // the -1.0 failure sentinel must not shrink (improve) the headline
    // total: any failure makes the total non-comparable against the
    // BASELINE 2x gate, so report -1 rather than a partial (smaller,
    // better-looking) sum
    val failed = best.count(_._2 < 0)
    val total =
      if (failed > 0) -1.0 else best.map(_._2).sum
    // heap geometry moves the headline ~1.5 s (8 GB vs 64 GB measured
    // on the identical r15 binary — SCALE.md protocol note), so the
    // artifact records it: a future heap change shows up in the JSON
    // instead of reading as a code regression. off_protocol flags the
    // (rare) fallback path where the 8 GB re-exec could not run.
    // `cpus` stamps the resolved $SPARK_GRAFT_CPUS the session ran
    // with (VERDICT r19 #2: the driver benches at two core counts but
    // could not see which JSON line came from which — the scaling
    // block had to guess)
    val errs = errors.map { case (k, e) => s""""$k":${jsonString(e)}""" }
      .mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${f(total)},"unit":"sec","queries":$qs,"spreads":$spreads,"runs":3,"failed":$failed,"cpus":$cpus,"heap_gb":$heapGb,"heap_bytes":${Runtime.getRuntime.maxMemory},"off_protocol":$offProtocol,"sf":"$sfDir","errors":$errs}""")
    spark.stop()
  }

  /** `v` as a JSON string literal. */
  private def jsonString(v: String): String =
    "\"" + v.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
