package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression tests (SURVEY.md §5.2 item 5): correctness
  * tests can't catch a lost pushdown or a broadcast that became a
  * shuffle — at 100 TB those are the difference between minutes and
  * days. Assertions run against the *executed* plan string.
  */
class PlanShapeSpec extends AnyFunSuite {
  import SparkFixture._

  private def executedPlan(df: DataFrame): String = {
    df.collect() // materialize so AQE finalizes the plan
    df.queryExecution.executedPlan.toString
  }

  test("scan_project prunes columns to the projected subset") {
    val plan = executedPlan(q("scan_project"))
    assert(plan.contains("ReadSchema"), plan.take(500))
    val read = plan.linesIterator.find(_.contains("ReadSchema")).get
    assert(read.contains("l_orderkey") && read.contains("l_extendedprice"))
    assert(!read.contains("l_comment") && !read.contains("l_shipdate"),
      s"scan reads more than the projection: $read")
  }

  test("scan_pruned pushes the date predicate to parquet") {
    val plan = executedPlan(q("scan_pruned"))
    val pushed = plan.linesIterator.filter(_.contains("PushedFilters")).mkString
    assert(pushed.contains("l_shipdate"),
      s"date filter not pushed: $pushed")
  }

  test("join_bcast_star broadcasts the small dimensions") {
    val plan = executedPlan(q("join_bcast_star"))
    assert(plan.contains("BroadcastHashJoin"), plan.take(800))
    // nation & region must never be shuffle-join sides
    assert(!plan.contains("SortMergeJoin") ||
      !plan.linesIterator.exists(l =>
        l.contains("SortMergeJoin") && (l.contains("n_nationkey") || l.contains("r_regionkey"))),
      "small dim joined via sort-merge")
  }

  test("topk plans as TakeOrderedAndProject (no global sort)") {
    val df = q("topk")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(800))
  }

  test("filter_pred pushes compound predicate into the scan") {
    val plan = executedPlan(q("filter_pred"))
    val pushed = plan.linesIterator.filter(_.contains("PushedFilters")).mkString
    assert(pushed.contains("o_totalprice"), s"no pushdown: $pushed")
  }

  test("pricing_agg uses whole-stage codegen and partial aggregation") {
    val df = q("pricing_agg")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("HashAggregate"), plan.take(800))
    // map-side combine before the shuffle — mandatory at scale
    assert(plan.contains("partial_sum"), plan.take(800))
    // whole-stage-codegen spans render as "*(n)" in the compact plan
    assert(plan.contains("*(1)"), plan.take(800))
  }

  test("cosine_neardup joins on the bucket key, never a cartesian") {
    val plan = executedPlan(q("cosine_neardup"))
    assert(!plan.contains("CartesianProduct"),
      s"unbounded cartesian in near-dup plan:\n${plan.take(1500)}")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"nested-loop join in near-dup plan:\n${plan.take(1500)}")
  }

  test("sink_partitioned read prunes partitions at listing time") {
    val plan = executedPlan(q("sink_partitioned"))
    val part = plan.linesIterator
      .filter(_.contains("PartitionFilters")).mkString
    assert(part.contains("event_type"),
      s"partition filter not applied at listing: $part")
    // the pruned partition predicate must NOT survive as a row filter
    assert(!plan.linesIterator.exists(l =>
      l.trim.startsWith("+- Filter") && l.contains("event_type")),
      "partition predicate re-evaluated per row")
  }

  test("dpp_join prunes the fact scan with a DynamicPruningExpression") {
    // join-driven runtime pruning: the fact side's PartitionFilters
    // must carry a dynamicpruning subquery on the day partition key —
    // a static filter can't know the dim's surviving days
    val df = q("dpp_join")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"no DynamicPruningExpression in fact scan:\n${plan.take(1500)}")
    val part = plan.linesIterator
      .filter(_.contains("PartitionFilters")).mkString
    assert(part.contains("day"),
      s"day partition key missing from PartitionFilters: $part")
  }

  test("agg_salted shuffles on (key, salt) before the merge exchange") {
    val plan = executedPlan(q("agg_salted"))
    val exchanges = plan.linesIterator
      .filter(l => l.contains("Exchange hashpartitioning")).toSeq
    // phase 1 must fan hot keys across reducers: its exchange keys are
    // (event_type, salt) — the computed salt shows up as a
    // _groupingexpression attribute; phase 2 merges on the bare key
    assert(exchanges.exists(l =>
      l.contains("event_type") && l.contains("_groupingexpression")),
      s"no salted exchange found:\n${exchanges.mkString("\n")}")
  }

  test("ga_sessions windows are partitioned (no global single-partition window)") {
    val plan = executedPlan(q("ga_sessions"))
    val windows = plan.linesIterator.filter(_.contains("Window")).toSeq
    assert(windows.nonEmpty)
    assert(windows.forall(_.contains("user_id")),
      s"window not partitioned by user_id:\n${windows.mkString("\n")}")
  }

  test("bloom_semi probes the bloom before any join of the fact side") {
    val plan = executedPlan(q("bloom_semi"))
    // the codegen'd probe must appear as a Filter condition...
    assert(plan.contains("bloom_contains"),
      s"bloom probe missing from executed plan:\n${plan.take(1200)}")
    val lines = plan.linesIterator.toSeq
    val probeIdx = lines.indexWhere(l =>
      l.contains("Filter") && l.contains("bloom_contains"))
    assert(probeIdx >= 0, "bloom_contains not in a Filter")
    // ...and the exact semi-join must sit ABOVE the probe filter in the
    // tree (i.e. the probe runs first, on the scan side)
    val semiIdx = lines.indexWhere(_.contains("LeftSemi"))
    assert(semiIdx >= 0 && semiIdx < probeIdx,
      s"semi join not downstream of the bloom probe (semi@$semiIdx, probe@$probeIdx)")
  }

  test("cdc_latest partially aggregates before the only shuffle") {
    val plan = executedPlan(q("cdc_latest"))
    // map-side partial: the max(struct) itself must partial-aggregate
    // below the exchange — the reason the agg formulation beats the
    // window one (any weaker "partial" match would also pass on the
    // partial_count alone)
    assert(plan.contains("partial_max"),
      s"max(struct) does not partially aggregate:\n${plan.take(1200)}")
    assert(!plan.contains("Window"),
      "cdc_latest must not fall back to a window formulation")
  }

  test("minhash_det candidate join is an equi-join, never a cartesian") {
    val plan = executedPlan(q("minhash_det"))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"LSH candidate generation degenerated to all-pairs:\n${plan.take(1200)}")
  }

  test("heavy_hitters sketch partially aggregates map-side") {
    val plan = executedPlan(q("heavy_hitters"))
    assert(plan.contains("partial_mg_topk"),
      s"MG sketch must combine map-side (one scan, k-sized partials):\n${plan.take(1200)}")
  }

  test("embed_quantize ranks via TakeOrderedAndProject with broadcast target") {
    val plan = executedPlan(q("embed_quantize"))
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k fell back to a global sort:\n${plan.take(1200)}")
    assert(plan.contains("BroadcastExchange"),
      s"quantized target not broadcast:\n${plan.take(1200)}")
  }

  test("contamination_bloom probes before the gram join") {
    val plan = executedPlan(q("contamination_bloom"))
    val lines = plan.linesIterator.toSeq
    val probeIdx = lines.indexWhere(l =>
      l.contains("Filter") && l.contains("bloom_contains"))
    assert(probeIdx >= 0, s"bloom probe missing:\n${plan.take(1200)}")
    val joinIdx = lines.indexWhere(l =>
      l.contains("Join") && !l.contains("bloom"))
    assert(joinIdx >= 0 && joinIdx < probeIdx,
      s"gram join not downstream of the probe (join@$joinIdx, probe@$probeIdx)")
  }

  test("range_join_time plans as an equi hash join, never a nested loop") {
    val plan = executedPlan(q("range_join_time"))
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"range join degenerated to a product:\n${plan.take(1200)}")
    assert(plan.contains("Join"), plan.take(800))
    assert(plan.contains("Generate"), "bucket explode missing")
  }

  test("agg_grouping_sets plans one Expand feeding a partial hash agg") {
    val plan = executedPlan(q("agg_grouping_sets"))
    assert(plan.contains("Expand"), plan.take(800))
    assert(plan.contains("HashAggregate"), plan.take(800))
  }

  test("tfidf/bm25 read the corpus text ONCE, structurally: the cell " +
      "table is a materialized RDD scan, not a re-planned parquet read") {
    // the reuse must not depend on the planner's incidental
    // ReusedExchange (the exchange-reuse trap, SCALE.md r11): both
    // consumers of the (doc, w) cell table read the localCheckpoint.
    // bm25 additionally carries dl through the groupBy key, so NO
    // parquet scan of documents survives in its final plan at all;
    // tfidf keeps exactly one — the count-star n_docs scan, which
    // reads zero data columns.
    for ((name, maxTextScans) <- Seq("tfidf_top" -> 0, "bm25_top" -> 0)) {
      val plan = executedPlan(q(name))
      assert(plan.contains("Scan ExistingRDD"),
        s"$name lost its checkpointed cell table:\n${plan.take(1200)}")
      val textScans = plan.linesIterator
        .count(l => l.contains("Scan parquet") && l.contains("text"))
      assert(textScans <= maxTextScans,
        s"$name reads the text column $textScans times:\n${plan.take(1200)}")
    }
  }

  test("no declared query plans a plain CartesianProduct; nested-loop " +
      "joins only where a bounded side is broadcast by design") {
    // ops whose plan legitimately contains a BroadcastNestedLoopJoin:
    // every one crossJoins a broadcast SCALAR aggregate (global
    // min/max/count/avg), a ≤k-row centroid/target set, or the
    // calendar grid — bounded at any data scale by construction.
    val boundedBnlj = Set(
      "above_avg", "bm25_top", "embed_quantize",
      "ivf_topk", "kmeans_assign", "knn_label", "mix_uniform",
      "period_compare", "pmi_bigrams", "resample_daily", "tfidf_top",
      "unigram_logprob", "value_histogram", "vector_topk",
      "zorder_bucket",
      "funnel_steps",  // crossJoin of three 1-row step-count aggregates
      "churn_flags",   // crossJoin of the 1-row dataset-end scalar
      "rolling_wau",   // crossJoin of the 1-row day-span scalar
      "dau_mau",       // crossJoin of the 1-row day-span scalar
      "merge_upsert",  // crossJoin of the 1-row max-key scalar
      "merge_partitioned", // crossJoin of the 1-row max-key scalar
      "fk_orphans",    // crossJoins of three 1-row audit aggregates
      "bpe_merges",    // K crossJoins of the 1-row argmax merge rule
      "bpe_encode",    // same K 1-row argmax crossJoins as bpe_merges
      "semdedup",      // crossJoin of the 8-row seed centroid set
      "ivf_topk_trained", // crossJoins of the 16-row refined centroids
      "pca_topcomp",   // crossJoins of the 1-row component vector /
      //                  1-row norm scalar per power-iteration round
      "ivf_append",    // crossJoins of the 1-row max-vec_id scalar,
      //                  the 16-row frozen centroids, and the 1-row
      //                  ingest-target vector (theta filter vs t_id)
      "dsir_weights",  // crossJoin of the 1-row corpus-totals scalar
      "bigram_logprob", // crossJoin of the 1-row train-totals scalar
      "kl_source_divergence", // crossJoin of the 1-row corpus-total
      "mix_temperature", // crossJoin of the 1-row total-weight scalar
      "markov_removal", // 6-row scenario grid × channel-sized graph
      //                  + the 1-row base-cvr scalar
      "ivfpq_topk",    // crossJoins of the 16-row centroid set and
      //                  the 1-row query vector (ivf_topk's shape)
      "ivfpq_rerank_topk", // same upstream + the 1-row query target
      //                  crossed into the 100-row rerank shortlist
      "hard_negatives", // crossJoin of the 8-row anchor batch
      "interval_overlaps", // crossJoin of the two 1-row grid-bound
      //                  aggregates
      "perplexity_mix", // crossJoin of the 1-row corpus-total scalar
      "epoch_plan",    // crossJoin of the 1-row budget/denominator
      //                  totals scalar
      "semdedup_append", // crossJoins of the 1-row max-vec_id scalar
      //                  and the ≤k-row frozen seed centroid set
      "ivfpq_append",  // crossJoins of the 1-row max-vec_id scalar,
      //                  the 16-row frozen centroids, and the 1-row
      //                  ingest-target id (theta filter vs t_id)
      "ann_recall")    // crossJoins of the 16-row centroid set and
      //                  the 8-row query sample
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        // planning only (no collect): CartesianProduct / BNLJ are
        // chosen by the planner, not by AQE re-optimization
        val plan = fn(spark, sfDir).queryExecution.executedPlan.toString
        val cart = plan.contains("CartesianProduct")
        val bnlj = plan.contains("BroadcastNestedLoopJoin") &&
          !boundedBnlj.contains(name)
        if (cart) Some(s"$name: CartesianProduct")
        else if (bnlj) Some(s"$name: unexpected BroadcastNestedLoopJoin")
        else None
    }
    assert(offenders.isEmpty, offenders.mkString("; "))
  }

  test("bpe_encode broadcasts the vocab-sized encoder, never the corpus") {
    import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val df = q("bpe_encode")
    df.collect()
    val fin = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    // the broadcast build side must never carry doc_id — that is the
    // exploded corpus (data-sized at scale; the planner was observed
    // to pick it at the gate SF where it happens to be the smaller
    // side, a 20 s sf10 tail until the explicit broadcast(enc))
    val corpusBuilds = fin.collect {
      case j: BroadcastHashJoinExec =>
        (j.buildSide match {
          case BuildLeft => j.left
          case BuildRight => j.right
        }).output.map(_.name)
    }.filter(_.contains("doc_id"))
    assert(corpusBuilds.isEmpty,
      s"corpus side broadcast in bpe_encode: $corpusBuilds")
  }

  test("no declared query plans a data-sized global window") {
    // A Window with an empty partition spec funnels its whole input
    // through ONE task — the classic scale-killer. Allowed only where
    // the window's input is bounded by construction (calendar span,
    // #shuffle-partitions, a ≤k-row rollup), never by data volume.
    val boundedGlobalWindow = Map(
      "window_frame" -> "per-day rollup: calendar-sized at any SF",
      "session_concurrency" -> "per-day carry rollup: calendar-sized",
      "decile_lift" -> "10-row decile rollup cum-share and total",
      "interval_overlaps" -> "day-grid prefix sums: calendar-sized",
      "ccnet_buckets" -> "per-lang rank-offset rollup: ≤|langs| rows")
    val globals = SparkEntry.queries.toSeq.sortBy(_._1).map {
      case (name, fn) =>
        name -> fn(spark, sfDir).queryExecution.optimizedPlan.collect {
          case w: org.apache.spark.sql.catalyst.plans.logical.Window
              if w.partitionSpec.isEmpty => w
        }.size
    }
    val offenders = globals.collect {
      case (name, k) if k > 0 && !boundedGlobalWindow.contains(name) =>
        s"$name: $k global window(s)"
    }
    assert(offenders.isEmpty,
      "data-sized global window(s) planned:\n" + offenders.mkString("\n"))
    // the allow-list only shrinks: an entry whose op no longer plans a
    // global window is stale and must go, not linger as headroom
    val stale = boundedGlobalWindow.keys.toSeq.sorted
      .filterNot(name => globals.toMap.getOrElse(name, 0) > 0)
    assert(stale.isEmpty,
      "allow-listed but planning no global window: " + stale.mkString(", "))
  }

  test("the near-dup verify stays row-local: array_intersect, no " +
      "gram-keyed exchange") {
    // regression guard for the r16 rewrite: verifiedPairs computes
    // each pair's intersection with array_intersect over per-doc
    // gram-hash arrays. The r15 shape — a gram-key equi-join
    // producing |pairs|×|shared grams| rows through an exchange and
    // a |pairs|-group aggregate — was the sf10m funnel's 77 s tail.
    // Any exchange hash-partitioned on the gram column would mean
    // the join shape came back.
    val plan = q("minhash_det").queryExecution.executedPlan.toString
    assert(plan.contains("array_intersect"),
      "verify no longer scores pairs row-locally:\n" + plan.take(600))
    val gramExchanges = plan.linesIterator.filter(l =>
      l.contains("hashpartitioning") &&
        l.matches(""".*hashpartitioning\([^)]*\bg#.*"""))
    assert(gramExchanges.isEmpty,
      "gram-keyed exchange planned in the verify:\n" +
        gramExchanges.mkString("\n"))
  }

  test("decile_lift/rfm_segments never sort per-customer data globally") {
    // regression guard for the r5 'weak' finding: their only global
    // windows must order config-bounded helper tables (the 10-row
    // decile rollup), never the per-customer sort keys
    val perCustomerKeys =
      Seq("cust_cents", "recency", "last_day", "freq", "monetary")
    for (name <- Seq("decile_lift", "rfm_segments")) {
      val globals = q(name).queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window
            if w.partitionSpec.isEmpty => w
      }
      val bad = globals.filter(w => w.orderSpec.exists(o =>
        perCustomerKeys.exists(k => o.child.toString.contains(k))))
      assert(bad.isEmpty,
        s"$name plans a global window over per-customer keys:\n" +
          bad.mkString("\n"))
    }
    // every op on the rank/prefix-sum kernel plans it as the PrefixSum
    // node, and no kernel output comes back as an RDD scan: the only
    // LogicalRDD left is a checkpoint the op takes itself (ccnet's
    // per-lang dictionary)
    val ownCheckpoints = Map("ccnet_buckets" -> Set("lang", "g", "c"))
    for (name <- Seq("decile_lift", "rfm_segments", "equi_depth_hist",
        "vocab_build", "zipf_fit", "perplexity_mix", "ccnet_buckets")) {
      val plan = q(name).queryExecution.optimizedPlan
      assert(plan.collect { case p: graft.plans.PrefixSum => p }.nonEmpty,
        s"$name plans no PrefixSum node:\n$plan")
      val rddScans = plan.collect {
        case p if p.getClass.getSimpleName == "LogicalRDD" =>
          p.output.map(_.name).toSet
      }
      assert(rddScans.forall(cols => ownCheckpoints.get(name).contains(cols)),
        s"$name scans an RDD: ${rddScans.mkString(", ")}")
    }
  }

  test("merge_partitioned prunes the target scan to the merged partition") {
    // the point of merging against a partitioned layout: the target
    // read must be satisfied by directory pruning, not a table scan
    val plan = executedPlan(q("merge_partitioned"))
    val part = plan.linesIterator
      .filter(_.contains("PartitionFilters")).mkString
    assert(part.contains("event_type"),
      s"target partition not pruned at listing: $part")
    // and the partition predicate must not survive as a row filter
    assert(!plan.linesIterator.exists(l =>
      l.trim.startsWith("+- Filter") && l.contains("event_type")),
      "partition predicate re-evaluated per row")
  }

  test("pagerank co-partitions the rank vector, never broadcasts it") {
    // the rank table grows with |nodes|: a forced broadcast per
    // iteration is an executor OOM at web-scale node sets (r5 'weak'
    // finding) — every rank join must be a shuffled hash join
    val plan = executedPlan(q("pagerank"))
    assert(!plan.contains("BroadcastExchange"),
      s"pagerank broadcasts a node-sized table:\n${plan.take(1500)}")
    assert(plan.contains("ShuffledHashJoin"), plan.take(800))
  }

  test("bucket_join runs join AND aggregate with zero shuffle exchanges") {
    // the point of bucketing: both scans come up hash-partitioned on
    // the join key, so neither the merge join nor the custkey-keyed
    // aggregate above it moves a single row between partitions — at
    // 100 TB that is the whole join input never crossing the network
    val plan = executedPlan(q("bucket_join"))
    assert(plan.contains("SortMergeJoin"), plan.take(800))
    assert(!plan.contains("Exchange"),
      s"bucketed join still shuffles:\n${plan.take(1500)}")
    // bucket pruning metadata must be on both scans
    assert(plan.linesIterator.count(_.contains("SelectedBucketsCount")) >= 2
      || plan.linesIterator.count(_.contains("Bucketed: true")) >= 2,
      s"scans not bucketed:\n${plan.take(1500)}")
  }

  test("centroid assignment argmax partially aggregates map-side " +
      "(no N·k window exchange)") {
    // r10 'weak' fix: assignment = groupBy(vec_id).max_by(...) — the
    // partial aggregate collapses the k scored rows per vector BEFORE
    // the exchange, so the shuffle carries N partial rows, never the
    // N·k crossJoin expansion the row_number() window shuffled
    for (name <- Seq("kmeans_assign", "ivf_topk", "ivf_topk_trained",
        "ivfpq_topk", "ivfpq_rerank_topk")) {
      val plan = executedPlan(q(name))
      assert(plan.contains("partial_max_by"),
        s"$name: assignment does not partially aggregate:\n${plan.take(1200)}")
      assert(!plan.contains("Window"),
        s"$name: assignment fell back to a window:\n${plan.take(1200)}")
    }
    // semdedup shares the same max_by kernel but localCheckpoints the
    // assignment table (consumed 3×), so its visible plan starts at
    // the materialized RDD — assert the window never came back and
    // the checkpoint is in place
    val sd = executedPlan(q("semdedup"))
    assert(!sd.contains("Window"),
      s"semdedup: assignment fell back to a window:\n${sd.take(1200)}")
    assert(sd.contains("ExistingRDD"),
      s"semdedup: assignment table not checkpointed:\n${sd.take(1200)}")
    // pq encodes its argmin as min() over the packed (d2·10⁴)·2¹⁶+code
    // long (SCALE.md r12: plain long min stays in whole-stage codegen;
    // min_by(struct) is a TypedImperativeAggregate that doesn't) — the
    // partial form is partial_min, same map-side collapse
    for (name <- Seq("pq_topk", "pq_topk_trained", "ivfpq_topk")) {
      val pq = executedPlan(q(name))
      assert(pq.contains("partial_min"),
        s"$name: encode argmin does not partially aggregate:\n${pq.take(1200)}")
      assert(!pq.contains("Window"),
        s"$name: encode fell back to a window:\n${pq.take(1200)}")
    }
  }

  test("knn_label windows only skinny rows; vote argmax is map-side") {
    // the top-5 ranking is legitimate (bounded k) but must never
    // shuffle the embedding arrays the scored crossJoin rows carry;
    // WindowTopKRewrite turns the row_number window into the
    // bounded-heap TopKPerKey node, so collect either form
    val topkInputs = q("knn_label").queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w.child
      case t: graft.plans.TopKPerKey => t.child
    }
    assert(topkInputs.nonEmpty)
    assert(topkInputs.forall(c => !c.output.exists(_.name.contains("emb"))),
      "knn_label top-k input carries embedding arrays")
    val plan = executedPlan(q("knn_label"))
    assert(plan.contains("partial_min_by"),
      s"knn_label vote argmax not map-side:\n${plan.take(1200)}")
  }

  test("gram kernels shuffle 8-byte hashed keys, never gram strings") {
    // r10 'weak' fix: the gram attribute in every exchange must be a
    // long (xxhash64), rendered with the L type suffix — a bare g#n /
    // ngram#n in an Exchange means the ~50-byte string key came back
    val bare = "[ (,](?:g|ngram)#\\d+[,)]".r
    for (name <- Seq("shingle_containment", "ngram_jaccard",
        "dsir_weights", "source_overlap", "dup_span_frac")) {
      val offending = executedPlan(q(name)).linesIterator
        .filter(_.contains("Exchange hashpartitioning"))
        .filter(l => bare.findFirstIn(l).isDefined)
        .toSeq
      assert(offending.isEmpty,
        s"$name shuffles string gram keys:\n${offending.mkString("\n")}")
    }
  }

  test("lang_id scans each document once (single split, single fold)") {
    // r10 'weak' fix: one aggregate fold counts all nine markers —
    // the per-marker size(filter(split(...))) formulation re-split
    // the text 9× (19.7 s of scan CPU at sf10)
    val plan = q("lang_id").queryExecution.executedPlan.toString
    val splits = "split\\(text".r.findAllIn(plan).size
    assert(splits == 1, s"lang_id splits the text $splits times:\n" +
      plan.take(1200))
  }

  test("codegen on/off produce identical pricing_agg results") {
    val on = q("pricing_agg").collect().map(_.toString).sorted
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      val off = q("pricing_agg").collect().map(_.toString).sorted
      assert(on.sameElements(off))
    } finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
  }
}
