package graft

import graft.api.Graft
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Facade tests: each Graft.* transform must agree with the declared
  * (oracle-verified) query it generalizes, or with a driver-side
  * reference computation; plus as-of join semantics edge cases.
  */
class ApiSpec extends AnyFunSuite {
  import SparkFixture._

  test("Graft.sessionize matches the declared sessionize session count") {
    val sessions = Graft.sessionize(
      Tables.events(spark, sfDir), "user_id", "ts")
    val n = sessions.select("user_id", "session_id").distinct().count()
    assert(n == q("sessionize").count())
    // row count preserved (sessionize only annotates)
    assert(sessions.count() == Tables.events(spark, sfDir).count())
  }

  test("Graft.asofJoin: most recent prior state per key, left rows preserved") {
    import spark.implicits._
    val left = Seq((1L, 100L, "a"), (1L, 200L, "b"), (2L, 50L, "c"))
      .toDF("k", "t", "payload")
    val right = Seq((1L, 90L, "s90"), (1L, 150L, "s150"), (3L, 10L, "s10"))
      .toDF("k", "rt", "state")
    val joined = Graft.asofJoin(left, right, "k", "t", "rt")
      .select("payload", "state").collect()
      .map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(joined("a").contains("s90"))   // 90 <= 100 < 150
    assert(joined("b").contains("s150"))  // most recent of {90, 150}
    assert(joined("c").isEmpty)           // key 2 has no state: kept, null
  }

  test("Graft.asofJoin: null right timestamps never match; null left time gets null state") {
    import spark.implicits._
    val left = Seq((1L, Some(100L), "a"), (1L, None, "nolt"))
      .toDF("k", "t", "payload")
    val right = Seq((1L, None, "stale"), (1L, Some(90L), "s90"))
      .toDF("k", "rt", "state")
    val out = Graft.asofJoin(left, right, "k", "t", "rt")
      .select("payload", "state").collect()
      .map(r => r.getString(0) -> Option(r.getString(1))).toMap
    // rt=null can never satisfy rt <= t: only s90 is eligible
    assert(out("a").contains("s90"))
    // t=null matches nothing (SQL null comparison), row still kept
    assert(out("nolt").isEmpty)
  }

  test("Graft.asofJoin matches the declared join_asof row count") {
    // declared query: purchases joined to most recent prior signup
    val ev = Tables.events(spark, sfDir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("pt"), col("event_id"))
    val signups = ev.filter(col("event_type") === "signup")
      .select(col("user_id").as("user_id"), col("ts").as("st"))
    val api = Graft.asofJoin(purchases, signups, "user_id", "pt", "st")
    assert(api.count() == purchases.count())
  }

  test("Graft.dedupExact equals the declared dedup_exact keeper set") {
    val kept = Graft.dedupExact(
      Tables(spark, sfDir, "documents"), "text", "doc_id")
    val keepers = q("dedup_exact").select(col("keep_id"))
      .collect().map(_.getLong(0)).toSet
    assert(kept.select("doc_id").collect().map(_.getLong(0)).toSet == keepers)
  }

  test("Graft.neardupCluster: 4-hop chain converges to min id; singleton kept") {
    import spark.implicits._
    val nodes = (1L to 6L).toDF("id")
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 4L), (5L, 6L)).toDF("a", "b")
    val out = Graft.neardupCluster(nodes, "id", edges, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 5L, 6L -> 5L))
  }

  test("Graft.vectorTopK equals the declared vector_topk") {
    val emb = Tables(spark, sfDir, "embeddings")
    val target = emb.filter(col("vec_id") === 0)
    val api = Graft.vectorTopK(
        emb.filter(col("vec_id") =!= 0), "embedding",
        target, "embedding", 10, "vec_id")
      .select("vec_id").collect().map(_.getLong(0))
    val declared = q("vector_topk").select("vec_id")
      .collect().map(_.getLong(0))
    // declared sorts on the ROUNDED score; compare sets
    assert(api.toSet == declared.toSet)
  }

  test("Graft.qualityScore matches declared quality_score values") {
    val api = Graft.qualityScore(Tables(spark, sfDir, "documents"), "text")
      .select(col("doc_id"), round(col("quality"), 6).as("quality"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val declared = q("quality_score")
      .select("doc_id", "quality")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(api == declared)
  }

  test("Graft.query compiles the full GA pipeline (smoke)") {
    val df = Graft.query()
      .dateRange("2024-01-01", "2024-01-15")
      .where(col("event_type") =!= "error")
      .dimensions("event_type" -> col("event_type"))
      .metrics("n" -> count(lit(1)))
      .sortDesc("n")
      .maxResults(10)
      .toDF(spark, sfDir)
    assert(df.count() > 0)
  }

  test("filters through the facade still push down to parquet") {
    val sessions = Graft.sessionize(
      Tables.events(spark, sfDir), "user_id", "ts")
      .filter(col("event_type") === "purchase")
    sessions.collect()
    val plan = sessions.queryExecution.executedPlan.toString
    // the event_type filter is applied before sessionization's shuffle
    // would be wrong (it changes sessions); here it must sit ABOVE the
    // window, so we just assert the scan prunes columns, not rows
    assert(plan.contains("ReadSchema"))
  }

  test("registerTables enables the SQL entry with identical results") {
    Graft.registerTables(spark, sfDir)
    val viaSql = spark.sql(
      """SELECT l_returnflag, l_linestatus,
                ROUND(SUM(l_quantity), 2) AS sum_qty,
                COUNT(*) AS n
         FROM lineitem
         WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         GROUP BY 1, 2""").collect().map(_.toString).sorted
    val viaDf = q("pricing_agg")
      .select("l_returnflag", "l_linestatus", "sum_qty", "count_order")
      .collect().map(_.toString).sorted
    assert(viaSql.sameElements(viaDf))
    // events view carries the normalized µs timestamp
    val n = spark.sql(
      "SELECT COUNT(*) FROM events WHERE ts >= TIMESTAMP '2024-01-01'")
      .collect().head.getLong(0)
    assert(n == Tables.events(spark, sfDir).count())
  }

  test("GaQuery raises clear errors for missing metrics and unknown sort keys") {
    val noMetrics = intercept[IllegalArgumentException] {
      Graft.query().dimensions("t" -> col("event_type")).toDF(spark, sfDir)
    }
    assert(noMetrics.getMessage.contains("at least one metric"))
    val badSort = intercept[IllegalArgumentException] {
      Graft.query()
        .dimensions("t" -> col("event_type"))
        .metrics("n" -> count(lit(1)))
        .sortDesc("nope")
        .toDF(spark, sfDir)
    }
    assert(badSort.getMessage.contains("nope"))
  }

  test("asofJoin works when both sides name the time column identically") {
    import spark.implicits._
    val trades = Seq((1L, 100L, "t1"), (1L, 200L, "t2"))
      .toDF("sym", "ts", "trade")
    val quotes = Seq((1L, 90L, 9.5), (1L, 150L, 9.7))
      .toDF("sym", "ts", "px")
    val out = Graft.asofJoin(trades, quotes, "sym", "ts", "ts")
      .select("trade", "px").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(out("t1") == 9.5)
    assert(out("t2") == 9.7)
  }

  test("Graft.cohortRetention equals the declared cohort_retention cells") {
    val api = Graft.cohortRetention(Tables.events(spark, sfDir), "user_id", "ts")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    val declared = q("cohort_retention").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    assert(api.sameElements(declared))
  }

  test("facade internal names never collide with user columns") {
    import spark.implicits._
    // user frames that already use every internal temp name we splice
    val left = Seq((1L, 100L, 7L, 9L, "keep-l"))
      .toDF("k", "t", "_lid", "_rn", "payload")
    val right = Seq((1L, 90L, 5L, "keep-r"))
      .toDF("k", "rt", "_lid", "state")
    val out = Graft.asofJoin(left, right, "k", "t", "rt")
    // user _lid/_rn survive with their values intact; the colliding
    // right _lid is suffixed, not overwritten
    val row = out.collect().head
    assert(row.getAs[Long]("_lid") == 7L)
    assert(row.getAs[Long]("_rn") == 9L)
    assert(row.getAs[String]("state") == "keep-r")
    assert(out.columns.count(_.startsWith("_lid")) == 2)

    val dedupIn = Seq((1L, "x", 42L), (2L, "x", 43L))
      .toDF("id", "text", "_rn")
    val kept = Graft.dedupExact(dedupIn, "text", "id").collect()
    assert(kept.length == 1 && kept.head.getAs[Long]("_rn") == 42L)

    val emb = Seq((1L, Array(1f, 0f), "tv"), (2L, Array(0f, 1f), "tv2"))
      .toDF("vec_id", "embedding", "_t")
    val target = Seq(Tuple1(Array(1f, 0f))).toDF("embedding")
    val top = Graft.vectorTopK(emb, "embedding", target, "embedding", 1, "vec_id")
      .collect()
    assert(top.head.getAs[Long]("vec_id") == 1L)
    assert(top.head.getAs[String]("_t") == "tv") // user column preserved
  }

  test("asofJoin plans exactly one shuffle and no per-row window partition") {
    val ev = Tables.events(spark, sfDir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("pt"), col("event_id"))
    val signups = ev.filter(col("event_type") === "signup")
      .select(col("user_id"), col("ts").as("st"))
    val df = Graft.asofJoin(purchases, signups, "user_id", "pt", "st")
    df.collect() // finalize AQE
    // keep only the final AQE plan (toString repeats the initial plan)
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val shuffles = plan.linesIterator
      .count(_.contains("Exchange hashpartitioning"))
    assert(shuffles == 1, s"expected 1 shuffle, got $shuffles:\n${plan.take(2000)}")
    // the window partitions by the join key, never by a generated row id
    assert(!plan.contains("monotonically_increasing_id"), plan.take(2000))
  }

  test("asofJoin picks a deterministic winner among equal-timestamp rows") {
    import spark.implicits._
    val left = Seq((1L, 100L, "a")).toDF("k", "t", "p")
    val right = Seq((1L, 90L, "z-state"), (1L, 90L, "a-state"))
      .toDF("k", "rt", "s")
    val winners = (1 to 3).map { _ =>
      Graft.asofJoin(left, right, "k", "t", "rt")
        .select("s").collect().head.getString(0)
    }
    assert(winners.distinct.length == 1)
    assert(winners.head == "a-state") // tie-break: remaining cols asc
  }

  test("heavyHitters claims every above-threshold item with a bounded est") {
    val ev = Tables.events(spark, sfDir)
    val n = ev.count()
    val k = 4
    val got = Graft.heavyHitters(ev, "event_type", k)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = ev.groupBy("event_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.filter(_._2 > n / (k + 1)).keys.foreach(it =>
      assert(got.contains(it), s"missing heavy item $it"))
    got.foreach { case (it, e) =>
      assert(e <= exact(it) && exact(it) - e <= n / (k + 1))
    }
  }

  test("bloomSemiJoin equals the exact semi-join") {
    val li = Tables(spark, sfDir, "lineitem")
    val dims = Tables(spark, sfDir, "orders")
      .filter(col("o_totalprice") > 400000).select("o_orderkey")
    val viaBloom = Graft.bloomSemiJoin(li, "l_orderkey", dims, "o_orderkey")
    val exact = li.join(dims, col("l_orderkey") === col("o_orderkey"),
      "left_semi")
    assert(viaBloom.count() == exact.count())
    assert(viaBloom.columns.sameElements(li.columns),
      "semi-join must not leak dim columns")
  }

  test("resampleDaily facade equals the declared resample_daily query") {
    val ev = Tables.events(spark, sfDir)
    val facade = Graft.resampleDaily(ev, "ts", "event_type")
      .collect().map(_.toString).sorted
    val declared = q("resample_daily").collect().map(_.toString).sorted
    assert(facade.sameElements(declared))
  }

  test("cdcLatest facade picks the same winners as the declared query") {
    val ev = Tables.events(spark, sfDir)
      .withColumn("us", unix_micros(col("ts")))
    val facade = Graft.cdcLatest(ev, "user_id", "us", "event_id",
      Seq("event_type", "value"))
      .select(col("user_id"), col("last_us"), col("last_event_id"),
        col("last_event_type"), round(col("last_value"), 2))
      .collect().map(_.toString).sorted
    val declared = q("cdc_latest")
      .select(col("user_id"), col("last_us"), col("last_event_id"),
        col("last_event_type"), col("last_value"))
      .collect().map(_.toString).sorted
    assert(facade.sameElements(declared))
  }

  test("quantizeInt8 round-trips within one quantization step") {
    val emb = Tables(spark, sfDir, "embeddings").limit(50)
    val q = Graft.quantizeInt8(emb, "embedding")
    val rows = q.select("embedding", "embedding_q", "embedding_scale")
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val orig = r.getSeq[Float](0)
      val quant = r.getSeq[Long](1)
      val scale = r.getDouble(2)
      assert(quant.forall(v => v >= -128 && v <= 127), "int8 range")
      orig.zip(quant).foreach { case (x, v) =>
        assert(math.abs(x - v / scale) <= 1.0 / scale + 1e-12,
          s"dequantized $v/$scale too far from $x")
      }
    }
  }

  test("Graft.pageRank equals the declared pagerank query") {
    val edges = q("page_transitions")
    val facade = Graft.pageRank(edges, "prev_page", "page", "n_trans")
      .select(col("node"), round(col("rank"), 8).as("rank"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val declared = q("pagerank")
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    // node sets agree on the fixture (every page occurs as src or dst)
    assert(facade.keySet == declared.keySet)
    declared.foreach { case (p, r) =>
      assert(math.abs(facade(p) - r) < 1e-7, s"page $p: ${facade(p)} vs $r")
    }
  }

  test("Graft.scd2 equals the declared scd2_track runs") {
    val ev = Tables.events(spark, sfDir)
      .withColumn("us", unix_micros(col("ts")))
    val facade = Graft.scd2(ev, "user_id", "event_type", "us", "event_id")
      .select(col("user_id"), col("run_id"), col("state"),
        col("valid_from"), col("valid_to"), col("n_rows"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r).toMap
    val declared = q("scd2_track").collect()
    assert(declared.length == facade.size)
    declared.foreach { r =>
      val f = facade((r.getLong(0), r.getLong(1)))
      assert(f.getString(2) == r.getString(2))
      assert(f.getLong(3) == r.getLong(3))
      assert(f.isNullAt(4) == r.isNullAt(4) &&
        (r.isNullAt(4) || f.getLong(4) == r.getLong(4)))
      assert(f.getLong(5) == r.getLong(5))
    }
  }

  test("Graft.peakConcurrency equals the declared session_concurrency") {
    val sess = q("sessionize")
    val facade = Graft.peakConcurrency(sess, "start_us", "end_us")
      .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    val declared = q("session_concurrency")
      .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    assert(facade == declared)
  }

  test("Graft.chunkDocs at (120, 90) equals the declared chunk_docs") {
    val docs = Tables(spark, sfDir, "documents")
    val facade = Graft.chunkDocs(docs, "text", "doc_id", 120, 90)
      .select(col("doc_id"), col("chunk_idx"),
        length(col("chunk")).as("chunk_len"),
        md5(col("chunk")).as("chunk_md5"))
      .collect().map(_.toSeq).toSet
    val declared = q("chunk_docs").collect().map(_.toSeq).toSet
    assert(facade == declared)
  }

  test("Graft.pmiBigrams equals the declared pmi_bigrams") {
    val docs = Tables(spark, sfDir01, "documents")
    val facade = Graft.pmiBigrams(docs, "text", 5, 25)
      .withColumn("pmi", round(col("pmi"), 4))
      .collect().map(_.toSeq).toSet
    val declared = q("pmi_bigrams", sfDir01).collect().map(_.toSeq).toSet
    assert(facade == declared)
  }

  test("Graft.unigramLogprob equals the declared unigram_logprob") {
    val docs = Tables(spark, sfDir, "documents")
    val facade = Graft.unigramLogprob(docs, "text", "doc_id")
      .select(col("doc_id"), col("n_tokens"),
        round(col("avg_logprob"), 4).as("lp"))
      .collect().map(_.toSeq).toSet
    val declared = q("unigram_logprob").collect().map(_.toSeq).toSet
    assert(facade == declared)
  }

  test("Graft.editDistPairs equals the declared edit_dist_pairs") {
    val part = Tables(spark, sfDir01, "part")
    val facade = Graft.editDistPairs(part, "p_partkey", "p_name",
      Seq("p_brand", "p_size"), 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val declared = q("edit_dist_pairs", sfDir01)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    assert(facade == declared)
  }

  test("Graft.basketPairs equals the declared basket_pairs") {
    val li = Tables(spark, sfDir, "lineitem")
      .join(Tables(spark, sfDir, "part"),
        col("l_partkey") === col("p_partkey"))
    val facade = Graft.basketPairs(li, "l_orderkey", "p_brand")
      .collect().map(_.toSeq).toSet
    val declared = q("basket_pairs")
      .collect().map(_.toSeq).toSet
    assert(facade == declared)
  }

  test("Graft.userStreaks equals the declared user_streaks") {
    val ev = Tables.events(spark, sfDir)
    val facade = Graft.userStreaks(ev, "user_id", "ts")
      .collect().map(_.toSeq).toSet
    val declared = q("user_streaks").collect().map(_.toSeq).toSet
    assert(facade == declared)
  }

  test("Graft.decileLift matches the declared decile_lift structure") {
    val od = Tables(spark, sfDir, "orders")
      .withColumn("cents", floor(col("o_totalprice") * 100).cast("long"))
    val facade = Graft.decileLift(od, "o_custkey", "cents")
      .orderBy(col("tile")).collect()
    val declared = q("decile_lift").orderBy(col("decile")).collect()
    assert(facade.length == declared.length)
    facade.zip(declared).foreach { case (f, d) =>
      assert(f.getInt(0) == d.getInt(0))         // tile id
      assert(f.getLong(1) == d.getLong(1))       // n_keys
      assert(math.abs(f.getDouble(3) - d.getDouble(3)) < 1e-4) // share
      assert(math.abs(f.getDouble(4) - d.getDouble(4)) < 1e-4) // cum
    }
  }

  test("Graft.histogram buckets cover all rows with ordered bounds") {
    val ev = Tables.events(spark, sfDir)
    val out = Graft.histogram(ev, "value", "event_type", 10)
    assert(out.agg(sum(col("n"))).first().getLong(0) == ev.count())
    assert(out.filter(col("bucket") < 0 || col("bucket") > 9 ||
      col("lo") > col("hi")).count() == 0)
  }

  // ---- round-8 facade transforms vs their declared queries ----

  // sorted Seq, not Set: a Set comparison would hide multiplicity
  // differences (a row emitted twice on one side would still pass)
  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("Graft.entropyFilter matches the declared entropy_filter") {
    val docs = Tables(spark, sfDir, "documents")
    assert(rows(Graft.entropyFilter(docs, "text", "doc_id")) ==
      rows(q("entropy_filter")))
  }

  test("Graft.cooccurTopK matches the declared cooccur_topk") {
    val docs = Tables(spark, sfDir, "documents")
    assert(Graft.cooccurTopK(docs, "text").collect().toSeq ==
      q("cooccur_topk").collect().toSeq)
  }

  test("Graft.importanceWeights matches the declared dsir_weights") {
    val docs = Tables(spark, sfDir, "documents")
    val out = Graft.importanceWeights(docs, "text", "doc_id",
      expr("(doc_id % 100000) * 2654435761 % 100 < 10"))
    assert(rows(out) == rows(q("dsir_weights")))
  }

  test("Graft.semdedup matches the declared semdedup") {
    Graft.register(spark)
    val emb = Tables(spark, sfDir, "embeddings")
    val k = math.max(8L, math.ceil(emb.count() / 100.0).toLong)
    val seeds = emb.filter(col("vec_id") < k)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val out = Graft.semdedup(emb, "embedding", "vec_id",
      seeds, "cid", "cvec")
    assert(rows(out) == rows(q("semdedup")))
  }

  test("Graft.abLift matches the declared ab_lift") {
    val ev = Tables.events(spark, sfDir)
    val out = Graft.abLift(ev, "user_id", "value",
      col("event_type") === "purchase" && col("value") > 150,
      col("event_type") === "purchase")
    assert(out.collect().toSeq == q("ab_lift").collect().toSeq)
  }

  test("Graft.ewmaSmooth matches the declared ewma_smooth") {
    val ev = Tables.events(spark, sfDir)
    assert(rows(Graft.ewmaSmooth(ev, "event_type", "ts")) ==
      rows(q("ewma_smooth")))
  }

  test("Graft.dauMau matches the declared dau_mau") {
    val ev = Tables.events(spark, sfDir)
    assert(rows(Graft.dauMau(ev, "user_id", "ts")) ==
      rows(q("dau_mau")))
  }

  test("Graft.zipfFit matches the declared zipf_fit") {
    val docs = Tables(spark, sfDir, "documents")
    assert(Graft.zipfFit(docs, "text").collect().toSeq ==
      q("zipf_fit").collect().toSeq)
  }

  test("Graft.containmentPairs matches the declared shingle_containment") {
    val docs = Tables(spark, sfDir, "documents")
    assert(rows(Graft.containmentPairs(docs, "text", "doc_id")) ==
      rows(q("shingle_containment")))
  }

  test("Graft.winnowFingerprints matches the declared winnowing_fingerprint") {
    val docs = Tables(spark, sfDir, "documents")
    assert(rows(Graft.winnowFingerprints(docs, "text", "doc_id")
        .drop("fingerprints")) ==
      rows(q("winnowing_fingerprint")))
    // the exposed fingerprint array is consistent with its summary
    val r = Graft.winnowFingerprints(docs, "text", "doc_id")
      .select(col("n_fp"),
        expr("CAST(size(fingerprints) AS BIGINT)").as("sz"))
      .collect()
    assert(r.forall(x => x.getLong(0) == x.getLong(1)))
  }

  // ---- round-9 facade transforms vs their declared queries ----

  test("Graft.funnel matches the declared funnel_steps") {
    val ev = Tables.events(spark, sfDir)
    val out = Graft.funnel(ev, "user_id", "ts", Seq(
      col("event_type") === "view",
      col("event_type") === "signup",
      col("event_type") === "purchase"))
    assert(rows(out) == rows(q("funnel_steps")))
  }

  private def channelOf = (get_json_object(col("props"), "$.k")
    .cast("int") % 5)

  test("Graft.attribution(linear) matches the declared attribution_linear") {
    val ev = Tables.events(spark, sfDir)
    val out = Graft.attribution(ev, "user_id", "event_id", "ts",
      channelOf, col("event_type").isin("click", "view"),
      col("event_type") === "purchase", col("value"), "linear")
      .withColumnRenamed("channel", "campaign")
    assert(rows(out) == rows(q("attribution_linear")))
  }

  test("Graft.attribution(position) matches the declared attribution_position") {
    val ev = Tables.events(spark, sfDir)
    val out = Graft.attribution(ev, "user_id", "event_id", "ts",
      channelOf, col("event_type").isin("click", "view"),
      col("event_type") === "purchase", col("value"), "position")
      .withColumnRenamed("channel", "campaign")
    assert(rows(out) == rows(q("attribution_position")))
  }

  test("Graft.attribution(time_decay) matches the declared attribution_time_decay") {
    val ev = Tables.events(spark, sfDir)
    val out = Graft.attribution(ev, "user_id", "event_id", "ts",
      channelOf, col("event_type").isin("click", "view"),
      col("event_type") === "purchase", col("value"), "time_decay", 30)
      .withColumnRenamed("channel", "campaign")
    assert(rows(out) == rows(q("attribution_time_decay")))
  }

  test("Graft.attribution(first/last) conserve revenue to the cent") {
    val ev = Tables.events(spark, sfDir)
    val total = ev.filter(col("event_type") === "purchase")
      .agg(sum(floor(col("value") * 100).cast("long"))).first().getLong(0)
    for (m <- Seq("first", "last")) {
      val out = Graft.attribution(ev, "user_id", "event_id", "ts",
        channelOf, col("event_type").isin("click", "view"),
        col("event_type") === "purchase", col("value"), m)
      val credited = out.agg(round(sum(col("revenue")), 2))
        .first().getDouble(0)
      assert(math.abs(credited - total / 100.0) < 1e-9,
        s"$m: credited $credited != purchased ${total / 100.0}")
    }
  }

  test("Graft.markovTransitions matches the declared markov_transitions") {
    val ev = Tables.events(spark, sfDir)
      .withColumn("us", unix_micros(col("ts")))
    val out = Graft.markovTransitions(ev, "user_id", "event_type",
      Seq(col("us"), col("event_id")))
      .withColumnRenamed("prev_state", "prev_type")
      .withColumnRenamed("state", "event_type")
    assert(rows(out) == rows(q("markov_transitions")))
  }

  test("Graft.markovRemoval matches the declared markov_removal") {
    val ev = Tables.events(spark, sfDir)
    val out = Graft.markovRemoval(ev, "user_id", "event_id", "ts",
      channelOf, col("event_type").isin("click", "view"),
      col("event_type") === "purchase", 5)
      .withColumnRenamed("channel", "campaign")
    assert(rows(out) == rows(q("markov_removal")))
  }

  test("Graft.splitHash matches the declared split_hash rollup") {
    val docs = Tables(spark, sfDir, "documents")
    val out = Graft.splitHash(docs, "doc_id")
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"))
    assert(rows(out) == rows(q("split_hash")))
  }

  test("Graft.minhashPairs matches the declared minhash_det") {
    val docs = Tables(spark, sfDir, "documents")
      .select(col("doc_id").as("id"), col("text").as("body"))
    assert(rows(Graft.minhashPairs(docs, "body", "id", 0.4)) ==
      rows(q("minhash_det")))
  }

  test("Graft.winsorize matches the declared winsorize") {
    val li = Tables(spark, sfDir, "lineitem")
    val out = Graft.winsorize(li,
      floor(col("l_extendedprice") * 100), "l_returnflag")
      .withColumnRenamed("p_lo", "p05")
      .withColumnRenamed("p_hi", "p95")
    assert(rows(out) == rows(q("winsorize")))
  }

  test("Graft.bpeMerges matches the declared bpe_merges") {
    val docs = Tables(spark, sfDir, "documents")
    assert(rows(Graft.bpeMerges(docs, "text", 8)) ==
      rows(q("bpe_merges")))
  }

  test("Graft.funnel generalizes past 3 steps: monotone counts, sane rates") {
    val ev = Tables.events(spark, sfDir)
    val out = Graft.funnel(ev, "user_id", "ts", Seq(
      col("event_type") === "view",
      col("event_type") === "click",
      col("event_type") === "signup",
      col("event_type") === "purchase")).collect().head
    val counts = (1 to 4).map(i => out.getLong(out.fieldIndex(s"step${i}_users")))
    // strict ordering can only lose users step over step
    assert(counts == counts.sorted.reverse, s"non-monotone: $counts")
    assert(counts.head > 0)
    // consecutive and overall rates agree with the counts
    for (i <- 1 to 3; if counts(i - 1) > 0) {
      val r = out.getDouble(out.fieldIndex(s"rate_$i${i + 1}"))
      assert(math.abs(r - counts(i).toDouble / counts(i - 1)) < 1e-4)
    }
    val r14 = out.getDouble(out.fieldIndex("rate_14"))
    assert(math.abs(r14 - counts(3).toDouble / counts(0)) < 1e-4)
  }

  // ---- negative-id / shadow-safety properties (r9 verdict item 1) ----

  test("Graft.abLift: negative user ids land in exactly one arm") {
    import spark.implicits._
    val ev = (-50L until 50L).map(u => (u, 10.0, u % 3 == 0))
      .toDF("user_id", "value", "flag")
    val r = Graft.abLift(ev, "user_id", "value",
      col("flag"), col("flag")).collect().head
    val (nA, nB) = (r.getLong(r.fieldIndex("n_a")),
      r.getLong(r.fieldIndex("n_b")))
    // pre-pmod, odd-hash negative users fell in NEITHER arm
    assert(nA + nB == 100, s"lost users: n_a=$nA n_b=$nB")
    assert(nA > 0 && nB > 0, s"one-sided assignment: n_a=$nA n_b=$nB")
  }

  test("Graft.splitHash: negative ids split by pmod, never all-train") {
    import spark.implicits._
    val ids = (-500L until 500L)
    val out = Graft.splitHash(ids.toDF("doc_id"), "doc_id")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // exact expected label per id from the documented pmod bucket
    val cuts = Seq("train" -> 80, "val" -> 90, "test" -> 100)
    def expected(id: Long): String = {
      val b = java.lang.Math.floorMod((id % 100000L) * 2654435761L, 100L)
      cuts.find(b < _._2).get._1
    }
    ids.foreach(id => assert(out(id) == expected(id), s"id=$id"))
    // and negative ids are NOT all in the first split
    val negLabels = ids.filter(_ < 0).map(out).toSet
    assert(negLabels == Set("train", "val", "test"), s"got $negLabels")
  }

  test("Graft.splitHash refuses to overwrite an existing split column") {
    import spark.implicits._
    val df = Seq((1L, "keep")).toDF("doc_id", "split")
    assertThrows[IllegalArgumentException](Graft.splitHash(df, "doc_id"))
  }

  test("Graft.semdedup: negative ids salt via pmod, one row per id") {
    import spark.implicits._
    Graft.register(spark)
    val emb = (-20L until 20L)
      .map(i => (i, Array.tabulate(4)(d => (((i + d) % 5) + 1).toFloat)))
      .toDF("vec_id", "embedding")
    val seeds = emb.filter(col("vec_id").isin(-20L, 0L))
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val out = Graft.semdedup(emb, "embedding", "vec_id",
      seeds, "cid", "cvec").collect()
    assert(out.length == 40)
    assert(out.map(_.getLong(0)).distinct.length == 40)
    assert(out.forall(r => Set(0, 1)(r.getInt(r.fieldIndex("kept")))))
  }

  test("Graft.attribution: a user `_us` column is not shadowed from predicates") {
    import spark.implicits._
    val ev = Seq(
      (1L, 10L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
        "touch", 0.0),
      (1L, 11L, java.sql.Timestamp.valueOf("2024-01-02 00:00:00"),
        "conv", 10.0))
      .toDF("user_id", "event_id", "ts", "_us", "value")
    val out = Graft.attribution(ev, "user_id", "event_id", "ts",
      lit(7), col("_us") === "touch", col("_us") === "conv",
      col("value"), "linear")
      .collect().map(r => r.getInt(0) ->
        (r.getLong(1), r.getDouble(2))).toMap
    // pre-fix: _us was overwritten by unix_micros before the user
    // predicates ran -> no touches matched -> all credit to channel -1
    assert(out == Map(7 -> (1L, 10.0)), s"got $out")
  }

  test("Graft.funnel: a user `_us` column is not shadowed from step predicates") {
    import spark.implicits._
    val ev = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "go"),
      (1L, java.sql.Timestamp.valueOf("2024-01-02 00:00:00"), "buy"))
      .toDF("user_id", "ts", "_us")
    val out = Graft.funnel(ev, "user_id", "ts",
      Seq(col("_us") === "go", col("_us") === "buy")).collect().head
    assert(out.getLong(out.fieldIndex("step1_users")) == 1L)
    assert(out.getLong(out.fieldIndex("step2_users")) == 1L)
  }

  test("Graft.markovTransitions: a user `_prev` order column survives") {
    import spark.implicits._
    val ev = Seq((1L, "a", 1L), (1L, "b", 2L), (1L, "c", 3L))
      .toDF("user_id", "state", "_prev")
    val out = Graft.markovTransitions(ev, "user_id", "state",
      Seq(col("_prev")))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(out == Set(("a", "b"), ("b", "c")))
  }

  test("Graft.attribution(time_decay) rejects horizons that wrap shiftleft") {
    val ev = Tables.events(spark, sfDir)
    assertThrows[IllegalArgumentException](
      Graft.attribution(ev, "user_id", "event_id", "ts",
        lit(0), lit(true), lit(false), col("value"), "time_decay", 63))
  }

  // ---- round-11 facade transforms vs their declared queries ----

  test("Graft.domainCap matches the declared domain_cap keep set") {
    val docs = Tables(spark, sfDir, "documents")
    val kept = Graft.domainCap(docs, "source", 20,
      Seq(col("n_chars").desc, col("doc_id")))
      .select(col("doc_id"), col("source"), col("n_chars"))
    assert(rows(kept) ==
      rows(q("domain_cap").select(col("doc_id"), col("source"),
        col("n_chars"))))
  }

  test("Graft.mixTemperature per-key kept counts match the declared " +
    "mix_temperature audit") {
    val docs = Tables(spark, sfDir, "documents")
    val facade = Graft.mixTemperature(docs, "source", "doc_id", 300L)
      .groupBy(col("source")).agg(count(lit(1)).as("n_kept"))
    // declared audit reports every source; the facade emits only kept
    // rows, so compare against the nonzero slice
    assert(rows(facade) ==
      rows(q("mix_temperature").select(col("source"), col("n_kept"))
        .filter(col("n_kept") > 0)))
  }

  test("Graft.shuffleShards matches the declared shuffle_shard order") {
    val docs = Tables(spark, sfDir, "documents")
    val facade = Graft.shuffleShards(docs, "doc_id", 8)
      .select(col("shard"), col("pos"), col("doc_id"))
    assert(rows(facade) ==
      rows(q("shuffle_shard").select(col("shard"), col("pos"),
        col("doc_id"))))
  }

  test("Graft.shuffleShards refuses a frame that already has shard/pos") {
    import spark.implicits._
    val df = Seq((1L, 0)).toDF("id", "shard")
    assertThrows[IllegalArgumentException](
      Graft.shuffleShards(df, "id", 4))
  }

  test("Graft.curate: stage reports reconcile with curation_funnel " +
      "and every stage corpus is time-travel-readable") {
    val base = java.nio.file.Files
      .createTempDirectory("graft_curate").toString + "/t"
    val report = Graft.curate(
      Tables(spark, sfDir, "documents"), base)
      .collect().map(r => r.getString(1) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(report.keySet == Set("quality", "dedup_exact", "dedup_near"))
    // the committed-table report equals the declared funnel's rows
    val funnel = q("curation_funnel").collect()
      .map(r => r.getString(1) ->
        (r.getLong(2), r.getLong(3))).toMap
    for (st <- report.keySet) {
      assert(report(st)._1 == funnel(st)._1, s"$st docs diverge")
      assert(report(st)._2 == funnel(st)._2, s"$st tokens diverge")
    }
    // each stage's exact corpus is readable at its version, and the
    // stages are nested survivor sets
    val ids = Seq("quality", "dedup_exact", "dedup_near").map { st =>
      val v = report(st)._3
      val df = sources.Snapshots.readAsOf(spark, base, v)
      assert(df.count() == report(st)._1)
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    }
    assert(ids(1).subsetOf(ids(0)) && ids(2).subsetOf(ids(1)))
  }

  test("Graft.curateIngest: tick-by-tick stage tables equal the " +
      "one-shot kernels; ticks rewrite only touched hash prefixes") {
    val base = java.nio.file.Files
      .createTempDirectory("graft_curate_inc").toString + "/t"
    val docs = Tables(spark, sfDir, "documents")
    val mx = docs.agg(max(col("doc_id"))).head.getLong(0)
    // seed (everything but the 40 newest) + two bounded 20-doc ticks,
    // ids monotone across ticks (curateIngest's append contract)
    val seed = docs.filter(col("doc_id") <= mx - 40)
    val t1 = docs.filter(col("doc_id") > mx - 40 &&
      col("doc_id") <= mx - 20)
    val t2 = docs.filter(col("doc_id") > mx - 20)
    Graft.curateIngest(seed, base, version = Some(1L))
    Graft.curateIngest(t1, base, version = Some(2L))
    val report = Graft.curateIngest(t2, base, version = Some(3L))
      .collect().map(r => r.getString(1) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // final tables equal the one-shot declared kernels over ALL docs
    val q1 = text.CurationOps.qualitySignals(docs).filter(col("keep_q"))
      .select(col("doc_id"), col("text"),
        col("n").cast("long").as("n_tokens"))
    val ex = text.CurationOps.exactKeepers(q1)
    val nd = text.CurationOps.nearDupSurvivors(ex, 0.4)
    def idsOf(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    val want = Map("quality" -> q1, "dedup_exact" -> ex,
      "dedup_near" -> nd)
    for ((st, kernel) <- want) {
      val table = st match {
        case "quality" => s"$base/quality"
        case "dedup_exact" => s"$base/exact"
        case "dedup_near" => s"$base/near"
      }
      val got = sources.Snapshots.readAsOf(spark, table, report(st)._3)
      assert(idsOf(got) == idsOf(kernel), s"$st ids diverge")
      assert(report(st)._1 == kernel.count(), s"$st count diverges")
      assert(report(st)._2 ==
        kernel.agg(sum(col("n_tokens"))).head.getLong(0),
        s"$st tokens diverge")
    }
    // write amplification: each tick version wrote strictly fewer
    // bytes than its table's seed version (touched prefixes only)
    for (t <- Seq("quality", "exact", "near")) {
      val table = s"$base/$t"
      val vLast = sources.Snapshots.latest(spark, table)
      assert(vLast >= 2L, s"$t never merged a tick")
      val seedBytes = sources.Snapshots.bytesWritten(spark, table, 1L)
      val tickBytes = sources.Snapshots.bytesWritten(spark, table, vLast)
      assert(tickBytes < seedBytes,
        s"$t tick rewrote the table: seed=$seedBytes tick=$tickBytes")
    }
    // the report is curate's shape and the stages nest
    assert(report.keySet == Set("quality", "dedup_exact", "dedup_near"))
    assert(report("dedup_near")._1 <= report("dedup_exact")._1 &&
      report("dedup_exact")._1 <= report("quality")._1)
  }

  /** The test's (doc_id, embedding) lookup: the fixture embeddings
    * keyed by doc_id, plus PLANTED semantic clones — higher-id docs
    * carrying byte-identical copies of low-id vectors, so the
    * semantic stage has real drops to make (identical vectors share
    * an argmax cluster and score rounded cosine 1.0 ≥ 0.3). */
  private def embLookup(sf: String): org.apache.spark.sql.DataFrame = {
    val emb = Tables(spark, sf, "embeddings")
      .select(col("vec_id").as("doc_id"), col("embedding"))
    val planted = emb.filter(col("doc_id") < 10)
      .select((col("doc_id") + 300L).as("doc_id"), col("embedding"))
    val late = emb.filter(col("doc_id") === 1L)
      .select((col("doc_id") + 489L).as("doc_id"), col("embedding"))
    // the `embeddings` parameter is a LOOKUP: one row per doc_id.
    // Anti-join the planted ids' own base vectors out before the
    // union — a duplicate doc_id row would let the production join
    // duplicate rows and the argmax silently pick the original
    // vector over the planted clone (ADVICE r16)
    val plantedIds = planted.select("doc_id")
      .unionByName(late.select("doc_id"))
    val all = emb.join(plantedIds, Seq("doc_id"), "left_anti")
      .unionByName(planted).unionByName(late)
    assert(all.groupBy("doc_id").count().filter(col("count") > 1)
      .isEmpty, "embLookup violates the one-row-per-doc_id contract")
    all
  }

  test("Graft.curate with embeddings: the semantic fourth stage " +
      "matches the public semdedup kernel and spares unembedded docs") {
    val base = java.nio.file.Files
      .createTempDirectory("graft_curate_sem").toString + "/t"
    val docs = Tables(spark, sfDir01, "documents")
    val embAll = embLookup(sfDir01)
    val report = Graft.curate(docs, base, 0.4, Some(embAll), 0.3, 8)
      .collect().map(r => r.getString(1) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(report.keySet ==
      Set("quality", "dedup_exact", "dedup_near", "dedup_semantic"))
    def idsAt(v: Long): Set[Long] =
      sources.Snapshots.readAsOf(spark, base, v)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    val nearIds = idsAt(report("dedup_near")._3)
    val semIds = idsAt(report("dedup_semantic")._3)
    assert(semIds.subsetOf(nearIds), "semantic stage added docs")
    // independent recompute via the PUBLIC Graft.semdedup facade:
    // same frozen-seed rule (8 lowest embedded survivors), same
    // EXISTS-lower-id drop — two implementations, one answer
    val embSurv = embAll.filter(col("doc_id").isin(nearIds.toSeq: _*))
    val seeds = embSurv.orderBy(col("doc_id")).limit(8)
      .select(col("doc_id").as("c_id"), col("embedding").as("c_emb"))
    val droppedWant = Graft.semdedup(embSurv, "embedding", "doc_id",
      seeds, "c_id", "c_emb", 0.3)
      .filter(col("kept") === 0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(nearIds -- semIds == droppedWant,
      "facade drop set diverges from Graft.semdedup")
    assert(droppedWant.nonEmpty,
      "fixture produced no semantic drops — planted clones missing")
    // docs with no vector are never semantically dropped
    val embedded = embAll.select("doc_id").collect()
      .map(_.getLong(0)).toSet
    assert((nearIds -- embedded).subsetOf(semIds),
      "an unembedded doc was dropped by the semantic stage")
  }

  test("Graft.curateIngest with embeddings: ticks equal the one-shot " +
      "semantic stage; sem/semidx rewrite only touched partitions") {
    val base = java.nio.file.Files
      .createTempDirectory("graft_curate_sem_inc").toString + "/t"
    val oneShot = java.nio.file.Files
      .createTempDirectory("graft_curate_sem_one").toString + "/t"
    val docs = Tables(spark, sfDir01, "documents")
    val embAll = embLookup(sfDir01)
    val mx = docs.agg(max(col("doc_id"))).head.getLong(0)
    // 5-doc ticks: small enough to land in a strict subset of the 16
    // hash prefixes, so the touched-only write amplification is
    // observable (a 20-doc tick spreads over ~14/16 prefixes and the
    // "merge < seed bytes" signal drowns); t1 carries the planted
    // late clone (doc 490) so a cross-tick semantic drop exercises
    // the committed-index probe
    val seed = docs.filter(col("doc_id") <= mx - 10)
    val t1 = docs.filter(col("doc_id") > mx - 10 &&
      col("doc_id") <= mx - 5)
    val t2 = docs.filter(col("doc_id") > mx - 5)
    Graft.curateIngest(seed, base, 0.4, Some(1L), Some(embAll), 0.3, 8)
    Graft.curateIngest(t1, base, 0.4, Some(2L), Some(embAll), 0.3, 8)
    val report = Graft.curateIngest(t2, base, 0.4, Some(3L),
      Some(embAll), 0.3, 8)
      .collect().map(r => r.getString(1) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(report.keySet ==
      Set("quality", "dedup_exact", "dedup_near", "dedup_semantic"))
    val oneReport = Graft.curate(docs, oneShot, 0.4,
      Some(embAll), 0.3, 8)
      .collect().map(r => r.getString(1) -> r.getLong(4)).toMap
    def oneIds(v: Long): Set[Long] =
      sources.Snapshots.readAsOf(spark, oneShot, v)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    val semTick = sources.Snapshots
      .readAsOf(spark, s"$base/sem", report("dedup_semantic")._3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(semTick == oneIds(oneReport("dedup_semantic")),
      "tick-by-tick semantic survivors diverge from the one-shot")
    // the cluster index covers every embedded stage-3 survivor and the
    // frozen seeds are the one-shot's (monotone ids: the seed batch
    // holds the corpus's 8 lowest embedded survivors)
    val idxIds = sources.Snapshots
      .readAsOf(spark, s"$base/semidx",
        sources.Snapshots.latest(spark, s"$base/semidx"))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val nearTick = sources.Snapshots
      .readAsOf(spark, s"$base/near", report("dedup_near")._3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val embedded = embAll.select("doc_id").collect()
      .map(_.getLong(0)).toSet
    assert(idxIds == (nearTick & embedded),
      "semidx does not hold exactly the embedded stage-3 survivors")
    // write amplification on the two new merging tables
    for (t <- Seq("sem", "semidx")) {
      val table = s"$base/$t"
      val vLast = sources.Snapshots.latest(spark, table)
      assert(vLast >= 2L, s"$t never merged a tick")
      val seedBytes = sources.Snapshots.bytesWritten(spark, table, 1L)
      val tickBytes = sources.Snapshots.bytesWritten(spark, table, vLast)
      assert(tickBytes < seedBytes,
        s"$t tick rewrote the table: seed=$seedBytes tick=$tickBytes")
    }
    // seeds froze once: a single semseeds version across all ticks
    assert(sources.Snapshots.versions(spark, s"$base/semseeds")
      == Seq(1L), "semseeds re-committed after the seed tick")
  }

  test("Graft.reclusterSemLedger fails loudly without a curated corpus") {
    val base = java.nio.file.Files
      .createTempDirectory("graft_recluster_empty").toString + "/t"
    val e = intercept[IllegalArgumentException](
      Graft.reclusterSemLedger(spark, base, embLookup(sfDir01), 0L))
    assert(e.getMessage.contains("no committed near/ version"))
  }

  test("Graft.curateIngest without a version: an all-failing first " +
      "batch commits nothing and returns an empty report") {
    val base = java.nio.file.Files
      .createTempDirectory("graft_curate_empty").toString + "/t"
    val docs = Tables(spark, sfDir, "documents")
    val failing = text.CurationOps.qualitySignals(docs)
      .filter(!col("keep_q")).select(docs.columns.map(col): _*)
    assert(!failing.isEmpty, "fixture has no quality-failing docs")
    val report = Graft.curateIngest(failing, base,
      embeddings = Some(embLookup(sfDir)), semK = 8)
    assert(report.isEmpty)
    assert(report.columns.toSeq ==
      Seq("stage_no", "stage", "n_docs", "n_tokens", "version"))
    for (t <- Graft.curateTables(base, semantic = true))
      assert(sources.Snapshots.latest(spark, t) == 0L,
        s"$t committed a version for an all-failing first batch")
    // the next version-less tick seeds every table at version 1
    val seeded = Graft.curateIngest(docs, base)
      .collect().map(r => r.getString(1) -> r.getLong(4)).toMap
    assert(seeded == Map("quality" -> 1L, "dedup_exact" -> 1L,
      "dedup_near" -> 1L))
  }

  test("Graft.curateIngest without a version: the tick after an " +
      "all-duplicate tick lands every table on 1 + max latest") {
    val base = java.nio.file.Files
      .createTempDirectory("graft_curate_gap").toString + "/t"
    val docs = Tables(spark, sfDir01, "documents")
      .select("doc_id", "text", "n_chars")
    val embAll = embLookup(sfDir01)
    val mx = docs.agg(max(col("doc_id"))).head.getLong(0)
    val seed = docs.filter(col("doc_id") <= mx - 40)
    // ids (mx-40, mx-35] all carrying one committed quality survivor's
    // text: stage 1 keeps them, stage 2 drops them all, so exact,
    // near, bands, sem and semidx skip the tick
    val kept = text.CurationOps.qualitySignals(seed).filter(col("keep_q"))
      .orderBy(col("doc_id")).limit(1).select(col("text"), col("n_chars"))
    val dups = docs.filter(col("doc_id") > mx - 40 &&
        col("doc_id") <= mx - 35)
      .select(col("doc_id")).crossJoin(kept)
    val tail = docs.filter(col("doc_id") > mx - 35)
    def ingest(b: org.apache.spark.sql.DataFrame): Map[String, Long] =
      Graft.curateIngest(b, base, embeddings = Some(embAll), semK = 8)
        .collect().map(r => r.getString(1) -> r.getLong(4)).toMap
    ingest(seed)
    val dupReport = ingest(dups)
    assert(dupReport("quality") == 2L && dupReport("dedup_exact") == 1L,
      s"the duplicate tick did not gap exact: $dupReport")
    val Seq(qT, eT, nT, bT, sT, iT, dT) =
      Graft.curateTables(base, semantic = true)
    def versions(t: String): Seq[Long] =
      sources.Snapshots.versions(spark, t)
    assert(versions(qT) == Seq(1L, 2L))
    for (t <- Seq(eT, nT, bT, sT, iT, dT))
      assert(versions(t) == Seq(1L), s"$t committed the duplicate tick")
    // 1 + max latest = 3 on every table the tick commits
    val report = ingest(tail)
    assert(report.values.toSet == Set(3L), s"report versions: $report")
    assert(versions(qT) == Seq(1L, 2L, 3L))
    for (t <- Seq(eT, nT, bT, sT, iT))
      assert(versions(t) == Seq(1L, 3L), s"$t versions ${versions(t)}")
    assert(versions(dT) == Seq(1L), "seeds froze more than once")
  }
}
