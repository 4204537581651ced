package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Independent-recomputation checks for the round-6 additions, beyond
  * the DuckDB oracles: conservation laws and brute-force equivalents
  * where the declared op uses a smarter (bucketed / windowed / exact
  * integer-split) plan.
  */
class Round6OpsSpec extends AnyFunSuite {
  import SparkFixture._

  test("attribution_linear conserves revenue to the cent") {
    // the point of the integer split: across all campaigns (including
    // the 'direct' -1 bucket) attributed revenue must equal the total
    // purchase revenue EXACTLY — no rounding drift, no lost cents
    for (dir <- Seq(sfDir, sfDir01)) {
      val out = q("attribution_linear", dir)
      val attributed = out.agg(sum(col("revenue"))).first().getDouble(0)
      val totalCents = Tables.events(spark, dir)
        .filter(col("event_type") === "purchase")
        .agg(sum(floor(col("value") * 100).cast("long")))
        .first().getLong(0)
      assert(math.abs(attributed - totalCents / 100.0) < 1e-9,
        s"$dir: attributed $attributed != purchases ${totalCents / 100.0}")
    }
  }

  test("attribution_linear credits every purchase exactly once as 'direct' or split") {
    // n_credits across buckets = (#purchase-touch pairs) + (#purchases
    // with no prior touch): every purchase's cents fan out over its
    // own touch set and nothing else
    val out = q("attribution_linear")
    val nCredits = out.agg(sum(col("n_credits"))).first().getLong(0)
    val ev = Tables.events(spark, sfDir)
      .withColumn("us", unix_micros(col("ts")))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), col("us").as("p_us"))
    val touches = ev.filter(col("event_type").isin("click", "view"))
      .select(col("user_id").as("tu"), col("us").as("t_us"))
    val pairs = purchases.join(touches,
      col("pu") === col("tu") && col("t_us") < col("p_us")).count()
    val withTouch = purchases.join(touches,
        col("pu") === col("tu") && col("t_us") < col("p_us"), "left_semi")
      .count()
    val direct = purchases.count() - withTouch
    assert(nCredits == pairs + direct,
      s"credit rows $nCredits != $pairs pairs + $direct direct")
  }

  test("key_skew matches a direct recomputation per event type") {
    val out = q("key_skew").collect()
      .map(r => r.getString(0) -> r).toMap
    val sizes = Tables.events(spark, sfDir)
      .groupBy(col("event_type"), col("user_id")).count()
      .collect().map(r => (r.getString(0), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    assert(out.keySet == sizes.keySet)
    for ((tpe, szs) <- sizes) {
      val r = out(tpe)
      assert(r.getLong(1) == szs.length, s"$tpe n_keys")
      assert(r.getLong(2) == szs.max, s"$tpe max_sz")
      val med = // linear-interpolated p50, matching percentile/quantile_cont
        if (szs.length % 2 == 1) szs(szs.length / 2).toDouble
        else (szs(szs.length / 2 - 1) + szs(szs.length / 2)) / 2.0
      assert(r.getDouble(3) == med, s"$tpe med_sz ${r.getDouble(3)} != $med")
      assert(r.getLong(4) == szs.sum, s"$tpe total")
      assert(r.getLong(5) == szs.max * 10000L / szs.sum, s"$tpe hot_share_bp")
    }
  }

  test("bucket_join equals the plain unbucketed join+rollup") {
    val plain = Tables(spark, sfDir, "customer")
      .join(Tables(spark, sfDir, "orders"),
        col("c_custkey") === col("o_custkey"))
      .groupBy(col("c_custkey"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(floor(col("o_totalprice") * 100).cast("long")) / 100.0, 2)
          .as("total_price"))
    val out = q("bucket_join")
    assert(out.count() == plain.count())
    val diff = out.join(plain, Seq("c_custkey"))
      .filter(out("n_orders") =!= plain("n_orders") ||
        out("total_price") =!= plain("total_price")).count()
    assert(diff == 0, "bucketed result diverges from plain join")
  }

  test("new_vs_returning conserves users and activity") {
    val out = q("new_vs_returning")
    val totNew = out.agg(sum(col("n_new"))).first().getLong(0)
    val nUsers = Tables.events(spark, sfDir)
      .select(col("user_id")).distinct().count()
    // every user is new exactly once
    assert(totNew == nUsers, s"$totNew new != $nUsers users")
    val totActive = out.agg(sum(col("n_active"))).first().getLong(0)
    val userDays = Tables.events(spark, sfDir)
      .select(col("user_id"), to_date(col("ts"))).distinct().count()
    assert(totActive == userDays)
  }

  test("bounce_rate sessions reconcile with sessionize") {
    val out = q("bounce_rate")
    val sessions = out.agg(sum(col("n_sessions"))).first().getLong(0)
    assert(sessions == q("sessionize").count())
    val bounced = out.agg(sum(col("n_bounced"))).first().getLong(0)
    assert(bounced ==
      q("sessionize").filter(col("n_events") === 1).count())
  }

  test("orc_roundtrip loses nothing vs the source projection") {
    val src = Tables(spark, sfDir, "part")
      .select(col("p_partkey"), col("p_name"), col("p_brand"),
        col("p_retailprice"))
    assert(q("orc_roundtrip").except(src).isEmpty &&
      src.except(q("orc_roundtrip")).isEmpty)
  }

  test("attribution_time_decay conserves revenue to the cent") {
    // the telescoping ⌊cents·cumw/W⌋ differences must sum to exactly
    // cents per purchase, hence exactly total purchase revenue overall
    for (dir <- Seq(sfDir, sfDir01)) {
      val out = q("attribution_time_decay", dir)
      val attributed = out.agg(sum(col("revenue"))).first().getDouble(0)
      val totalCents = Tables.events(spark, dir)
        .filter(col("event_type") === "purchase")
        .agg(sum(floor(col("value") * 100).cast("long")))
        .first().getLong(0)
      assert(math.abs(attributed - totalCents / 100.0) < 1e-9,
        s"$dir: attributed $attributed != purchases ${totalCents / 100.0}")
    }
  }

  test("attribution_time_decay credits the same touch set as linear") {
    // decay reweights credits but never changes WHICH (purchase,
    // touch) pairs are credited: per-campaign row counts must match
    val decay = q("attribution_time_decay")
      .select(col("campaign"), col("n_credits"))
    val linear = q("attribution_linear")
      .select(col("campaign"), col("n_credits"))
    assert(decay.except(linear).isEmpty && linear.except(decay).isEmpty)
  }

  test("session_paths matches a brute-force trigram recount") {
    val rows = q("session_paths").collect()
    // brute force: recompute sessions + trigram counts on the driver
    val hits = Tables.events(spark, sfDir)
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("page", get_json_object(col("props"), "$.k").cast("int"))
      .select(col("user_id"), col("us"), col("event_id"), col("page"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
      .sortBy(t => (t._1, t._2, t._3))
    val counts = collection.mutable.Map.empty[(Int, Int, Int), Long]
    var sess = collection.mutable.ArrayBuffer.empty[Int]
    var prev: Option[(Long, Long)] = None // (user, us)
    def flush(): Unit = {
      sess.sliding(3).foreach { w =>
        if (w.length == 3) {
          val k = (w(0), w(1), w(2))
          counts(k) = counts.getOrElse(k, 0L) + 1
        }
      }
      sess.clear()
    }
    for ((u, us, _, p) <- hits) {
      val newSession = prev match {
        case Some((pu, pus)) => pu != u || us - pus > 1800L * 1000000L
        case None => true
      }
      if (newSession) flush()
      sess += p
      prev = Some((u, us))
    }
    flush()
    val want = counts.toSeq
      .sortBy { case ((a, b, c), n) => (-n, a, b, c) }.take(20)
    val got = rows.map(r =>
      ((r.getInt(0), r.getInt(1), r.getInt(2)), r.getLong(3))).toSeq
    assert(got == want, s"got $got\nwant $want")
  }

  test("inter_event_hist buckets are exact powers of two and conserve gaps") {
    for (dir <- Seq(sfDir, sfDir01)) {
      val rows = q("inter_event_hist", dir).collect()
      for (r <- rows) {
        val bucket = r.getInt(1)
        val lo = r.getLong(3); val hi = r.getLong(4)
        // 2^bucket <= gap_s + 1 < 2^(bucket+1)
        assert(lo + 1 >= (1L << bucket) && hi + 1 < (1L << (bucket + 1)),
          s"$dir bucket $bucket holds gaps [$lo, $hi]")
      }
      val nGaps = rows.map(_.getLong(2)).sum
      val events = Tables.events(spark, dir)
      val expected = events.count() -
        events.select(col("user_id"), col("event_type")).distinct().count()
      assert(nGaps == expected, s"$dir: $nGaps gaps != $expected")
    }
  }

  test("fk_orphans satisfies the parent-partition identity") {
    // parents with >=1 child = child_keys - orphan_keys, so
    // childless_parents + (child_keys - orphan_keys) = parent_keys;
    // and orphan rows/keys never exceed their totals
    val rows = q("fk_orphans").collect()
    assert(rows.length == 5)
    for (r <- rows) {
      val Seq(childRows, childKeys, parentKeys, orphanRows, orphanKeys,
        childless) = (1 to 6).map(r.getLong)
      assert(orphanKeys <= childKeys && orphanRows <= childRows,
        s"${r.getString(0)}: orphans exceed totals")
      assert(childless + (childKeys - orphanKeys) == parentKeys,
        s"${r.getString(0)}: partition identity broken")
    }
    // the TPC-H fixture relationships are referentially intact
    assert(rows.forall(_.getLong(4) == 0L), "fixture should have no orphans")
  }

  test("equi_depth_hist buckets are balanced, ordered, and conserve rows") {
    for (dir <- Seq(sfDir, sfDir01)) {
      val rows = q("equi_depth_hist", dir).collect()
        .sortBy(_.getLong(0))
      assert(rows.length == 16)
      val n = Tables(spark, dir, "lineitem").count()
      assert(rows.map(_.getLong(1)).sum == n)
      // equi-depth: every bucket holds floor(n/16) or ceil(n/16) rows
      assert(rows.forall(r =>
        r.getLong(1) == n / 16 || r.getLong(1) == n / 16 + 1))
      // buckets tile the value axis in order
      for (w <- rows.sliding(2); if w.length == 2) {
        val (a, b) = (w(0), w(1))
        assert(a.getLong(3) <= b.getLong(2),
          s"$dir: bucket ${a.getLong(0)} hi > bucket ${b.getLong(0)} lo")
      }
    }
  }

  test("equi_depth_hist distinct-value CDF form equals per-row ranking") {
    // r20 pins the rewrite: the op computes buckets on the
    // groupBy(cents) CDF, never ranking rows — this recomputes the
    // ORIGINAL per-row row_number form (rank over cents with the
    // (orderkey, linenumber) tie-break, bucket = (rnk-1)*16 div n)
    // with a plain window and asserts every output cell identical,
    // including a tiny n<16 slice where empty buckets must be absent
    // from both forms.
    import org.apache.spark.sql.expressions.Window
    for ((dir, limit) <- Seq((sfDir, Long.MaxValue), (sfDir, 5L))) {
      val base = Tables(spark, dir, "lineitem")
        .select(floor(col("l_extendedprice") * 100).cast("long")
          .as("cents"), col("l_orderkey"), col("l_linenumber"))
        .filter(col("l_orderkey") <= limit ||
          lit(limit) === Long.MaxValue)
      val n = base.count()
      val ref = base
        .withColumn("__rnk", row_number().over(Window
          .orderBy(col("cents"), col("l_orderkey"),
            col("l_linenumber"))).cast("long"))
        .withColumn("bucket", expr(s"((__rnk - 1) * 16) div ${n}L"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_rows"),
          min(col("cents")).as("lo_cents"),
          max(col("cents")).as("hi_cents"),
          sum(col("cents").cast("decimal(38,0)")).cast("long")
            .as("total_cents"))
      val got =
        if (limit == Long.MaxValue) q("equi_depth_hist", dir)
        // n<16 edge: the op's own bucket assignment on the slice
        else graft.ops.Aggs.equiDepthBuckets(base.select(col("cents")))
      val r = ref.collect().map(_.toSeq).sortBy(_.head.toString)
      val g = got.collect().map(_.toSeq).sortBy(_.head.toString)
      assert(g.toSeq == r.toSeq,
        s"$dir limit=$limit: CDF form diverged from per-row ranking")
    }
  }
}
