package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Independent-recomputation checks for the round-8 additions, beyond
  * the DuckDB oracles: brute-force Scala recomputation on the small
  * fixture and the conservation laws each op's contract promises.
  */
class Round8OpsSpec extends AnyFunSuite {
  import SparkFixture._

  test("entropy_filter matches a direct Scala recomputation per doc") {
    val out = q("entropy_filter").collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getInt(2))).toMap
    val docs = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.keySet == docs.filter(_._2.nonEmpty).keySet)
    for ((id, text) <- docs if text.nonEmpty) {
      val n = text.length.toDouble
      val h = -text.groupBy(identity).values
        .map(g => g.length / n * math.log(g.length / n)).sum
      val hr = BigDecimal(h).setScale(4, BigDecimal.RoundingMode.HALF_UP)
        .toDouble
      assert(math.abs(out(id)._1 - hr) < 1e-9, s"doc $id entropy")
      assert(out(id)._2 == (if (hr >= 2.0) 1 else 0), s"doc $id keep")
    }
  }

  test("cooccur_topk matches a brute-force window-pair count") {
    val out = q("cooccur_topk").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val texts = Tables(spark, sfDir, "documents")
      .select(col("text")).collect().map(_.getString(0))
    val counts = scala.collection.mutable.Map
      .empty[(String, String), Long].withDefaultValue(0L)
    for (t <- texts; toks = t.split(" ", -1); i <- toks.indices;
         k <- 1 to 3 if i + k < toks.length)
      counts((toks(i), toks(i + k))) += 1
    val expected = counts.toSeq
      .map { case ((a, b), c) => (a, b, c) }
      .sortBy { case (a, b, c) => (-c, a, b) }
      .take(20)
    assert(out.toSeq == expected)
  }

  test("attribution_position conserves revenue to the cent") {
    // the U-shape is still an exact partition of each purchase's
    // cents: across campaigns (incl. direct -1) attributed revenue
    // equals total purchase revenue exactly, like attribution_linear
    for (dir <- Seq(sfDir, sfDir01)) {
      val out = q("attribution_position", dir)
      val attributed = out.agg(sum(col("revenue"))).first().getDouble(0)
      val totalCents = Tables.events(spark, dir)
        .filter(col("event_type") === "purchase")
        .agg(sum(floor(col("value") * 100).cast("long")))
        .first().getLong(0)
      assert(math.abs(attributed - totalCents / 100.0) < 1e-9,
        s"$dir: attributed $attributed != purchases ${totalCents / 100.0}")
    }
  }

  test("attribution_position credit rows match attribution_linear's") {
    // same pairing (every purchase × its prior touches + direct):
    // only the split differs, so n_credits per campaign must agree
    val pos = q("attribution_position").collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val lin = q("attribution_linear").collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(pos == lin)
  }

  test("cart_abandonment matches a direct Scala sessionization") {
    val out = q("cart_abandonment").collect()
      .map(r => r.getDate(0).toString ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val evs = Tables.events(spark, sfDir)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("event_type"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val gap = 1800L * 1000000L
    val byDay = scala.collection.mutable.Map
      .empty[String, (Long, Long)].withDefaultValue((0L, 0L))
    for ((_, hits) <- evs.groupBy(_._1)) {
      val sorted = hits.sortBy(h => (h._2, h._3))
      var sess = Vector.empty[Vector[(Long, String)]]
      for (h <- sorted) {
        if (sess.isEmpty || h._2 - sess.last.last._1 > gap)
          sess :+= Vector(h._2 -> h._4)
        else sess = sess.init :+ (sess.last :+ (h._2 -> h._4))
      }
      for (ss <- sess if ss.exists(_._2 == "click")) {
        val day = java.time.Instant.ofEpochSecond(ss.head._1 / 1000000L)
          .toString.take(10)
        val (n, a) = byDay(day)
        byDay(day) =
          (n + 1, a + (if (ss.exists(_._2 == "purchase")) 0L else 1L))
      }
    }
    assert(out.keySet == byDay.keySet)
    for ((day, (n, a)) <- byDay)
      assert(out(day) == ((n, a, a * 10000L / n)), s"day $day")
  }

  private def loadEmb(dir: String): Array[(Long, Array[Float])] =
    Tables(spark, dir, "embeddings").select("vec_id", "embedding")
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
      .sortBy(_._1)

  private def fdot(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s
  }

  private def r4(x: Double): Double =
    BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Driver-side mirror of the three-level assignFrozen rule:
    * kc = max(4, ⌈∛n⌉) coarse, km = min(n, kc²) mid, own-cell rules
    * at both seed routings, 4dp rounds + lowest-id tie-breaks
    * everywhere. Returns id -> cluster for every (id, vec) in emb. */
  private def threeLevelMirror(emb: Array[(Long, Array[Float])],
      seeds: Array[(Long, Array[Float])]): Map[Long, Long] = {
    val n = seeds.length.toLong
    var c = math.max(1L, math.cbrt(n.toDouble).round)
    while (c * c * c < n) c += 1
    while (c > 1 && (c - 1) * (c - 1) * (c - 1) >= n) c -= 1
    val kc = math.max(4L, c).toInt
    val km = math.min(n, kc.toLong * kc).toInt
    val coarse = seeds.take(kc)
    val mids = seeds.take(km)
    val coarseIds = coarse.map(_._1).toSet
    val midIds = mids.map(_._1).toSet
    def cellOf(v: Array[Float]): Long =
      coarse.map { case (cc, cv) => (-r4(fdot(v, cv)), cc) }.min._2
    val m2c = mids.map { case (m, mv) =>
      m -> (if (coarseIds(m)) m else cellOf(mv))
    }.toMap
    def midOf(v: Array[Float], cell: Long): Long =
      mids.filter { case (m, _) => m2c(m) == cell }
        .map { case (m, mv) => (-r4(fdot(v, mv)), m) }.min._2
    val f2m = seeds.map { case (cid, cv) =>
      cid -> (if (midIds(cid)) cid else midOf(cv, cellOf(cv)))
    }.toMap
    emb.map { case (id, v) =>
      val mcell = midOf(v, cellOf(v))
      id -> seeds.filter { case (cid, _) => f2m(cid) == mcell }
        .map { case (cid, cv) => (-r4(fdot(v, cv)), cid) }.min._2
    }.toMap
  }

  test("semdedup matches brute-force assignment + lower-id drop rule") {
    val emb = loadEmb(sfDir)
    // three-level mirror of assignFrozen: k = ceil(N/tau) fine seeds
    val k = math.max(8L, math.ceil(emb.length / 100.0).toLong)
    val seeds = emb.filter(_._1 < k) // loadEmb sorts by id
    val assign = threeLevelMirror(emb, seeds)
    val expected = emb.map { case (id, v) =>
      val dropped = emb.exists { case (a, av) =>
        a < id && assign(a) == assign(id) && r4(fdot(av, v)) >= 0.3
      }
      id -> (assign(id), if (dropped) 0 else 1)
    }.toMap
    val out = q("semdedup").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getInt(2)))).toMap
    assert(out == expected)
    // the op is non-trivial on the fixture: both classes occur
    assert(out.values.exists(_._2 == 0) && out.values.exists(_._2 == 1))
  }

  test("assignFrozen: three genuine levels match the driver mirror") {
    // the fixture ops run at n_seeds = 8 where the rule degenerates
    // to two levels (kc = 4, km = n); force n_seeds = 100 so all
    // three levels are live (kc = 5, km = 25) and compare the engine
    // against the driver-side mirror vector by vector
    val emb = loadEmb(sfDir)
    val seeds = emb.filter(_._1 < 100)
    assert(seeds.length == 100)
    graft.ext.GraftFunctions.register(spark)
    val sdf = Tables(spark, sfDir, "embeddings")
      .filter(col("vec_id") < 100)
      .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))
    val got = vec.VectorOps.assignFrozen(
        Tables(spark, sfDir, "embeddings")
          .select(col("vec_id"), col("embedding")), sdf)
      .select(col("vec_id"), col("c_id"), col("cc_id")).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val expect = threeLevelMirror(emb, seeds)
    assert(got.view.mapValues(_._1).toMap == expect)
    // more clusters used than the mid count proves the fine level
    // actually discriminated (a collapsed fine stage would emit at
    // most km = 25 distinct c_ids)
    assert(got.values.map(_._1).toSet.size > 25)
    // cc_id (the persisted partition key) is the vector's own
    // coarse-argmax cell
    val coarse = seeds.take(5)
    for ((id, v) <- emb) {
      val cell = coarse
        .map { case (cc, cv) => (-r4(fdot(v, cv)), cc) }.min._2
      assert(got(id)._2 == cell, s"vec $id cc_id")
    }
  }

  test("pq_topk matches a full Scala mirror of the PQ pipeline") {
    val emb = loadEmb(sfDir)
    def sub(v: Array[Float], s: Int) = v.slice(s * 8, s * 8 + 8)
    val cb = emb.filter(_._1 < 16)
    // per-(vec, subspace) code: argmin rounded ||a-b||^2, code asc
    def codeOf(v: Array[Float], s: Int): Long = {
      val sv = sub(v, s)
      cb.map { case (c, cv) =>
        val csv = sub(cv, s)
        (r4(fdot(sv, sv) + fdot(csv, csv) - 2.0 * fdot(sv, csv)), c)
      }.min._2
    }
    val q0 = emb.find(_._1 == 0L).get._2
    val adcTable = (for ((c, cv) <- cb; s <- 0 until 8)
      yield (s, c) -> math.round(fdot(sub(q0, s), sub(cv, s)) * 10000))
      .toMap
    val expected = emb.filter(_._1 != 0L).map { case (id, v) =>
      val adc = (0 until 8).map(s => adcTable((s, codeOf(v, s)))).sum
      (id, adc / 10000.0)
    }.sortBy { case (id, a) => (-a, id) }.take(10)
    val out = q("pq_topk").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(out == expected.toSeq)
  }

  test("semdedup's pair join shuffles on the salted (c_id, bkt) key") {
    // the unsalted join's parallelism equals k (8) no matter the core
    // count — measured ~25 min for 2.5B pairs at sf10. This guard
    // pins the 16-way id-bucket salt in the exchange key of every
    // user of the shared pair join (VectorOps.lowerIdDuplicates): the
    // declared op, the Graft.semdedup facade and curate's semantic
    // drop set.
    def assertSalted(df: org.apache.spark.sql.DataFrame): Unit = {
      val plan = df.queryExecution.executedPlan.toString
      val salted = plan.linesIterator.exists(l =>
        l.contains("hashpartitioning(c_id") && l.contains("bkt"))
      assert(salted, plan.take(2000))
    }
    assertSalted(q("semdedup"))
    api.Graft.register(spark)
    val emb = Tables(spark, sfDir, "embeddings")
    val seeds = emb.filter(col("vec_id") < 8)
    assertSalted(api.Graft.semdedup(emb, "embedding", "vec_id",
      seeds.select(col("vec_id").as("cid"), col("embedding").as("cvec")),
      "cid", "cvec"))
    assertSalted(api.Graft.semanticDroppedIds(
      emb.select(col("vec_id").as("doc_id"), col("embedding")),
      seeds.select(col("vec_id").as("c_id"), col("embedding").as("c_emb")),
      0.3))
  }

  test("pq_topk recall@10 against exact top-k stays above its floor") {
    // measured 0.2 at sf0.01 (deterministic fixtures): raw 16-code
    // ADC on near-random unit vectors is a candidate generator, not
    // a ranker — the declared contract is ADC top-k + exact re-rank
    // via vector_topk, and this floor pins the candidate quality
    val approx = q("pq_topk", sfDir01).collect().map(_.getLong(0)).toSet
    val exact = q("vector_topk", sfDir01).collect().map(_.getLong(0)).toSet
    assert((approx & exact).size >= 2,
      s"recall ${(approx & exact).size}/10 fell below floor")
  }

  test("dsir_weights matches a direct Scala recomputation") {
    val docs = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getString(1))
    def tgt(id: Long) = (id % 100000L) * 2654435761L % 100L < 10L
    val bgs = docs.flatMap { case (id, t) =>
      val w = t.split(" ", -1)
      w.indices.dropRight(1).map(i => (id, w(i) + " " + w(i + 1)))
    }
    val allC = bgs.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val tgtC = bgs.filter(p => tgt(p._1)).groupBy(_._2).view
      .mapValues(_.length.toLong).toMap.withDefaultValue(0L)
    val (tn, tt, tv) =
      (bgs.length.toLong, bgs.count(p => tgt(p._1)).toLong,
        allC.size.toLong)
    val out = q("dsir_weights").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val byDoc = bgs.groupBy(_._1)
    assert(out.keySet == byDoc.keySet)
    for ((id, gs) <- byDoc) {
      val terms = gs.map { case (_, g) =>
        math.log((tgtC(g) + 1.0) / (tt + tv)) -
          math.log((allC(g) + 1.0) / (tn + tv))
      }
      val w = r4(terms.sum / terms.length)
      assert(out(id)._1 == gs.length.toLong, s"doc $id n_bigrams")
      assert(math.abs(out(id)._2 - w) < 1e-9, s"doc $id weight")
    }
    // the defining property: the hash-held-out target slice scores
    // higher on average than the rest (its bigrams ARE the target)
    val (t_, o) = out.partition(p => tgt(p._1))
    def mean(xs: Iterable[Double]) = xs.sum / xs.size
    assert(mean(t_.values.map(_._2)) > mean(o.values.map(_._2)))
  }

  test("bpe_encode agrees with applying bpe_merges' learned rules") {
    val merges = q("bpe_merges").collect()
      .sortBy(_.getInt(0)).map(r => (r.getString(1), r.getString(2)))
    def encode(w: String): Int = {
      var seg = "||" + w.map(c => s"$c||").mkString
      for ((a, b) <- merges)
        seg = seg.replace(s"|$a||$b|", s"|$a$b|")
      seg.split("\\|\\|", -1).length - 2
    }
    val out = q("bpe_encode").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val docs = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getString(1))
    for ((id, text) <- docs) {
      val words = text.split(" ", -1).filter(_.nonEmpty)
      if (words.isEmpty) assert(!out.contains(id))
      else assert(out(id) ==
        ((words.length.toLong, words.map(encode(_).toLong).sum)),
        s"doc $id")
    }
  }

  test("markov_removal matches a full Scala mirror of the chain") {
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val evs = Tables.events(spark, sfDir)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("event_type"),
        (get_json_object(col("props"), "$.k").cast("int") % 5)
          .as("campaign"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3), if (r.isNullAt(4)) -99 else r.getInt(4)))
    val conv = evs.filter(_._4 == "purchase").map(_._1).toSet
    val trans = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    for ((u, hits0) <- evs.filter(e => e._4 == "click" || e._4 == "view")
           .groupBy(_._1)) {
      val hits = hits0.sortBy(h => (h._2, h._3)).map(_._5)
      trans += ((100, hits.head))
      if (hits.length > 1)
        for (pair <- hits.sliding(2)) trans += ((pair(0), pair(1)))
      trans += ((hits.last, if (conv(u)) 101 else 102))
    }
    val counts = trans.groupBy(identity).view.mapValues(_.size).toMap
    val outTotals = counts.groupBy(_._1._1).view
      .mapValues(_.values.sum).toMap
    val probs = counts.map { case ((f, t), n) =>
      (f, t) -> r6(n.toDouble / outTotals(f))
    }
    val states = probs.keys.map(_._1).toSet
    def absorb(rm: Int): Double = {
      var p = states.map(_ -> 0.0).toMap
      for (_ <- 1 to 8) {
        p = states.map { s =>
          s -> (if (s == rm) 0.0
          else r6(probs.collect {
            case ((f, t), pr) if f == s =>
              if (t == 101) pr
              else if (t >= 0 && t <= 4) pr * p.getOrElse(t, 0.0)
              else 0.0
          }.sum))
        }.toMap
      }
      p(100)
    }
    val base = absorb(-1)
    val out = q("markov_removal").collect()
      .map(r => r.getInt(0) ->
        ((r.getDouble(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(out.keySet == Set(0, 1, 2, 3, 4))
    for (c <- 0 to 4) {
      val rc = absorb(c)
      val eff = r4((base - rc) / base)
      assert(math.abs(out(c)._1 - base) < 1e-9, s"ch $c base")
      assert(math.abs(out(c)._2 - rc) < 1e-9, s"ch $c removed")
      assert(math.abs(out(c)._3 - eff) < 1e-9, s"ch $c effect")
    }
  }

  test("cohort_ltv conserves revenue and cohort sizes") {
    val out = q("cohort_ltv").collect()
    val ev = Tables.events(spark, sfDir)
    val totalCents = ev.filter(col("event_type") === "purchase")
      .agg(sum(floor(col("value") * 100).cast("long")))
      .first().getLong(0)
    assert(out.map(_.getLong(2)).sum == totalCents, "revenue conservation")
    // per cohort: the last cumulative cell equals the cohort's total
    for ((cw, rows) <- out.groupBy(_.getLong(0))) {
      val sorted = rows.sortBy(_.getInt(1))
      assert(sorted.last.getLong(3) == rows.map(_.getLong(2)).sum,
        s"cohort $cw cum")
      assert(sorted.forall(_.getInt(1) >= 0), s"cohort $cw week_idx")
    }
    // cohort sizes cover every active user exactly once
    val nUsers = out.groupBy(_.getLong(0)).map(_._2.head.getLong(4)).sum
    assert(nUsers == ev.select(col("user_id")).distinct().count())
  }

  test("ab_lift matches a direct Scala recomputation") {
    val r = q("ab_lift").first()
    val evs = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type"), col("value"))
      .collect().map(x => (x.getLong(0), x.getString(1), x.getDouble(2)))
    val byUser = evs.groupBy(_._1)
    def variant(u: Long) = (u % 100000L) * 2654435761L % 2L
    val stats = byUser.map { case (u, es) =>
      val purch = es.filter(_._2 == "purchase")
      (variant(u), if (purch.exists(_._3 > 150)) 1L else 0L,
        purch.map(p => math.floor(p._3 * 100).toLong).sum)
    }.toSeq
    val (a, b) = stats.partition(_._1 == 0L)
    val (na, nb) = (a.size.toLong, b.size.toLong)
    val (ca, cb) = (a.map(_._2).sum, b.map(_._2).sum)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((na, nb, ca, cb)))
    assert((r.getLong(4), r.getLong(5)) ==
      ((a.map(_._3).sum, b.map(_._3).sum)))
    assert(r.getLong(6) == ca * 10000 / na)
    assert(r.getLong(7) == cb * 10000 / nb)
    val (bpA, bpB) = (ca * 10000 / na, cb * 10000 / nb)
    assert(r.getLong(8) == (bpB - bpA) * 10000 / bpA)
    val p = (ca + cb).toDouble / (na + nb)
    val z =
      if (ca + cb == 0 || ca + cb == na + nb) 0.0
      else (cb.toDouble / nb - ca.toDouble / na) /
        math.sqrt(p * (1.0 - p) * (1.0 / na + 1.0 / nb))
    assert(math.abs(r.getDouble(9) - r4(z)) < 1e-9)
  }

  test("bpe ops return empty on an empty corpus instead of throwing") {
    // the merge loop's driver-side argmax must survive zero pairs
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("emptydocs")
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType))))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    assert(SparkEntry.queries("bpe_merges")(spark, dir.toString)
      .count() == 0)
    assert(SparkEntry.queries("bpe_encode")(spark, dir.toString)
      .count() == 0)
  }

  test("compaction_plan conserves rows and sizes files to the target") {
    val rows = q("compaction_plan").collect()
    val total = Tables(spark, sfDir, "lineitem").count()
    assert(rows.map(_.getLong(1)).sum == total, "row conservation")
    for (r <- rows) {
      val (n, bytes, files, rpf) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(bytes == n * 96, s"${r.getString(0)} bytes")
      assert(files >= 1 && (files - 1) * 65536 < bytes &&
        bytes <= files * 65536, s"${r.getString(0)} file count")
      // planned layout covers every row without exceeding ceil
      assert(rpf * files >= n && (rpf - 1) * files < n,
        s"${r.getString(0)} rows/file")
    }
  }

  test("winnowing_fingerprint matches a direct Scala recomputation") {
    def tokh(tk: String): Long =
      tk.foldLeft(7L)((acc, c) => (acc * 31 + c.toLong) % 1073741824L)
    val out = q("winnowing_fingerprint").collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val docs = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getString(1))
    assert(out.size == docs.length)
    for ((id, text) <- docs) {
      val ths = text.split(" ", -1).map(tokh)
      val gh =
        if (ths.length < 4) Array.empty[Long]
        else (0 to ths.length - 4).map(i =>
          ths.slice(i, i + 4)
            .foldLeft(7L)((acc, x) => (acc * 1000003 + x) % 1073741824L))
          .toArray
      val nw = if (gh.isEmpty) 0 else if (gh.length <= 4) 1 else gh.length - 3
      val sel = (0 until nw).map(j => gh.slice(j, j + 4).min).distinct
      val expected = (gh.length.toLong, sel.length.toLong,
        if (sel.isEmpty) 0L else sel.min,
        sel.foldLeft(0L)(_ ^ _))
      assert(out(id) == expected, s"doc $id")
    }
  }

  test("winnowing guarantee: docs sharing a >=7-token run share a fingerprint") {
    // any common token run of length >= w + k - 1 = 7 must yield at
    // least one common selected fingerprint (Schleimer et al. thm 1)
    import spark.implicits._
    val run = "alpha beta gamma delta epsilon zeta eta"  // 7 tokens
    val docs = Seq(
      (1L, s"intro filler words then $run and a tail piece"),
      (2L, s"$run closing remarks of a different document body")
    ).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("winnow")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // recompute selected SETS via the op's own arithmetic in Scala
    def tokh(tk: String): Long =
      tk.foldLeft(7L)((acc, c) => (acc * 31 + c.toLong) % 1073741824L)
    def sel(text: String): Set[Long] = {
      val ths = text.split(" ", -1).map(tokh)
      val gh = (0 to ths.length - 4).map(i =>
        ths.slice(i, i + 4)
          .foldLeft(7L)((acc, x) => (acc * 1000003 + x) % 1073741824L))
      val nw = if (gh.isEmpty) 0 else if (gh.length <= 4) 1 else gh.length - 3
      (0 until nw).map(j => gh.slice(j, j + 4).min).toSet
    }
    val common = sel(docs.collect()(0).getString(1))
      .intersect(sel(docs.collect()(1).getString(1)))
    assert(common.nonEmpty, "winnowing guarantee violated")
    // and the declared op agrees with the recompute on these docs
    val viaOp = SparkEntry.queries("winnowing_fingerprint")(
      spark, dir.toString).collect().map(_.getLong(2)).sorted
    assert(viaOp sameElements
      Array(sel(docs.collect()(0).getString(1)).size.toLong,
        sel(docs.collect()(1).getString(1)).size.toLong).sorted)
  }

  test("ewma_smooth matches an exact integer-weight recomputation") {
    val out = q("ewma_smooth").collect()
      .map(r => (r.getString(0), r.getDate(1).toString) ->
        (r.getLong(2), r.getDouble(3), r.getLong(4))).toMap
    val daily = Tables.events(spark, sfDir)
      .select(col("event_type"), to_date(col("ts")).as("day"))
      .groupBy("event_type", "day").agg(count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getString(0), r.getDate(1).toLocalDate) -> r.getLong(2))
      .toMap
    assert(out.size == daily.size)
    for (((et, day), n) <- daily) {
      val window = (0 to 13).flatMap { j =>
        daily.get((et, day.minusDays(j))).map(n2 => (1L << (13 - j)) -> n2)
      }
      val ewma = window.map { case (w, n2) => w * n2 }.sum.toDouble /
        window.map(_._1).sum
      val er = BigDecimal(ewma).setScale(4, BigDecimal.RoundingMode.HALF_UP)
        .toDouble
      val got = out((et, day.toString))
      assert(got._1 == n && got._3 == window.size, s"($et,$day) counts")
      assert(math.abs(got._2 - er) < 1e-9, s"($et,$day) ewma")
    }
  }

  test("zipf_fit matches a brute-force OLS over the ranked vocabulary") {
    val r = q("zipf_fit").first()
    val texts = Tables(spark, sfDir, "documents")
      .select(col("text")).collect().map(_.getString(0))
    val counts = texts.flatMap(_.split(" ", -1)).filter(_.nonEmpty)
      .groupBy(identity).map { case (w, o) => w -> o.length.toLong }
    val ranked = counts.toSeq.sortBy { case (w, c) => (-c, w) }.take(1000)
    def r6(v: Double) =
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val xs = ranked.indices.map(i => r6(math.log(i + 1.0)))
    val ys = ranked.map { case (_, c) => r6(math.log(c.toDouble)) }
    val n = ranked.size.toDouble
    val (sx, sy) = (xs.sum, ys.sum)
    val sxy = xs.zip(ys).map { case (a, b) => a * b }.sum
    val sxx = xs.map(a => a * a).sum
    val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    val intercept = (sy - slope * sx) / n
    def r4(v: Double) =
      BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getLong(0) == ranked.size)
    assert(math.abs(r.getDouble(1) - r4(slope)) < 2e-4, "slope")
    assert(math.abs(r.getDouble(2) - r4(intercept)) < 2e-4, "intercept")
    // a natural-ish corpus slopes downward
    assert(r.getDouble(1) < 0, "Zipf slope must be negative")
  }

  test("dau_mau matches a brute-force trailing-30-day recomputation") {
    val out = q("dau_mau").collect()
      .map(r => r.getInt(0) ->
        (r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
    val active = Tables.events(spark, sfDir)
      .select(col("user_id"),
        datediff(to_date(col("ts")), lit("2024-01-01")).as("dno"))
      .distinct().collect()
      .map(r => (r.getLong(0), r.getInt(1)))
    val (d0, d1) = (active.map(_._2).min, active.map(_._2).max)
    assert(out.keySet == (d0 to d1).toSet, "dense calendar span")
    for (day <- d0 to d1) {
      val dau = active.collect { case (u, d) if d == day => u }.toSet.size
      val mau = active.collect {
        case (u, d) if d <= day && d >= day - 29 => u
      }.toSet.size
      val bp = if (mau == 0) None else Some(dau.toLong * 10000 / mau)
      assert(out(day) == ((dau.toLong, mau.toLong, bp)), s"day $day")
    }
  }

  test("shingle_containment matches a brute-force rare-shingle recompute") {
    val out = q("shingle_containment").collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getDouble(2), r.getDouble(3))).toMap
    val docs = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getString(1))
    val gramSets = docs.map { case (id, text) =>
      val toks = text.split(" ", -1)
      id -> (if (toks.length < 3) Set.empty[String]
             else toks.sliding(3).map(_.mkString(" ")).toSet)
    }.toMap
    val df = gramSets.values.flatten
      .groupBy(identity).map { case (g, o) => g -> o.size }
    val rare = gramSets.map { case (id, gs) =>
      id -> gs.filter(df(_) <= text.SimilarityOps.MaxDf)
    }
    def r4(x: Double): Double =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val ids = docs.map(_._1).sorted
    val expected = (for {
      i <- ids.indices.iterator; j <- (i + 1) until ids.length
      a = ids(i); b = ids(j)
      inter = rare(a).intersect(rare(b)).size
      if inter > 0 && rare(a).nonEmpty && rare(b).nonEmpty
      ca = r4(inter.toDouble / rare(a).size)
      cb = r4(inter.toDouble / rare(b).size)
      if ca >= 0.6 || cb >= 0.6
    } yield (a, b) -> (ca, cb)).toMap
    assert(out == expected)
    // and the asymmetric measure fires: at least one reported pair
    // would NOT pass the symmetric jaccard >= 0.2 gate is not
    // guaranteed on this fixture, but every jaccard pair with
    // near-total overlap must appear here
    assert(out.nonEmpty, "fixture yields no containment pairs")
  }
}
