package graft.vec

import graft.{Op, OpModule, Tables}
import graft.sources.Snapshots
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Similarity search over the `embeddings` table (SURVEY.md §2.11;
  * north star: ANN for training-data pipelines).
  *
  * Vectors are ~unit-norm (FIXTURES.md), so dot product ≈ cosine.
  * All dot products widen float→double *before* multiplying and fold
  * left-to-right, matching DuckDB's list_dot_product on DOUBLE[] for
  * bit-stable comparison; scores are rounded to 4 dp and every sort
  * is over the rounded score with a vec_id tie-break.
  *
  * Scale path: `vector_topk` is block-partitioned brute force — the
  * single target broadcasts, each partition computes local scores,
  * and TakeOrderedAndProject merges per-partition top-k heaps
  * (REPOSE-style partitioned top-k, PAPERS.md). `ann_bucket_topk`
  * is the LSH/IVF variant: a deterministic sign-bit bucket key
  * prunes the candidate set before any scoring, which is exactly the
  * 100 TB move (bucket key → partition pruning / co-partitioned
  * join). `cosine_neardup` scores pairs within the same sign bucket
  * (an equi-join on the bucket key — no cartesian anywhere in the
  * module except `knn_label`'s bounded 20-row broadcast probe set).
  */
object VectorOps extends OpModule {

  /** embedding ⋅ other via the native codegen'd DotProductFloat
    * expression (graft.ext): one fused loop, same left-to-right
    * double accumulation as the aggregate(zip_with(...)) tree it
    * replaces — ExtensionsSpec asserts bit-equality of the two. */
  private def dot(a: String, b: String): Column =
    expr(s"dot_f($a, $b)")

  /** float-or-double ⋅ float-or-double dot (embedding against a
    * Lloyd-refined double centroid) via the native codegen'd
    * DotProductMixed expression (graft.ext): widen any float side,
    * multiply, fold left-to-right — the same accumulation order as
    * `dot_f`, the aggregate(zip_with(...)) tree it replaces, and
    * DuckDB's list_dot_product (bit-equality locked in
    * ExtensionsSpec). The lambda tree this replaces dominated the
    * multi-round training cost at sf10 (HOF dispatch per element). */
  private def dotD(e: String, c: String): Column =
    expr(s"dot_fd($e, $c)")

  /** The PQ argmin key: `floor(d2raw·10⁴ + 0.5)·2¹⁶ + code`, one
    * codegen'd long per scored (sub-vector, code) pair, where
    * `d2raw = s2 + c2 − 2·dot` is the UNROUNDED squared distance.
    * `min(key)` is lexicographic (d2 asc, code asc) — the oracle
    * window's `ORDER BY ROUND(d2raw, 4), code` tie-break — because
    * for x ≥ 0, `floor(x·10⁴ + 0.5)` IS the integer DuckDB's
    * ROUND(x, 4) scales by (std::round = half-away = floor(+0.5) on
    * non-negatives; d2raw ≥ −1e−8 from float cancellation, so the
    * scaled value sits far above −0.5 and both engines yield the
    * same integer — and the `greatest(0, ·)` clamp ENFORCES that
    * documented non-negativity instead of assuming it: were
    * cancellation ever to drive d2raw below ~−5e−5, an unclamped
    * floor would pack a negative key whose `% 65536` decode silently
    * corrupts the code, where the clamp pins it to the d2=0 bucket
    * the oracle's ROUND would also produce). Replaces the previous
    * `round(round(d2raw,4)·10⁴, 0)` pair: Spark's ROUND on doubles
    * goes through `BigDecimal.valueOf → Double.toString` — ~800 ns
    * and two allocations per scored row, which a thread-dump showed
    * was the entire body of the 21 s/pass sf10 assignment stage
    * (SCALE.md round 12). The floor form is also STRICTLY closer to
    * the oracle: it reproduces DuckDB's binary rounding directly
    * instead of matching it through BigDecimal's decimal-string
    * rounding. Output-surface roundings (ADC qdot over 128 codebook
    * rows) keep `round()` — they land in results, not in a 25M-row
    * hot loop. */
  private def pqKey(dotCol: Column): Column =
    (floor(greatest(lit(0.0),
      col("s2") + col("c2") - lit(2.0) * dotCol) * 10000 +
      lit(0.5)).cast("long") * 65536L + col("code"))

  /** The first-16 vectors as frozen IVF seeds (c_id, c_emb) — the
    * deterministic coarse quantizer of every float-seed IVF op. */
  private def seeds(emb: DataFrame): DataFrame =
    emb.filter(col("vec_id") < 16)
      .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))

  /** MIPS argmax assignment — the cross-engine determinism contract
    * (4dp-rounded `c_score`, lowest-c_id tie-break) in ONE place for
    * every IVF and k-means consumer. `score` is the unrounded dot of
    * each vector against a broadcast centroid row: `dot_f` against
    * float seeds (the default) or `dotD("embedding", "cent")` against
    * Lloyd-refined double centroids. `carry` is what the argmax keeps
    * beside c_id: the embedding (the default — inverted lists that
    * probes re-score), the winning "c_score", or nothing (None: the
    * struct-free `max_by(c_id)`). Map-side `max_by` partials: the
    * exchange carries N one-row-per-vector partials, never N·k scored
    * rows. `cents` must be catalog-sized (broadcast). Returns
    * (vec_id, carry, c_id), or (vec_id, c_id) with no carry. */
  private def assignArgmax(emb: DataFrame, cents: DataFrame,
      score: Column = dot("embedding", "c_emb"),
      carry: Option[String] = Some("embedding")): DataFrame = {
    val scored = emb.crossJoin(broadcast(cents))
      .withColumn("c_score", round(score, 4))
      .groupBy(col("vec_id"))
    val order = struct(col("c_score"), -col("c_id"))
    carry match {
      case None => scored.agg(max_by(col("c_id"), order).as("c_id"))
      case Some(c) => scored
        .agg(max_by(struct(col("c_id"), col(c)), order).as("m"))
        .select(col("vec_id"), col(s"m.$c").as(c),
          col("m.c_id").as("c_id"))
    }
  }

  /** The IVF probe: the 2 centroids nearest the query row(s) `q`
    * (nprobe = 2), ranked by the same 4dp-rounded `score` as
    * [[assignArgmax]] with the lowest c_id first; returns (c_id). */
  private def probeLists(q: DataFrame, cents: DataFrame,
      score: Column = dot("embedding", "c_emb")): DataFrame =
    q.crossJoin(broadcast(cents))
      .withColumn("c_score", round(score, 4))
      .orderBy(col("c_score").desc, col("c_id"))
      .limit(2)
      .select(col("c_id"))

  /** [[probeLists]] per query: each `qs` row's (q_id, q_emb) `n`
    * nearest centroids as (q_id, c_id, rn) — the recall ops' query
    * panel. */
  private def probePerQuery(qs: DataFrame, cents: DataFrame,
      score: Column, n: Int): DataFrame =
    qs.crossJoin(broadcast(cents))
      .withColumn("c_score", round(score, 4))
      .withColumn("rn", row_number().over(Window.partitionBy(col("q_id"))
        .orderBy(col("c_score").desc, col("c_id"))))
      .filter(col("rn") <= n)
      .select(col("q_id"), col("c_id"), col("rn"))

  /** The PQ split: each vector's m = 8 sub-vectors of 8 dims as
    * (vec_id, s, sv, s2). s2 = sv·sv is the ‖a−b‖² identity's
    * self-dot, hoisted out of the 16-code scoring fan-out: computed
    * once per (vec, s) row, so a scored pair costs ONE 8-dim dot,
    * not three — same operands, same fold order, same 4dp round, so
    * d2 is bit-identical to three dots per pair. */
  private def pqSplit(emb: DataFrame): DataFrame =
    emb
      .select(col("vec_id"),
        explode(sequence(lit(0), lit(7))).as("s"),
        col("embedding"))
      .withColumn("sv", expr("slice(embedding, s * 8 + 1, 8)"))
      .withColumn("s2", dot("sv", "sv"))
      .select(col("vec_id"), col("s"), col("sv"), col("s2"))

  /** The seed sub-codebooks: the first-`k` vectors' float sub-vectors
    * as (code, s, c_sv, c2 = c_sv·c_sv), the cell self-dot computed
    * once per codebook cell in the broadcast. */
  private def seedCodebook(emb: DataFrame, k: Int = 16): DataFrame =
    emb.filter(col("vec_id") < k)
      .select(col("vec_id").as("code"),
        explode(sequence(lit(0), lit(7))).as("s"),
        col("embedding"))
      .withColumn("c_sv", expr("slice(embedding, s * 8 + 1, 8)"))
      .withColumn("c2", dot("c_sv", "c_sv"))
      .select(col("code"), col("s"), col("c_sv"), col("c2"))

  /** PQ encode: each (vec_id, s) sub-vector of `sub` to its nearest
    * `cb` cell, the per-(vec, subspace) argmin over the packed
    * integer key (see [[pqKey]]: min(key) IS the oracle window's
    * (ROUND(d2, 4) asc, code asc), with zero BigDecimal work in the
    * scored loop). A plain long min stays in whole-stage-codegen
    * HashAggregate with map-side partials; min_by(struct) is a
    * TypedImperativeAgg → ObjectHashAggregate, whose tiny sort-based
    * fallback threshold turned every encode pass into a 25M-row sort
    * at sf10 (SCALE.md round 12). `dotK` is `dot` for a float
    * codebook and `dotD` for a double (trained) one. Returns
    * (vec_id, s, code). */
  private def pqEncode(sub: DataFrame, cb: DataFrame,
      dotK: (String, String) => Column): DataFrame =
    sub.join(broadcast(cb), "s")
      .withColumn("k", pqKey(dotK("sv", "c_sv")))
      .groupBy(col("vec_id"), col("s"))
      .agg(min(col("k")).as("k"))
      .select(col("vec_id"), col("s"), (col("k") % 65536L).as("code"))

  /** The integer ADC table: for each query sub-vector row of `q`
    * (key columns…, s, q_sv) and each `cb` cell of its subspace, the
    * dot in integer ten-thousandths, so the 8-term ADC sum is EXACT
    * integer arithmetic in both engines and no accumulation order
    * can flip a top-k. Returns (key columns…, code, qdot_i). */
  private def adcTable(q: DataFrame, cb: DataFrame,
      dotK: (String, String) => Column): DataFrame = {
    val keys = q.columns.filter(_ != "q_sv").map(col).toSeq
    q.join(broadcast(cb), "s")
      .withColumn("qdot_i",
        round(dotK("q_sv", "c_sv") * 10000, 0).cast("long"))
      .select(keys :+ col("code") :+ col("qdot_i"): _*)
  }

  // ---- oracle CTE fragments: the DuckDB mirror of each kernel above,
  // kept textually in ONE place so no op's oracle can drift from
  // another's (the lloydSql / pqLloydSql / threeLevelSql precedent)

  /** Centroid-vector expressions for [[assignedSql]]/[[probesSql]]:
    * float seeds `c(c_id, c_emb)` widen to DOUBLE[]; Lloyd centroids
    * `c(c_id, cent)` already are DOUBLE[]. */
  private val SeedVec = "CAST(c.c_emb AS DOUBLE[])"
  private val CentVec = "c.cent"

  /** [[seeds]]: the first-16 vectors as `name(c_id, c_emb)`; `cond`
    * appends a predicate (the append ops' base-corpus restriction). */
  private def seedsSql(name: String, cond: String = ""): String = s"""
      $name AS (
        SELECT vec_id AS c_id, embedding AS c_emb
        FROM embeddings WHERE vec_id < 16$cond)"""

  /** [[assignArgmax]]: every `src` vector's 4dp-rounded argmax
    * centroid of `cents` (lowest c_id on ties) as
    * `name(vec_id, embedding, c_id, c_score)`; `cvec` is the centroid
    * vector ([[SeedVec]] or [[CentVec]]). */
  private def assignedSql(name: String, cents: String,
      cvec: String = SeedVec, src: String = "embeddings"): String = s"""
      $name AS (
        SELECT vec_id, embedding, c_id, c_score FROM (
          SELECT e.vec_id, e.embedding, c.c_id,
                 ROUND(list_dot_product(
                   CAST(e.embedding AS DOUBLE[]), $cvec), 4) AS c_score,
                 ROW_NUMBER() OVER (PARTITION BY e.vec_id
                   ORDER BY ROUND(list_dot_product(
                     CAST(e.embedding AS DOUBLE[]), $cvec), 4) DESC,
                   c.c_id) AS rn
          FROM $src e, $cents c)
        WHERE rn = 1)"""

  /** [[probeLists]] / [[probePerQuery]]: each `q(q_id, q_emb)` row's
    * `n` nearest centroids of `cents` by the same rounded score, as
    * `name(q_id, c_id, rn)`. */
  private def probesSql(name: String, q: String, cents: String, n: Int,
      cvec: String = SeedVec): String = s"""
      $name AS (
        SELECT q_id, c_id, rn FROM (
          SELECT q.q_id, c.c_id,
                 ROW_NUMBER() OVER (PARTITION BY q.q_id
                   ORDER BY ROUND(list_dot_product(
                     CAST(q.q_emb AS DOUBLE[]), $cvec), 4) DESC,
                   c.c_id) AS rn
          FROM $q q, $cents c)
        WHERE rn <= $n)"""

  /** The single-target query of [[probesSql]]: vector `id`. */
  private def targetSql(id: String): String =
    "(SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings" +
      s" WHERE vec_id = $id)"

  /** [[pqSplit]]: `sub(vec_id, s, sv DOUBLE[8])`. */
  private val subSql = """
      sub AS (
        SELECT vec_id, s,
               CAST(embedding[s * 8 + 1 : s * 8 + 8] AS DOUBLE[]) AS sv
        FROM embeddings, UNNEST(generate_series(0, 7)) AS u(s))"""

  /** [[seedCodebook]]: the first-`k` vectors' sub-vectors as
    * `name(code, s, c_sv)`; `cond` as in [[seedsSql]]. */
  private def cbSql(name: String, k: Int, cond: String = ""): String = s"""
      $name AS (
        SELECT vec_id AS code, s, sv AS c_sv
        FROM sub WHERE vec_id < $k$cond)"""

  /** [[pqEncode]]: every sub-vector's 4dp-rounded L2 argmin cell of
    * codebook `cb` (lowest code on ties) as `name(vec_id, s, code)`. */
  private def codesSql(name: String, cb: String): String = s"""
      $name AS (
        SELECT vec_id, s, code FROM (
          SELECT sub.vec_id, sub.s, cb.code,
                 ROW_NUMBER() OVER (PARTITION BY sub.vec_id, sub.s
                   ORDER BY ROUND(list_dot_product(sv, sv)
                     + list_dot_product(c_sv, c_sv)
                     - 2 * list_dot_product(sv, c_sv), 4) ASC,
                   cb.code) AS rn
          FROM sub JOIN $cb cb USING (s))
        WHERE rn = 1)"""

  /** [[adcTable]]: for the query vectors matching `q` (a predicate on
    * `sub`), `name(q_id, s, code, qdot_i)` in integer
    * ten-thousandths. */
  private def adcSql(name: String, cb: String, q: String): String = s"""
      $name AS (
        SELECT qq.vec_id AS q_id, cb.s, cb.code,
               CAST(ROUND(list_dot_product(qq.sv, cb.c_sv) * 10000, 0)
                 AS BIGINT) AS qdot_i
        FROM (SELECT vec_id, s, sv FROM sub WHERE $q) qq
        JOIN $cb cb USING (s))"""

  /** Lloyd refinement over the deterministic first-`k` seed
    * centroids, iterated `rounds` times under a FIXED deterministic
    * cap (no data-dependent convergence test — the cap is what keeps
    * the plan static and the oracle an unrolled CTE chain). Each
    * round MIPS-assigns every vector (map-side max_by argmax) to the
    * current centroids and recomputes them as per-cluster elementwise
    * means rounded to 4 dp; a cluster that loses every member KEEPS
    * its previous centroid (left join + coalesce — deterministic,
    * expressible identically in both engines, and standard Lloyd
    * practice; a reseed would inject a new data-dependent point
    * mid-iteration). Returns (c_id, cent: array<double>).
    *
    * The 4 dp rounding is what keeps the trained centroids
    * oracle-checkable: float-associativity drift in avg() can't flip
    * a downstream assignment. Shared by `kmeans_assign` (whose output
    * IS the post-refinement assignment) and `ivf_topk_trained`
    * (which queries against the refined lists; recall@10 per round
    * measured in AnnRecallSpec, curve in SCALE.md). Scale: centroids
    * stay catalog-sized broadcasts; each round costs one N-row
    * argmax-partial shuffle and one (cluster, dim) mean aggregation —
    * training is `rounds` passes, amortized over every query against
    * the index. */
  private[graft] def lloydRefine(emb: DataFrame, k: Int,
      rounds: Int = 1): DataFrame = {
    require(rounds >= 1, "lloydRefine needs at least one round")
    // round-0 centroids: the seeds, widened float->double (identical
    // bits — dot against them matches dot_f on the float originals)
    var cents = emb.filter(col("vec_id") < k)
      .select(col("vec_id").as("c_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("cent"))
    (1 to rounds).foreach { _ =>
      val assign = assignArgmax(emb, cents, dotD("embedding", "cent"))
        .select(col("embedding"), col("c_id"))
        // pin 32-way partitioning before the 64x posexplode below:
        // AQE coalesces the small agg exchange to ~1 partition and
        // the per-dim mean pass then runs single-task (the same
        // pre-Generate advisory-size blind spot as pqTopkTrained)
        .localCheckpoint()
      val means = assign
        .select(col("c_id"), posexplode(col("embedding")))
        .groupBy(col("c_id"), col("pos"))
        .agg(round(avg(col("col")), 4).as("v"))
        .groupBy(col("c_id"))
        .agg(expr("transform(array_sort(collect_list(struct(pos, v)))," +
          " x -> x.v)").as("newcent"))
      // materialize each round's k-row centroid frame: it has TWO
      // consumers (the next round's assignment and the next frame's
      // keep-previous left join), so an unmaterialized chain
      // re-executes every earlier round per consumer — 2^rounds full
      // assignment passes (measured: ivf_topk_trained 18.9 s sf10
      // forked vs ~8 s materialized). k rows — the checkpoint is a
      // metadata cost.
      cents = cents.join(means, Seq("c_id"), "left")
        .select(col("c_id"),
          coalesce(col("newcent"), col("cent")).as("cent"))
        .localCheckpoint()
    }
    cents
  }

  /** DuckDB CTE chain `c0, a1, m1, c1, …, c<rounds>` mirroring
    * [[lloydRefine]] exactly (same rounding, tie-breaks, and
    * empty-cell keep-previous coalesce); the caller's query reads the
    * final centroids from `c<rounds>`. */
  private def lloydSql(k: Int, rounds: Int,
      src: String = "embeddings"): String = {
    val c0 =
      s"""c0 AS (
         |  SELECT vec_id AS c_id, CAST(embedding AS DOUBLE[]) AS cent
         |  FROM $src WHERE vec_id < $k)""".stripMargin
    val rs = (1 to rounds).map { r =>
      s"""${assignedSql(s"a$r", s"c${r - 1}", CentVec, src)},
         |m$r AS (
         |  SELECT c_id, list(v ORDER BY pos) AS cent
         |  FROM (SELECT c_id, pos, ROUND(AVG(x), 4) AS v
         |        FROM (SELECT c_id,
         |                     unnest(range(1, len(embedding) + 1)) AS pos,
         |                     unnest(CAST(embedding AS DOUBLE[])) AS x
         |              FROM a$r)
         |        GROUP BY c_id, pos)
         |  GROUP BY c_id),
         |c$r AS (
         |  SELECT p.c_id, COALESCE(m.cent, p.cent) AS cent
         |  FROM c${r - 1} p LEFT JOIN m$r m USING (c_id))""".stripMargin
    }
    (c0 +: rs).mkString(",\n")
  }

  /** Lloyd rounds for the trained index ops — 3 is the nprobe=2 peak
    * of the measured sf0.1 recall@10 curve (AnnRecallSpec: seeds
    * 0.514; rounds 1..5 → 0.536 / 0.530 / 0.544 / 0.532 / 0.538; at
    * nprobe=8: 0.830 seeds → 0.842 / 0.854 / 0.846 / 0.844 / 0.846 —
    * the curve oscillates within ±0.01 past round 1, so a small fixed
    * cap buys the gain without unbounded training cost, and keeps the
    * oracle CTE chain short). */
  private[graft] val LloydRounds = 3

  /** DuckDB CTE chain `p0, pa1, pm1, p1, …, p<rounds>` mirroring the
    * per-subspace PQ codebook refinement in [[pqTopkTrained]] (seed
    * sub-vectors, L2 argmin with code tie-break, rounded per-cell
    * means, keep-previous coalesce); assumes a `sub` CTE with
    * (vec_id, s, sv DOUBLE[]) is already in scope. */
  private def pqLloydSql(rounds: Int, k: Int = 16,
      x: String = "p"): String = {
    val p0 = cbSql(s"${x}0", k)
    val rs = (1 to rounds).map { r =>
      s"""${codesSql(s"$x${r}a", s"$x${r - 1}")},
         |$x${r}m AS (
         |  SELECT s, code, list(v ORDER BY pos) AS c_sv
         |  FROM (SELECT s, code, pos, ROUND(AVG(x), 4) AS v
         |        FROM (SELECT a.s, a.code,
         |                     unnest(range(1, len(sub.sv) + 1)) AS pos,
         |                     unnest(sub.sv) AS x
         |              FROM $x${r}a a
         |              JOIN sub ON a.vec_id = sub.vec_id AND a.s = sub.s)
         |        GROUP BY s, code, pos)
         |  GROUP BY s, code),
         |$x$r AS (
         |  SELECT p.s, p.code, COALESCE(m.c_sv, p.c_sv) AS c_sv
         |  FROM $x${r - 1} p LEFT JOIN $x${r}m m USING (s, code))""".stripMargin
    }
    (p0 +: rs).mkString(",\n")
  }

  /** PQ sub-codebook Lloyd refinement — the training loop factored
    * out of `pq_topk_trained` so the recall suite can train grown
    * codebooks with the exact same kernel: round-0 sub-codebooks are
    * the float [[seedCodebook]] (the dot_fd encode widens them
    * exactly, and the first keep-previous coalesce widens an
    * unchanged cell to the same double bits); each round assigns
    * every sub-vector to its nearest current cell ([[pqEncode]]'s
    * packed-key min argmin), recomputes
    * cells as 4dp-rounded per-(s, code, dim) means, and KEEPS the
    * previous cell when a cluster empties. Returns (s, code,
    * c_sv: array<double>, c2).
    *
    * Each round materializes twice (localCheckpoint): the assignment
    * — pinning its 32-way partitioning, since AQE coalesces the
    * ~tens-of-MB agg exchange to ~1 partition and the 8× posexplode
    * BLOWUP downstream then runs single-task (measured 16 s vs 1 s
    * per means pass at sf10; the advisory size is pre-Generate, so
    * AQE can't see it) — and the codebook, whose two-consumer chain
    * fork (next round's assignment + keep-previous join) would
    * otherwise re-execute ~2^rounds times (measured: 72 s sf10). */
  private def pqLloydRefine(emb: DataFrame, sub: DataFrame, k: Int,
      rounds: Int): DataFrame = {
    var cb = seedCodebook(emb, k)
    (1 to rounds).foreach { _ =>
      val a = pqEncode(sub, cb, dotD).localCheckpoint()
      val means = a.join(sub, Seq("vec_id", "s"))
        .select(col("s"), col("code"), posexplode(col("sv")))
        .groupBy(col("s"), col("code"), col("pos"))
        .agg(round(avg(col("col")), 4).as("v"))
        .groupBy(col("s"), col("code"))
        .agg(expr("transform(array_sort(collect_list(struct(pos, v)))," +
          " x -> x.v)").as("newsv"))
      cb = cb.join(means, Seq("s", "code"), "left")
        .select(col("s"), col("code"),
          coalesce(col("newsv"), col("c_sv")).as("c_sv"))
        .withColumn("c2", dotD("c_sv", "c_sv"))
        .localCheckpoint()
    }
    cb
  }

  /** Deterministic sign-bit LSH bucket: bit i set iff dim i+1 > 0.
    * Shared by `ann_bucket_topk` (probe pruning) and `cosine_neardup`
    * (pair blocking) — the bucket is the partition key at scale. */
  private def signBucket(c: String, bits: Int = 4): Column =
    (0 until bits).map { i =>
      when(element_at(col(c), i + 1) > 0.0f, lit(1 << i)).otherwise(lit(0))
    }.reduce(_ + _)

  /** Brute-force top-10 by dot product against the vec_id=0 target. */
  val vectorTopk = Op(
    "vector_topk",
    (s, d) => {
      graft.ext.GraftFunctions.register(s)
      val emb = Tables(s, d, "embeddings")
      val target = emb.filter(col("vec_id") === 0)
        .select(col("embedding").as("t_emb"))
      emb.crossJoin(broadcast(target))
        .withColumn("score", round(dot("embedding", "t_emb"), 4))
        .filter(col("vec_id") =!= 0)
        .select(col("vec_id"), col("label"), col("score"))
        .orderBy(col("score").desc, col("vec_id"))
        .limit(10)
    },
    Some("""
      WITH t AS (SELECT embedding AS t_emb FROM embeddings WHERE vec_id = 0)
      SELECT vec_id, label,
             ROUND(list_dot_product(CAST(embedding AS DOUBLE[]),
                                    CAST(t_emb AS DOUBLE[])), 4) AS score
      FROM embeddings, t
      WHERE vec_id <> 0
      ORDER BY score DESC, vec_id
      LIMIT 10"""))

  /** k-NN majority-label classification for the first 20 vectors:
    * top-5 neighbors by dot product, majority vote with deterministic
    * tie-breaks (votes desc, label asc). */
  val knnLabel = Op(
    "knn_label",
    (s, d) => {
      graft.ext.GraftFunctions.register(s)
      val emb = Tables(s, d, "embeddings")
      val q = emb.filter(col("vec_id") < 20)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      // project skinny BEFORE the top-5 window: the exchange carries
      // (q_id, vec_id, label, score) — never the two embedding arrays
      // the scored crossJoin rows hold
      val scored = emb.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("q_id"))
        .withColumn("score", round(dot("embedding", "q_emb"), 4))
        .select(col("q_id"), col("vec_id"), col("label"), col("score"))
      val wRank = Window.partitionBy(col("q_id"))
        .orderBy(col("score").desc, col("vec_id"))
      val top5 = scored.withColumn("rn", row_number().over(wRank))
        .filter(col("rn") <= 5)
      val votes = top5.groupBy(col("q_id"), col("label"))
        .agg(count(lit(1)).as("votes"), max(col("score")).as("best_score"))
      // vote argmax via map-side min_by on (-votes, label): unique
      // per group (label is the group key), matching the window's
      // (votes desc, label asc) tie-break
      votes.groupBy(col("q_id"))
        .agg(min_by(struct(col("label"), col("votes"), col("best_score")),
          struct(-col("votes"), col("label"))).as("m"))
        .select(col("q_id"), col("m.label").as("pred_label"),
          col("m.votes").as("votes"), col("m.best_score").as("best_score"))
    },
    Some("""
      WITH q AS (
        SELECT vec_id AS q_id, embedding AS q_emb
        FROM embeddings WHERE vec_id < 20),
      pairs AS (
        SELECT q.q_id, e.vec_id, e.label,
               ROUND(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                      CAST(q.q_emb AS DOUBLE[])), 4) AS score
        FROM embeddings e, q WHERE e.vec_id <> q.q_id),
      top5 AS (
        SELECT * FROM (
          SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY q_id
                       ORDER BY score DESC, vec_id) AS INT) AS rn
          FROM pairs) WHERE rn <= 5),
      votes AS (
        SELECT q_id, label, COUNT(*) AS votes, MAX(score) AS best_score
        FROM top5 GROUP BY q_id, label)
      SELECT q_id, label AS pred_label, votes, best_score
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                        ORDER BY votes DESC, label) AS vr
            FROM votes)
      WHERE vr = 1"""))

  /** Embedding-cosine near-duplicate pairs (dot ≥ 0.3, i<j), blocked
    * by the sign-bit LSH bucket: pairs are scored only WITHIN a
    * bucket, so the join is an equi-join on the bucket key — never an
    * unbounded cartesian. This is the production near-dup shape (cf.
    * SimHash/MinHash banding): at 100 TB the bucket key (with more
    * bits) is the shuffle/partition key and per-bucket pair counts
    * bound the fan-out; cross-bucket pairs are sacrificed recall, the
    * standard LSH trade. The oracle runs the identical blocked
    * semantics; exact all-pairs scoring stays available per-block via
    * `vector_topk`'s brute-force kernel on a bounded slice. */
  val cosineNeardup = Op(
    "cosine_neardup",
    (s, d) => {
      graft.ext.GraftFunctions.register(s)
      val emb = Tables(s, d, "embeddings")
        .withColumn("bucket", signBucket("embedding"))
      val a = emb.select(col("vec_id").as("id_a"),
        col("embedding").as("emb_a"), col("bucket"))
      val b = emb.select(col("vec_id").as("id_b"),
        col("embedding").as("emb_b"), col("bucket").as("bucket_b"))
      a.join(b, col("bucket") === col("bucket_b") &&
          col("id_a") < col("id_b"))
        .withColumn("score", round(dot("emb_a", "emb_b"), 4))
        .filter(col("score") >= 0.3)
        .select(col("id_a"), col("id_b"), col("score"))
    },
    Some("""
      WITH e AS (
        SELECT vec_id, embedding,
               (CASE WHEN CAST(embedding[1] AS DOUBLE) > 0 THEN 1 ELSE 0 END
              + CASE WHEN CAST(embedding[2] AS DOUBLE) > 0 THEN 2 ELSE 0 END
              + CASE WHEN CAST(embedding[3] AS DOUBLE) > 0 THEN 4 ELSE 0 END
              + CASE WHEN CAST(embedding[4] AS DOUBLE) > 0 THEN 8 ELSE 0 END)
                 AS bucket
        FROM embeddings)
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             ROUND(list_dot_product(CAST(a.embedding AS DOUBLE[]),
                                    CAST(b.embedding AS DOUBLE[])), 4)
               AS score
      FROM e a JOIN e b
        ON a.bucket = b.bucket AND a.vec_id < b.vec_id
      WHERE ROUND(list_dot_product(CAST(a.embedding AS DOUBLE[]),
                                   CAST(b.embedding AS DOUBLE[])), 4) >= 0.3"""))

  /** LSH-bucketed ANN: deterministic 4-bit sign-hash bucket
    * (sign of dims 1..4), candidates restricted to the target's
    * bucket before any scoring — the IVF-style scale path where the
    * bucket key becomes the partition key at 100 TB. */
  val annBucketTopk = Op(
    "ann_bucket_topk",
    (s, d) => {
      graft.ext.GraftFunctions.register(s)
      val emb = Tables(s, d, "embeddings")
        .withColumn("bucket", signBucket("embedding"))
      val target = emb.filter(col("vec_id") === 0)
        .select(col("embedding").as("t_emb"), col("bucket").as("t_bucket"))
      emb.join(broadcast(target), col("bucket") === col("t_bucket"))
        .filter(col("vec_id") =!= 0)
        .withColumn("score", round(dot("embedding", "t_emb"), 4))
        .select(col("vec_id"), col("bucket"), col("score"))
        .orderBy(col("score").desc, col("vec_id"))
        .limit(10)
    },
    Some("""
      WITH e AS (
        SELECT vec_id, embedding,
               (CASE WHEN CAST(embedding[1] AS DOUBLE) > 0 THEN 1 ELSE 0 END
              + CASE WHEN CAST(embedding[2] AS DOUBLE) > 0 THEN 2 ELSE 0 END
              + CASE WHEN CAST(embedding[3] AS DOUBLE) > 0 THEN 4 ELSE 0 END
              + CASE WHEN CAST(embedding[4] AS DOUBLE) > 0 THEN 8 ELSE 0 END)
                 AS bucket
        FROM embeddings),
      t AS (SELECT embedding AS t_emb, bucket AS t_bucket
            FROM e WHERE vec_id = 0)
      SELECT vec_id, bucket,
             ROUND(list_dot_product(CAST(embedding AS DOUBLE[]),
                                    CAST(t_emb AS DOUBLE[])), 4) AS score
      FROM e, t
      WHERE bucket = t_bucket AND vec_id <> 0
      ORDER BY score DESC, vec_id
      LIMIT 10"""))

  /** The IVF query against centroids `cents`: every vector assigned
    * to its argmax centroid (the inverted lists), the vec_id-0
    * target's 2 nearest lists probed, and only those lists' vectors
    * scored exactly; `score` is the centroid dot ([[assignArgmax]]).
    * Returns the top-10 (vec_id, c_id, score). */
  private def ivfTop10(emb: DataFrame, cents: DataFrame,
      score: Column): DataFrame = {
    val assigned = assignArgmax(emb, cents, score)
    val probes = probeLists(emb.filter(col("vec_id") === 0), cents, score)
    val target = emb.filter(col("vec_id") === 0)
      .select(col("embedding").as("t_emb"))
    assigned.join(broadcast(probes), "c_id")
      .filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(target))
      .withColumn("score", round(dot("embedding", "t_emb"), 4))
      .select(col("vec_id"), col("c_id"), col("score"))
      .orderBy(col("score").desc, col("vec_id"))
      .limit(10)
  }

  /** The oracle of [[ivfTop10]] against centroid CTE `cents`. */
  private def ivfTop10Sql(cents: String, cvec: String): String = s"""
      ${assignedSql("assigned", cents, cvec)},
      ${probesSql("probes", targetSql("0"), cents, 2, cvec)},
      t AS (SELECT embedding AS t_emb FROM embeddings WHERE vec_id = 0)
      SELECT a.vec_id, a.c_id,
             ROUND(list_dot_product(CAST(a.embedding AS DOUBLE[]),
                                    CAST(t.t_emb AS DOUBLE[])), 4) AS score
      FROM assigned a JOIN probes USING (c_id), t
      WHERE a.vec_id <> 0
      ORDER BY score DESC, a.vec_id
      LIMIT 10"""

  /** IVF-style ANN: the first 16 vectors act as deterministic
    * centroids; every vector is assigned to its nearest centroid
    * (inverted lists), and the query probes only the target's top-2
    * centroids' lists before exact scoring. This is the real 100 TB
    * similarity-search shape — centroid id becomes the partition key,
    * probing prunes the scan to nprobe/nlist of the data — expressed
    * entirely as joins + windows so both engines run it identically. */
  val ivfTopk = Op(
    "ivf_topk",
    (s, d) => {
      graft.ext.GraftFunctions.register(s)
      val emb = Tables(s, d, "embeddings")
      ivfTop10(emb, seeds(emb), dot("embedding", "c_emb"))
    },
    Some(s"""
      WITH ${seedsSql("c")},
      ${ivfTop10Sql("c", SeedVec)}"""))

  /** IVF with TRAINED centroids: `LloydRounds` refinement rounds over
    * the first-16 seeds (the shared `lloydRefine` kernel — 4dp-rounded
    * per-cluster means and keep-previous empty cells keep it
    * deterministic and oracle-checkable), then the same
    * invert/probe/score shape as `ivf_topk`. Training tightens the
    * inverted lists around the data's actual modes, so the 2-probe
    * candidate set covers more of the true top-k (recall@10 per
    * round measured against `vector_topk` ground truth in
    * AnnRecallSpec; the rounds curve is in SCALE.md). Scale:
    * identical to `ivf_topk` plus `LloydRounds` assignment passes +
    * (cluster, dim) mean shuffles at train time — a one-off cost
    * amortized over every query against the index. */
  val ivfTopkTrained = Op(
    "ivf_topk_trained",
    (s, d) => {
      graft.ext.GraftFunctions.register(s)
      val emb = Tables(s, d, "embeddings")
      ivfTop10(emb, lloydRefine(emb, 16, LloydRounds),
        dotD("embedding", "cent"))
    },
    Some(s"""
      WITH ${lloydSql(16, LloydRounds)},
      ${ivfTop10Sql(s"c$LloydRounds", CentVec)}"""))

  /** Int8 embedding quantization + quantized top-k — the
    * memory-bandwidth play of a 100 TB vector store: per-vector
    * symmetric quantization (scale = 127/max|x|, floor — floor not
    * round, so Spark and DuckDB agree bit-for-bit), then scoring in
    * pure 64-bit integer arithmetic against the quantized target.
    * Stored vectors shrink 4× (int8 vs float32) and the hot loop is
    * integer multiply-add; the per-vector scale rides along to map
    * integer scores back to approximate cosine space. All arithmetic
    * after the one float→double cast is exact, so the full pipeline
    * (quantize → integer dot → rescale) is oracle-checkable. */
  val embedQuantize = Op(
    "embed_quantize",
    (s, d) => {
      val emb = Tables(s, d, "embeddings")
        .withColumn("e", expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
        .withColumn("mx", expr(
          "greatest(array_max(transform(e, x -> abs(x))), CAST(1e-30 AS DOUBLE))"))
        .withColumn("sc", lit(127.0) / col("mx"))
        .withColumn("qv", expr(
          "transform(e, x -> CAST(floor(x * sc) AS BIGINT))"))
      val target = emb.filter(col("vec_id") === 0)
        .select(col("qv").as("t_qv"), col("sc").as("t_sc"))
      emb.crossJoin(broadcast(target))
        .filter(col("vec_id") =!= 0)
        .withColumn("qdot", expr(
          """aggregate(zip_with(qv, t_qv, (a, b) -> a * b),
               CAST(0 AS BIGINT), (acc, x) -> acc + x)"""))
        .withColumn("approx", round(col("qdot") / (col("sc") * col("t_sc")), 4))
        .select(col("vec_id"), col("label"), col("qdot"), col("approx"))
        .orderBy(col("approx").desc, col("vec_id"))
        .limit(10)
    },
    Some("""
      WITH base AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
        FROM embeddings),
      m AS (
        SELECT vec_id, label, e,
               greatest(list_aggregate(list_transform(e, x -> abs(x)), 'max'),
                        1e-30) AS mx
        FROM base),
      qs AS (
        SELECT vec_id, label, 127.0 / mx AS sc,
               list_transform(e, x -> CAST(floor(x * (127.0 / mx)) AS BIGINT))
                 AS qv
        FROM m),
      t AS (SELECT qv AS t_qv, sc AS t_sc FROM qs WHERE vec_id = 0),
      scored AS (
        SELECT q.vec_id, q.label, q.sc, t.t_sc,
               CAST(list_sum([q.qv[i+1] * t.t_qv[i+1]
                              FOR i IN range(0, len(q.qv))]) AS BIGINT)
                 AS qdot
        FROM qs q, t WHERE q.vec_id <> 0)
      SELECT vec_id, label, qdot, ROUND(qdot / (sc * t_sc), 4) AS approx
      FROM scored
      ORDER BY approx DESC, vec_id
      LIMIT 10"""))

  /** Smallest c with c·c·c ≥ n — exact integer cube root ceiling.
    * math.cbrt alone is NOT correctly rounded for perfect cubes
    * (cbrt(27) can come back 3.0000000000000004 → ceil 4), so the
    * float guess is clamped by integer comparison; the oracle mirror
    * picks MIN(c) WHERE c*c*c >= n from an integer range for the
    * same reason — neither engine ever trusts a float cube root. */
  private[graft] def intCbrt(n: Long): Long = {
    var c = math.max(1L, math.cbrt(n.toDouble).round)
    while (c * c * c < n) c += 1
    while (c > 1 && (c - 1) * (c - 1) * (c - 1) >= n) c -= 1
    c
  }

  /** THREE-LEVEL frozen-seed assignment — the semdedup family's
    * scalable form. One level (broadcast all k = ⌈N/τ⌉ fine seeds)
    * would carry an N/τ-row broadcast; two levels (r17) scored
    * N·(k/kc) = N·√(N/τ) fine rows — the residual super-linear term
    * VERDICT r17 #1 flags. Three levels bound every per-vector
    * fan-out at ∛k. `coarse` (cc_id, cc_emb) ⊆ `mid` (cm_id, cm_emb)
    * ⊆ `fine` (c_id, c_emb) — lowest-id prefixes, which is what makes
    * the own-cell rules below close every level:
    *   1. every MID seed picks a coarse CELL — its 4dp-rounded
    *      argmax coarse seed (lowest-cc_id tie-break), except a mid
    *      seed that IS coarse owns its own cell → no coarse cell is
    *      empty of mid seeds;
    *   2. every FINE seed that is not itself mid picks its coarse
    *      cell by the same argmax, then its MID cell as the argmax
    *      over only that cell's mid seeds; a fine seed that IS mid
    *      owns its own mid cell → no mid cell is empty of fine seeds;
    *   3. every vector picks its coarse cell (argmax over the
    *      broadcast coarse), then its mid cell (equi-join on cc_id
    *      against the mid seeds of that cell), then its cluster
    *      (equi-join on cm_id against the fine seeds of that mid
    *      cell) — each argmax on the 4dp-rounded score with the
    *      lowest-id tie-break.
    * Only the coarse level broadcasts (kc = ⌈∛k⌉ rows). With
    * km = min(k, kc²) mid seeds, the three vector-side scorings are
    * N·kc + N·(km/kc) + N·(k/km) ≈ 3·N·∛k scored rows — N·∛(N/τ)
    * total, each through a map-side max_by partial so no exchange
    * ever carries a scored fan-out. A pathologically popular cell
    * (adversarial data piling vectors AND seeds into one region)
    * skews an equi-join key — both cell joins are plain equi-joins
    * ahead of partial aggregates, exactly the shape AQE's skew-join
    * split handles (OptimizeSkewedJoin splits the fat partition; the
    * downstream max_by partials re-combine per vec_id regardless).
    * Deterministic: every score is rounded before every argmax and
    * every argmax tie-breaks on the lowest id, so the assignment is
    * a pure function of (own embedding, fine, mid, coarse) — batch-
    * isolated assignments equal full-corpus slices, the property the
    * incremental/streaming maintainers rest on. */
  private[graft] def assignThreeLevel(emb: DataFrame, fine: DataFrame,
      mid: DataFrame, coarse: DataFrame,
      broadcastRouting: Boolean = false): DataFrame = {
    // catalog-sized seed sets (assignFrozen passes true for
    // k ≤ 100k ≈ 30 MB of routing rows): broadcast the mid/fine
    // routing tables so the two cell joins are broadcast-hash joins
    // and the N-row frame crosses ONE exchange (the first per-vector
    // partial argmax) instead of five — the join preserves the
    // vec_id hash partitioning the next groupBy reuses. Past the
    // threshold the plain equi-join shape takes over (AQE skew-split
    // applies there); results are identical either way.
    def routed(df: DataFrame): DataFrame =
      if (broadcastRouting) broadcast(df) else df
    // mid seed -> coarse cell (own-cell rule for coarse seeds)
    val m2c = mid.crossJoin(broadcast(coarse))
      .withColumn("_cs", round(dot("cm_emb", "cc_emb"), 4))
      .groupBy(col("cm_id"))
      .agg(max_by(struct(col("cc_id"), col("cm_emb")),
        struct(col("_cs"), -col("cc_id"))).as("m"))
      .join(broadcast(coarse.select(col("cc_id").as("cm_id"),
        lit(true).as("_own"))), Seq("cm_id"), "left")
      .select(col("cm_id"), col("m.cm_emb").as("cm_emb"),
        when(col("_own"), col("cm_id")).otherwise(col("m.cc_id"))
          .as("cc_id"))
    // fine seed -> mid cell: a mid seed owns its own mid cell; a
    // non-mid fine seed routes coarse-then-mid (its chosen mid's
    // coarse cell is its own coarse cell by construction). Only the
    // km mid IDs broadcast for the membership anti-join — 8 bytes a
    // row, catalog-sized at any k.
    val f2m = fine
      .join(broadcast(mid.select(col("cm_id").as("c_id"))),
        Seq("c_id"), "left_anti")
      .crossJoin(broadcast(coarse))
      .withColumn("_cs", round(dot("c_emb", "cc_emb"), 4))
      .groupBy(col("c_id"))
      .agg(max_by(struct(col("cc_id"), col("c_emb")),
        struct(col("_cs"), -col("cc_id"))).as("m"))
      .select(col("c_id"), col("m.c_emb").as("c_emb"),
        col("m.cc_id").as("cc_id"))
      .join(routed(m2c.select(col("cc_id"), col("cm_id"),
        col("cm_emb"))), Seq("cc_id"))
      .withColumn("_ms", round(dot("c_emb", "cm_emb"), 4))
      .groupBy(col("c_id"))
      .agg(max_by(struct(col("cm_id"), col("c_emb")),
        struct(col("_ms"), -col("cm_id"))).as("m"))
      .select(col("c_id"), col("m.c_emb").as("c_emb"),
        col("m.cm_id").as("cm_id"))
      .unionByName(mid.select(col("cm_id").as("c_id"),
        col("cm_emb").as("c_emb"), col("cm_id")))
    // vector -> coarse cell (broadcast argmax)
    val v2c = emb.crossJoin(broadcast(coarse))
      .withColumn("_cs", round(dot("embedding", "cc_emb"), 4))
      .groupBy(col("vec_id"))
      .agg(max_by(struct(col("cc_id"), col("embedding")),
        struct(col("_cs"), -col("cc_id"))).as("m"))
      .select(col("vec_id"), col("m.embedding").as("embedding"),
        col("m.cc_id").as("cc_id"))
    // vector -> mid cell within its coarse cell. cc_id is constant
    // within each group (it is v2c's cell), so first() is
    // deterministic; it rides along because the coarse cell is the
    // persisted indexes' partition key (kc ∝ ∛k dirs — one dir per
    // CLUSTER would put k ∝ N dirs on the filesystem)
    val v2m = v2c
      .join(routed(m2c.select(col("cc_id"), col("cm_id"),
        col("cm_emb"))), Seq("cc_id"))
      .withColumn("_ms", round(dot("embedding", "cm_emb"), 4))
      .groupBy(col("vec_id"))
      .agg(max_by(struct(col("cm_id"), col("embedding")),
        struct(col("_ms"), -col("cm_id"))).as("m"),
        first(col("cc_id")).as("cc_id"))
      .select(col("vec_id"), col("m.embedding").as("embedding"),
        col("m.cm_id").as("cm_id"), col("cc_id"))
    // vector -> cluster within its mid cell
    v2m.join(routed(f2m.select(col("cm_id"), col("c_id"),
        col("c_emb"))), Seq("cm_id"))
      .withColumn("_fs", round(dot("embedding", "c_emb"), 4))
      .groupBy(col("vec_id"))
      .agg(max_by(struct(col("c_id"), col("embedding")),
        struct(col("_fs"), -col("c_id"))).as("m"),
        first(col("cc_id")).as("cc_id"))
      .select(col("vec_id"), col("m.embedding").as("embedding"),
        col("m.c_id").as("c_id"), col("cc_id"))
  }

  /** The `vec_id`s of `assigned` (vec_id, embedding, c_id) rows with
    * a LOWER-id same-cluster neighbor at 4dp-rounded cosine ≥
    * `threshold` — the EXISTS-lower-id drop rule of `semdedup`,
    * `Graft.semdedup` and `Graft.curate`'s semantic stage; evidence is
    * every assigned row, dropped or not (not a transitive closure).
    *
    * The pair join's natural key is c_id alone — k partitions of work
    * no matter how many cores. The self-join is salted `saltB` ways:
    * the probe side carries its natural id bucket, the build side
    * replicates across all buckets, the joined pair set is IDENTICAL,
    * and the shuffle key (c_id, bkt) gives k·saltB-way parallelism.
    * With k = ⌈N/τ⌉ pinning expected cluster size at τ, salting
    * decouples core count from k at small N. Lazy: callers that read
    * `assigned` more than once materialize it themselves. */
  private[graft] def lowerIdDuplicates(assigned: DataFrame,
      threshold: Double, saltB: Int = 16): DataFrame = {
    val lower = assigned.select(col("c_id").as("a_c"),
      col("vec_id").as("a_id"), col("embedding").as("a_emb"))
      .withColumn("a_bkt", pmod(col("a_id"), lit(saltB)).cast("int"))
    val upper = assigned.select(col("vec_id"), col("embedding"),
      col("c_id"), explode(sequence(lit(0), lit(saltB - 1))).as("bkt"))
    upper
      .join(lower, col("c_id") === col("a_c") &&
        col("bkt") === col("a_bkt") && col("a_id") < col("vec_id"))
      .withColumn("score", round(dot("embedding", "a_emb"), 4))
      .filter(col("score") >= threshold)
      .select(col("vec_id")).distinct()
  }

  /** [[assignThreeLevel]] with the coarse and mid levels derived
    * from the seed set itself: kc = max(4, ⌈∛n_seeds⌉) and
    * km = min(n_seeds, kc²) lowest-c_id seeds. One rule for every
    * frozen-seed consumer (`semdedup`, `semdedup_append`, the
    * streaming maintainer, the curation semantic stage, the
    * `Graft.semdedup` facade) — n_seeds is the ACTUAL seed row count
    * (id-gap robust), mirrored in every oracle by the same integer
    * cube-root-ceiling search. When n_seeds ≤ kc² the mid level IS
    * the fine level (every fine seed owns its own mid cell) and the
    * rule degenerates to exactly the two-level form; when
    * n_seeds ≤ kc it degenerates further to the one-level argmax. */
  private[graft] def assignFrozen(emb: DataFrame,
      seeds: DataFrame): DataFrame = {
    val n = seeds.count()
    val kc = math.max(4L, intCbrt(n)).toInt
    val km = math.min(n, kc.toLong * kc).toInt
    // ONE sort of the seed frame, materialized: mid and coarse are
    // both lowest-id prefixes (coarse ⊆ mid), and both are consumed
    // by several joins in assignThreeLevel — without the checkpoint
    // every consumer re-ran the full k-row seed sort (≈5 sorts of an
    // N/τ-row frame per assignment); with it the sort runs once and
    // coarse re-sorts only the km checkpointed rows
    val mid = seeds.orderBy(col("c_id")).limit(km)
      .select(col("c_id").as("cm_id"), col("c_emb").as("cm_emb"))
      .localCheckpoint()
    val coarse = mid.orderBy(col("cm_id")).limit(kc)
      .select(col("cm_id").as("cc_id"), col("cm_emb").as("cc_emb"))
    // routing tables broadcast only while their ESTIMATED BYTES stay
    // catalog-sized (≤32 MB): rows × (4·dim + 24) from the first
    // checkpointed seed row — a row-count gate alone would force-
    // broadcast ~300 MB of 768-dim vectors at n=100k through the
    // hint, bypassing autoBroadcastJoinThreshold and pressuring an
    // 8 GB driver (ADVICE r18). Larger seed sets keep the equi-join
    // shape (AQE skew-split applies there); results are identical
    // either way.
    val dim =
      if (n == 0L) 0
      else mid.select(size(col("cm_emb"))).head.getInt(0)
    assignThreeLevel(emb, seeds, mid, coarse,
      broadcastRouting = n * (4L * dim + 24L) <= (32L << 20))
  }

  /** The oracle-side mirror of [[assignFrozen]]: a CTE chain that
    * expects a `fine(c_id, c_emb)` CTE upstream and emits
    * nn3/kc3/km3/coarse/mid/m2c/f2m/v2c/v2m/
    * `assigned(vec_id, embedding, c_id)` over the `embeddings`
    * table — same integer-cube-root kc, same km = min(n, kc²), same
    * own-cell rules, same 4dp rounds and lowest-id tie-breaks. kc
    * comes from MIN(c) WHERE c*c*c >= n over an integer range (never
    * a float cube root — see [[intCbrt]]). Kept textually in ONE
    * place so the `semdedup` and `semdedup_append` oracles cannot
    * drift from each other. */
  private def threeLevelSql: String = s"""
      nn3 AS (SELECT COUNT(*) AS n FROM fine),
      kc3 AS (
        SELECT GREATEST(4,
          (SELECT MIN(c) FROM (
             SELECT CAST(r + 1 AS BIGINT) AS c FROM range(0, 100000) t(r))
           WHERE c * c * c >= (SELECT n FROM nn3))) AS kc),
      km3 AS (
        SELECT LEAST((SELECT n FROM nn3),
                     (SELECT kc * kc FROM kc3)) AS km),
      coarse AS (
        SELECT c_id AS cc_id, c_emb AS cc_emb FROM (
          SELECT c_id, c_emb, ROW_NUMBER() OVER (ORDER BY c_id) AS crn
          FROM fine)
        WHERE crn <= (SELECT kc FROM kc3)),
      mid AS (
        SELECT c_id AS cm_id, c_emb AS cm_emb FROM (
          SELECT c_id, c_emb, ROW_NUMBER() OVER (ORDER BY c_id) AS mrn
          FROM fine)
        WHERE mrn <= (SELECT km FROM km3)),
      m2c AS (
        SELECT cm_id, cm_emb,
               CASE WHEN cm_id IN (SELECT cc_id FROM coarse) THEN cm_id
                    ELSE cc_id END AS cc_id
        FROM (
          SELECT m.cm_id, m.cm_emb, co.cc_id,
                 ROW_NUMBER() OVER (PARTITION BY m.cm_id
                   ORDER BY ROUND(list_dot_product(
                     CAST(m.cm_emb AS DOUBLE[]),
                     CAST(co.cc_emb AS DOUBLE[])), 4) DESC,
                   co.cc_id) AS mrn
          FROM mid m, coarse co)
        WHERE mrn = 1),
      f2m AS (
        SELECT c_id, c_emb, cm_id FROM (
          SELECT fc.c_id, fc.c_emb, m.cm_id,
                 ROW_NUMBER() OVER (PARTITION BY fc.c_id
                   ORDER BY ROUND(list_dot_product(
                     CAST(fc.c_emb AS DOUBLE[]),
                     CAST(m.cm_emb AS DOUBLE[])), 4) DESC,
                   m.cm_id) AS frn
          FROM (
            SELECT c_id, c_emb, cc_id FROM (
              SELECT f.c_id, f.c_emb, co.cc_id,
                     ROW_NUMBER() OVER (PARTITION BY f.c_id
                       ORDER BY ROUND(list_dot_product(
                         CAST(f.c_emb AS DOUBLE[]),
                         CAST(co.cc_emb AS DOUBLE[])), 4) DESC,
                       co.cc_id) AS crn
              FROM fine f, coarse co
              WHERE f.c_id NOT IN (SELECT cm_id FROM mid))
            WHERE crn = 1) fc
          JOIN m2c m USING (cc_id))
        WHERE frn = 1
        UNION ALL
        SELECT cm_id AS c_id, cm_emb AS c_emb, cm_id FROM mid),
      v2c AS (
        SELECT vec_id, embedding, cc_id FROM (
          SELECT e.vec_id, e.embedding, co.cc_id,
                 ROW_NUMBER() OVER (PARTITION BY e.vec_id
                   ORDER BY ROUND(list_dot_product(
                     CAST(e.embedding AS DOUBLE[]),
                     CAST(co.cc_emb AS DOUBLE[])), 4) DESC,
                   co.cc_id) AS vrn
          FROM embeddings e, coarse co)
        WHERE vrn = 1),
      v2m AS (
        SELECT vec_id, embedding, cm_id FROM (
          SELECT v.vec_id, v.embedding, m.cm_id,
                 ROW_NUMBER() OVER (PARTITION BY v.vec_id
                   ORDER BY ROUND(list_dot_product(
                     CAST(v.embedding AS DOUBLE[]),
                     CAST(m.cm_emb AS DOUBLE[])), 4) DESC,
                   m.cm_id) AS vrn
          FROM v2c v JOIN m2c m USING (cc_id))
        WHERE vrn = 1),
      assigned AS (
        SELECT vec_id, embedding, c_id FROM (
          SELECT v.vec_id, v.embedding, f.c_id,
                 ROW_NUMBER() OVER (PARTITION BY v.vec_id
                   ORDER BY ROUND(list_dot_product(
                     CAST(v.embedding AS DOUBLE[]),
                     CAST(f.c_emb AS DOUBLE[])), 4) DESC,
                   f.c_id) AS arn
          FROM v2m v JOIN f2m f USING (cm_id))
        WHERE arn = 1)"""

  /** Cluster-index rollup of an embeddings batch against FROZEN
    * seeds: the persisted semantic-dedup index's rows
    * (cc_id, c_id, vec_id, embedding) — `semdedup_append`'s kernel,
    * shared with the streaming ingest (StreamOps.semdedupIndexMerge)
    * so the streamed index cannot drift from the batch op. cc_id
    * (the coarse cell) is the PARTITION key — kc ∝ ∛k dirs, bounded
    * no matter how k grows — and c_id stays a row-level column the
    * cell-pruned probe filters on. Assignments are pure functions of
    * (own embedding, frozen seeds) — the three-level rule
    * ([[assignFrozen]]) keeps that purity — so batch-isolated
    * rollups equal full-corpus assignment slices. */
  private[graft] def semdedupIndexRollup(batch: DataFrame,
      seeds: DataFrame): DataFrame =
    assignFrozen(batch, seeds)
      .select(col("cc_id"), col("c_id"), col("vec_id"),
        col("embedding"))

  /** The PERSISTED inverted-file index with frozen-centroid ingest —
    * how a 100 TB vector store actually lives: the index is a snapshot
    * table hive-partitioned by inverted list (`list=<c_id>`), built
    * once from the base corpus (Lloyd-trained centroids), and a new
    * ingest batch is assigned against the FROZEN centroids and
    * appended with `Snapshots.appendPartitions` — only
    * the list partitions that received new vectors are rewritten
    * (write amplification O(touched lists), not O(index); the
    * untouched lists are inherited by manifest reference), and no
    * retraining happens on the ingest path. A probe query then reads
    * the merged index: nprobe=2 of 16 list partitions — the layout
    * the clustered write bought is exactly what lets the reader skip
    * 7/8 of the index bytes. Because batch vectors are assigned by
    * the same frozen-centroid rule as base vectors, the merged index
    * is row-identical to assigning the full corpus at once — which is
    * what the oracle computes (train on the base in the CTE chain,
    * assign everything, probe) — so any row lost or duplicated by the
    * incremental commit, or any drift in the frozen-centroid ingest,
    * hash-mismatches. The ingest batch is the 4 NEWEST vec_ids — a
    * bounded shard, the shape of a real ingest tick, which is what
    * keeps touched-lists ≪ nlist at every SF (a batch proportional to
    * the corpus would touch every one of the fixture's 16 lists; at
    * 100 TB nlist scales ∝ √n and the ratio holds naturally). The
    * query target is the newest vector: the freshly-ingested document
    * immediately querying the index it just joined. */
  val ivfAppend = Op(
    "ivf_append",
    (s, d) => {
      graft.ext.GraftFunctions.register(s)
      val emb = Tables(s, d, "embeddings")
      val base = Snapshots.freshTmpBase(s, "vec_ivf_append", d)
      // scalar cutoff, then ONE frozen-centroid assignment pass over
      // the whole corpus (below) sliced by vec_id — assignments are
      // pure functions of (own embedding, frozen centroids), so
      // assignTo(corpus) ≡ assignTo(base) ∪ assignTo(batch)
      // row-for-row (the r19 duplicate-pass finding).
      val mxRow = emb.agg(max(col("vec_id"))).head
      val mxv: Long = if (mxRow.isNullAt(0)) 0L else mxRow.getLong(0)
      val baseEmb = emb.filter(col("vec_id") <= mxv - 4)
      // a training op needs a base: fail with the actual problem, not
      // a downstream Lloyd/commit failure (and before any /tmp debris)
      require(!baseEmb.isEmpty,
        "ivf_append needs a base corpus larger than the 4-vector " +
          "ingest batch — the frozen centroids train on the base")
      val cents = lloydRefine(baseEmb, 16, LloydRounds)
      val score = dotD("embedding", "cent")
      // size-gated (guide §5, VERDICT r19 #4): this frame carries the
      // embeddings (the probe target rides in it — the r19 no-reread
      // shape), so the cap is what bounds it at wide dims; past the
      // cap consumers recompute from the pruned scan — see graft.Ckpt
      // sized by the embeddings SCAN (the assignment is one row per
      // emb row, columns ⊆ emb's + two ids — so its true bytes are
      // O(emb file bytes)); the join-product frame's own estimate is
      // multiplied garbage (see Ckpt.boundedLocal)
      val allIdx = graft.Ckpt.boundedLocal(
        assignArgmax(emb, cents, score).select(col("vec_id"),
          col("embedding"), col("c_id").as("list")),
        "ivf_append assignments",
        Some(emb)) // consumers: base commit + batch + probe target
      // v1: the base index; v2: the ingest tick — the 4 NEWEST
      // vec_ids (the base's complement), assigned to the FROZEN
      // centroids and appended to ONLY the touched list partitions.
      // Both commits are clustered one file per list dir per version.
      Snapshots.appendPartitions(
        allIdx.filter(col("vec_id") <= mxv - 4), base, "list")
      val v2 = Snapshots.appendPartitions(
        allIdx.filter(col("vec_id") > mxv - 4)
          .select(col("vec_id"), col("embedding"), col("list")),
        base, "list")
      // probe the merged index with the NEWEST vector — the
      // freshly-ingested document immediately querying the index it
      // just joined: top-2 lists for the target, then exact scoring
      // inside those two partitions only (the embedding rides in the
      // checkpointed assignment — no corpus re-read)
      val newest = allIdx.filter(col("vec_id") === mxv)
        .select(col("vec_id"), col("embedding"))
      val probes = probeLists(newest, cents, score)
        .select(col("c_id").as("list"))
      val target = newest
        .select(col("embedding").as("t_emb"), col("vec_id").as("t_id"))
      Snapshots.readAsOf(s, base, v2)
        .join(broadcast(probes), "list")
        .crossJoin(broadcast(target))
        .filter(col("vec_id") =!= col("t_id"))
        .withColumn("score", round(dot("embedding", "t_emb"), 4))
        .select(col("vec_id"), col("list").cast("long").as("list"),
          col("score"))
        .orderBy(col("score").desc, col("vec_id"))
        .limit(10)
    },
    Some(s"""
      WITH mx AS (SELECT max(vec_id) AS mxv FROM embeddings),
      bemb AS (
        SELECT e.* FROM embeddings e, mx WHERE e.vec_id <= mx.mxv - 4),
      ${lloydSql(16, LloydRounds, "bemb")},
      ${assignedSql("assigned", s"c$LloydRounds", CentVec)},
      ${probesSql("probes", targetSql("(SELECT mxv FROM mx)"),
        s"c$LloydRounds", 2, CentVec)},
      t AS (SELECT embedding AS t_emb, vec_id AS t_id
            FROM embeddings, mx WHERE vec_id = mx.mxv)
      SELECT a.vec_id, CAST(a.c_id AS BIGINT) AS list,
             ROUND(list_dot_product(CAST(a.embedding AS DOUBLE[]),
                                    CAST(t.t_emb AS DOUBLE[])), 4) AS score
      FROM assigned a JOIN probes USING (c_id), t
      WHERE a.vec_id <> t.t_id
      ORDER BY score DESC, a.vec_id
      LIMIT 10"""))

  /** SemDeDup with a PERSISTED cluster index and incremental ingest —
    * the semantic member of the rolling-crawl dedup lifecycle
    * (`dedup_append` exact-hash, `minhash_append` near-dup lexical,
    * this op embedding-semantic): the index is the `semdedup`
    * assignment table (cc_id, c_id, vec_id, embedding) as a
    * snapshot, hive-partitioned by COARSE CELL (cc_id, kc = ⌈∛k⌉
    * dirs) with the cluster id as an in-file column — a coarse-cell
    * IVF layout consulted for pruning rather than search. One dir
    * per CLUSTER (the r16 layout) worked while k was ∝ √N, but
    * k = ⌈N/τ⌉ makes that k ∝ N dirs and #tasks·k files per commit
    * (measured: 181 s at sf10m vs 8 s for the r16 45-dir build);
    * cells keep the dir count ∝ ∛N and each cell is one bounded
    * file per version (`Snapshots.appendPartitions` repartitions
    * its writes by cc_id). Built once from the
    * base corpus (all but the 5 newest vec_ids — a bounded ingest
    * tick, like `ivf_append`’s), maintained by
    * appending each ingest batch (`Snapshots.appendPartitions`):
    * only coarse-cell
    * partitions that received batch vectors rewrite (write
    * amplification O(touched cells)); at ingest the batch probes
    * the merged index for its semantic duplicates — same-cluster
    * pairs with rounded cosine ≥ 0.3, at least one side in the batch
    * — reading ONLY the touched cells' partitions and filtering to
    * the touched clusters inside them (the cell-pruned read is what
    * makes the probe a pruned scan, not an index sweep).
    *
    * Incremental ≡ one-shot because the centroids are FROZEN
    * functions of the base corpus (k = max(8, ⌈N_base/100⌉)
    * lowest-id base vectors — `semdedup`'s τ = 100 rule on the base
    * slice, assigned three-level via [[assignFrozen]]), so a vector's
    * cluster is a pure function of its own embedding: batch
    * assignments computed in isolation are identical to full-corpus
    * assignments, and the merged index is row-identical to assigning
    * everything at once — which is exactly what the oracle computes.
    * Any row the incremental commit loses or duplicates, and any
    * frozen-centroid drift, changes the pair set and
    * hash-mismatches. Re-clustering (new k as the corpus grows) is a
    * full rebuild committed as the next snapshot versions — the
    * scheduled-maintenance path, deliberately NOT on the ingest tick
    * (Graft.reclusterSemLedger is that rebuild for the curation
    * family's sem index).
    *
    * Scale: k = ⌈N_base/τ⌉ pins expected cluster size at τ (the
    * `semdedup` linearity argument), so the at-ingest pair work is
    * |batch| · O(τ) scored candidates, not |batch| · N; the index
    * carries embeddings (like every IVF layout) so the probe
    * re-reads no corpus bytes at all. */
  val semdedupAppend = Op(
    "semdedup_append",
    (s, d) => {
      graft.ext.GraftFunctions.register(s)
      val emb = Tables(s, d, "embeddings")
      val base = Snapshots.freshTmpBase(s, "vec_semdedup_append", d)
      // scalar cutoffs first (column-pruned scans: max + two counts —
      // footer/stats work, no embedding bytes), then ONE frozen-seed
      // assignment pass over the WHOLE corpus, checkpointed and
      // sliced by vec_id: assignments are pure functions of (own
      // embedding, frozen seeds), so rollup(corpus) ≡ rollup(base) ∪
      // rollup(batch) row-for-row. The r18 shape ran assignFrozen
      // twice (base, then the checkpointed batch slice) and each run
      // re-read + re-exchanged the full embeddings table — the r19
      // minhash_append StageProbe showed those duplicate passes, not
      // the scoring, were the incremental family's floor.
      val mxRow = emb.agg(max(col("vec_id"))).head
      val mxv: Long = if (mxRow.isNullAt(0)) 0L else mxRow.getLong(0)
      val nBatch = emb.filter(col("vec_id") > mxv - 5).count()
      val nBase = emb.count() - nBatch
      // a training op needs a base: fail with the actual problem, not
      // the empty-commit guard's message (and before any /tmp debris)
      require(nBase > 0,
        "semdedup_append needs a base corpus larger than the 5-vector " +
          "ingest batch — the frozen centroids train on the base")
      val k = math.max(8L, math.ceil(nBase / 100.0).toLong)
      val seeds = emb
        .filter(col("vec_id") < k && col("vec_id") <= mxv - 5)
        .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))
      // size-gated (guide §5, VERDICT r19 #4): see graft.Ckpt
      // sized by the embeddings SCAN (one assignment row per emb
      // row, embedding + three ids wide — O(emb file bytes)); the
      // rollup joins seeds, so its own estimate is multiplied
      // garbage (see Ckpt.boundedLocal)
      val allIdx = graft.Ckpt.boundedLocal(
        semdedupIndexRollup(emb, seeds),
        "semdedup_append assignments",
        Some(emb)) // consumers: base commit + batch's 4 reads
      // v1: the base index, cell-partitioned and cell-clustered (the
      // append sends each cc_id to ONE task → one file per cell per
      // version; unclustered partitionBy wrote #tasks files per dir —
      // the 181 s sf10m regression); v2: the ingest tick — the 5
      // newest vectors, assigned to the FROZEN seeds, appended to
      // ONLY the touched coarse-cell partitions
      Snapshots.appendPartitions(
        allIdx.filter(col("vec_id") <= mxv - 5), base, "cc_id")
      val batch = allIdx.filter(col("vec_id") > mxv - 5)
      val touchedCells = batch.select(col("cc_id")).distinct()
      val touched = batch.select(col("c_id")).distinct()
      val v2 = Snapshots.appendPartitions(batch, base, "cc_id")
      // at-ingest discovery: batch vectors score against their merged
      // cluster's members — the read prunes to touched CELL
      // partitions (broadcast semi on the partition key), then
      // filters to touched CLUSTERS inside them; batch-batch pairs
      // appear from both sides, so the least/greatest distinct is the
      // pair-set normalizer
      val idx = Snapshots.readAsOf(s, base, v2)
        .join(broadcast(touchedCells), Seq("cc_id"), "left_semi")
        .join(broadcast(touched), Seq("c_id"), "left_semi")
        .select(col("c_id"), col("vec_id").as("ia"),
          col("embedding").as("e_a"))
      idx.join(batch.select(col("c_id"), col("vec_id").as("ib"),
          col("embedding").as("e_b")), Seq("c_id"))
        .filter(col("ia") =!= col("ib"))
        .withColumn("score", round(dot("e_a", "e_b"), 4))
        .filter(col("score") >= 0.3)
        .select(least(col("ia"), col("ib")).as("vec_a"),
          greatest(col("ia"), col("ib")).as("vec_b"), col("score"))
        .distinct()
    },
    Some(s"""
      WITH mx AS (SELECT max(vec_id) AS mxv FROM embeddings),
      bn AS (
        SELECT COUNT(*) AS n FROM embeddings, mx
        WHERE vec_id <= mx.mxv - 5),
      kk AS (
        SELECT GREATEST(8, CAST(CEIL(n / 100.0) AS BIGINT)) AS k
        FROM bn),
      fine AS (
        SELECT vec_id AS c_id, embedding AS c_emb
        FROM embeddings, kk, mx
        WHERE vec_id < kk.k AND vec_id <= mx.mxv - 5),
      $threeLevelSql
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             ROUND(list_dot_product(CAST(a.embedding AS DOUBLE[]),
                                    CAST(b.embedding AS DOUBLE[])), 4)
               AS score
      FROM assigned a JOIN assigned b
        ON a.c_id = b.c_id AND a.vec_id < b.vec_id, mx
      WHERE (a.vec_id > mx.mxv - 5 OR b.vec_id > mx.mxv - 5)
        AND ROUND(list_dot_product(CAST(a.embedding AS DOUBLE[]),
                                   CAST(b.embedding AS DOUBLE[])), 4)
            >= 0.3"""))

  /** One full Lloyd round of k-means (k=8, max-inner-product
    * assignment): seed centroids = the 8 smallest vec_ids, assign →
    * recompute centroids as per-cluster elementwise means → re-assign
    * → per-cluster sizes and mean similarity. This is the distributed
    * k-means shape (MLlib's): centroids stay catalog-sized and
    * broadcast; the only shuffles are the (cluster, dim) mean
    * aggregation — rows ∝ n·d pairs with map-side partial avg — and
    * the final cluster rollup. Iterating to convergence repeats the
    * same two jobs.
    *
    * Determinism across engines: every score is rounded to 4 dp
    * before any argmax (c_id tie-break), and recomputed centroid
    * components are rounded to 4 dp before the second assignment, so
    * float-associativity drift in avg() can't flip an assignment. */
  val kmeansAssign = Op(
    "kmeans_assign",
    (s, d) => {
      graft.ext.GraftFunctions.register(s)
      val emb = Tables(s, d, "embeddings")
      // assign → refine: the shared one-round Lloyd kernel (map-side
      // max_by argmax + rounded per-cluster means; see lloydRefine),
      // then re-assign carrying each vector's winning score
      val newc = lloydRefine(emb, 8)
      assignArgmax(emb, newc, dotD("embedding", "cent"), Some("c_score"))
        .groupBy(col("c_id"))
        .agg(count(lit(1)).as("n_vecs"),
          round(avg(col("c_score")), 4).as("avg_sim"))
    },
    Some(s"""
      WITH ${lloydSql(8, 1)},
      ${assignedSql("a2", "c1", CentVec)}
      SELECT c_id, COUNT(*) AS n_vecs, ROUND(AVG(c_score), 4) AS avg_sim
      FROM a2 GROUP BY c_id"""))

  /** SemDeDup-style semantic dedup: cluster the embedding space
    * (k = max(8, ⌈N/100⌉) deterministic seed centroids — the
    * lowest-k vec_ids, τ = 100 TARGET CLUSTER SIZE — assigned via
    * the three-level MIPS rule of [[assignThreeLevel]]), then drop any
    * vector that has a LOWER-id in-cluster neighbor with rounded
    * cosine ≥ 0.3 — the "semantic near-duplicate pruning" step of a
    * training-data pipeline (cf. SemDeDup, Abbas et al. 2023:
    * clustering bounds the quadratic pair work to within-cluster
    * candidates). The keep/drop rule is the EXISTS-lower-id variant
    * (not transitive closure — `neardup_cluster` owns that kernel),
    * so keeps are a pure function of the pair set.
    *
    * Scale: a k ∝ √N rule would give clusters of 10·√N and
    * ~5·N^1.5 pair mass (~1.4 B scored pairs at sf10); k = ⌈N/τ⌉
    * pins the EXPECTED cluster size at τ, so within-cluster pair
    * work is Σ n_c²/2 ≈ N·τ/2 — LINEAR in the corpus. The
    * assignment is where ⌈N/τ⌉ fine seeds would break a broadcast,
    * hence the three-level rule: only the kc = ⌈∛k⌉ coarse seeds
    * broadcast (∛(N/τ) rows — ~1k at 100 G vectors), and the mid
    * and fine scorings are equi-joins on the cell ids with map-side
    * argmax partials — ≈ 3·N·∛k = 3·N·∛(N/τ) scored rows total
    * (the two-level form's N·√(N/τ) fine term was the one declared
    * super-linear path left after r17; three levels bound every
    * per-vector fan-out at ∛k). N comes from one count()
    * — a parquet metadata read, not a data scan. The only other
    * wide exchange is the pair equi-join on the salted (cluster,
    * bucket) key, so parallelism is k·16 and per-cluster candidate
    * scoring stays memory-local. */
  val semdedup = Op(
    "semdedup",
    (s, d) => {
      graft.ext.GraftFunctions.register(s)
      val emb = Tables(s, d, "embeddings")
      // one-row action: parquet row count from footer metadata.
      // τ = 100 target cluster size; identical formula in the oracle.
      val k = math.max(8L, math.ceil(emb.count() / 100.0).toLong)
      val seeds = emb.filter(col("vec_id") < k)
        .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))
      // three-level map-side argmax (assignFrozen): scored rows
      // collapse to one row per vec_id BEFORE any exchange (partial
      // max_by) at every level, so no shuffle carries N·k rows and
      // no k-row frame broadcasts. localCheckpoint: the assignment
      // table is consumed three times (both sides of the pair
      // self-join + the final keep rollup); materializing it runs
      // the assignment once instead of three times and truncates
      // the lineage
      val assigned = assignFrozen(emb, seeds)
        .localCheckpoint()
      val dropped = lowerIdDuplicates(assigned, 0.3)
        .withColumn("is_dropped", lit(1))
      assigned
        .join(dropped, Seq("vec_id"), "left")
        .select(col("vec_id"), col("c_id"),
          when(col("is_dropped").isNull, lit(1)).otherwise(lit(0))
            .as("kept"))
    },
    Some(s"""
      WITH kk AS (
        SELECT GREATEST(8, CAST(CEIL(COUNT(*) / 100.0) AS BIGINT)) AS k
        FROM embeddings),
      fine AS (
        SELECT vec_id AS c_id, embedding AS c_emb
        FROM embeddings WHERE vec_id < (SELECT k FROM kk)),
      $threeLevelSql,
      d AS (
        SELECT DISTINCT b.vec_id
        FROM assigned a JOIN assigned b
          ON a.c_id = b.c_id AND a.vec_id < b.vec_id
        WHERE ROUND(list_dot_product(CAST(a.embedding AS DOUBLE[]),
                                     CAST(b.embedding AS DOUBLE[])), 4)
              >= 0.3)
      SELECT vec_id, c_id,
             CASE WHEN vec_id IN (SELECT vec_id FROM d) THEN 0 ELSE 1 END
               AS kept
      FROM assigned"""))

  /** Flat PQ query: every `sub` vector encoded against codebook `cb`
    * ([[pqEncode]]), scored by the vec_id-0 target's integer ADC
    * table ([[adcTable]]) summed over its 8 codes; returns the
    * top-10 (vec_id, adc_score). `dotK` as in [[pqEncode]]. */
  private def pqTop10(sub: DataFrame, cb: DataFrame,
      dotK: (String, String) => Column): DataFrame = {
    val adc = adcTable(sub.filter(col("vec_id") === 0)
      .select(col("s"), col("sv").as("q_sv")), cb, dotK)
    pqEncode(sub, cb, dotK)
      .join(broadcast(adc), Seq("s", "code"))
      .groupBy(col("vec_id"))
      .agg((sum(col("qdot_i")) / 10000.0).as("adc_score"))
      .filter(col("vec_id") =!= 0)
      .orderBy(col("adc_score").desc, col("vec_id"))
      .limit(10)
  }

  /** The oracle of [[pqTop10]]; `cbCte` defines codebook `cb`. */
  private def pqTop10Sql(cbCte: String, cb: String): String = s"""
      WITH $subSql,
      $cbCte,
      ${codesSql("codes", cb)},
      ${adcSql("adc", cb, "vec_id = 0")}
      SELECT codes.vec_id,
             SUM(qdot_i) / 10000.0 AS adc_score
      FROM codes JOIN adc USING (s, code)
      GROUP BY codes.vec_id
      HAVING codes.vec_id <> 0
      ORDER BY adc_score DESC, codes.vec_id
      LIMIT 10"""

  /** Product-quantization ANN (the memory-scaling step past
    * `embed_quantize`'s int8): split each 64-dim vector into m=8
    * 8-dim subvectors, quantize each against a 16-entry per-subspace
    * codebook (subvectors of the first 16 vecs — deterministic, like
    * `ivf_topk`'s centroids), so a vector stores as 8 code bytes
    * (32× smaller than float32). Query scoring is ADC: a per-
    * (subspace, code) dot-product table against the target, summed
    * over the 8 codes. Sub-distances use the exact identity
    * ‖a−b‖² = a·a + b·b − 2a·b (three dot_f calls — no new kernel),
    * rounded to 4dp before the argmin with a code-id tie-break; ADC
    * table entries are scaled to integer ten-thousandths so the
    * 8-term sum is EXACT integer arithmetic in both engines — no
    * accumulation-order drift can flip the top-k.
    *
    * Scale: codebook + ADC table are k·m-sized broadcasts; encoding
    * is one broadcast join per vector row (the one-off index build);
    * query-time scoring reads only the 8-byte codes — the plan that
    * makes a 100 TB vector store scannable at memory-bandwidth
    * speed, with exact re-ranking available via `vector_topk` on the
    * ADC top candidates. */
  val pqTopk = Op(
    "pq_topk",
    (s, d) => {
      graft.ext.GraftFunctions.register(s)
      val emb = Tables(s, d, "embeddings")
      pqTop10(pqSplit(emb), seedCodebook(emb), dot)
    },
    Some(pqTop10Sql(cbSql("cb", 16), "cb")))

  /** PQ with TRAINED sub-codebooks: per subspace, `LloydRounds` Lloyd
    * rounds refine the 16 seed code vectors (assign every sub-vector
    * to its nearest current cell by 4dp-rounded L2, recompute cells
    * as rounded per-cell means, keep-previous for emptied cells),
    * then the standard encode + integer-ADC scoring of `pq_topk`
    * against the refined codebook. Trained cells sit on the
    * sub-vector distribution's actual modes, cutting quantization
    * error vs the arbitrary first-16 seeds (ADC-vs-exact top-10
    * overlap measured in AnnRecallSpec; delta in SCALE.md). Scale:
    * identical to `pq_topk` plus `LloydRounds` (subspace, code, dim)
    * mean shuffles at train time — k·m·8 cells, catalog-sized; the
    * codebook stays a broadcast, and every round re-reads the
    * checkpointed `sub` frame, never the corpus. */
  val pqTopkTrained = Op(
    "pq_topk_trained",
    (s, d) => {
      graft.ext.GraftFunctions.register(s)
      val emb = Tables(s, d, "embeddings")
      // Materialized (localCheckpoint, the semdedup precedent): FOUR
      // consumers read the split — the seed assignment, the codebook
      // rebuild's re-join, the re-encode, and the ADC table — and
      // with no exchange between the scan and the explode there is no
      // planner reuse point, so without the checkpoint the
      // explode+slice+self-dot scan re-executes per consumer (the
      // exchange-is-a-materialization-point lesson, SCALE.md r11;
      // measured 53 s -> see SCALE.md r12 at sf10). Identical rows,
      // one scan.
      val sub = pqSplit(emb).localCheckpoint()
      // encode + ADC against the refined double codebook (the same
      // packed-key argmin as the training rounds)
      pqTop10(sub, pqLloydRefine(emb, sub, 16, LloydRounds), dotD)
    },
    Some(pqTop10Sql(pqLloydSql(LloydRounds), s"p$LloydRounds")))

  /** Power-iteration rounds for `pca_topcomp` — fixed, deterministic
    * (the Lloyd-cap rationale: a static plan and a short unrolled
    * oracle CTE chain; convergence on the fixture is effectively
    * complete by round 3, PcaSpec checks the unit norm). */
  private val PcaRounds = 3

  /** DuckDB CTE chain `v0, s1, w1, n1, v1, …, v<rounds>` mirroring
    * the power iteration in [[pcaTopcomp]] (same seed, rounding
    * points, and normalization). */
  private def pcaSql(rounds: Int): String = {
    val v0 =
      """v0 AS (
        |  SELECT CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id = 0)""".stripMargin
    val rs = (1 to rounds).map { r =>
      s"""s$r AS (
         |  SELECT e.embedding,
         |         ROUND(list_dot_product(CAST(e.embedding AS DOUBLE[]),
         |                                p.v), 4) AS sc
         |  FROM embeddings e, v${r - 1} p),
         |w$r AS (
         |  SELECT pos, ROUND(SUM(sc * x), 4) AS w
         |  FROM (SELECT sc, unnest(range(1, len(embedding) + 1)) AS pos,
         |               unnest(CAST(embedding AS DOUBLE[])) AS x
         |        FROM s$r)
         |  GROUP BY pos),
         |n$r AS (SELECT SQRT(SUM(w * w)) AS nrm FROM w$r),
         |v$r AS (
         |  SELECT list(ROUND(w / nrm, 4) ORDER BY pos) AS v
         |  FROM w$r, n$r)""".stripMargin
    }
    (v0 +: rs).mkString(",\n")
  }

  /** Top principal component by DETERMINISTIC power iteration — the
    * dimensionality-reduction primitive of the vector-index family
    * (PCA'd embeddings are how a 100 TB store cuts ANN scan bytes
    * before IVF/PQ): v ← Σᵢ eᵢ(eᵢ·v) / ‖·‖ from the fixed vec_id-0
    * seed, `PcaRounds` rounds, every intermediate rounded to 4 dp at
    * the same points in both engines (the Lloyd determinism recipe —
    * no RNG, no convergence test, a static plan). The declared output
    * is the catalog-sized per-label projection profile onto the
    * learned component (count / mean / spread), which moves iff the
    * component or any projection drifts.
    *
    * Scale shape per round: the 64-double component broadcasts; one
    * pass scores every vector (codegen'd mixed dot); the per-dim
    * weighted sum is an (n·d)-row posexplode with map-side partial
    * sums into d rows — the lloydRefine aggregation shape, with the
    * same pre-Generate materialization pin (AQE would coalesce the
    * small scored exchange and run the 64× explode single-task). */
  val pcaTopcomp = Op(
    "pca_topcomp",
    (s, d) => {
      graft.ext.GraftFunctions.register(s)
      val emb = Tables(s, d, "embeddings")
      var v = emb.filter(col("vec_id") === 0)
        .select(expr("transform(embedding, x -> CAST(x AS DOUBLE))")
          .as("v"))
        .localCheckpoint()
      (1 to PcaRounds).foreach { _ =>
        val scored = emb.crossJoin(broadcast(v))
          .withColumn("sc", round(dotD("embedding", "v"), 4))
          .select(col("sc"), col("embedding"))
          .localCheckpoint() // pin 32-way before the 64x posexplode
        val w = scored
          .select(col("sc"), posexplode(col("embedding")))
          .groupBy(col("pos"))
          .agg(round(sum(col("sc") * col("col")), 4).as("w"))
          .localCheckpoint() // 2 consumers: the norm and the rebuild
        val nrm = w.agg(sqrt(sum(col("w") * col("w"))).as("nrm"))
        v = w.crossJoin(broadcast(nrm))
          .select(col("pos"), round(col("w") / col("nrm"), 4).as("x"))
          .agg(expr("transform(array_sort(collect_list(struct(pos, x)))," +
            " s -> s.x)").as("v"))
          .localCheckpoint()
      }
      emb.crossJoin(broadcast(v))
        .withColumn("proj", round(dotD("embedding", "v"), 4))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n"),
          round(avg(col("proj")), 4).as("avg_proj"),
          round(max(col("proj")) - min(col("proj")), 4).as("spread"))
    },
    Some(s"""
      WITH ${pcaSql(PcaRounds)}
      SELECT label, COUNT(*) AS n, ROUND(AVG(proj), 4) AS avg_proj,
             ROUND(MAX(proj) - MIN(proj), 4) AS spread
      FROM (SELECT e.label,
                   ROUND(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                          p.v), 4) AS proj
            FROM embeddings e, v$PcaRounds p)
      GROUP BY label"""))

  /** The IVF×PQ query: the coarse half ([[seeds]] lists,
    * [[assignArgmax]] with no carry, the vec_id-0 target's
    * [[probeLists]]) prunes WHICH vectors are scored, and the PQ half
    * ([[seedCodebook]], [[pqEncode]], [[adcTable]]) scores each
    * survivor by integer ADC. Returns the top-`n`
    * (vec_id, c_id, adc_score), adc desc with a vec_id tie-break. */
  private def ivfpqTopN(emb: DataFrame, n: Int): DataFrame = {
    // ---- coarse half: vector -> nearest of 16 seeds
    val cents = seeds(emb)
    val assigned = assignArgmax(emb, cents, carry = None)
    val probes = probeLists(emb.filter(col("vec_id") === 0), cents)
    // ---- PQ half
    val sub = pqSplit(emb)
    val cb = seedCodebook(emb)
    val adc = adcTable(sub.filter(col("vec_id") === 0)
      .select(col("s"), col("sv").as("q_sv")), cb, dot)
    // ---- query: probed lists only, scored by ADC over code bytes
    val cands = assigned.join(broadcast(probes), "c_id")
      .filter(col("vec_id") =!= 0)
      .select(col("vec_id"), col("c_id"))
    pqEncode(sub, cb, dot).join(cands, "vec_id")
      .join(broadcast(adc), Seq("s", "code"))
      .groupBy(col("vec_id"), col("c_id"))
      .agg((sum(col("qdot_i")) / 10000.0).as("adc_score"))
      .orderBy(col("adc_score").desc, col("vec_id"))
      .limit(n)
  }

  /** The oracle CTEs of [[ivfpqTopN]]. */
  private val ivfpqCtes = s"""${seedsSql("c")},
      ${assignedSql("assigned", "c")},
      ${probesSql("probes", targetSql("0"), "c", 2)},
      $subSql,
      ${cbSql("cb", 16)},
      ${codesSql("codes", "cb")},
      ${adcSql("adc", "cb", "vec_id = 0")}"""

  /** The oracle query of [[ivfpqTopN]] over [[ivfpqCtes]]. */
  private def ivfpqTopNSql(n: Int): String = s"""
      SELECT a.vec_id, a.c_id, SUM(qdot_i) / 10000.0 AS adc_score
      FROM assigned a
      JOIN probes USING (c_id)
      JOIN codes ON codes.vec_id = a.vec_id
      JOIN adc USING (s, code)
      WHERE a.vec_id <> 0
      GROUP BY a.vec_id, a.c_id
      ORDER BY adc_score DESC, a.vec_id
      LIMIT $n"""

  /** IVF × PQ — the two index halves composed the way a
    * billion-vector store actually runs them (FAISS's IVFPQ layout,
    * PAPERS.md): the coarse quantizer (16 inverted lists, `ivf_topk`'s
    * assignment rule) prunes WHICH vectors are scored, and the product
    * quantizer (8 sub-spaces × 16 codes, `pq_topk`'s encoding) decides
    * HOW each survivor is scored — 8 code bytes + one broadcast ADC
    * table lookup instead of a 64-dim dot. nprobe=2 of 16 lists means
    * the query touches ~1/8 of the corpus rows AND reads ~1/8 of the
    * bytes a flat scan would; at 100 TB the codes live hive-partitioned
    * by list (exactly the `ivf_append` snapshot layout), so the probe
    * IS partition pruning and the scoring input is code bytes, never
    * raw vectors. Both halves reuse this module's verified kernels:
    * map-side `max_by` coarse assignment (no N·k exchange), the packed
    * long `pqKey` argmin encode (codegen'd HashAggregate), hoisted
    * invariant self-dots, and broadcast probes/codebooks/ADC — the
    * only data-sized exchanges are the assignment rollup, the encode
    * rollup, and the candidate semi-join on vec_id. */
  val ivfpqTopk = Op(
    "ivfpq_topk",
    (s, d) => {
      graft.ext.GraftFunctions.register(s)
      ivfpqTopN(Tables(s, d, "embeddings"), 10)
    },
    Some(s"""
      WITH $ivfpqCtes
      ${ivfpqTopNSql(10)}"""))

  /** IVF×PQ with an EXACT RE-RANK stage — the executable form of the
    * engine's own measured deployment advice (ANN_RECALL_sf10.json,
    * r16: on realistic near-dup corpora where true neighbors sit
    * ~10⁻³ apart in cosine, raw ADC recall collapses to 0.15–0.20
    * while IVF-flat holds 1.0 — ADC quantization error exceeds the
    * score gaps, so PQ codes are a CANDIDATE GENERATOR, not a
    * ranker). Stage 1 is `ivfpq_topk`'s integer-exact chain
    * (coarse-probe nprobe=2 of 16 lists, ADC over 8 packed code
    * bytes) widened to a shortlist of R = 100 (adc desc, vec_id
    * tie-break — deterministic at the rank-100 boundary); stage 2
    * joins the shortlist back to the RAW embeddings of only those
    * 100 rows and re-scores them exactly (4dp-rounded `dot_f`),
    * returning the exact-score top-10. Output carries both scores so
    * the rerank's effect is visible in the result itself.
    *
    * Scale: the rerank reads R·d floats — a broadcast-semi point
    * lookup against the vector store (at 100 TB: R row fetches from
    * the `ivfpq_append` layout's list partitions), NOT a second
    * corpus scan; everything upstream is `ivfpq_topk`'s
    * partition-pruned code read. Recall: `ann_recall_suite` carries
    * an `ivfpq_rerank` path — 1.0000 at mutated sf10m where raw
    * ivfpq scores 0.15 (verified by tools/check_ann_suite.py). */
  val ivfpqRerankTopk = Op(
    "ivfpq_rerank_topk",
    (s, d) => {
      graft.ext.GraftFunctions.register(s)
      val emb = Tables(s, d, "embeddings")
      // ---- stage 1: ivfpq_topk's ADC scoring, R = 100 shortlist
      val shortlist = ivfpqTopN(emb, 100)
      // ---- stage 2: exact re-score of ONLY the shortlist's raw rows
      val target = emb.filter(col("vec_id") === 0)
        .select(col("embedding").as("t_emb"))
      emb.join(broadcast(shortlist), "vec_id")
        .crossJoin(broadcast(target))
        .withColumn("score", round(dot("embedding", "t_emb"), 4))
        .select(col("vec_id"), col("adc_score"), col("score"))
        .orderBy(col("score").desc, col("vec_id"))
        .limit(10)
    },
    Some(s"""
      WITH $ivfpqCtes,
      shortlist AS (${ivfpqTopNSql(100)})
      SELECT sl.vec_id, sl.adc_score,
             ROUND(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                    CAST(t.embedding AS DOUBLE[])), 4)
               AS score
      FROM shortlist sl
      JOIN embeddings e ON e.vec_id = sl.vec_id,
           (SELECT embedding FROM embeddings WHERE vec_id = 0) t
      ORDER BY score DESC, sl.vec_id
      LIMIT 10"""))

  /** The PERSISTED IVF×PQ codes index with incremental ingest — the
    * EXECUTABLE form of `ivfpq_topk`'s 100 TB story: where that op
    * argues "the codes live hive-partitioned by list, the probe IS
    * partition pruning" in prose and re-encodes the corpus inline per
    * query, this op actually commits the composed index as a snapshot
    * table of (list | vec_id | ck) rows — `ck` is all 8 PQ code
    * nibbles PACKED into one long (8 codes × 4 bits; a vector of 256
    * float bytes stores as 4+8+8 ≈ 20 B of index row) — and serves
    * the query from a partition-pruned read of the committed codes.
    * The layout is `ivf_append`'s (hive-partitioned by inverted
    * list); ingest ticks are `Snapshots.appendPartitions` commits that
    * rewrite ONLY the touched list partitions.
    *
    * Both quantizer halves are FROZEN pure functions of the BASE
    * corpus (coarse centroids = base vec_id < 16, sub-codebooks = the
    * same 16 base vectors' sub-slices), so batch rows computed in
    * isolation are identical to full-corpus rows and the merged index
    * is row-identical to encoding everything at once — which is what
    * the oracle computes (assign + encode ALL vectors against the
    * base-restricted codebooks, probe, ADC-score). Any code nibble
    * lost, shifted, or mis-packed by the incremental path, and any
    * frozen-half drift, changes the ADC sums and hash-mismatches.
    * Retraining either half is a scheduled full rebuild committed as
    * the next version — never an ingest tick (the `semdedup_append`
    * maintenance contract).
    *
    * Query = the NEWEST vector immediately probing the index it just
    * joined (the `ivf_append` shape): nprobe=2 of 16 lists, the ADC
    * table is one broadcast of 128 integer ten-thousandths, and the
    * scoring input is the pruned partitions' packed longs — the probe
    * never re-reads a raw embedding. Scale: at 100 TB the index is
    * ~1/32 the corpus bytes, the probe reads ~nprobe/nlist of THAT,
    * and per-tick write amplification is O(touched lists). */
  val ivfpqAppend = Op(
    "ivfpq_append",
    (s, d) => {
      graft.ext.GraftFunctions.register(s)
      val emb = Tables(s, d, "embeddings")
      val base = Snapshots.freshTmpBase(s, "vec_ivfpq_append", d)
      // scalar cutoff, then ONE encode pass over the whole corpus
      // (below) sliced by vec_id: codes/assignments are pure
      // functions of (own embedding, frozen halves), so
      // indexRows(corpus) ≡ indexRows(base) ∪ indexRows(batch)
      // row-for-row, and the checkpointed rows are 3 columns of
      // longs — the r18 shape encoded base and batch separately,
      // paying two extra full-corpus scan+exchange passes (the r19
      // minhash_append StageProbe finding).
      val mxRow = emb.agg(max(col("vec_id"))).head
      val mxv: Long = if (mxRow.isNullAt(0)) 0L else mxRow.getLong(0)
      val baseEmb = emb.filter(col("vec_id") <= mxv - 4)
      // a training op needs a base: fail with the actual problem, not
      // a downstream commit failure (and before any /tmp debris)
      require(!baseEmb.isEmpty,
        "ivfpq_append needs a base corpus larger than the 4-vector " +
          "ingest batch — the frozen coarse centroids and " +
          "sub-codebooks come from the base")
      // frozen halves — both pure functions of the base corpus
      val cents = seeds(baseEmb)
      val cb = seedCodebook(baseEmb)
        .localCheckpoint() // 3 consumers: base encode, batch encode, ADC
      // index rows of a slice: (list, vec_id, ck) — coarse list via
      // the shared argmax kernel; codes via the shared packed-key
      // encode, then all 8 nibbles packed little-endian into one long
      def indexRows(e: DataFrame): DataFrame = {
        val assign = assignArgmax(e, cents, carry = None)
          .select(col("vec_id"), col("c_id").as("list"))
        val packed = pqEncode(pqSplit(e), cb, dot)
          .groupBy(col("vec_id"))
          .agg(sum(expr("shiftleft(code, s * 4)")).as("ck"))
        assign.join(packed, "vec_id")
          .select(col("list"), col("vec_id"), col("ck"))
      }
      // size-gated (guide §5, VERDICT r19 #4): see graft.Ckpt
      // sized by the embeddings SCAN (one 3-long code row per emb
      // row — strictly NARROWER than emb, so emb's file bytes bound
      // it); the encode chain joins the codebook, so its own
      // estimate is multiplied garbage (see Ckpt.boundedLocal)
      val allRows = graft.Ckpt.boundedLocal(indexRows(emb),
        "ivfpq_append code rows",
        Some(emb)) // consumers: base commit + batch's 3 reads
      // v1: the base index; v2: the ingest tick — the 4 newest
      // vectors, encoded against the FROZEN halves and appended to
      // ONLY the touched list partitions. Both commits are clustered
      // one file per list dir per version.
      Snapshots.appendPartitions(
        allRows.filter(col("vec_id") <= mxv - 4), base, "list")
      val v2 = Snapshots.appendPartitions(
        allRows.filter(col("vec_id") > mxv - 4), base, "list")
      // the query: the newest vector probes the merged index — top-2
      // lists, ADC table from its sub-vectors, then a PRUNED read of
      // the committed code longs only (the vec_id = mxv point filter
      // pushes to parquet row-group stats)
      val newest = emb.filter(col("vec_id") === mxv)
        .localCheckpoint() // 3 consumers: probes, ADC table, target id
      val probes = probeLists(newest, cents)
        .select(col("c_id").as("list"))
      val adc = adcTable(pqSplit(newest)
        .select(col("s"), col("sv").as("q_sv")), cb, dot)
      val tid = newest.select(col("vec_id").as("t_id"))
      Snapshots.readAsOf(s, base, v2)
        .join(broadcast(probes), "list")
        .crossJoin(broadcast(tid))
        .filter(col("vec_id") =!= col("t_id"))
        .select(col("vec_id"), col("list").cast("long").as("list"),
          col("ck"), explode(sequence(lit(0), lit(7))).as("s"))
        .withColumn("code", expr("shiftright(ck, s * 4) & 15"))
        .join(broadcast(adc), Seq("s", "code"))
        .groupBy(col("vec_id"), col("list"))
        .agg((sum(col("qdot_i")) / 10000.0).as("adc_score"))
        .orderBy(col("adc_score").desc, col("vec_id"))
        .limit(10)
    },
    Some {
      val base = " AND vec_id <= (SELECT mxv - 4 FROM mx)"
      s"""
      WITH mx AS (SELECT max(vec_id) AS mxv FROM embeddings),
      ${seedsSql("c", base)},
      ${assignedSql("assigned", "c")},
      $subSql,
      ${cbSql("cb", 16, base)},
      ${codesSql("codes", "cb")},
      ${probesSql("probes", targetSql("(SELECT mxv FROM mx)"), "c", 2)},
      ${adcSql("adc", "cb", "vec_id = (SELECT mxv FROM mx)")}
      SELECT a.vec_id, CAST(a.c_id AS BIGINT) AS list,
             SUM(qdot_i) / 10000.0 AS adc_score
      FROM assigned a
      JOIN probes ON probes.c_id = a.c_id
      JOIN codes ON codes.vec_id = a.vec_id
      JOIN adc USING (s, code), mx
      WHERE a.vec_id <> mx.mxv
      GROUP BY a.vec_id, a.c_id
      ORDER BY adc_score DESC, a.vec_id
      LIMIT 10"""
    })

  /** Hard-negative mining — the contrastive-training data op: for
    * each query vector (the first 8 ids), the 5 most-similar vectors
    * carrying a DIFFERENT label. High-similarity/wrong-label pairs
    * are exactly the "hard negatives" a contrastive or reranker
    * trainer wants beside each anchor, and the op is the labeled-data
    * twin of `vector_topk` (same partitioned brute-force scoring,
    * REPOSE-style per-partition heaps). Plan: the bounded probe set
    * broadcasts (like `knn_label`), every (vector, probe) pair scores
    * in one codegen'd pass with the label-mismatch predicate applied
    * BEFORE ranking (no wasted rank work on positives), and the
    * per-query top-5 is a `row_number ≤ 5` that the WindowTopKRewrite
    * turns into the bounded-heap TopKPerKey exec — no full sort, no
    * global shuffle beyond the per-query rollup. At 100 TB the probe
    * set stays a broadcast (mining runs in anchor batches) and the
    * scan parallelizes per partition; an IVF/PQ prefilter (see
    * `ivfpq_topk`) would cap the scored candidates per anchor. */
  val hardNegatives = Op(
    "hard_negatives",
    (s, d) => {
      graft.ext.GraftFunctions.register(s)
      val emb = Tables(s, d, "embeddings")
      val q = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
          col("label").as("q_label"))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("score").desc, col("vec_id"))
      emb.crossJoin(broadcast(q))
        .filter(col("label") =!= col("q_label"))
        .withColumn("score", round(dot("embedding", "q_emb"), 4))
        .select(col("q_id"), col("vec_id"), col("label"), col("score"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .drop("rn")
    },
    Some("""
      WITH q AS (
        SELECT vec_id AS q_id, embedding AS q_emb, label AS q_label
        FROM embeddings WHERE vec_id < 8)
      SELECT q_id, vec_id, label, score FROM (
        SELECT q.q_id, e.vec_id, e.label,
               ROUND(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                      CAST(q.q_emb AS DOUBLE[])), 4)
                 AS score,
               ROW_NUMBER() OVER (PARTITION BY q.q_id
                 ORDER BY ROUND(list_dot_product(
                     CAST(e.embedding AS DOUBLE[]),
                     CAST(q.q_emb AS DOUBLE[])), 4) DESC,
                   e.vec_id) AS rn
        FROM embeddings e, q
        WHERE e.label <> q.q_label)
      WHERE rn <= 5"""))

  /** ANN recall evaluation as a data product — the index-quality
    * gate a vector-store deployment runs before switching traffic:
    * per-query recall@10 of the IVF probe path (`ivf_topk`'s frozen
    * 16-centroid index, nprobe=2) against the brute-force exact
    * top-10 (`vector_topk`'s contract), over an 8-query sample
    * (vec_id < 8). Output = (q_id, n_hit, recall) — the table a
    * recall dashboard ingests; AnnRecallSpec's measurements become a
    * first-class declared query here.
    *
    * Scale shape: centroids and the query sample broadcast; the
    * exact ground-truth side is one full scored scan with a bounded
    * top-k per query — inherent to recall evaluation (the index is
    * graded against an exact pass over a SMALL query sample, so the
    * exact side is |sample|·N skinny rows with the `row_number ≤ 10`
    * → bounded-heap TopKPerKey rewrite, never a global sort); the
    * IVF side reads only the probed cells' assignments. At 100 TB
    * the sample stays O(100) queries and the eval is ~2 corpus
    * scans, which is exactly what a production recall audit costs. */
  val annRecall = Op(
    "ann_recall",
    (s, d) => {
      graft.ext.GraftFunctions.register(s)
      val emb = Tables(s, d, "embeddings")
      val qs = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      val cents = seeds(emb)
      // the shared IVF kernel: map-side argmax assignment
      val assigned = assignArgmax(emb, cents)
      // nprobe=2 cells per query (8×16 scored rows — catalog-sized)
      val probes = probePerQuery(qs, cents, dot("q_emb", "c_emb"), 2)
        .select(col("q_id"), col("c_id"))
      val wTop = Window.partitionBy(col("q_id"))
        .orderBy(col("score").desc, col("vec_id"))
      // IVF retrieved: probed cells only, top-10 per query
      val retrieved = assigned
        .join(broadcast(probes), "c_id")
        .join(broadcast(qs), "q_id")
        .filter(col("vec_id") =!= col("q_id"))
        .withColumn("score", round(dot("embedding", "q_emb"), 4))
        .select(col("q_id"), col("vec_id"), col("score"))
        .withColumn("rn", row_number().over(wTop))
        .filter(col("rn") <= 10)
        .select(col("q_id"), col("vec_id"))
      // exact ground truth: one scored scan, bounded top-10 per query
      val exact = emb.crossJoin(broadcast(qs))
        .filter(col("vec_id") =!= col("q_id"))
        .withColumn("score", round(dot("embedding", "q_emb"), 4))
        .select(col("q_id"), col("vec_id"), col("score"))
        .withColumn("rn", row_number().over(wTop))
        .filter(col("rn") <= 10)
        .select(col("q_id"), col("vec_id"))
      val hits = exact
        .join(retrieved, Seq("q_id", "vec_id"), "left_semi")
        .groupBy(col("q_id")).agg(count(lit(1)).as("n_hit"))
      qs.select(col("q_id"))
        .join(hits, Seq("q_id"), "left")
        .select(col("q_id"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"),
          round(coalesce(col("n_hit"), lit(0L)) / 10.0, 4).as("recall"))
    },
    Some(s"""
      WITH q AS (
        SELECT vec_id AS q_id, embedding AS q_emb
        FROM embeddings WHERE vec_id < 8),
      ${seedsSql("c")},
      ${assignedSql("assigned", "c")},
      ${probesSql("probes", "q", "c", 2)},
      retr AS (
        SELECT q_id, vec_id FROM (
          SELECT p.q_id, a.vec_id,
                 ROW_NUMBER() OVER (PARTITION BY p.q_id
                   ORDER BY ROUND(list_dot_product(
                     CAST(a.embedding AS DOUBLE[]),
                     CAST(q.q_emb AS DOUBLE[])), 4) DESC, a.vec_id) AS rn
          FROM assigned a JOIN probes p USING (c_id)
          JOIN q ON q.q_id = p.q_id
          WHERE a.vec_id <> p.q_id)
        WHERE rn <= 10),
      exact AS (
        SELECT q_id, vec_id FROM (
          SELECT q.q_id, e.vec_id,
                 ROW_NUMBER() OVER (PARTITION BY q.q_id
                   ORDER BY ROUND(list_dot_product(
                     CAST(e.embedding AS DOUBLE[]),
                     CAST(q.q_emb AS DOUBLE[])), 4) DESC, e.vec_id) AS rn
          FROM embeddings e, q WHERE e.vec_id <> q.q_id)
        WHERE rn <= 10),
      hits AS (
        SELECT e.q_id, COUNT(*) AS n_hit
        FROM exact e
        JOIN retr r ON r.q_id = e.q_id AND r.vec_id = e.vec_id
        GROUP BY e.q_id)
      SELECT q.q_id, COALESCE(h.n_hit, 0) AS n_hit,
             ROUND(COALESCE(h.n_hit, 0) / 10.0, 4) AS recall
      FROM q LEFT JOIN hits h USING (q_id)"""))

  /** The ANN index-selection gate — `ann_recall` widened from one
    * index family to the full recall table a deployment actually
    * reads before switching traffic: recall@10 vs the brute-force
    * exact top-10, for ALL FOUR query paths this module ships —
    * frozen-centroid IVF (`ivf_topk`), Lloyd-trained IVF
    * (`ivf_topk_trained`), flat integer-ADC PQ (`pq_topk`), and the
    * composed IVF×PQ (`ivfpq_topk`), plus the RERANKED composed path
    * (`ivfpq_rerank_topk`: ADC top-100 shortlist → exact re-score,
    * the r17 answer to the r16 finding that raw ADC recall collapses
    * to 0.15–0.20 on realistic near-dups) — at nprobe ∈ {2, 8} for
    * the coarse-quantized paths (PQ scans every code, reported as
    * nprobe=16). One row per (path, nprobe): mean recall over the
    * 8-query panel as an exact integer hit count / 80.
    *
    * The `pq64` row makes the table's own conclusion EXECUTABLE: the
    * 16-cell-per-subspace codebook is what dominates PQ error (r14
    * finding), so the same flat-ADC path is graded again with the
    * codebook grown to 64 cells per subspace (first-64 seeds, same
    * encode/ADC kernels, 6 bits/code instead of 4) — the knob a
    * deployment reading this table would turn, with its recall
    * recovery measured in the same artifact it reads.
    *
    * Every path reuses the declared ops' own kernels (frozen/trained
    * argmax assignment, the packed-key PQ encode, per-query integer
    * ADC tables), so the table grades the indexes users actually
    * query. The ivfpq rows reuse the flat-PQ ADC scores restricted to
    * the probed cells — the candidate restriction, not the scoring,
    * is what the coarse half changes, so sharing the scored frame is
    * both cheaper and exactly equivalent.
    *
    * Scale shape: the exact side is ONE scored scan with bounded
    * per-query heaps (the `ann_recall` argument — a recall audit
    * costs ~2 corpus scans for an O(100)-query sample at any corpus
    * size); each graded path reads its own index-shaped intermediate
    * (assignments / code bytes), all checkpointed once and shared
    * across the nprobe variants. */
  val annRecallSuite = Op(
    "ann_recall_suite",
    (s, d) => {
      graft.ext.GraftFunctions.register(s)
      val emb = Tables(s, d, "embeddings")
      val qs = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
        .localCheckpoint() // consumers: exact + probe tables + retrievals
      val wTop = Window.partitionBy(col("q_id"))
        .orderBy(col("score").desc, col("vec_id"))
      def top10(scored: DataFrame): DataFrame = scored
        .withColumn("rn", row_number().over(wTop))
        .filter(col("rn") <= 10)
        .select(col("q_id"), col("vec_id"))
      // exact ground truth: ONE scored scan, shared by all 10 rows
      val exact = top10(emb.crossJoin(broadcast(qs))
        .filter(col("vec_id") =!= col("q_id"))
        .withColumn("score", round(dot("embedding", "q_emb"), 4))
        .select(col("q_id"), col("vec_id"), col("score")))
        .localCheckpoint() // 10 consumers: one hit-join per graded row
      def recallRow(path: String, nprobe: Int,
          retr: DataFrame): DataFrame =
        exact.join(retr, Seq("q_id", "vec_id"), "left_semi")
          .agg(count(lit(1)).as("hits"))
          .select(lit(path).as("path"), lit(nprobe).as("nprobe"),
            round(col("hits") / 80.0, 4).as("recall"))
      // ---- frozen-centroid IVF (ivf_topk's index)
      val cents = seeds(emb)
      val assignedF = assignArgmax(emb, cents)
        .localCheckpoint() // 4 consumers: 2 ivf rows + 2 ivfpq cand sets
      val probesF = probePerQuery(qs, cents, dot("q_emb", "c_emb"), 8)
        .localCheckpoint() // 4 consumers
      def ivfRetr(assigned: DataFrame, probes: DataFrame,
          np: Int): DataFrame =
        top10(assigned
          .join(broadcast(probes.filter(col("rn") <= np)
            .select(col("q_id"), col("c_id"))), "c_id")
          .join(broadcast(qs), "q_id")
          .filter(col("vec_id") =!= col("q_id"))
          .withColumn("score", round(dot("embedding", "q_emb"), 4))
          .select(col("q_id"), col("vec_id"), col("score")))
      // ---- Lloyd-trained IVF (ivf_topk_trained's index)
      val centsT = lloydRefine(emb, 16, LloydRounds)
      val assignedT = assignArgmax(emb, centsT, dotD("embedding", "cent"))
        .localCheckpoint() // 2 consumers: the two trained rows
      val probesT = probePerQuery(qs, centsT, dotD("q_emb", "cent"), 8)
        .localCheckpoint()
      // ---- PQ codes + per-query integer ADC (pq_topk's index)
      val sub = pqSplit(emb)
        .localCheckpoint() // 3 consumers: codebooks, codes, ADC tables
      // a seed codebook sliced from the checkpointed split (the same
      // rows as seedCodebook, without re-scanning the corpus)
      def subCodebook(k: Int): DataFrame = sub.filter(col("vec_id") < k)
        .select(col("vec_id").as("code"), col("s"),
          col("sv").as("c_sv"), col("s2").as("c2"))
      // ONE encode + per-query ADC kernel serves every codebook of
      // the PQ grid ({16, 64} cells × {seed, trained}); dot_fd widens
      // float elements exactly, so a float seed codebook scores
      // bit-identically to its double widening (the DotProductMixed
      // contract)
      def pqAdcScores(cbk: DataFrame,
          dotK: (String, String) => Column): DataFrame = {
        val adcq = adcTable(sub.filter(col("vec_id") < 8)
          .select(col("vec_id").as("q_id"), col("s"), col("sv").as("q_sv")),
          cbk, dotK)
        pqEncode(sub, cbk, dotK).join(broadcast(adcq), Seq("s", "code"))
          .filter(col("vec_id") =!= col("q_id"))
          .groupBy(col("q_id"), col("vec_id"))
          .agg(sum(col("qdot_i")).as("adc_i"))
          .select(col("q_id"), col("vec_id"),
            col("adc_i").cast("double").as("score"))
      }
      val pqScores = pqAdcScores(subCodebook(16), dot)
        .localCheckpoint() // 3 consumers: pq row + 2 ivfpq rows
      // the candidate-restricted ADC frame is shared per nprobe: the
      // raw-ivfpq row takes its top-10 and the rerank row its top-100
      // shortlist from the SAME materialized scores (one semi-join
      // per np instead of two — the rerank rows' marginal cost is
      // only the window widening + the 100-row exact re-score)
      def ivfpqScored(np: Int): DataFrame = {
        val cands = assignedF.select(col("vec_id"), col("c_id"))
          .join(broadcast(probesF.filter(col("rn") <= np)
            .select(col("q_id"), col("c_id"))), "c_id")
          .select(col("q_id"), col("vec_id"))
        pqScores.join(cands, Seq("q_id", "vec_id"), "left_semi")
          .localCheckpoint() // 2 consumers: ivfpq top-10 + rerank
      }
      val ipqScored2 = ivfpqScored(2)
      val ipqScored8 = ivfpqScored(8)
      // ivfpq + EXACT RERANK (ivfpq_rerank_topk's two stages): ADC
      // top-100 shortlist per query, then the shortlist's raw rows
      // re-scored exactly — the declared fix for ADC recall collapse
      def rerankFrom(scored: DataFrame): DataFrame = {
        val short = scored
          .withColumn("rn", row_number().over(wTop))
          .filter(col("rn") <= 100)
          .select(col("q_id"), col("vec_id"))
        top10(emb.join(short, "vec_id")
          .join(broadcast(qs), "q_id")
          .withColumn("score", round(dot("embedding", "q_emb"), 4))
          .select(col("q_id"), col("vec_id"), col("score")))
      }
      // ---- the rest of the PQ grid: {16, 64} cells × {seed,
      // trained} isolates the two codebook knobs
      val pqScores64 = pqAdcScores(subCodebook(64), dotD)
      val tr16 = pqLloydRefine(emb, sub, 16, LloydRounds)
      val tr64 = pqLloydRefine(emb, sub, 64, LloydRounds)
      recallRow("ivf", 2, ivfRetr(assignedF, probesF, 2))
        .unionByName(recallRow("ivf", 8, ivfRetr(assignedF, probesF, 8)))
        .unionByName(
          recallRow("ivf_trained", 2, ivfRetr(assignedT, probesT, 2)))
        .unionByName(
          recallRow("ivf_trained", 8, ivfRetr(assignedT, probesT, 8)))
        .unionByName(recallRow("ivfpq", 2, top10(ipqScored2)))
        .unionByName(recallRow("ivfpq", 8, top10(ipqScored8)))
        .unionByName(
          recallRow("ivfpq_rerank", 2, rerankFrom(ipqScored2)))
        .unionByName(
          recallRow("ivfpq_rerank", 8, rerankFrom(ipqScored8)))
        .unionByName(recallRow("pq", 16, top10(pqScores)))
        .unionByName(recallRow("pq64", 64, top10(pqScores64)))
        .unionByName(
          recallRow("pq_trained", 16, top10(pqAdcScores(tr16, dotD))))
        .unionByName(
          recallRow("pq64_trained", 64, top10(pqAdcScores(tr64, dotD))))
    },
    Some {
      def rif(n: Int, a: String, p: String, cexp: String) = s"""
      r_${a}_$n AS (
        SELECT q_id, vec_id FROM (
          SELECT p.q_id, a.vec_id,
                 ROW_NUMBER() OVER (PARTITION BY p.q_id
                   ORDER BY ROUND(list_dot_product(
                     CAST(a.embedding AS DOUBLE[]), $cexp), 4) DESC,
                   a.vec_id) AS rn
          FROM $a a JOIN $p p ON p.c_id = a.c_id AND p.rn <= $n
          JOIN q ON q.q_id = p.q_id
          WHERE a.vec_id <> p.q_id)
        WHERE rn <= 10)"""
      def ripq(n: Int) = s"""
      r_ipq_$n AS (
        SELECT q_id, vec_id FROM (
          SELECT s.q_id, s.vec_id,
                 ROW_NUMBER() OVER (PARTITION BY s.q_id
                   ORDER BY s.adc_i DESC, s.vec_id) AS rn
          FROM pqs_pq s
          JOIN af a ON a.vec_id = s.vec_id
          JOIN pf p ON p.c_id = a.c_id AND p.q_id = s.q_id
            AND p.rn <= $n)
        WHERE rn <= 10)"""
      // ivfpq + exact rerank: ADC top-100 shortlist, exact re-score
      def rrr(n: Int) = s"""
      r_rr_$n AS (
        SELECT q_id, vec_id FROM (
          SELECT sl.q_id, sl.vec_id,
                 ROW_NUMBER() OVER (PARTITION BY sl.q_id
                   ORDER BY ROUND(list_dot_product(
                     CAST(e.embedding AS DOUBLE[]),
                     CAST(q.q_emb AS DOUBLE[])), 4) DESC,
                   sl.vec_id) AS rn
          FROM (
            SELECT q_id, vec_id FROM (
              SELECT s.q_id, s.vec_id,
                     ROW_NUMBER() OVER (PARTITION BY s.q_id
                       ORDER BY s.adc_i DESC, s.vec_id) AS srn
              FROM pqs_pq s
              JOIN af a ON a.vec_id = s.vec_id
              JOIN pf p ON p.c_id = a.c_id AND p.q_id = s.q_id
                AND p.rn <= $n)
            WHERE srn <= 100) sl
          JOIN embeddings e ON e.vec_id = sl.vec_id
          JOIN q ON q.q_id = sl.q_id)
        WHERE rn <= 10)"""
      // encode + per-query ADC + top-10 against codebook cbn,
      // emitting pqs_$x (the ADC scores) and r_$x
      def rtr(x: String, cbn: String) = s"""
      ${codesSql(s"codes_$x", cbn)},
      ${adcSql(s"adcq_$x", cbn, "vec_id < 8")},
      pqs_$x AS (
        SELECT adcq_$x.q_id, codes_$x.vec_id, SUM(qdot_i) AS adc_i
        FROM codes_$x JOIN adcq_$x USING (s, code)
        WHERE codes_$x.vec_id <> adcq_$x.q_id
        GROUP BY 1, 2),
      r_$x AS (
        SELECT q_id, vec_id FROM (
          SELECT q_id, vec_id,
                 ROW_NUMBER() OVER (PARTITION BY q_id
                   ORDER BY adc_i DESC, vec_id) AS rn
          FROM pqs_$x)
        WHERE rn <= 10)"""
      def row(path: String, np: Int, r: String) =
        s"""SELECT '$path' AS path, $np AS nprobe,
             ROUND((SELECT COUNT(*) FROM exact e JOIN $r r
                    ON r.q_id = e.q_id AND r.vec_id = e.vec_id)
                   / 80.0, 4) AS recall"""
      s"""
      WITH q AS (
        SELECT vec_id AS q_id, embedding AS q_emb
        FROM embeddings WHERE vec_id < 8),
      exact AS (
        SELECT q_id, vec_id FROM (
          SELECT q.q_id, e.vec_id,
                 ROW_NUMBER() OVER (PARTITION BY q.q_id
                   ORDER BY ROUND(list_dot_product(
                     CAST(e.embedding AS DOUBLE[]),
                     CAST(q.q_emb AS DOUBLE[])), 4) DESC, e.vec_id) AS rn
          FROM embeddings e, q WHERE e.vec_id <> q.q_id)
        WHERE rn <= 10),
      ${seedsSql("cf")},
      ${assignedSql("af", "cf")},
      ${probesSql("pf", "q", "cf", 8)},
      ${lloydSql(16, LloydRounds)},
      ${assignedSql("atr", s"c$LloydRounds", CentVec)},
      ${probesSql("ptr", "q", s"c$LloydRounds", 8, CentVec)},
      $subSql,
      ${cbSql("cb", 16)},
      ${rtr("pq", "cb")},
      ${cbSql("cb64", 64)},
      ${rtr("pq64", "cb64")},
      ${pqLloydSql(LloydRounds, 16, "tp")},
      ${pqLloydSql(LloydRounds, 64, "tq")},
      ${rtr("tp", s"tp$LloydRounds")},
      ${rtr("tq", s"tq$LloydRounds")},
      ${rif(2, "af", "pf", "CAST(q.q_emb AS DOUBLE[])")},
      ${rif(8, "af", "pf", "CAST(q.q_emb AS DOUBLE[])")},
      ${rif(2, "atr", "ptr", "CAST(q.q_emb AS DOUBLE[])")},
      ${rif(8, "atr", "ptr", "CAST(q.q_emb AS DOUBLE[])")},
      ${ripq(2)},
      ${ripq(8)},
      ${rrr(2)},
      ${rrr(8)}
      ${row("ivf", 2, "r_af_2")}
      UNION ALL ${row("ivf", 8, "r_af_8")}
      UNION ALL ${row("ivf_trained", 2, "r_atr_2")}
      UNION ALL ${row("ivf_trained", 8, "r_atr_8")}
      UNION ALL ${row("ivfpq", 2, "r_ipq_2")}
      UNION ALL ${row("ivfpq", 8, "r_ipq_8")}
      UNION ALL ${row("ivfpq_rerank", 2, "r_rr_2")}
      UNION ALL ${row("ivfpq_rerank", 8, "r_rr_8")}
      UNION ALL ${row("pq", 16, "r_pq")}
      UNION ALL ${row("pq64", 64, "r_pq64")}
      UNION ALL ${row("pq_trained", 16, "r_tp")}
      UNION ALL ${row("pq64_trained", 64, "r_tq")}"""
    })

  override def ops: Seq[Op] =
    Seq(vectorTopk, knnLabel, cosineNeardup, annBucketTopk, ivfTopk,
      ivfTopkTrained, ivfAppend, embedQuantize, kmeansAssign, semdedup,
      semdedupAppend, pqTopk, pqTopkTrained, pcaTopcomp, ivfpqTopk,
      ivfpqRerankTopk, ivfpqAppend, hardNegatives, annRecall,
      annRecallSuite)
}
