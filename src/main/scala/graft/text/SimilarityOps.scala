package graft.text

import graft.{Op, OpModule, Tables}
import graft.api.Graft
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Near-duplicate detection by content similarity (SURVEY.md §2.11;
  * north-star LLM-pipeline dedup family).
  *
  * All hashing here is engine-neutral integer arithmetic (polynomial
  * char hashes, no engine hash builtins), so every op is
  * oracle-declarable — unlike MinHash whose hash family is
  * implementation-defined.
  *
  * Scale shape: SimHash is one explode + one groupBy(doc) + one
  * self-join on the 16-bit fingerprint (bucket count 65536 bounds the
  * join fan-out); n-gram Jaccard is the classic prefix-style
  * candidate join on shared shingles — shuffle keys are (gram) then
  * (doc_a, doc_b), both with map-side combine. At 100 TB both ops
  * shuffle token/gram keys only, never document text.
  */
object SimilarityOps extends OpModule {

  /** Polynomial char hash of a token, mod 2^30 — identical integer
    * arithmetic in Spark and DuckDB (no engine hash function). */
  private def tokHash(w: String): String =
    s"""aggregate(
          transform(split($w, ''), c -> CAST(ascii(c) AS BIGINT)),
          CAST(7 AS BIGINT),
          (acc, x) -> (acc * 31 + x) % 1073741824)"""

  private val duckTokHash =
    """list_reduce(
         list_prepend(CAST(7 AS BIGINT),
           list_transform(string_split(w, ''),
             c -> CAST(ascii(c) AS BIGINT))),
         (acc, x) -> (acc * 31 + x) % 1073741824)"""

  /** Shared 16-bit SimHash fingerprint kernel: per-token hash ->
    * per-bit +/-1 votes summed over the doc -> sign vector packed to
    * a fingerprint. Returns (doc_id, fp). */
  private[text] def simhashFps(s: SparkSession, d: String): DataFrame = {
    val toks = Tables(s, d, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .withColumn("th", expr(tokHash("w")))
    val votes = (0 until 16).map { b =>
      sum(when(expr(s"(th div ${1L << b}) % 2") === 1, 1)
        .otherwise(-1)).as(s"s$b")
    }
    val fp = (0 until 16).map { b =>
      when(col(s"s$b") > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
    toks.groupBy(col("doc_id")).agg(votes.head, votes.tail: _*)
      .select(col("doc_id"), fp.as("fp"))
  }

  /** The fps CTE chain of the SimHash oracle, shared by
    * `simhash_pairs` and `simhash_multiprobe`. */
  private val simhashFpsSql = s"""
      toks AS (
        SELECT doc_id, $duckTokHash AS th
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
              FROM documents)),
      votes AS (
        SELECT doc_id,
               ${(0 until 16).map(b =>
                  s"SUM(CASE WHEN (th // ${1L << b}) % 2 = 1 THEN 1 ELSE -1 END) AS s$b")
                  .mkString(", ")}
        FROM toks GROUP BY doc_id),
      fps AS (
        SELECT doc_id,
               ${(0 until 16).map(b =>
                  s"(CASE WHEN s$b > 0 THEN ${1L << b} ELSE 0 END)")
                  .mkString(" + ")} AS fp
        FROM votes)"""

  /** Docs sharing an identical fingerprint are near-dup candidates:
    * equi-self-join on fp (bucket count 65536 bounds the fan-out). */
  val simhashPairs = Op(
    "simhash_pairs",
    (s, d) => {
      val fps = simhashFps(s, d)
      val a = fps.select(col("doc_id").as("doc_a"), col("fp"))
      val b = fps.select(col("doc_id").as("doc_b"), col("fp"))
      a.join(b, "fp")
        .filter(col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b"), col("fp"))
    },
    Some(s"""
      WITH $simhashFpsSql
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.fp
      FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id"""))

  /** Multiprobe SimHash: near-dup pairs within Hamming distance 2 of
    * each other's fingerprints. Each doc probes 17 buckets (its fp
    * plus all 16 one-bit flips); two fps at distance <= 2 always share
    * a probe (d=0 identity, d=1 one side flips the differing bit,
    * d=2 each side flips one of the two), so the equi-join on the
    * probe key finds every qualifying pair without a cartesian —
    * candidates are then exact-filtered on bit_count(xor). The
    * classic multiprobe-LSH recall/fan-out trade: 17x probe rows
    * buys distance-2 recall with a pure equi-shuffle plan. */
  val simhashMultiprobe = Op(
    "simhash_multiprobe",
    (s, d) => {
      val fps = simhashFps(s, d)
      val probes = fps.select(col("doc_id"), col("fp"),
        explode(expr(
          """concat(array(fp),
               transform(sequence(0, 15), b -> fp ^ shiftleft(1L, b)))"""))
          .as("probe"))
      val a = probes.select(col("doc_id").as("doc_a"),
        col("fp").as("fp_a"), col("probe"))
      val b = probes.select(col("doc_id").as("doc_b"),
        col("fp").as("fp_b"), col("probe"))
      a.join(b, "probe")
        .filter(col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b"), col("fp_a"), col("fp_b"))
        .distinct()
        .withColumn("hamming", expr("bit_count(fp_a ^ fp_b)"))
        .filter(col("hamming") <= 2)
        .select(col("doc_a"), col("doc_b"),
          col("hamming").cast("int").as("hamming"))
    },
    Some(s"""
      WITH $simhashFpsSql,
      probes AS (
        SELECT doc_id, fp,
               unnest(list_prepend(fp,
                 [xor(fp, 1::BIGINT << b) FOR b IN range(0, 16)])) AS probe
        FROM fps),
      cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.fp AS fp_a, b.fp AS fp_b
        FROM probes a JOIN probes b
          ON a.probe = b.probe AND a.doc_id < b.doc_id)
      SELECT doc_a, doc_b,
             CAST(bit_count(xor(fp_a, fp_b)) AS INT) AS hamming
      FROM cand WHERE bit_count(xor(fp_a, fp_b)) <= 2"""))

  /** `simhash_multiprobe`'s COUNT-SHAPED companion (VERDICT r17 #4):
    * the number of qualifying pairs per Hamming distance (0, 1, 2),
    * computed from the 65,536-bucket FINGERPRINT HISTOGRAM instead
    * of the pair set — pairs at distance 0 are Σ C(n_fp, 2); at
    * distance d > 0 they are Σ n_f1·n_f2 over the fp pairs that
    * differ in exactly d bits, enumerated as the 16 one-bit / 120
    * two-bit flip masks (each unordered pair appears from both
    * sides, hence the div 2). This is exactly the multiprobe op's
    * output grouped by hamming — the probe construction guarantees
    * every distance ≤ 2 pair is found — but the compute is
    * catalog-sized (≤ 65,536·137 scored rows) at ANY corpus size,
    * which is what gives the family a ≥sf10 gate: the declared pair
    * op's sf10 output is 17.5 B rows by closed form (dump-infeasible
    * by construction), while this op's is 3 rows. */
  val simhashMultiprobeCounts = Op(
    "simhash_multiprobe_counts",
    (s, d) => {
      // the histogram is the only corpus-sized pass; it has three
      // consumers (d0 + the two flip joins)
      val hist = simhashFps(s, d).groupBy(col("fp"))
        .agg(count(lit(1)).as("cnt"))
        .localCheckpoint()
      val d0 = hist
        .agg(coalesce(sum(expr("cnt * (cnt - 1) div 2")), lit(0L))
          .as("n_pairs"))
        .select(lit(0).as("hamming"), col("n_pairs"))
      def flips(masks: String, dist: Int): DataFrame = hist
        .withColumn("mask", explode(expr(masks)))
        .withColumn("fp2", expr("fp ^ mask"))
        .join(hist.select(col("fp").as("fp2"), col("cnt").as("cnt2")),
          "fp2")
        .agg(coalesce(sum(col("cnt") * col("cnt2")), lit(0L)).as("t"))
        .select(lit(dist).as("hamming"), expr("t div 2").as("n_pairs"))
      val d1 = flips("transform(sequence(0, 15), b -> shiftleft(1L, b))", 1)
      val d2 = flips(
        """flatten(transform(sequence(0, 14), b1 ->
             transform(sequence(b1 + 1, 15), b2 ->
               shiftleft(1L, b1) | shiftleft(1L, b2))))""", 2)
      d0.unionByName(d1).unionByName(d2)
    },
    Some(s"""
      WITH $simhashFpsSql,
      hist AS (SELECT fp, COUNT(*) AS cnt FROM fps GROUP BY fp),
      m1 AS (SELECT (1::BIGINT << b) AS mask FROM range(0, 16) t(b)),
      m2 AS (SELECT ((1::BIGINT << t1.b) | (1::BIGINT << t2.b)) AS mask
             FROM range(0, 16) t1(b), range(0, 16) t2(b)
             WHERE t1.b < t2.b),
      d0 AS (SELECT 0 AS hamming,
             CAST(COALESCE(SUM(cnt * (cnt - 1) // 2), 0) AS BIGINT)
               AS n_pairs
             FROM hist),
      d1 AS (SELECT 1 AS hamming,
             CAST(COALESCE(SUM(a.cnt * h2.cnt), 0) // 2 AS BIGINT)
               AS n_pairs
             FROM hist a CROSS JOIN m1
             JOIN hist h2 ON h2.fp = xor(a.fp, m1.mask)),
      d2 AS (SELECT 2 AS hamming,
             CAST(COALESCE(SUM(a.cnt * h2.cnt), 0) // 2 AS BIGINT)
               AS n_pairs
             FROM hist a CROSS JOIN m2
             JOIN hist h2 ON h2.fp = xor(a.fp, m2.mask))
      SELECT * FROM d0 UNION ALL SELECT * FROM d1
      UNION ALL SELECT * FROM d2"""))

  /** Token-trigram Jaccard similarity join with a document-frequency
    * cap: shingles present in more than `MaxDf` documents are dropped
    * BEFORE the candidate join (on both the Spark and oracle side, so
    * the metric is Jaccard over the rare-shingle sets). Ubiquitous
    * shingles carry no near-dup signal but drive the candidate join
    * quadratic — the df cap is what keeps this op viable at 100 TB
    * (stopword-shingle / prefix-filtering practice): join fan-out per
    * gram is bounded by MaxDf², and the df table itself is one
    * map-side-combined groupBy. Without the cap this query was
    * observed to go quadratic at sf0.1 on the 31-word fixture vocab. */
  val MaxDf = 50

  /** Shared rare-shingle pair statistics: (doc_a, doc_b, n_inter,
    * n_a, n_b) for every ordered pair (doc_a < doc_b) of `idCol`
    * values sharing at least one rare `gramN`-gram (doc frequency
    * ≤ `maxDf`) — the candidate kernel under both `ngram_jaccard`
    * (symmetric overlap) and `Graft.containmentPairs`, which the
    * declared `shingle_containment` runs (asymmetric overlap). One gram-keyed shuffle, one pair-keyed
    * map-side-combined count, two size joins; never all pairs.
    *
    * Shuffle key: the gram shuffles as `xxhash64(gram)` — an 8-byte
    * long instead of the ~50-byte string. Equality is all the df
    * rollup and the candidate join need, and no gram ever appears in
    * the output, so the result is identical modulo 64-bit hash
    * collisions (birthday bound n²/2⁶⁵: ≈3e-2 at 10⁹ distinct grams,
    * and one collision merges exactly two gram groups — perturbs one
    * df/intersection count by 1, it does not cascade). Measured at
    * sf10 this cut the `shingle_containment` tail 45.2 s → see
    * SCALE.md; outputs verified pairwise-identical vs the string-key
    * plan at sf0.01 and sf1. */
  private[graft] def rareGramStats(df: DataFrame, textCol: String,
      idCol: String, gramN: Int, maxDf: Int): DataFrame = {
    graft.ext.GraftFunctions.register(df.sparkSession)
    // trigram hashes via the native ngram_hashes Generator: the token
    // array is evaluated once per row (the explode(transform(
    // sequence...)) formulation re-split the text per gram element
    // after CollapseProject inlining — see CurationOps.contamination;
    // same fix measured 6-12x there), each gram is hashed to the same
    // seed-42 xxhash64 long the SQL function computes, and dedup
    // happens INSIDE the generator's per-row hash set: a (doc_id, g)
    // key only ever repeats within one document, so the old global
    // `.distinct()` — measured as ~19.6 s of the 33 s sf10 tail, the
    // single most expensive stage (GramProbe) — bought nothing a
    // row-local set doesn't. No distinct exchange exists at all now;
    // the df rollup below is the first shuffle and it map-side
    // combines on the 8-byte key.
    val allGrams = df
      .select(col(idCol).as("doc_id"), split(col(textCol), " ").as("toks"))
      .select(col("doc_id"), expr(s"ngram_hashes(toks, $gramN)"))
    val rare = allGrams.groupBy(col("g"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
      .select(col("g"))
    val grams = allGrams.join(rare, "g")
    val sizes = grams.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val a = grams.select(col("doc_id").as("doc_a"), col("g"))
    val b = grams.select(col("doc_id").as("doc_b"), col("g"))
    val inter = a.join(b, "g")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("n_a")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("n_b")), "doc_b")
  }

  /** Candidate-pair kernel: (doc_a, doc_b, jaccard) with
    * jaccard >= 0.2 over rare trigram shingles — used by both the
    * declared `ngram_jaccard` query and as the edge set of
    * `neardup_cluster`. */
  private[text] def jaccardPairs(s: SparkSession, d: String): DataFrame =
    rareGramStats(Tables(s, d, "documents"), "text", "doc_id", 3, MaxDf)
      .withColumn("jaccard",
        round(col("n_inter").cast("double") /
          (col("n_a") + col("n_b") - col("n_inter")), 4))
      .filter(col("jaccard") >= 0.2)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))

  /** The ngram_jaccard oracle text, shared with neardup_cluster's
    * recursive-CTE oracle (edges must be the identical pair set). */
  private[text] val ngramJaccardSql = s"""
      WITH allgrams AS (
        SELECT DISTINCT doc_id, g
        FROM (
          SELECT doc_id,
                 unnest([toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]
                         FOR i IN range(0, len(toks) - 2)]) AS g
          FROM (SELECT doc_id, string_split(text, ' ') AS toks
                FROM documents)
          WHERE len(toks) >= 3)),
      grams AS (
        SELECT doc_id, g FROM allgrams
        WHERE g IN (SELECT g FROM allgrams GROUP BY g
                    HAVING COUNT(*) <= $MaxDf)),
      sizes AS (SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id),
      inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
        FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
      SELECT doc_a, doc_b,
             ROUND(CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter), 4)
               AS jaccard
      FROM inter
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE ROUND(CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter), 4)
              >= 0.2"""

  val ngramJaccard = Op(
    "ngram_jaccard",
    (s, d) => jaccardPairs(s, d),
    Some(ngramJaccardSql))

  /** Asymmetric containment near-dup (Broder's containment measure):
    * C(A→B) = |shingles(A) ∩ shingles(B)| / |shingles(A)|. Jaccard
    * misses the length-skewed duplication a crawl corpus is full of —
    * a 50-token quote verbatim inside a 5 000-token page scores
    * Jaccard ≈ 0.01 but containment 1.0. A pair is reported when
    * either direction's containment ≥ 0.6, with both directions
    * emitted so the pipeline can keep the superset doc.
    *
    * Scale shape: identical to `ngram_jaccard` — the df-capped
    * rare-shingle candidate join bounds fan-out per gram at MaxDf²;
    * only the final projection differs. Filter applies to the
    * 4dp-rounded values on both engines (same tie discipline as
    * `ngram_jaccard`). */
  val shingleContainment = Op(
    "shingle_containment",
    (s, d) =>
      Graft.containmentPairs(Tables(s, d, "documents"), "text", "doc_id",
        3, MaxDf, 0.6),
    Some(s"""
      WITH allgrams AS (
        SELECT DISTINCT doc_id, g
        FROM (
          SELECT doc_id,
                 unnest([toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]
                         FOR i IN range(0, len(toks) - 2)]) AS g
          FROM (SELECT doc_id, string_split(text, ' ') AS toks
                FROM documents)
          WHERE len(toks) >= 3)),
      grams AS (
        SELECT doc_id, g FROM allgrams
        WHERE g IN (SELECT g FROM allgrams GROUP BY g
                    HAVING COUNT(*) <= $MaxDf)),
      sizes AS (SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id),
      inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
        FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
      SELECT doc_a, doc_b,
             ROUND(CAST(n_inter AS DOUBLE) / sa.n, 4) AS contain_a,
             ROUND(CAST(n_inter AS DOUBLE) / sb.n, 4) AS contain_b
      FROM inter
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE ROUND(CAST(n_inter AS DOUBLE) / sa.n, 4) >= 0.6
         OR ROUND(CAST(n_inter AS DOUBLE) / sb.n, 4) >= 0.6"""))

  /** Near-duplicate *clustering*: connected components over the
    * jaccard>=0.2 pair graph via hash-to-min label propagation —
    * each doc's cluster id is the min doc_id reachable through
    * near-dup edges (the canonical-document choice of a dedup
    * pipeline: keep cluster_id == doc_id, drop the rest).
    *
    * Scale shape: the classic large-graph CC loop — per iteration
    * one shuffle join (edges x labels) + one min-combine groupBy,
    * converging in diameter(G) iterations (near-dup clusters are
    * shallow; capped at 30). `localCheckpoint` truncates the plan
    * lineage each round so the loop's cost stays per-iteration
    * constant instead of re-deriving the whole chain. The oracle is
    * an exact recursive-CTE transitive closure over the identical
    * edge SQL. */
  val neardupCluster = Op(
    "neardup_cluster",
    (s, d) => {
      val pairs = jaccardPairs(s, d)
        .select(col("doc_a"), col("doc_b")).localCheckpoint()
      graft.ops.Graphs.connectedComponents(
        Tables(s, d, "documents"), "doc_id", pairs, "doc_a", "doc_b")
    },
    Some(s"""
      WITH RECURSIVE pairs AS ($ngramJaccardSql),
      und AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION ALL
        SELECT doc_b, doc_a FROM pairs),
      reach(a, b) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a)
      SELECT a AS doc_id, MIN(b) AS cluster_id
      FROM reach GROUP BY a"""))

  /** Deterministic MinHash-LSH near-dup join — the oracle-checkable
    * twin of `dedup_minhash` (whose ml-lib hash family is
    * implementation-defined and therefore unverifiable by SQL).
    *
    * Hash family: h_i(g) = substring(md5(g), 4i+1, 4) — eight 16-bit
    * slices of ONE md5 per gram, compared lexicographically (md5 hex
    * is byte-identical across engines, and lexicographic min over
    * fixed-length lowercase hex IS numeric min). One digest per gram
    * instead of the r14 family's eight salted digests — the signature
    * build was the sf10 sweep's dominant hash-CPU stage; the narrower
    * 16-bit hashes only coarsen the candidate filter (more band
    * ties), never the verified output. Signature = 8 min-hashes;
    * banding = 4 bands x 2 rows; two docs are candidates iff some
    * band key (concat of the band's 2 sigs) matches. Candidates are
    * then exact-filtered on full trigram-set Jaccard >= 0.4.
    *
    * Scale shape: the canonical 100 TB dedup plan — signatures are
    * per-row expression work (|grams| md5s, no shuffle), the only
    * document-count-sized shuffle is on (band, bk), and the exact
    * verify join touches candidate pairs only, never all pairs. No
    * cartesian anywhere; fan-out per bucket is bounded by band
    * collision width.
    */
  /** The minhash_det kernel over any (doc_id, text) frame — split
    * out so PropertySpec can drive it with synthetic corpora (exact
    * duplicates share every signature, hence every band: recall of
    * identical texts is 1 by construction, and the test asserts it). */
  /** The per-doc signature table (doc_id, h0..h7): 8 md5-slice
    * min-hashes per document via the FUSED native `minhash_sig`
    * generator (ext/MinHashSigGenerator) — one MD5 per token window,
    * 8 int minima tracked in place, hex-formatted once per doc. A
    * doc's signature depends only on its own text — the property
    * that makes the incremental index (`minhash_append`)
    * row-identical to the one-shot build.
    *
    * Until r19 this was `ngrams_distinct → md5 → groupBy(doc_id,
    * 8 × min(substring(h, 4i+1, 4)))` — per window a gram
    * UTF8String alloc + hash-set insert, per distinct gram a 32-char
    * md5 hex alloc + 8 substring allocs + 8 string-min agg updates.
    * The r20 StageProbe measured that chain as minhash_append's
    * whole remaining floor after the one-pass restructure (one
    * stage, 332 core-s at sf10); the fused generator produces
    * byte-identical h0..h7 (the equivalence argument — same gram
    * bytes into the digest, hex-slice min ≡ 16-bit int min, min
    * idempotent under the ~0.1% duplicate windows, `n` pruned by
    * every consumer — is spelled out on the generator). The 16-bit
    * hash width only coarsens the LSH candidate filter (more band
    * ties), never the reported pairs: every candidate is
    * exact-Jaccard verified downstream, and the oracle mirrors the
    * same md5-slice family, so the two engines' candidate sets move
    * together. */
  private def sigTable(input: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    graft.ext.GraftFunctions.register(input.sparkSession)
    input
      .withColumn("toks", split(col("text"), " "))
      .select(col("doc_id"), expr("minhash_sig(toks, 3)"))
  }

  /** (doc_id, band, bk) rows from the signature table, banded 4×2.
    *
    * Shuffle key: `bk` is `xxhash64` of the band's 64-hex-char key
    * (two concatenated md5 signatures) — an 8-byte long instead of
    * ~8× the bytes on the index's dominant shuffle, the
    * [[rareGramStats]] precedent. Equality on the long is all the
    * bucket join needs; no band key ever reaches the output (the
    * candidates are exact-Jaccard verified downstream, so a 64-bit
    * collision can only add a candidate the verify stage re-scores —
    * it cannot change a reported pair unless the colliding docs
    * genuinely clear the Jaccard threshold, the birthday-bound
    * regime argued at rareGramStats). Outputs verified identical vs
    * the string-key plan at sf0.01/sf1 (SCALE.md r15). */
  private def bandRows(sig: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val bandArr = (0 until 4)
      .map(j =>
        s"struct($j as band, xxhash64(concat(h${2 * j}, h${2 * j + 1})) as bk)")
      .mkString("array(", ", ", ")")
    sig.select(col("doc_id"), explode(expr(bandArr)).as("b"))
      .select(col("doc_id"), col("b.band").as("band"),
        col("b.bk").as("bk"))
  }

  private[graft] def minhashDetPairs(input: org.apache.spark.sql.DataFrame,
      threshold: Double): org.apache.spark.sql.DataFrame = {
      graft.ext.GraftFunctions.register(input.sparkSession)
      val bands = bandRows(sigTable(input))
      val cand = bands.select(col("doc_id").as("doc_a"), col("band"), col("bk"))
        .join(bands.select(col("doc_id").as("doc_b"), col("band"), col("bk")),
          Seq("band", "bk"))
        .filter(col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b"))
        .distinct()
      // the shared hashed-gram verify kernel (it re-grams ONLY the
      // candidate docs; the string grams above exist solely to feed
      // the md5 signature family the oracle mirrors)
      verifiedPairs(cand, input, threshold)
        .filter(col("jaccard") >= threshold)
        .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** The MinHash-LSH oracle CTEs `docs` (distinct token trigrams per
    * doc), `sig` (8 md5 min-signatures) and `bands` (4 two-signature
    * band keys), kept textually in ONE place so the `minhash_det` and
    * `minhash_append` oracles cannot drift from each other. */
  private def minhashBandsSql: String = {
    val sigSql = (0 until 8).map(i =>
      s"list_aggregate(list_transform(grams, g -> substring(md5(g), ${i * 4 + 1}, 4)), 'min') AS h$i")
      .mkString(",\n               ")
    val bandSql = (0 until 4).map(j =>
      s"SELECT doc_id, $j AS band, h${2 * j} || h${2 * j + 1} AS bkey FROM sig")
      .mkString("\n        UNION ALL ")
    s"""docs AS (
        SELECT doc_id,
               list_distinct([toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]
                              FOR i IN range(0, len(toks) - 2)]) AS grams
        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
        WHERE len(toks) >= 3),
      sig AS (
        SELECT doc_id,
               $sigSql
        FROM docs),
      bands AS (
        $bandSql)"""
  }

  val minhashDet = Op(
    "minhash_det",
    (s, d) => minhashDetPairs(Tables(s, d, "documents"), 0.4),
    Some(s"""
      WITH $minhashBandsSql,
      cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
      grams AS (SELECT doc_id, unnest(grams) AS g FROM docs),
      sizes AS (SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id),
      inter AS (
        SELECT cand.doc_a, cand.doc_b, COUNT(*) AS n_inter
        FROM cand
        JOIN grams ga ON ga.doc_id = cand.doc_a
        JOIN grams gb ON gb.doc_id = cand.doc_b AND gb.g = ga.g
        GROUP BY 1, 2)
      SELECT doc_a, doc_b,
             ROUND(CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter), 4)
               AS jaccard
      FROM inter
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE ROUND(CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter), 4)
              >= 0.4"""))

  /** Exact-Jaccard verification of an LSH candidate pair set:
    * (doc_a, doc_b, n_inter→jaccard) over ONLY the candidate docs'
    * trigram sets — the verify half of every banded near-dup op, ONE
    * definition for `minhash_append` and the incremental curation
    * ingest (Graft.curateIngest). `texts` is any (doc_id, text, …)
    * frame covering the candidates; only candidate rows are read
    * (left-semi-pruned), and the gram frame is checkpointed for its
    * 3 consumers (sizes + both intersection sides). Emits ALL
    * verified pairs with their 4dp jaccard — callers threshold.
    *
    * Grams shuffle and join as `ngram_hashes` xxhash64 LONGS, not
    * ~50-byte strings — the rareGramStats precedent applied to the
    * verify half: the intersection join is |pairs| × |shared grams|
    * rows (the r15 mutated-sf10 fixture measured it at ~2 B rows for
    * curation_funnel's near-dup stage, where every clone pair is a
    * REAL near-dup instead of an exact-stage casualty), so key bytes
    * are the dominant shuffle cost; equality is all the count needs,
    * no gram reaches the output, and a 64-bit collision perturbs one
    * n_inter/size by 1 with birthday-bound probability (n²/2⁶⁵).
    *
    * `minJaccard` arms the EXACT size-ratio prefilter:
    * Jaccard(A,B) ≤ min(|A|,|B|)/max(|A|,|B|), so a candidate pair
    * whose distinct-gram counts are too far apart cannot clear the
    * caller's threshold and is dropped BEFORE the |pairs|×|shared
    * grams| intersection join — the verify tail's only remaining
    * cost driver on realistic (mutated) fixtures. The sizes are a
    * byproduct of the gram pass the verify already does, so the
    * prefilter costs one |cand|-sized join against a |candDocs|-row
    * frame. Callers round jaccard to 4dp before thresholding, so the
    * bound carries a half-ulp slack (t − 0.00005): a pair whose true
    * jaccard rounds UP to t is never dropped — zero recall loss, the
    * thresholded output is row-identical. Pairs below the slacked
    * bound do not appear in the output at all; pass the SAME
    * threshold you filter with (or 0.0 for the full pair dump). */
  private[graft] def verifiedPairs(cand: org.apache.spark.sql.DataFrame,
      texts: org.apache.spark.sql.DataFrame,
      minJaccard: Double = 0.0)
      : org.apache.spark.sql.DataFrame = {
    graft.ext.GraftFunctions.register(texts.sparkSession)
    val candDocs = cand.select(col("doc_a").as("doc_id"))
      .union(cand.select(col("doc_b")))
      .distinct()
    // per-candidate-doc DISTINCT-gram hash ARRAY (≤ n_tokens−2 longs,
    // bounded by doc length): the intersection count is computed
    // row-locally per pair via array_intersect instead of the r15
    // |pairs|×|shared grams| gram-key equi-join — that join shuffled
    // ~2 B skinny rows into a |pairs|-group HashAggregate at sf10m,
    // where this shape shuffles each doc's array once per pair it
    // appears in (bounded: pairs × ~2·8·grams bytes) and aggregates
    // nothing (r16 A/B in SCALE.md). Same xxhash64 gram keys, same
    // counts, same collision caveat; array order is irrelevant
    // (only sizes reach the output).
    //
    // r20: the array is built by the fused `ngram_hash_set` generator
    // (ONE (gs, n) row per doc) instead of `ngram_hashes → groupBy(
    // collect_list, count)` — a doc's grams all live in its own row,
    // so the aggregate never merged anything across rows; the fusion
    // drops |grams| generator rows + the hash-aggregate machinery +
    // its exchange per verify invocation. Same hash values, same
    // first-occurrence order, same n (the generator dedups in the
    // identical LinkedHashSet).
    val garr = texts.join(candDocs, Seq("doc_id"), "left_semi")
      .withColumn("toks", split(col("text"), " "))
      .select(col("doc_id"), expr("ngram_hash_set(toks, 3)"))
      .localCheckpoint() // 2 consumers: both pair sides
    val sized = cand
      .join(garr.select(col("doc_id").as("doc_a"),
        col("gs").as("gs_a"), col("n").as("n_a")), "doc_a")
      .join(garr.select(col("doc_id").as("doc_b"),
        col("gs").as("gs_b"), col("n").as("n_b")), "doc_b")
    val pre =
      if (minJaccard > 0.0)
        // exact bound w/ 4dp-rounding slack: round(j,4) ≥ t ⇒
        // j ≥ t−5e-5 ⇒ min/max ≥ t−5e-5 (j ≤ min/max, sizes exact)
        sized.filter(least(col("n_a"), col("n_b")).cast("double") >=
          lit(minJaccard - 0.00005) *
            greatest(col("n_a"), col("n_b")).cast("double"))
      else sized
    pre
      .withColumn("n_inter",
        size(array_intersect(col("gs_a"), col("gs_b"))).cast("long"))
      .withColumn("jaccard",
        round(col("n_inter").cast("double") /
          (col("n_a") + col("n_b") - col("n_inter")), 4))
      .select(col("doc_a"), col("doc_b"), col("n_a"), col("n_b"),
        col("n_inter"), col("jaccard"))
  }

  /** Band-index rollup of a (doc_id, text, …) batch: the persisted
    * index's rows (pb, doc_id, band, bk) — `minhash_append`'s kernel,
    * shared with the streaming ingest (StreamOps.minhashIndexMerge)
    * so the streamed index cannot drift from the batch op. pb =
    * band·16 + (bk mod 16), the 64-way hive layout. */
  private[graft] def minhashIndexRollup(
      batch: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    bandRows(sigTable(batch))
      .withColumn("pb",
        (col("band") * 16 + pmod(col("bk"), lit(16))).cast("int"))
      .select(col("pb"), col("doc_id"), col("band"), col("bk"))

  /** The PERSISTED MinHash-LSH band index with incremental ingest —
    * `dedup_append`'s near-dup twin, and together with it the full
    * rolling-crawl dedup lifecycle: the index is a snapshot table of
    * (doc_id, band, bk) rows hive-partitioned by (band, bk mod 16)
    * (64 partitions; bk is the xxhash64'd band key — see
    * [[bandRows]]), built once from the base corpus and
    * maintained by appending each ingest batch's band rows
    * (`Snapshots.appendPartitions`) — only partitions receiving batch
    * buckets rewrite.
    * Because a doc's signature is a pure function of its own text
    * (deterministic salted-md5 family, no training), batch signatures
    * computed in isolation are IDENTICAL to full-corpus signatures,
    * so the merged index is row-identical to the one-shot build.
    *
    * At ingest the batch's band rows immediately probe the merged
    * index: candidates = bucket-join (batch side × whole index, so a
    * new doc pairs with base docs AND its batch-mates), verified by
    * exact Jaccard — and the verify stage re-reads ONLY the candidate
    * docs' texts (a left-semi-pruned corpus read; the index itself
    * stores no text). Output = the newly-discovered near-dup pairs
    * (jaccard ≥ 0.4, at least one side in the batch), which the
    * oracle reproduces by running the FULL one-shot `minhash_det`
    * chain and keeping batch-involving pairs — any band row lost or
    * duplicated by the incremental commit, or any drift between
    * isolated and full-corpus signatures, changes the candidate set
    * and hash-mismatches. Batch = the 50 newest doc_ids (a bounded
    * ingest tick; the sf0.01 fixture's planted near-dups give the
    * gate 5 discovered pairs). */
  val minhashAppend = Op(
    "minhash_append",
    (s, d) => {
      graft.ext.GraftFunctions.register(s)
      import graft.sources.Snapshots
      val docs = Tables(s, d, "documents")
      val base = Snapshots.freshTmpBase(s, "sim_minhash_append", d)
      // ONE gram/signature/band pass over the whole corpus,
      // checkpointed, then sliced into base/batch band rows by
      // doc_id — signatures are per-doc pure functions, so
      // rollup(corpus) ≡ rollup(base) ∪ rollup(batch) row-for-row.
      // The r18 shape rolled base and batch up SEPARATELY, and each
      // rollup (plus the base-emptiness probe) re-read + re-exchanged
      // the full documents table; at sf10 the r19 StageProbe showed
      // those extra passes were the op's actual floor (every pass
      // over the single-row-group fixture pays a serial full-file
      // scan task), not the signature compute. The max-doc_id cutoff
      // is a scalar head() on a column-pruned scan (guide §5: fine —
      // one 8-byte result, not a data-sized collect).
      val mxRow = docs.agg(max(col("doc_id"))).head
      val mxd: Long = if (mxRow.isNullAt(0)) 0L else mxRow.getLong(0)
      // size-gated (guide §5, VERDICT r19 #4): O(docs·4) long/int
      // rows pinned as executor-local blocks while fits, lineage
      // recompute past the cap — see graft.Ckpt for the trade
      val allBands = graft.Ckpt.boundedLocal(minhashIndexRollup(docs),
        "minhash_append band rows") // consumers: both slices × (commit, merge, probe)
      // v1: the base index; v2: the ingest tick — the 50 newest docs'
      // band rows appended to ONLY the touched (band, bk mod 16)
      // partitions. Both commits are clustered one file per pb dir per
      // version: unclustered, partitionBy wrote up to #tasks files into
      // each of the 64 dirs, and the commit's file-creation fan-out —
      // not the verify — was the op's measured floor for three rounds
      // (VERDICT r17 #2). A corpus no larger than the ingest batch has
      // no base rows (a doc emits band rows iff it has >= 3 tokens), so
      // v1 commits nothing and the tick seeds the index: signatures are
      // per-doc pure functions, so the batch-only index IS the one-shot
      // build.
      val batchBands = allBands.filter(col("doc_id") > mxd - 50)
      Snapshots.appendPartitions(
        allBands.filter(col("doc_id") <= mxd - 50), base, "pb")
      val v2 = Snapshots.appendPartitions(batchBands, base, "pb")
      // a fully degenerate corpus (no doc anywhere with >= 3 tokens)
      // has NO band rows at all: fail loudly with the actual problem
      // (the ivf_append/semdedup_append pattern)
      require(v2 > 0L,
        "minhash_append needs at least one document with >= 3 " +
          "tokens — the corpus produces no band rows to index")
      // discovery: batch buckets probe the merged index
      val cand = Snapshots.readAsOf(s, base, v2)
        .select(col("doc_id").as("ia"), col("band"), col("bk"))
        .join(batchBands.select(col("doc_id").as("ib"), col("band"),
          col("bk")), Seq("band", "bk"))
        .filter(col("ia") =!= col("ib"))
        .select(least(col("ia"), col("ib")).as("doc_a"),
          greatest(col("ia"), col("ib")).as("doc_b"))
        .distinct()
      // exact verify over ONLY the candidate docs' grams
      verifiedPairs(cand, docs, 0.4)
        .filter(col("jaccard") >= 0.4)
        .select(col("doc_a"), col("doc_b"), col("jaccard"))
    },
    Some(s"""
      WITH mxc AS (SELECT max(doc_id) AS mxd FROM documents),
      $minhashBandsSql,
      cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id,
        mxc
        WHERE a.doc_id > mxc.mxd - 50 OR b.doc_id > mxc.mxd - 50),
      grams AS (SELECT doc_id, unnest(grams) AS g FROM docs),
      sizes AS (SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id),
      inter AS (
        SELECT cand.doc_a, cand.doc_b, COUNT(*) AS n_inter
        FROM cand
        JOIN grams ga ON ga.doc_id = cand.doc_a
        JOIN grams gb ON gb.doc_id = cand.doc_b AND gb.g = ga.g
        GROUP BY 1, 2)
      SELECT doc_a, doc_b,
             ROUND(CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter), 4)
               AS jaccard
      FROM inter
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE ROUND(CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter), 4)
              >= 0.4"""))

  /** Heuristic language ID from stopword-marker counts (n-gram
    * heuristic family): argmax over per-language marker hit counts
    * with a deterministic tie-break, scored against the labeled
    * `lang` column. */
  val langId = Op(
    "lang_id",
    (s, d) => {
      // Single-pass scoring: ONE split + ONE aggregate fold counts
      // all nine markers per token traversal, and the fold's finish
      // lambda computes the argmax directly on the accumulator (a
      // lambda variable — evaluated once, immune to CollapseProject
      // inlining). The previous per-marker size(filter(split(...)))
      // formulation re-split and re-scanned each document 9× —
      // 19.7 s of pure scan CPU at sf10. Tie-break (en ≥ de ≥ fr
      // chain) and output are byte-identical.
      val pred = expr("""
        aggregate(
          split(text, ' '),
          named_struct('en', 0L, 'de', 0L, 'fr', 0L),
          (a, x) -> named_struct(
            'en', a.en + (CASE WHEN x IN ('the', 'a', 'scan')
                          THEN 1L ELSE 0L END),
            'de', a.de + (CASE WHEN x IN ('und', 'der', 'window')
                          THEN 1L ELSE 0L END),
            'fr', a.fr + (CASE WHEN x IN ('le', 'la', 'join')
                          THEN 1L ELSE 0L END)),
          a -> CASE WHEN a.en >= a.de AND a.en >= a.fr THEN 'en'
                    WHEN a.de >= a.fr THEN 'de' ELSE 'fr' END)""")
      Tables(s, d, "documents")
        .groupBy(col("lang"), pred.as("pred"))
        .agg(count(lit(1)).as("n_docs"))
    },
    Some("""
      WITH scored AS (
        SELECT lang,
               length(list_filter(string_split(text,' '), x -> x = 'the'))
                 + length(list_filter(string_split(text,' '), x -> x = 'a'))
                 + length(list_filter(string_split(text,' '), x -> x = 'scan'))
                 AS h_en,
               length(list_filter(string_split(text,' '), x -> x = 'und'))
                 + length(list_filter(string_split(text,' '), x -> x = 'der'))
                 + length(list_filter(string_split(text,' '), x -> x = 'window'))
                 AS h_de,
               length(list_filter(string_split(text,' '), x -> x = 'le'))
                 + length(list_filter(string_split(text,' '), x -> x = 'la'))
                 + length(list_filter(string_split(text,' '), x -> x = 'join'))
                 AS h_fr
        FROM documents)
      SELECT lang,
             CASE WHEN h_en >= h_de AND h_en >= h_fr THEN 'en'
                  WHEN h_de >= h_fr THEN 'de'
                  ELSE 'fr' END AS pred,
             COUNT(*) AS n_docs
      FROM scored GROUP BY 1, 2"""))

  /** Duplicated-span profiling — the "deduplicating training data"
    * diagnostic: for every document, the fraction of its distinct
    * word 8-grams that also occur in at least one OTHER document.
    * Docs shorter than 8 tokens have no spans and report 0.
    *
    * Scale shape: two hash shuffles, both on skinny keys — distinct
    * (doc, gram) pairs on the gram (with map-side distinct), then the
    * flag rollup on doc_id. Nothing quadratic: cross-doc duplication
    * is decided by the gram's distinct-doc count, never by pairing
    * docs. The gram shuffles as xxhash64(gram) — 8 bytes vs the
    * ~50-byte string; equality is all the join needs and no gram
    * reaches the output (collision math at rareGramStats). */
  val dupSpanFrac = Op(
    "dup_span_frac",
    (s, d) => {
      graft.ext.GraftFunctions.register(s)
      val docs = Tables(s, d, "documents")
      // per-doc-distinct hashed 8-grams straight from the generator:
      // (doc_id, hash) only repeats within one doc, so no distinct
      // exchange is needed (see rareGramStats)
      val gset = docs
        .withColumn("toks", split(col("text"), " "))
        .select(col("doc_id"), expr("ngram_hashes(toks, 8)"))
        .select(col("doc_id"), col("g").as("ngram"))
      val nd = gset.groupBy(col("ngram"))
        .agg(count(lit(1)).as("nd"))
      val per = gset.join(nd, "ngram")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_spans"),
          sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("n_dup_spans"))
      docs.select(col("doc_id")).join(per, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_spans"), lit(0L)).as("n_spans"),
          coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
          coalesce(round(col("n_dup_spans").cast("double") /
            col("n_spans"), 6), lit(0.0)).as("dup_frac"))
    },
    Some("""
      WITH g AS (
        SELECT DISTINCT doc_id,
               unnest([toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]
                       || ' ' || toks[i+4] || ' ' || toks[i+5] || ' '
                       || toks[i+6] || ' ' || toks[i+7] || ' ' || toks[i+8]
                       FOR i IN range(0, len(toks) - 7)]) AS gram
        FROM (SELECT doc_id, string_split(text, ' ') AS toks
              FROM documents)
        WHERE len(toks) >= 8),
      nd AS (SELECT gram, COUNT(*) AS nd FROM g GROUP BY gram),
      per AS (
        SELECT doc_id, COUNT(*) AS n_spans,
               CAST(SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_dup_spans
        FROM g JOIN nd USING (gram) GROUP BY doc_id)
      SELECT d.doc_id,
             COALESCE(n_spans, 0) AS n_spans,
             COALESCE(n_dup_spans, 0) AS n_dup_spans,
             COALESCE(ROUND(CAST(n_dup_spans AS DOUBLE) / n_spans, 6),
                      0.0) AS dup_frac
      FROM documents d LEFT JOIN per USING (doc_id)"""))

  /** Token-level duplicated-span coverage — the span-REMOVAL
    * primitive next to `dup_span_frac`'s span-counting diagnostic
    * (the "dedup exact substrings across documents" pass of
    * large-corpus curation, PAPERS.md): for every document, the
    * number of token positions covered by at least one 8-gram that
    * also appears in ANOTHER document. `dup_span_frac` counts how
    * many of a doc's spans are duplicated; this op resolves the
    * overlapping spans into their union of covered tokens — i.e.
    * exactly how much text a span-stripping rewrite would delete —
    * so `1 - dup_token_frac` is the kept-text fraction.
    *
    * Plan: (a) cross-doc duplicated grams from the row-local-distinct
    * `ngram_hashes` generator (each (doc, gram) emitted once, so a
    * plain `count ≥ 2` over the 8-byte key IS the distinct-doc count
    * — no data-sized distinct exchange, the r11 GramProbe lesson);
    * (b) span starts from the positional `ngram_hash_pos` generator
    * (fused hashing, no HOF lambda dispatch, CollapseProject-proof);
    * (c) an equi-join on the hashed gram keeps only duplicated
    * starts; (d) per doc, the sorted start list folds once through a
    * left-to-right interval-union `aggregate` — O(spans) row-local
    * work bounded by document length, the same bound that lets the
    * text itself sit in one row. Shuffles: the gram rollup + the
    * gram join (both on 8-byte keys) + one per-doc rollup — nothing
    * carries gram strings, nothing is quadratic, so the plan is the
    * same one you'd run at 100 TB (where the dup-gram side would
    * additionally be bloom-prefiltered as in `contamination_bloom`).
    *
    * The oracle computes coverage as COUNT(DISTINCT pos+offset) over
    * an 8-way position unnest — a row-amplified form that is only
    * viable at oracle scale; the interval-union fold is the
    * scale-path equivalent (equal by construction: both compute
    * |union of [p, p+8) over dup starts p|). 6dp rounding cannot hit
    * a half-way decimal: n_tokens ≤ 99 in every fixture and no
    * q ≤ 99 admits a 7-decimal terminating p/q (that needs a 2⁷ or
    * 5⁷ factor ≥ 128). */
  val dedupSpans = Op(
    "dedup_spans",
    (s, d) => {
      graft.ext.GraftFunctions.register(s)
      val docs = Tables(s, d, "documents")
      val toked = docs.withColumn("toks", split(col("text"), " "))
      // (gram hash, #docs containing it) — per-doc-distinct by the
      // generator, so count(*) counts documents
      val dup = toked
        .select(expr("ngram_hashes(toks, 8)"))
        .groupBy(col("g"))
        .agg(count(lit(1)).as("nd"))
        .filter(col("nd") >= 2)
        .select(col("g"))
      // every span start (doc_id, pos, g)
      val starts = toked
        .select(col("doc_id"), expr("ngram_hash_pos(toks, 8)"))
      val covered = starts.join(dup, "g")
        .groupBy(col("doc_id"))
        .agg(sort_array(collect_list(col("pos"))).as("ps"))
        .withColumn("covered", expr(
          """aggregate(ps,
               named_struct('cov', CAST(0 AS BIGINT), 'e', CAST(-1 AS BIGINT)),
               (acc, p) -> named_struct(
                 'cov', acc.cov + greatest(CAST(0 AS BIGINT),
                   CAST(p AS BIGINT) + 8 - greatest(acc.e, CAST(p AS BIGINT))),
                 'e', greatest(acc.e, CAST(p AS BIGINT) + 8)),
               acc -> acc.cov)"""))
        .select(col("doc_id"), col("covered"))
      docs
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"))
        .join(covered, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tokens"),
          coalesce(col("covered"), lit(0L)).as("covered_tokens"),
          round(coalesce(col("covered"), lit(0L)).cast("double") /
            col("n_tokens"), 6).as("dup_token_frac"))
    },
    Some("""
      WITH tok AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      g AS (
        SELECT doc_id, i AS pos,
               toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' ||
               toks[i+4] || ' ' || toks[i+5] || ' ' || toks[i+6] || ' ' ||
               toks[i+7] || ' ' || toks[i+8] AS gram
        FROM tok, UNNEST(range(0, greatest(len(toks) - 7, 0))) AS u(i)),
      nd AS (
        SELECT gram FROM (
          SELECT gram, COUNT(DISTINCT doc_id) AS cd FROM g GROUP BY gram)
        WHERE cd >= 2),
      cov AS (
        SELECT doc_id, COUNT(DISTINCT pos + o) AS covered
        FROM g JOIN nd USING (gram), UNNEST(range(0, 8)) AS u2(o)
        GROUP BY doc_id),
      n AS (SELECT doc_id, len(toks) AS n_tokens FROM tok)
      SELECT n.doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
             CAST(COALESCE(covered, 0) AS BIGINT) AS covered_tokens,
             ROUND(CAST(COALESCE(covered, 0) AS DOUBLE) / n_tokens, 6)
               AS dup_token_frac
      FROM n LEFT JOIN cov USING (doc_id)"""))

  /** Blocked fuzzy matching by edit distance: near-identical part
    * names (levenshtein ≤ 3) found inside (brand, size) blocks — the
    * record-linkage idiom where an equi-join key bounds the quadratic
    * distance work. Block sizes are data-bounded (parts per
    * brand×size), so the candidate count grows linearly with the
    * table, never all-pairs; levenshtein itself is codegen'd.
    *
    * The distance runs on DISTINCT names per block, then matched name
    * pairs expand back to key pairs — duplicate rows (exact-dup
    * records are common in linkage inputs; the sf1 clone fixture has
    * 10 copies of every name) multiply the expansion join, not the
    * O(|n1|·|n2|) levenshtein work. Pair orientation: a name pair is
    * generated once (n1 ≤ n2, keys within a tied name ordered
    * k1 < k2), and least/greatest canonicalizes the emitted key pair.
    *
    * The sf10 lesson (StageProbe r13, 173 s → 9.8 s): the block
    * join's shuffle is BYTES-small but COMPUTE-huge, so AQE's
    * byte-based coalescing folded it to ONE partition running 1.6 G
    * levenshtein calls single-threaded — coalescing is blind to
    * compute amplification. The explicit user-numbered repartition on
    * the block key is AQE-exempt and pins the quadratic work at full
    * width. (Threshold levenshtein — levenshtein(n1, n2, 3), banded
    * DP with early exit — was A/B-measured SLOWER on these ~20-char
    * names: 11.5 s wall / 225 s task-sum vs plain's 9.8 s / 179 s;
    * the banding bookkeeping beats its savings at short strings.) */
  val editDistPairs = Op(
    "edit_dist_pairs",
    (s, d) => {
      val p = Tables(s, d, "part")
        .select(col("p_brand"), col("p_size"), col("p_partkey"),
          col("p_name"))
      val names = p.select(col("p_brand"), col("p_size"), col("p_name"))
        .distinct()
        .repartition(s.conf.get("spark.sql.shuffle.partitions").toInt,
          col("p_brand"), col("p_size"))
      val a = names.select(col("p_brand"), col("p_size"),
        col("p_name").as("n1"))
      val b = names.select(col("p_brand"), col("p_size"),
        col("p_name").as("n2"))
      val cand = a.join(b, Seq("p_brand", "p_size"))
        .filter(col("n1") <= col("n2"))
        .withColumn("dist", levenshtein(col("n1"), col("n2")))
        .filter(col("dist") <= 3)
      val k1s = p.select(col("p_brand"), col("p_size"),
        col("p_name").as("n1"), col("p_partkey").as("ka"))
      val k2s = p.select(col("p_brand"), col("p_size"),
        col("p_name").as("n2"), col("p_partkey").as("kb"))
      cand
        .join(k1s, Seq("p_brand", "p_size", "n1"))
        .join(k2s, Seq("p_brand", "p_size", "n2"))
        .filter(col("n1") < col("n2") ||
          (col("n1") === col("n2") && col("ka") < col("kb")))
        .select(col("p_brand"),
          least(col("ka"), col("kb")).as("k1"),
          greatest(col("ka"), col("kb")).as("k2"),
          col("dist"))
    },
    Some("""
      SELECT a.p_brand, a.p_partkey AS k1, b.p_partkey AS k2,
             CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist
      FROM part a
      JOIN part b ON a.p_brand = b.p_brand AND a.p_size = b.p_size
                 AND a.p_partkey < b.p_partkey
      WHERE levenshtein(a.p_name, b.p_name) <= 3"""))

  /** Corpus-pair overlap matrix: word-8-gram Jaccard between every
    * pair of sources — the cross-corpus contamination/diversity
    * diagnostic run before mixing corpora. Distinct (source, gram)
    * pairs shuffle on the gram key once for the intersection counts;
    * per-source gram totals are a broadcast side input; Jaccard
    * divides exact integers. Output is |sources|² — catalog-sized. */
  val sourceOverlap = Op(
    "source_overlap",
    (s, d) => {
      graft.ext.GraftFunctions.register(s)
      // gram shuffles as xxhash64 (8-byte key; see rareGramStats —
      // no gram in the output, equality-only joins, collision odds
      // negligible and non-cascading)
      // the distinct key is (source, g) — cross-DOC within a source,
      // so a global distinct is still required; the generator's
      // per-doc dedup just shrinks its input for free
      val grams = Tables(s, d, "documents")
        .withColumn("toks", split(col("text"), " "))
        .select(col("source"), expr("ngram_hashes(toks, 8)"))
        .distinct()
      val sizes = grams.groupBy(col("source"))
        .agg(count(lit(1)).as("n"))
      val a = grams.select(col("source").as("s1"), col("g"))
      val b = grams.select(col("source").as("s2"), col("g"))
      a.join(b, "g")
        .filter(col("s1") < col("s2"))
        .groupBy(col("s1"), col("s2"))
        .agg(count(lit(1)).as("inter"))
        .join(broadcast(sizes.select(col("source").as("s1"),
          col("n").as("n1"))), "s1")
        .join(broadcast(sizes.select(col("source").as("s2"),
          col("n").as("n2"))), "s2")
        .withColumn("jaccard",
          round(col("inter") * lit(1.0) /
            (col("n1") + col("n2") - col("inter")), 6))
        .select(col("s1"), col("s2"), col("inter"), col("jaccard"))
    },
    Some("""
      WITH g AS (
        SELECT DISTINCT source,
               unnest([toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]
                       || ' ' || toks[i+4] || ' ' || toks[i+5] || ' '
                       || toks[i+6] || ' ' || toks[i+7] || ' ' || toks[i+8]
                       FOR i IN range(0, len(toks) - 7)]) AS g
        FROM (SELECT source, string_split(text, ' ') AS toks
              FROM documents)
        WHERE len(toks) >= 8),
      sizes AS (SELECT source, COUNT(*) AS n FROM g GROUP BY source),
      inter AS (
        SELECT a.source AS s1, b.source AS s2, COUNT(*) AS inter
        FROM g a JOIN g b ON a.g = b.g AND a.source < b.source
        GROUP BY 1, 2)
      SELECT s1, s2, inter,
             ROUND(inter * 1.0 / (z1.n + z2.n - inter), 6) AS jaccard
      FROM inter
      JOIN sizes z1 ON z1.source = s1
      JOIN sizes z2 ON z2.source = s2"""))

  /** Fuzzy entity resolution end-to-end: connected components over
    * the `edit_dist_pairs` graph — near-identical part names collapse
    * into families labeled by their min partkey. Composes the blocked
    * distance kernel with the same hash-to-min label propagation as
    * `neardup_cluster`; output is family rollups (size, canonical
    * key), catalog-bounded. */
  val nameClusters = Op(
    "name_clusters",
    (s, d) => {
      val edges = editDistPairs.run(s, d)
        .select(col("k1").as("src"), col("k2").as("dst"))
      val nodes = graft.Tables(s, d, "part")
        .select(col("p_partkey").as("id"))
      graft.ops.Graphs
        .connectedComponents(nodes, "id", edges, "src", "dst")
        .groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("n_members"))
        .filter(col("n_members") > 1)
    },
    Some("""
      WITH RECURSIVE pairs AS (
        SELECT a.p_partkey AS k1, b.p_partkey AS k2
        FROM part a
        JOIN part b ON a.p_brand = b.p_brand AND a.p_size = b.p_size
                   AND a.p_partkey < b.p_partkey
        WHERE levenshtein(a.p_name, b.p_name) <= 3),
      edges AS (
        SELECT k1 AS src, k2 AS dst FROM pairs
        UNION ALL SELECT k2, k1 FROM pairs),
      reach(node, root) AS (
        SELECT p_partkey, p_partkey FROM part
        UNION
        SELECT e.dst, r.root
        FROM reach r JOIN edges e ON e.src = r.node
        WHERE r.root < e.dst)
      SELECT cluster_id, COUNT(*) AS n_members FROM (
        SELECT node, MIN(root) AS cluster_id FROM reach GROUP BY node)
      GROUP BY cluster_id
      HAVING COUNT(*) > 1"""))

  override def ops: Seq[Op] =
    Seq(simhashPairs, simhashMultiprobe, simhashMultiprobeCounts,
      ngramJaccard, shingleContainment,
      neardupCluster, minhashDet, minhashAppend, langId, dupSpanFrac,
      dedupSpans, editDistPairs, sourceOverlap, nameClusters)
}
