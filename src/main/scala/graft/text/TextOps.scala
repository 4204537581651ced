package graft.text

import graft.{Op, OpModule, Tables}
import graft.api.Graft
import org.apache.spark.sql.functions._

/** Text-analysis & deduplication operators over the `documents`
  * corpus (SURVEY.md §2.11; north star: LLM training-data pipeline).
  *
  * Scale shape: tokenization/fingerprinting/scoring are per-row
  * expression work inside WholeStageCodegen (no shuffle). The dedup
  * groupBys shuffle only (hash, doc_id) pairs — bytes ∝ corpus row
  * count, not corpus text bytes. TF-IDF shuffles (doc_id, token)
  * pairs with map-side partial counts; vocabulary-sized df table
  * broadcasts back.
  */
object TextOps extends OpModule {

  /** Exact dedup by content hash, keep-first (md5 is identical across
    * engines). */
  val dedupExact = Op(
    "dedup_exact",
    (s, d) =>
      Tables(s, d, "documents")
        .withColumn("h", md5(col("text")))
        .groupBy(col("h"))
        .agg(
          min(col("doc_id")).as("keep_id"),
          count(lit(1)).as("n_dups")),
    Some("""
      SELECT md5(text) AS h, MIN(doc_id) AS keep_id, COUNT(*) AS n_dups
      FROM documents GROUP BY 1"""))

  /** Deterministic train/val/test corpus split: bucket =
    * Knuth-multiplicative hash of doc_id in pure 64-bit-safe integer
    * arithmetic (identical in any engine — no RNG, no engine hash
    * builtin), 80/10/10. The property a training pipeline needs:
    * membership is a pure function of the id, so re-runs, backfills
    * and incremental appends never reshuffle examples across splits.
    * Per-row expression + one shuffle on the (split, lang) group key. */
  val splitHash = Op(
    "split_hash",
    (s, d) =>
      // pmod, not %: a negative doc_id must land in [0, 100) like
      // every other id (JVM % would bucket it negative and dump it
      // into 'test'); DuckDB's % is sign-preserving too, so the
      // oracle applies the same ((x % 100) + 100) % 100 wrap —
      // identical on the non-negative fixture domain, and the
      // facade equivalence now holds for negative ids as well
      Tables(s, d, "documents")
        .withColumn("bucket",
          expr("pmod((doc_id % 100000) * 2654435761, 100)"))
        .withColumn("split",
          when(col("bucket") < 80, "train")
            .when(col("bucket") < 90, "val")
            .otherwise("test"))
        .groupBy(col("split"), col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars")),
    Some("""
      SELECT CASE WHEN b < 80 THEN 'train'
                  WHEN b < 90 THEN 'val' ELSE 'test' END AS split,
             lang, COUNT(*) AS n_docs,
             CAST(SUM(n_chars) AS BIGINT) AS total_chars
      FROM (SELECT lang, n_chars,
                   ((doc_id % 100000) * 2654435761 % 100 + 100) % 100
                     AS b
            FROM documents)
      GROUP BY 1, 2"""))

  /** Per-language corpus statistics: docs, tokens, distinct tokens,
    * type-token ratio, average document length. */
  val textStats = Op(
    "text_stats",
    (s, d) => {
      val docs = Tables(s, d, "documents")
      val tok = docs
        .select(col("lang"), explode(split(col("text"), " ")).as("w"))
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_tokens"),
          countDistinct(col("w")).as("n_types"))
      val perDoc = docs.groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          round(avg(col("n_chars")), 4).as("avg_chars"))
      perDoc.join(tok, "lang")
        .withColumn("ttr",
          round(col("n_types").cast("double") / col("n_tokens"), 6))
    },
    Some("""
      WITH tok AS (
        SELECT lang, COUNT(*) AS n_tokens, COUNT(DISTINCT w) AS n_types
        FROM (SELECT lang, unnest(string_split(text, ' ')) AS w
              FROM documents)
        GROUP BY lang),
      perdoc AS (
        SELECT lang, COUNT(*) AS n_docs, ROUND(AVG(n_chars), 4) AS avg_chars
        FROM documents GROUP BY lang)
      SELECT lang, n_docs, avg_chars, n_tokens, n_types,
             ROUND(CAST(n_types AS DOUBLE) / n_tokens, 6) AS ttr
      FROM perdoc JOIN tok USING (lang)"""))

  /** TF-IDF scoring: tf per (doc, token), df per token, idf =
    * ln((N+1)/(df+1)); top-20 scores with a total order. Both engines
    * sort by the *rounded* score so FP last-ulp drift cannot reorder
    * the cut.
    *
    * Plan shape (measured, sf10): tf = explode → groupBy(doc_id, w)
    * computes the cell set ONCE and is MATERIALIZED (localCheckpoint)
    * for its two consumers (the df rollup and the scoring join) — one
    * scan of the corpus text, structurally. Before r12 the single
    * scan depended on the planner's incidental ReusedExchange; the
    * checkpoint makes the reuse a property of the plan, not of the
    * optimizer's mood (the exchange-reuse trap, SCALE.md r11). The
    * row-local `token_counts` generator variant (zero data-sized
    * exchange) was tried and measured SLOWER here (15.4 s → 20.8 s):
    * with no exchange there is no reuse point, so the scan+generator
    * runs twice (once per consumer), and locally two scans cost more
    * than one scan plus one in-memory exchange. On a network-bound
    * cluster the trade can flip; the generator stays available for
    * that regime. The n_docs side is a count-star scan that reads
    * ZERO data columns (row-group metadata only) — cheaper than
    * re-aggregating the cell table for the count. */
  val tfidfTop = Op(
    "tfidf_top",
    (s, d) => {
      val docs = Tables(s, d, "documents")
      val tf = docs
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .groupBy(col("doc_id"), col("w"))
        .agg(count(lit(1)).as("tf"))
        .localCheckpoint()
      val df = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
      val n = docs.agg(count(lit(1)).as("n_docs"))
      tf.join(broadcast(df), "w")
        .crossJoin(broadcast(n))
        .withColumn("score",
          round(col("tf") * log((col("n_docs") + lit(1.0)) /
            (col("df") + lit(1.0))), 4))
        .select(col("doc_id"), col("w"), col("score"))
        .orderBy(col("score").desc, col("doc_id"), col("w"))
        .limit(20)
    },
    Some("""
      WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
      tf AS (
        SELECT doc_id, w, COUNT(*) AS tf FROM toks GROUP BY doc_id, w),
      df AS (
        SELECT w, COUNT(*) AS df FROM tf GROUP BY w),
      n AS (SELECT COUNT(*) AS n_docs FROM documents)
      SELECT doc_id, w,
             ROUND(tf * LN((n_docs + 1.0) / (df + 1.0)), 4) AS score
      FROM tf JOIN df USING (w), n
      ORDER BY score DESC, doc_id, w
      LIMIT 20"""))

  /** Token counting: whitespace tokens + a BPE-ish regex token count
    * (shared-dialect pattern: letter runs / digit runs). */
  val tokenCount = Op(
    "token_count",
    (s, d) =>
      Tables(s, d, "documents").select(
        col("doc_id"),
        size(split(col("text"), " ")).as("n_ws_tokens"),
        expr("regexp_count(text, '[a-z]+|[0-9]+')").as("n_re_tokens"),
        col("n_chars")),
    Some("""
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS INT) AS n_ws_tokens,
             CAST(LENGTH(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS INT)
               AS n_re_tokens,
             n_chars
      FROM documents"""))

  /** Heuristic quality score: token count, mean token span, stopword
    * ratio, combined score in [0,1] — the classic pre-training corpus
    * filter signals. */
  /** THE quality formula — single source for every consumer:
    * `quality_score` (below), `dedup_keep_best` (CurationOps, Spark
    * AND oracle side), and mirrored in python by tools/check_cc.py
    * (doc_quality — keep in sync by hand, it re-verifies keep-best at
    * synthetic SFs). quality = min(1, n_tokens/60) * (1 - stop_ratio)
    * over stopwords {a, the}, rounded to 6 places.
    * Inputs: a `n_tokens` and `stop_cnt` column must be in scope. */
  private[graft] val qualityCol =
    round(
      least(lit(1.0), col("n_tokens").cast("double") / lit(60.0)) *
        (lit(1.0) - col("stop_cnt").cast("double") / col("n_tokens")),
      6)

  /** DuckDB scalar for the same formula (over a `text` column). */
  private[graft] val qualityDuckExpr = """
      ROUND(LEAST(1.0, CAST(len(string_split(text, ' ')) AS DOUBLE)
                       / 60.0)
            * (1.0 - CAST(length(list_filter(string_split(text, ' '),
                 w -> w = 'a' OR w = 'the')) AS DOUBLE)
               / len(string_split(text, ' '))), 6)"""

  /** (doc_id, quality) for every document — the shared Spark-side
    * kernel of `quality_score` and `dedup_keep_best`. */
  private[graft] def docQuality(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    Tables(s, d, "documents")
      .withColumn("n_tokens", size(split(col("text"), " ")))
      .withColumn("stop_cnt",
        expr("size(filter(split(text, ' '), w -> w = 'a' or w = 'the'))"))
      .select(col("doc_id"), qualityCol.as("quality"))

  val qualityScore = Op(
    "quality_score",
    (s, d) =>
      Tables(s, d, "documents")
        .withColumn("n_tokens", size(split(col("text"), " ")))
        .withColumn("stop_cnt",
          expr("size(filter(split(text, ' '), w -> w = 'a' or w = 'the'))"))
        .select(
          col("doc_id"),
          col("n_tokens"),
          round(col("n_chars").cast("double") / col("n_tokens"), 4)
            .as("avg_token_span"),
          round(col("stop_cnt").cast("double") / col("n_tokens"), 6)
            .as("stop_ratio"),
          qualityCol.as("quality")),
    Some(s"""
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
             ROUND(CAST(n_chars AS DOUBLE) / len(string_split(text, ' ')), 4)
               AS avg_token_span,
             ROUND(CAST(length(list_filter(string_split(text, ' '),
                     w -> w = 'a' OR w = 'the')) AS DOUBLE)
                   / len(string_split(text, ' ')), 6) AS stop_ratio,
             $qualityDuckExpr AS quality
      FROM documents"""))

  /** Document fingerprint: polynomial rolling hash over the token
    * stream (Karp–Rabin), folded left-to-right in both engines. The
    * per-token key is length*131 + first-codepoint — engine-neutral
    * integer arithmetic, no engine hash function involved. */
  val docFingerprint = Op(
    "doc_fingerprint",
    (s, d) =>
      Tables(s, d, "documents").select(
        col("doc_id"),
        expr("""aggregate(
                  transform(split(text, ' '),
                            w -> CAST(length(w) * 131 + ascii(w) AS BIGINT)),
                  CAST(0 AS BIGINT),
                  (acc, x) -> (acc * 1000003 + x) % 2147483647)""").as("fp")),
    Some("""
      SELECT doc_id,
             list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                 list_transform(string_split(text, ' '),
                   w -> CAST(length(w) * 131 + ascii(w) AS BIGINT))),
               (acc, x) -> (acc * 1000003 + x) % 2147483647) AS fp
      FROM documents"""))

  /** Winnowing fingerprint selection (Schleimer, Wilkerson & Aiken,
    * SIGMOD 2003 — the MOSS algorithm [L]): hash every token 4-gram,
    * slide a 4-hash window, keep each window's minimum. The kept set
    * is a position-robust sample with the winnowing guarantee: any
    * shared token run of ≥ 7 tokens (w + k - 1) between two docs
    * yields at least one shared fingerprint, at ~1/w the index size
    * of the full gram set. Emits the per-doc fingerprint-set summary
    * (count, min, xor) — the selected hashes are exactly what a
    * plagiarism/overlap index shuffles on at scale.
    *
    * Scale shape: pure per-row array arithmetic — token hashes, gram
    * hashes, window minima and the distinct fold never leave the row;
    * zero shuffle, zero UDF. All hashing is the engine-neutral
    * polynomial fold (tokHash's char fold, then a 1000003 fold over
    * the gram's 4 token hashes), so the oracle is exact. Since r13
    * the kernel is the native fused `winnow_stats` expression
    * (graft.ext.WinnowStats): the equivalent HOF chain pays
    * interpreted-lambda dispatch per CHAR/gram/window and was this
    * op's entire 282 s sf10 task-time (StageProbe); the facade keeps
    * the HOF form, so ApiSpec's equivalence test locks the two
    * kernels against each other. */
  val winnowingFingerprint = Op(
    "winnowing_fingerprint",
    (s, d) => {
      graft.ext.GraftFunctions.register(s)
      Tables(s, d, "documents")
        .select(col("doc_id"),
          expr("winnow_stats(split(text, ' '))").as("ws"))
        .select(
          col("doc_id"),
          col("ws.n_grams").as("n_grams"),
          col("ws.n_fp").as("n_fp"),
          col("ws.fp_min").as("fp_min"),
          col("ws.fp_xor").as("fp_xor"))
    },
    Some("""
      WITH t AS (
        SELECT doc_id,
               list_transform(string_split(text, ' '),
                 tk -> list_reduce(
                         list_prepend(CAST(7 AS BIGINT),
                           list_transform(string_split(tk, ''),
                             c -> CAST(ascii(c) AS BIGINT))),
                         (acc, x) -> (acc * 31 + x) % 1073741824)) AS ths
        FROM documents),
      g AS (
        SELECT doc_id,
               CASE WHEN len(ths) >= 4 THEN
                 [list_reduce(list_prepend(CAST(7 AS BIGINT), ths[i:i+3]),
                              (acc, x) -> (acc * 1000003 + x) % 1073741824)
                  FOR i IN range(1, len(ths) - 2)]
               ELSE CAST([] AS BIGINT[]) END AS gh
        FROM t),
      w AS (
        SELECT doc_id, gh,
               CASE WHEN len(gh) = 0 THEN 0
                    WHEN len(gh) <= 4 THEN 1
                    ELSE len(gh) - 3 END AS nw
        FROM g),
      s AS (
        SELECT doc_id, gh,
               list_distinct([list_min(gh[j:least(j + 3, len(gh))])
                              FOR j IN range(1, nw + 1)]) AS sel
        FROM w)
      SELECT doc_id,
             CAST(len(gh) AS BIGINT) AS n_grams,
             CAST(len(sel) AS BIGINT) AS n_fp,
             COALESCE(list_min(sel), 0) AS fp_min,
             list_reduce(list_prepend(CAST(0 AS BIGINT), sel),
                         (acc, x) -> xor(acc, x)) AS fp_xor
      FROM s"""))

  /** Near-dup detection via MinHash-LSH banding (no oracle —
    * randomized hash family; seed fixed so output is deterministic).
    * At 100 TB this is the standard shape: shingle → minhash → band →
    * shuffle on band key → per-bucket candidate pairs → exact verify.
    * Spark ML's MinHashLSH implements exactly that via
    * approxSimilarityJoin. */
  val dedupMinhash = Op(
    "dedup_minhash",
    (s, d) => {
      import org.apache.spark.ml.feature.{HashingTF, MinHashLSH}
      val docs = Tables(s, d, "documents")
      // shingle into token TRIGRAMS, not words: word-sets from a small
      // vocabulary are near-identical across documents (observed: 85%
      // of all pairs under threshold at sf0.01 with word shingles),
      // which makes the LSH candidate join quadratic — trigram
      // shingles restore discriminative power, so buckets stay small
      // at any corpus size (the property LSH banding needs at 100 TB)
      val shingled = docs
        .withColumn("toks", split(col("text"), " "))
        .filter(size(col("toks")) >= 3)
        .withColumn("shingles", expr(
          """transform(sequence(0, size(toks) - 3),
               i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))"""))
      val feat = new HashingTF()
        .setInputCol("shingles").setOutputCol("features")
        .setNumFeatures(1 << 18).setBinary(true).transform(shingled)
      val model = new MinHashLSH()
        .setInputCol("features").setOutputCol("hashes")
        .setNumHashTables(8).setSeed(42L).fit(feat)
      model.approxSimilarityJoin(feat, feat, 0.6, "jaccard_dist")
        .filter(col("datasetA.doc_id") < col("datasetB.doc_id"))
        .select(
          col("datasetA.doc_id").as("doc_a"),
          col("datasetB.doc_id").as("doc_b"),
          round(col("jaccard_dist"), 4).as("jaccard_dist"))
    },
    None)

  /** Tokenizer vocabulary construction: corpus token counts filtered
    * to min_count >= 5, assigned dense ids by (count desc, token) —
    * the id table a BPE-ish tokenizer training step emits first.
    *
    * Scale shape: the count is the usual explode + map-side-combined
    * groupBy (vocabulary-sized shuffle); the dense-id assignment is a
    * distributed exact rank (`Ranks.withGlobalRank`: one range
    * exchange + one in-partition sort) — a web-corpus
    * vocabulary can be tens of millions of tokens, too big to bet on
    * a single-partition window. */
  val vocabBuild = Op(
    "vocab_build",
    (s, d) => {
      val counts = Tables(s, d, "documents")
        .select(explode(split(col("text"), " ")).as("token"))
        .groupBy(col("token"))
        .agg(count(lit(1)).as("n_occ"))
        .filter(col("n_occ") >= 5)
      graft.ops.Ranks
        .withGlobalRank(counts, "__rnk", "__n",
          col("n_occ").desc, col("token"))
        .withColumn("token_id", (col("__rnk") - 1).cast("int"))
        .select(col("token_id"), col("token"), col("n_occ"))
    },
    Some("""
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY n_occ DESC, token) - 1
               AS INT) AS token_id,
             token, n_occ
      FROM (SELECT token, COUNT(*) AS n_occ
            FROM (SELECT unnest(string_split(text, ' ')) AS token
                  FROM documents)
            GROUP BY token)
      WHERE n_occ >= 5"""))

  /** BM25 relevance scoring (k1=1.2, b=0.75) — the retrieval-grade
    * upgrade of `tfidf_top`: same (doc, token) partial-count shuffle
    * and broadcast df/N sides, plus per-doc length normalization
    * against the corpus mean. avgdl is rounded to 6 dp before use so
    * float-associativity drift in the mean can't leak into the
    * scores; the top-20 cut sorts by the rounded score with a
    * (doc_id, w) tie-break. */
  val bm25Top = Op(
    "bm25_top",
    (s, d) => {
      val k1 = 1.2
      val b = 0.75
      val docs = Tables(s, d, "documents")
      // one structural scan of the corpus text: dl (= the doc's token
      // count, computed row-locally at tokenize time) rides through
      // the tf groupBy as a functionally-dependent grouping key, so
      // the materialized cell table (localCheckpoint, see tfidf_top's
      // note) already CARRIES the length normalization — no second
      // text scan, no 75M-row dl rollup, and crucially no tf⋈dl
      // re-join on doc_id (an exchange of the whole cell table that
      // both the r11 shape and the first r12 rewrite paid). avgdl
      // rides the df rollup (see below) — the cell table is read
      // exactly TWICE (df rollup + scoring join), same as tfidf's.
      val tf = docs
        // dl = size(split) and explode(split) in ONE select: split
        // evaluates twice per row, but BOTH evaluations run after the
        // corpus-spread exchange, 32-way. The tempting split-once form
        // (project `toks`, then explode the attribute) is a measured
        // TRAP: with an attribute generator input,
        // InferFiltersFromGenerate infers `size(split(text))>0` and
        // predicate pushdown drags that tokenize BELOW the repartition
        // exchange — single-threaded on the one-row-group scan side,
        // 6.5 s of this op's 8.3 s at sf10 (StageProbe, SCALE.md r13);
        // with the expression input no filter is inferred at all
        // (tfidf's shape, whose scan stage is 1.1 s on the same
        // corpus).
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("double").as("dl"),
          col("text"))
        .select(col("doc_id"), col("dl"),
          explode(split(col("text"), " ")).as("w"))
        .groupBy(col("doc_id"), col("dl"), col("w"))
        .agg(count(lit(1)).as("tf"))
        .localCheckpoint()
      // avgdl WITHOUT a third read of the data-sized cell table (the
      // r12 shape's 8.3 s vs tfidf's 4.3 s at sf10 was exactly that
      // read + its doc_id exchange): per doc Σtf = dl, so the corpus
      // token total rides the df rollup as a per-token sum(tf) whose
      // final rollup is VOCABULARY-sized, and n_docs is a zero-column
      // count-star scan (row-group metadata only). Numerically
      // identical to avg-over-docs: dl and the tf sums are integers,
      // exact in double at any summation order up to 2^53.
      val df = tf.groupBy(col("w"))
        .agg(count(lit(1)).as("df"), sum(col("tf")).as("wtf"))
        .localCheckpoint() // vocab-sized; 2 consumers (stats + join)
      val stats = df.agg(sum(col("wtf")).as("tot"))
        .crossJoin(broadcast(docs.agg(count(lit(1)).as("n_docs"))))
        .select(
          round(col("tot").cast("double") / col("n_docs"), 6).as("avgdl"),
          col("n_docs"))
      tf.join(broadcast(df.select(col("w"), col("df"))), "w")
        .crossJoin(broadcast(stats))
        .withColumn("idf",
          log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) /
            (col("df") + lit(0.5))))
        .withColumn("score", round(
          col("idf") * col("tf") * lit(k1 + 1.0) /
            (col("tf") + lit(k1) * (lit(1.0 - b) +
              lit(b) * col("dl") / col("avgdl"))), 4))
        .select(col("doc_id"), col("w"), col("score"))
        .orderBy(col("score").desc, col("doc_id"), col("w"))
        .limit(20)
    },
    Some("""
      WITH dl AS (
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl
        FROM documents),
      stats AS (
        SELECT ROUND(AVG(dl), 6) AS avgdl, COUNT(*) AS n_docs FROM dl),
      toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w
        FROM documents),
      tf AS (
        SELECT doc_id, w, COUNT(*) AS tf FROM toks GROUP BY doc_id, w),
      df AS (
        SELECT w, COUNT(*) AS df FROM tf GROUP BY w)
      SELECT tf.doc_id, tf.w,
             ROUND(LN(1.0 + (n_docs - df + 0.5) / (df + 0.5))
                   * tf * 2.2
                   / (tf + 1.2 * (0.25 + 0.75 * dl.dl / avgdl)), 4)
               AS score
      FROM tf JOIN df USING (w) JOIN dl ON dl.doc_id = tf.doc_id, stats
      ORDER BY score DESC, tf.doc_id, tf.w
      LIMIT 20"""))

  /** Character-entropy quality filter — the cheap "is this text or
    * garbage" gate a corpus pipeline runs before any model-based
    * scoring: Shannon entropy (nats) of the per-doc character
    * distribution, keep = entropy ≥ 2.0 (natural-language prose sits
    * near ~2.9 nats/char; base64 blobs higher, repeated-char spam far
    * lower — the filter kills the degenerate tail). Entropy
    * −Σ (c/L)·ln(c/L) is computed from exact integer counts and
    * rounded to 4dp before the threshold compare so both engines
    * make the identical keep decision.
    *
    * Scale: since r13 the whole computation is the native row-local
    * `char_entropy` expression (graft.ext.CharEntropy) — zero explode,
    * zero shuffle, the corpus is scanned once and only
    * (doc_id, double) rows leave the stage. The plan it replaced
    * generated ONE ROW PER CHARACTER (sequence + substring explode,
    * ~100× row amplification carrying text through the Generate) and
    * shuffled (doc, char) count pairs: 192 s of sf10 task time for a
    * per-row statistic (StageProbe r13; 8.5 → ~1 s). The per-doc sum
    * order changes from shuffle-arrival to ascending code point —
    * both engines meet at the 4 dp output rounding, as before. */
  val entropyFilter = Op(
    "entropy_filter",
    (s, d) => Graft.entropyFilter(Tables(s, d, "documents"), "text", "doc_id"),
    Some("""
      WITH ch AS (
        SELECT doc_id, n_chars, substr(text, i, 1) AS ch
        FROM documents,
             UNNEST(generate_series(1, CAST(n_chars AS INT))) AS u(i)
        WHERE n_chars > 0),
      cc AS (
        SELECT doc_id, n_chars, ch, COUNT(*) AS c
        FROM ch GROUP BY 1, 2, 3),
      e AS (
        SELECT doc_id,
               ROUND(-SUM(c / n_chars * LN(c / n_chars)), 4) AS entropy
        FROM cc GROUP BY doc_id, n_chars)
      SELECT doc_id, entropy,
             CASE WHEN entropy >= 2.0 THEN 1 ELSE 0 END AS keep
      FROM e"""))

  /** Per-source out-of-vocabulary rate against a BUDGETED vocabulary
    * — the tokenizer-coverage diagnostic that decides a vocab size
    * ("does this budget cover src7, or does it need byte fallback for
    * half its tokens?"): vocab = the top-16 corpus tokens by
    * (count desc, token asc) over `vocab_build`'s n_occ ≥ 5 floor —
    * the budget is a parameter; 16 keeps the cut LIVE on the
    * synthetic fixture's 31-type vocabulary (a 1000-type budget
    * covers everything and the op degenerates to all-zero rates);
    * per source, the share of token OCCURRENCES outside that vocab.
    * The rank cut is `orderBy().limit(K)` — unlike `vocab_build`,
    * which needs a rank for EVERY token, this op needs only a bounded
    * top-K, and limit-K plans as distributed TakeOrderedAndProject
    * (per-partition heaps + one merge, no range shuffle, no global
    * sort) — the exact-rank kernel would double-sort the whole type
    * table to discard all but 16 rows.
    *
    * Scale shape: token counts and per-source cells are the
    * established (key, count) rollups with map-side partials; the
    * vocab is a budget-row broadcast; oov classification is a
    * broadcast left join + 0/1 sum — integer arithmetic end to end,
    * so the rate is an exact-integer quotient in both engines. */
  val oovRate = Op(
    "oov_rate",
    (s, d) => {
      val docs = Tables(s, d, "documents")
      val counts = docs
        .select(explode(split(col("text"), " ")).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("n_occ"))
        .filter(col("n_occ") >= 5)
      val vocab = counts
        .orderBy(col("n_occ").desc, col("w"))
        .limit(16)
        .select(col("w"), lit(1).as("in_vocab"))
      docs
        .select(col("source"), explode(split(col("text"), " ")).as("w"))
        .groupBy(col("source"), col("w"))
        .agg(count(lit(1)).as("tf"))
        .join(broadcast(vocab), Seq("w"), "left")
        .groupBy(col("source"))
        .agg(
          sum(col("tf")).as("n_tokens"),
          sum(when(col("in_vocab").isNull, col("tf")).otherwise(0L))
            .as("n_oov"))
        .select(col("source"), col("n_tokens"), col("n_oov"),
          round(col("n_oov") / col("n_tokens").cast("double"), 4)
            .as("oov_rate"))
    },
    Some("""
      WITH counts AS (
        SELECT w, COUNT(*) AS n_occ
        FROM (SELECT unnest(string_split(text, ' ')) AS w
              FROM documents)
        GROUP BY w
        HAVING COUNT(*) >= 5),
      vocab AS (
        SELECT w FROM (
          SELECT w, ROW_NUMBER() OVER (ORDER BY n_occ DESC, w) AS rnk
          FROM counts)
        WHERE rnk <= 16),
      cells AS (
        SELECT source, w, COUNT(*) AS tf
        FROM (SELECT source, unnest(string_split(text, ' ')) AS w
              FROM documents)
        GROUP BY source, w)
      SELECT c.source,
             CAST(SUM(tf) AS BIGINT) AS n_tokens,
             CAST(SUM(CASE WHEN v.w IS NULL THEN tf ELSE 0 END)
               AS BIGINT) AS n_oov,
             ROUND(CAST(SUM(CASE WHEN v.w IS NULL THEN tf ELSE 0 END)
                 AS BIGINT)
               / CAST(SUM(tf) AS DOUBLE), 4) AS oov_rate
      FROM cells c LEFT JOIN vocab v ON v.w = c.w
      GROUP BY c.source"""))

  override def ops: Seq[Op] = Seq(dedupExact, splitHash, textStats,
    tfidfTop, tokenCount, qualityScore, docFingerprint,
    winnowingFingerprint, dedupMinhash, vocabBuild, bm25Top,
    entropyFilter, oovRate)
}
