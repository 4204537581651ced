package graft.text

import graft.{Op, OpModule, Tables}
import graft.api.Graft
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data curation operators over the `documents` corpus
  * (SURVEY.md §2.11 north star: the LLM pre-training pipeline steps
  * that sit between raw crawl and tokenizer).
  *
  * Scale shapes, op by op:
  *  - `redact_terms`, `rep_ratio`: pure per-row regex / array
  *    expression work inside WholeStageCodegen — zero shuffles.
  *  - `sample_stratified`: per-row deterministic hash filter — zero
  *    shuffles; membership is a pure function of the id, so re-runs
  *    and incremental appends never resample (same property as
  *    `split_hash`).
  *  - `pack_sequences`: one shuffle on the stratum key; the running
  *    sum is windowed per stratum, never a global single-partition
  *    window.
  *  - `dedup_keep_best`: reuses the rare-gram candidate join +
  *    hash-to-min CC of `neardup_cluster`, then one window per
  *    cluster — all shuffles key-bounded.
  *  - `contamination`: the eval-benchmark gram set is tiny by
  *    construction (benchmarks are MBs, the crawl is TBs), so it is
  *    broadcast — the train side is never shuffled, only scanned.
  */
object CurationOps extends OpModule {

  /** Denylist scrubbing: regex term redaction + per-doc hit count —
    * the PII/denylist scrub shape (the pattern here is a vocabulary
    * denylist because the synthetic corpus has no emails/phones, but
    * the plan is byte-identical to a PII regex scrub: one codegen'd
    * regexp_replace + regexp_count per row, no shuffle). */
  val redactTerms = Op(
    "redact_terms",
    (s, d) =>
      Tables(s, d, "documents").select(
        col("doc_id"),
        regexp_count(col("text"), lit("""\b(customer|vector|key)\b"""))
          .as("n_hits"),
        regexp_replace(col("text"), """\b(customer|vector|key)\b""",
          "[REDACTED]").as("redacted")),
    Some("""
      SELECT doc_id,
             CAST(len(regexp_extract_all(text, '\b(customer|vector|key)\b'))
               AS INT) AS n_hits,
             regexp_replace(text, '\b(customer|vector|key)\b',
               '[REDACTED]', 'g') AS redacted
      FROM documents"""))

  /** Repetition ratios — the Gopher-style quality signals: fraction
    * of duplicated words, fraction of duplicated word-bigrams, and
    * top-single-word dominance. All per-row array expressions (the
    * top1 scan is O(types·tokens) per row, bounded by the ~100-token
    * docs; at 100 TB this stays embarrassingly parallel row work). */
  val repRatio = Op(
    "rep_ratio",
    (s, d) => {
      graft.ext.GraftFunctions.register(s)
      // one linear native pass (rep_stats) replaces the HOF chain
      // whose top1 term re-scanned the token array per distinct token
      // (quadratic per doc in interpreted lambdas); the ≥2-token
      // guard lives inside the generator, not in a pushdown-eligible
      // filter that would tokenize below the corpus-spread exchange
      // (both r13 lessons, SCALE.md)
      Tables(s, d, "documents")
        .select(col("doc_id"),
          expr("rep_stats(split(text, ' '))").as("rs"),
          explode(when(size(split(col("text"), " ")) >= 2,
            array(lit(1))).otherwise(expr("CAST(array() AS array<int>)")))
            .as("__keep"))
        .select(
          col("doc_id"),
          col("rs.n_tokens").as("n_tokens"),
          round(lit(1.0) - col("rs.n_distinct").cast("double")
            / col("rs.n_tokens"), 6).as("dup_word_ratio"),
          round(lit(1.0) - col("rs.n_bg_distinct").cast("double")
            / col("rs.n_bg"), 6).as("dup_bigram_ratio"),
          round(col("rs.top1").cast("double")
            / col("rs.n_tokens"), 6).as("top1_ratio"))
    },
    Some("""
      SELECT doc_id,
             CAST(len(toks) AS INT) AS n_tokens,
             ROUND(1.0 - CAST(len(list_distinct(toks)) AS DOUBLE)
                   / len(toks), 6) AS dup_word_ratio,
             ROUND(1.0 - CAST(len(list_distinct(bg)) AS DOUBLE)
                   / len(bg), 6) AS dup_bigram_ratio,
             ROUND(CAST(list_aggregate(
                     list_transform(list_distinct(toks),
                       w -> len(list_filter(toks, x -> x = w))),
                     'max') AS DOUBLE) / len(toks), 6) AS top1_ratio
      FROM (SELECT doc_id, toks,
                   [toks[i+1] || ' ' || toks[i+2]
                    FOR i IN range(0, len(toks) - 1)] AS bg
            FROM (SELECT doc_id, string_split(text, ' ') AS toks
                  FROM documents)
            WHERE len(toks) >= 2)"""))

  /** Deterministic per-stratum (language) sampling: keep a document
    * iff its Knuth-multiplicative hash bucket falls under the
    * stratum's rate — the corpus-rebalancing step (up/down-weighting
    * languages or sources). Pure per-row integer arithmetic, no RNG,
    * no shuffle; the same doc is kept on every re-run and backfill. */
  val sampleStratified = Op(
    "sample_stratified",
    (s, d) =>
      Tables(s, d, "documents")
        .withColumn("bucket",
          expr("pmod((doc_id % 100000) * 2654435761, 1000)"))
        .withColumn("rate",
          when(col("lang") === "en", 100)
            .when(col("lang") === "de", 300)
            .when(col("lang") === "es", 500)
            .when(col("lang") === "fr", 700)
            .otherwise(900))
        .filter(col("bucket") < col("rate"))
        .select(col("doc_id"), col("lang"), col("bucket")),
    Some("""
      SELECT doc_id, lang, bucket
      FROM (SELECT doc_id, lang,
                   ((doc_id % 100000) * 2654435761 % 1000 + 1000) % 1000 AS bucket
            FROM documents)
      WHERE bucket < CASE lang WHEN 'en' THEN 100 WHEN 'de' THEN 300
                               WHEN 'es' THEN 500 WHEN 'fr' THEN 700
                               ELSE 900 END"""))

  /** Sequence packing: assign documents to fixed-capacity token bins
    * (contiguous greedy fill in deterministic doc_id order) — the
    * pre-tokenization packing pass of a training pipeline. The
    * running sum is windowed per (lang, shard) stratum, where shard
    * is a deterministic hash bucket of the doc id: packing is
    * embarrassingly parallel across shards (a shard is the unit of
    * training-file layout), and the shard key is what keeps window
    * parallelism ∝ data size instead of ∝ the 5-language cardinality
    * — a lang-only partition would cap the whole 100 TB pass at 5
    * tasks. */
  val packSequences = Op(
    "pack_sequences",
    (s, d) => {
      val cap = 512
      val w = Window.partitionBy(col("lang"), col("shard"))
        .orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables(s, d, "documents")
        .withColumn("shard",
          expr("pmod((doc_id % 100000) * 2654435761, 16)"))
        .withColumn("n_tokens", size(split(col("text"), " ")))
        .withColumn("prefix",
          coalesce(sum(col("n_tokens")).over(w), lit(0L)))
        .withColumn("bin_id",
          floor(col("prefix").cast("double") / cap).cast("long"))
        .groupBy(col("lang"), col("shard"), col("bin_id"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).cast("long").as("tot_tokens"),
          min(col("doc_id")).as("first_doc"),
          max(col("doc_id")).as("last_doc"))
    },
    Some("""
      WITH t AS (
        SELECT lang, doc_id,
               ((doc_id % 100000) * 2654435761 % 16 + 16) % 16 AS shard,
               len(string_split(text, ' ')) AS n_tokens
        FROM documents),
      p AS (
        SELECT lang, shard, doc_id, n_tokens,
               COALESCE(SUM(n_tokens) OVER (
                 PARTITION BY lang, shard ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                 0) AS prefix
        FROM t)
      SELECT lang, shard,
             CAST(FLOOR(CAST(prefix AS DOUBLE) / 512) AS BIGINT) AS bin_id,
             COUNT(*) AS n_docs,
             CAST(SUM(n_tokens) AS BIGINT) AS tot_tokens,
             MIN(doc_id) AS first_doc,
             MAX(doc_id) AS last_doc
      FROM p GROUP BY 1, 2, 3"""))

  /** Near-dup retention policy: within each connected near-dup
    * cluster (same edge set + CC as `neardup_cluster`), keep the
    * highest-quality document (quality formula identical to
    * `quality_score`; ties broken by doc_id). This is the step a
    * dedup pipeline actually ships: not "find the pairs" but "decide
    * which copy survives". One extra window per cluster on top of the
    * CC labels — all shuffles stay key-bounded. */
  val dedupKeepBest = Op(
    "dedup_keep_best",
    (s, d) => {
      val pairs = SimilarityOps.jaccardPairs(s, d)
        .select(col("doc_a"), col("doc_b")).localCheckpoint()
      val cc = graft.ops.Graphs.connectedComponents(
        Tables(s, d, "documents"), "doc_id", pairs, "doc_a", "doc_b")
      // quality formula shared with quality_score — single source
      val q = TextOps.docQuality(s, d)
      val rk = row_number().over(
        Window.partitionBy(col("cluster_id"))
          .orderBy(col("quality").desc, col("doc_id")))
      cc.join(q, "doc_id")
        .withColumn("rk", rk)
        .groupBy(col("cluster_id"))
        .agg(
          count(lit(1)).as("n_members"),
          max(when(col("rk") === 1, col("doc_id"))).as("keep_id"),
          max(when(col("rk") === 1, col("quality"))).as("best_quality"))
    },
    Some(s"""
      WITH RECURSIVE pairs AS (${SimilarityOps.ngramJaccardSql}),
      und AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION ALL
        SELECT doc_b, doc_a FROM pairs),
      reach(a, b) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a),
      cc AS (SELECT a AS doc_id, MIN(b) AS cluster_id
             FROM reach GROUP BY a),
      q AS (
        SELECT doc_id, ${TextOps.qualityDuckExpr} AS quality
        FROM documents),
      ranked AS (
        SELECT cc.cluster_id, cc.doc_id, q.quality,
               ROW_NUMBER() OVER (PARTITION BY cc.cluster_id
                 ORDER BY q.quality DESC, cc.doc_id) AS rk
        FROM cc JOIN q USING (doc_id))
      SELECT cluster_id, COUNT(*) AS n_members,
             MAX(CASE WHEN rk = 1 THEN doc_id END) AS keep_id,
             MAX(CASE WHEN rk = 1 THEN quality END) AS best_quality
      FROM ranked GROUP BY cluster_id"""))

  /** Eval-set contamination check: which "train" documents share any
    * word 8-gram with the held-out "eval" slice (both slices cut by
    * the same deterministic hash as `split_hash`/`sample_stratified`).
    * 8-grams (not the dedup trigrams) because contamination wants
    * near-verbatim evidence, not topical similarity. The eval gram
    * set is benchmark-sized → broadcast; the train side is scanned
    * once and never shuffled on text bytes, only (doc_id, gram-hit)
    * pairs reach the final count.
    *
    * Scale guidance (measured, BENCH_CONTAM.json): this exact-overlap
    * reference implementation ties `contamination_bloom` at sf0.1 and
    * loses 1.9× at sf1 / 2.8× at sf10 — the broadcast variant always
    * joins the FULL corpus gram table while the bloom variant filters
    * it to the contaminated sliver first, and it additionally assumes
    * the eval gram set fits in executor memory. Start with
    * `contamination_bloom` at scale. */
  val contamination = Op(
    "contamination",
    (s, d) => {
      graft.ext.GraftFunctions.register(s)
      // grams via the native ngrams Generator: the token array is
      // evaluated ONCE per row. The transform(sequence(...),
      // concat_ws(toks[i]...)) formulation was observed to re-split
      // the text per gram element AND per inferred generator filter
      // after CollapseProject inlining — a >10x per-row blowup on the
      // hot path of this op (docs with < 8 tokens emit no grams from
      // the generator, matching the old size filter).
      // ngrams_distinct: the (doc_id, gram) key of the train side
      // only repeats within one doc, so its dedup happens in the
      // generator's per-row set and the data-sized distinct exchange
      // (the same 19.6 s-class stage GramProbe measured in
      // rareGramStats) never exists. Grams stay STRINGS — this op is
      // the exact-match reference; the eval side still needs its
      // cross-doc gram distinct, shrunk by the per-row pre-dedup.
      def grams(bucketPred: org.apache.spark.sql.Column) =
        Tables(s, d, "documents")
          .withColumn("bucket",
            expr("pmod((doc_id % 100000) * 2654435761, 1000)"))
          .filter(bucketPred)
          .withColumn("toks", split(col("text"), " "))
          .select(col("doc_id"), expr("ngrams_distinct(toks, 8)"))
      val trainG = grams(col("bucket") < 800)
        .select(col("doc_id"), col("ngram").as("g"))
      val evalG = grams(col("bucket") >= 900)
        .select(col("ngram").as("g")).distinct()
      trainG.join(broadcast(evalG), "g")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shared_grams"))
    },
    Some("""
      WITH g AS (
        SELECT doc_id,
               ((doc_id % 100000) * 2654435761 % 1000 + 1000) % 1000 AS bucket,
               unnest([toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]
                       || ' ' || toks[i+4] || ' ' || toks[i+5] || ' '
                       || toks[i+6] || ' ' || toks[i+7] || ' ' || toks[i+8]
                       FOR i IN range(0, len(toks) - 7)]) AS g
        FROM (SELECT doc_id, string_split(text, ' ') AS toks
              FROM documents)
        WHERE len(toks) >= 8),
      train AS (SELECT DISTINCT doc_id, g FROM g WHERE bucket < 800),
      evalg AS (SELECT DISTINCT g FROM g WHERE bucket >= 900)
      SELECT doc_id, COUNT(*) AS n_shared_grams
      FROM train JOIN evalg USING (g)
      GROUP BY doc_id"""))

  /** `contamination` rebuilt for the regime where the eval gram set
    * is NOT broadcastable (a many-benchmark suite against a full
    * crawl): Bloom-filter decontamination. The eval side's 8-gram
    * hashes build a fixed 128 KiB `bloom_agg`; the train side drops
    * non-colliding grams with the codegen'd `bloom_contains` probe
    * BEFORE the exact gram join, so only probable hits (true matches
    * + fpp) are ever shuffled. The exact join behind the filter makes
    * the answer identical to `contamination` — same oracle — at any
    * false-positive rate; the hash (xxhash64) never has to match the
    * oracle engine because it lives entirely inside the prefilter.
    * Measured crossover (BENCH_CONTAM.json): tied at sf0.1, 1.9×
    * faster at sf1, 2.8× at sf10 — the scale-path default. */
  val contaminationBloom = Op(
    "contamination_bloom",
    (s, d) => {
      graft.ext.GraftFunctions.register(s)
      // same ngrams_distinct gram production as `contamination`
      // (per-row dedup in the generator; no train-side distinct
      // exchange — see the notes there)
      def grams(bucketPred: org.apache.spark.sql.Column) =
        Tables(s, d, "documents")
          .withColumn("bucket",
            expr("pmod((doc_id % 100000) * 2654435761, 1000)"))
          .filter(bucketPred)
          .withColumn("toks", split(col("text"), " "))
          .select(col("doc_id"), expr("ngrams_distinct(toks, 8)"))
      grams(col("bucket") >= 900)
        .select(expr("xxhash64(ngram)").as("h"))
        .createOrReplaceTempView("contam_eval_hashes")
      grams(col("bucket") >= 900)
        .select(col("ngram").as("g")).distinct()
        .createOrReplaceTempView("contam_eval_grams")
      grams(col("bucket") < 800)
        .select(col("doc_id"), col("ngram").as("g"))
        .createOrReplaceTempView("contam_train_grams")
      s.sql("""
        SELECT t.doc_id, COUNT(*) AS n_shared_grams
        FROM contam_train_grams t
        JOIN contam_eval_grams e ON t.g = e.g
        WHERE bloom_contains(
                (SELECT bloom_agg(h) FROM contam_eval_hashes),
                xxhash64(t.g))
        GROUP BY t.doc_id""")
    },
    // identical to `contamination`'s oracle: the bloom is invisible
    Some("""
      WITH g AS (
        SELECT doc_id,
               ((doc_id % 100000) * 2654435761 % 1000 + 1000) % 1000 AS bucket,
               unnest([toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]
                       || ' ' || toks[i+4] || ' ' || toks[i+5] || ' '
                       || toks[i+6] || ' ' || toks[i+7] || ' ' || toks[i+8]
                       FOR i IN range(0, len(toks) - 7)]) AS g
        FROM (SELECT doc_id, string_split(text, ' ') AS toks
              FROM documents)
        WHERE len(toks) >= 8),
      train AS (SELECT DISTINCT doc_id, g FROM g WHERE bucket < 800),
      evalg AS (SELECT DISTINCT g FROM g WHERE bucket >= 900)
      SELECT doc_id, COUNT(*) AS n_shared_grams
      FROM train JOIN evalg USING (g)
      GROUP BY doc_id"""))

  /** Token-budget sampling: keep documents, in deterministic hash
    * order, until each (lang, shard) stratum hits its token quota —
    * corpus downsizing to a target token count rather than a rate
    * (`sample_stratified`) or a bin layout (`pack_sequences`). The
    * greedy fill is windowed per (lang, shard) like pack_sequences:
    * per-shard quotas keep window parallelism ∝ data, and a global
    * per-lang budget is just quota × shards. A doc is kept iff the
    * tokens BEFORE it in its stratum are under the quota (the
    * boundary doc is included — quotas are floors, not caps). */
  val sampleBudget = Op(
    "sample_budget",
    (s, d) => {
      val w = Window.partitionBy(col("lang"), col("shard"))
        .orderBy(col("bucket"), col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables(s, d, "documents")
        .withColumn("bucket",
          expr("pmod((doc_id % 100000) * 2654435761, 1000)"))
        .withColumn("shard",
          expr("pmod((doc_id % 100000) * 2654435761, 16)"))
        .withColumn("n_tokens", size(split(col("text"), " ")))
        .withColumn("quota",
          when(col("lang") === "en", 400).otherwise(800))
        .withColumn("prefix",
          coalesce(sum(col("n_tokens")).over(w), lit(0L)))
        .filter(col("prefix") < col("quota"))
        .select(col("doc_id"), col("lang"), col("shard"),
          col("n_tokens"), col("prefix"))
    },
    Some("""
      WITH t AS (
        SELECT doc_id, lang,
               ((doc_id % 100000) * 2654435761 % 1000 + 1000) % 1000 AS bucket,
               ((doc_id % 100000) * 2654435761 % 16 + 16) % 16 AS shard,
               len(string_split(text, ' ')) AS n_tokens,
               CASE WHEN lang = 'en' THEN 400 ELSE 800 END AS quota
        FROM documents),
      p AS (
        SELECT doc_id, lang, shard, n_tokens, quota,
               COALESCE(SUM(n_tokens) OVER (
                 PARTITION BY lang, shard ORDER BY bucket, doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                 0) AS prefix
        FROM t)
      SELECT doc_id, lang, shard, CAST(n_tokens AS INT) AS n_tokens,
             CAST(prefix AS BIGINT) AS prefix
      FROM p WHERE prefix < quota"""))

  /** Uniform corpus re-mixing: downsample every source to (about)
    * the smallest source's size — rates are COMPUTED from the data
    * (min_count/count per source), unlike `sample_stratified`'s
    * fixed rates. Membership is still a pure function of doc_id, so
    * re-runs and appends never flip a kept doc; the per-source counts
    * are a broadcast-sized side input. Output is the per-source
    * audit (total, target rate in ppm, kept). */
  val mixUniform = Op(
    "mix_uniform",
    (s, d) => {
      val docs = Tables(s, d, "documents")
        .withColumn("bucket",
          expr("pmod((doc_id % 100000) * 2654435761, 1000000)"))
      val counts = docs.groupBy(col("source"))
        .agg(count(lit(1)).as("n_src"))
      val minCnt = counts.agg(min(col("n_src")).as("min_cnt"))
      docs
        .join(broadcast(counts), "source")
        .crossJoin(broadcast(minCnt))
        .withColumn("rate_ppm",
          floor(col("min_cnt") * lit(1000000.0) / col("n_src"))
            .cast("long"))
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          max(col("rate_ppm")).as("rate_ppm"),
          sum(when(col("bucket") < col("rate_ppm"), 1L).otherwise(0L))
            .cast("long").as("n_kept"))
    },
    Some("""
      WITH b AS (
        SELECT source,
               ((doc_id % 100000) * 2654435761 % 1000000 + 1000000) % 1000000 AS bucket
        FROM documents),
      counts AS (SELECT source, COUNT(*) AS n_src FROM b GROUP BY source),
      m AS (SELECT MIN(n_src) AS min_cnt FROM counts)
      SELECT b.source, COUNT(*) AS n_docs,
             MAX(CAST(FLOOR(min_cnt * 1000000.0 / n_src) AS BIGINT))
               AS rate_ppm,
             CAST(SUM(CASE WHEN bucket <
               CAST(FLOOR(min_cnt * 1000000.0 / n_src) AS BIGINT)
               THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
      FROM b JOIN counts USING (source), m
      GROUP BY b.source"""))

  /** Per-source document cap (the "domain cap" of web-curation
    * pipelines à la CCNet/RefinedWeb: no single domain may contribute
    * more than K documents): keep each source's top-20 docs by
    * (n_chars DESC, doc_id) — a deterministic best-first preference.
    * Expressed as the `row_number() <= K` idiom, which
    * GraftExtensions rewrites to the bounded-heap TopKPerKey physical
    * operator (plans/TopKPerKey.scala): per-input-partition heaps
    * hold at most K rows per source, so the exchange carries
    * O(K · #sources · #partitions) rows — never the full-corpus
    * per-source sort a stock Window pays. On a session without the
    * extension the same plan runs through the stock Window,
    * bit-identically. */
  val domainCap = Op(
    "domain_cap",
    (s, d) => {
      val w = Window.partitionBy(col("source"))
        .orderBy(col("n_chars").desc, col("doc_id"))
      Tables(s, d, "documents")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 20)
        .select(col("doc_id"), col("source"), col("n_chars"), col("rn"))
    },
    Some("""
      SELECT doc_id, source, n_chars, rn FROM (
        SELECT doc_id, source, n_chars,
               CAST(ROW_NUMBER() OVER (PARTITION BY source
                 ORDER BY n_chars DESC, doc_id) AS INT) AS rn
        FROM documents)
      WHERE rn <= 20"""))

  /** Temperature-scaled source mixing (the multinomial α-sampling of
    * multilingual/multi-source pre-training, α = 0.5: sample source s
    * with probability ∝ (n_s)^α, boosting small sources relative to
    * their natural share). A 300-doc budget is split into per-source
    * quotas ∝ floor(√n_s · 1000) in EXACT integer arithmetic (the
    * only irrational, √n_s, is floored per source before any
    * cross-source sum, so engine summation order can't flip a
    * boundary), then each quota becomes a ppm rate on the same
    * deterministic Knuth bucket as `mix_uniform` — membership stays a
    * pure function of doc_id (appends/re-runs never flip a kept doc).
    * Output is the per-source audit. Scale: per-source counts are a
    * broadcast-sized side input; selection is a per-row filter with
    * zero extra shuffles. */
  val mixTemperature = Op(
    "mix_temperature",
    (s, d) => {
      val docs = Tables(s, d, "documents")
        .withColumn("bucket",
          expr("pmod((doc_id % 100000) * 2654435761, 1000000)"))
      val counts = docs.groupBy(col("source"))
        .agg(count(lit(1)).as("n_src"))
        .withColumn("w", floor(sqrt(col("n_src")) * 1000).cast("long"))
      val totW = counts.agg(sum(col("w")).as("tot_w"))
      docs
        .join(broadcast(counts), "source")
        .crossJoin(broadcast(totW))
        // every nonzero source keeps a quota of at least 1: α < 1
        // exists to BOOST small sources, so the integer floor must
        // not silently drop one (total exceeds the budget by ≤ 1 row
        // per floored-to-zero source — the documented trade)
        .withColumn("quota",
          expr("CAST(greatest(1L, (300 * w) div tot_w) AS BIGINT)"))
        .withColumn("rate_ppm",
          least(lit(1000000L),
            expr("CAST((quota * 1000000) div n_src AS BIGINT)")))
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          max(col("quota")).as("quota"),
          max(col("rate_ppm")).as("rate_ppm"),
          sum(when(col("bucket") < col("rate_ppm"), 1L).otherwise(0L))
            .cast("long").as("n_kept"))
    },
    Some("""
      WITH b AS (
        SELECT source,
               ((doc_id % 100000) * 2654435761 % 1000000 + 1000000)
                 % 1000000 AS bucket
        FROM documents),
      counts AS (
        SELECT source, COUNT(*) AS n_src,
               CAST(FLOOR(SQRT(n_src) * 1000) AS BIGINT) AS w
        FROM b GROUP BY source),
      t AS (SELECT SUM(w) AS tot_w FROM counts),
      q AS (
        SELECT source, n_src,
               CAST(GREATEST(1, (300 * w) // tot_w) AS BIGINT) AS quota,
               CAST(LEAST(1000000,
                 (GREATEST(1, (300 * w) // tot_w) * 1000000) // n_src)
                 AS BIGINT) AS rate_ppm
        FROM counts, t)
      SELECT b.source, COUNT(*) AS n_docs,
             MAX(quota) AS quota, MAX(rate_ppm) AS rate_ppm,
             CAST(SUM(CASE WHEN bucket < rate_ppm THEN 1 ELSE 0 END)
               AS BIGINT) AS n_kept
      FROM b JOIN q USING (source)
      GROUP BY b.source"""))

  /** Deterministic training-order resharding (the "global shuffle"
    * every epoch pipeline needs before writing tokenized shards):
    * shard = Knuth bucket of doc_id (8 shards), position within the
    * shard = rank under a SECOND independent multiplicative hash
    * (Murmur's 1540483477 constant) — so the write order is
    * pseudo-random but a pure function of doc_id: reproducible across
    * re-runs, stable under appends of new ids, and auditable (this
    * output IS the audit). Scale: one exchange on the shard key, then
    * per-shard sorts in parallel; at 100 TB you run thousands of
    * shards (#shards ≈ #output files, parallelism = #shards) and
    * write with repartitionByRange(shard, ord) +
    * sortWithinPartitions — the 8-shard form here keeps the oracle
    * small, the plan shape is identical. */
  val shuffleShard = Op(
    "shuffle_shard",
    (s, d) => {
      val w = Window.partitionBy(col("shard"))
        .orderBy(col("ord"), col("doc_id"))
      Tables(s, d, "documents")
        .withColumn("shard",
          expr("CAST(pmod((doc_id % 100000) * 2654435761, 8) AS INT)"))
        .withColumn("ord",
          expr("pmod((doc_id % 100000) * 1540483477, 1000000)"))
        .withColumn("pos", row_number().over(w))
        .select(col("shard"), col("pos"), col("doc_id"), col("ord"))
    },
    Some("""
      SELECT shard, pos, doc_id, ord FROM (
        SELECT shard, doc_id, ord,
               CAST(ROW_NUMBER() OVER (PARTITION BY shard
                 ORDER BY ord, doc_id) AS INT) AS pos
        FROM (
          SELECT doc_id,
                 CAST(((doc_id % 100000) * 2654435761 % 8 + 8) % 8
                   AS INT) AS shard,
                 ((doc_id % 100000) * 1540483477 % 1000000 + 1000000)
                   % 1000000 AS ord
          FROM documents))"""))

  /** DSIR-style importance weighting (cf. Xie et al. 2023, "Data
    * Selection for Language Models via Importance Resampling"): score
    * every document by how target-like its word-bigram distribution
    * is. The target slice is hash-held-out (the `split_hash` Knuth
    * bucket < 10 — a pure function of doc_id, so the weights are
    * reproducible across re-runs/appends); the weight is the per-doc
    * mean add-one-smoothed log-likelihood ratio
    * ln((tgt_c+1)/(T+V)) − ln((all_c+1)/(N+V)) over the doc's bigram
    * instances. Downstream, `sample_budget`-style selection keeps
    * the top-weight tail — importance resampling without training a
    * model.
    *
    * Scale: bigram generation is positional per-row work (no
    * position join); the (bigram, counts) table shuffles once on the
    * skinny gram key with map-side combine, the 3 scalar totals
    * broadcast, and the per-doc rollup shuffles (doc_id, 2 cols).
    * Corpus text is read once and never re-shuffled. The bigram
    * shuffles/joins as `xxhash64(bigram)` — an 8-byte long, not the
    * string; equality is all the count rollup and scoring join need,
    * no gram reaches the output, and a 64-bit collision (birthday
    * ≈3e-2 at 10⁹ distinct grams) merely merges two smoothed count
    * cells (see SimilarityOps.rareGramStats for the same design).
    *
    * Negative result (measured, kept for the record): forcing the
    * scoring join to shuffle-hash with `cnt` as build
    * (`cnt.hint("shuffle_hash")`) — on the theory that at 100 TB
    * neither side broadcasts and the dictionary is the right build
    * side — measured SLOWER at sf10 (17.6 s vs 13.9 s in-set). The
    * unhinted plan is left to AQE, which picks the build side from
    * runtime shuffle sizes, not the Generate stage's under-estimated
    * static stats; at corpus scale the vocab-sized `cnt` is the
    * smaller runtime side and AQE selects it without the hint. */
  val dsirWeights = Op(
    "dsir_weights",
    (s, d) =>
      Graft.importanceWeights(Tables(s, d, "documents"), "text", "doc_id",
        expr("pmod((doc_id % 100000) * 2654435761, 100) < 10")),
    Some("""
      WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks,
               CASE WHEN ((doc_id % 100000) * 2654435761 % 100 + 100) % 100 < 10
                    THEN 1 ELSE 0 END AS is_tgt
        FROM documents),
      bg AS (
        SELECT doc_id, is_tgt, toks[i] || ' ' || toks[i + 1] AS g
        FROM t, UNNEST(generate_series(1, len(toks) - 1)) AS u(i)
        WHERE len(toks) >= 2),
      cnt AS (
        SELECT g, COUNT(*) AS all_c, CAST(SUM(is_tgt) AS BIGINT) AS tgt_c
        FROM bg GROUP BY g),
      tot AS (
        SELECT COUNT(*) AS tn, CAST(SUM(is_tgt) AS BIGINT) AS tt,
               COUNT(DISTINCT g) AS tv
        FROM bg)
      SELECT doc_id, COUNT(*) AS n_bigrams,
             ROUND(AVG(LN((tgt_c + 1.0) / (tt + tv))
                     - LN((all_c + 1.0) / (tn + tv))), 4) AS dsir_w
      FROM bg JOIN cnt USING (g), tot
      GROUP BY doc_id"""))

  /** Per-source unigram KL divergence vs the corpus mixture —
    * KL(P_source ‖ P_corpus) = Σ_w p_s(w)·ln(p_s(w)/p(w)) — the
    * domain-shift diagnostic read BEFORE choosing `mix_uniform` /
    * `mix_temperature` weights: a source whose KL ≈ 0 is
    * distributionally redundant with the mixture; a high-KL source is
    * the one temperature-flattening would starve. No smoothing needed:
    * every source vocabulary is a subset of the corpus vocabulary, so
    * p(w) > 0 wherever p_s(w) > 0 and every term is finite.
    *
    * Scale shape: tokens shuffle ONCE as xxhash64 longs into the
    * (source, token) count table, which is dictionary-sized
    * (|sources|·|vocab|) and `localCheckpoint`ed for its three
    * consumers (source totals, corpus rollup, scoring) — without the
    * materialization each consumer would re-tokenize the corpus. The
    * corpus-count and per-source-total sides broadcast; the KL sum is
    * a vocabulary-sized aggregation per source. */
  val klSourceDivergence = Op(
    "kl_source_divergence",
    (s, d) => {
      val cnt = Tables(s, d, "documents")
        .select(col("source"), explode(split(col("text"), " ")).as("w"))
        .select(col("source"), xxhash64(col("w")).as("g"))
        .groupBy(col("source"), col("g"))
        .agg(count(lit(1)).as("sc"))
        .localCheckpoint()
      val stot = cnt.groupBy(col("source")).agg(sum(col("sc")).as("sn"))
      val corpus = cnt.groupBy(col("g")).agg(sum(col("sc")).as("cc"))
      val ctot = stot.agg(sum(col("sn")).as("cn"))
      cnt
        .join(broadcast(corpus), "g")
        .join(broadcast(stot), "source")
        .crossJoin(broadcast(ctot))
        .withColumn("term",
          (col("sc") * lit(1.0) / col("sn")) *
            log((col("sc") * lit(1.0) / col("sn")) /
              (col("cc") * lit(1.0) / col("cn"))))
        .groupBy(col("source"), col("sn"))
        .agg(count(lit(1)).as("n_types"),
          round(sum(col("term")), 6).as("kl"))
        .select(col("source"), col("sn").as("n_tokens"),
          col("n_types"), col("kl"))
    },
    Some("""
      WITH toks AS (
        SELECT source, unnest(string_split(text, ' ')) AS w
        FROM documents),
      cnt AS (
        SELECT source, w, COUNT(*) AS sc FROM toks GROUP BY source, w),
      stot AS (
        SELECT source, CAST(SUM(sc) AS BIGINT) AS sn
        FROM cnt GROUP BY source),
      corpus AS (
        SELECT w, CAST(SUM(sc) AS BIGINT) AS cc FROM cnt GROUP BY w),
      ctot AS (SELECT CAST(SUM(sn) AS BIGINT) AS cn FROM stot)
      SELECT c.source, sn AS n_tokens, COUNT(*) AS n_types,
             ROUND(SUM((sc * 1.0 / sn)
                       * LN((sc * 1.0 / sn) / (cc * 1.0 / cn))), 6)
               AS kl
      FROM cnt c JOIN corpus USING (w) JOIN stot USING (source), ctot
      GROUP BY c.source, sn"""))

  /** The gopher quality-signal chain — ONE definition for its three
    * consumers (`gopher_filter`, `curation_funnel`, `dataset_card`;
    * CurationSpec reconciles them, this helper makes the
    * reconciliation structural): adds toks / rs / n / n_stop / mwl,
    * the five per-rule flags, and the conjunction `keep_q`. Callers
    * must have registered GraftFunctions (for `rep_stats`). */
  private[graft] def qualitySignals(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs
      .withColumn("toks", split(col("text"), " "))
      .withColumn("rs", expr("rep_stats(toks)"))
      .withColumn("n", col("rs.n_tokens"))
      .withColumn("n_stop",
        (col("n") - size(array_remove(col("toks"), "the"))) +
          (col("n") - size(array_remove(col("toks"), "a"))))
      .withColumn("mwl",
        (col("n_chars") - (col("n") - lit(1))).cast("double") / col("n"))
      .withColumn("r_len", col("n").between(20, 90))
      .withColumn("r_wordlen", col("mwl") >= 4.0 && col("mwl") <= 5.0)
      .withColumn("r_stop",
        col("n_stop").cast("double") / col("n") >= 0.02)
      .withColumn("r_dom",
        col("rs.top1").cast("double") / col("n") <= 0.12)
      .withColumn("r_distinct",
        col("rs.n_distinct").cast("double") / col("n") >= 0.4)
      .withColumn("keep_q",
        col("r_len") && col("r_wordlen") && col("r_stop") &&
          col("r_dom") && col("r_distinct"))

  /** Gopher-style quality-rule battery (Rae et al. 2021, "Scaling
    * Language Models: … Gopher", §A.1.1 — public paper): unlike
    * `quality_score`'s single blended score, each document gets a
    * per-rule pass/fail flag (length band, mean-word-length band,
    * stopword floor, top-word dominance cap, distinct-token floor)
    * plus the conjunction `keep` — the per-rule attribution is what a
    * curation run actually reports ("which rule killed how much of
    * the crawl"). Thresholds are tuned to the synthetic corpus so
    * every rule both passes and fails real rows at the gate SFs.
    *
    * Scale shape: ONE codegen'd row-local pass — token counts,
    * distinct count and top-word frequency from the linear native
    * `rep_stats` kernel (the r13 lesson: never the quadratic HOF
    * top1), stopword counts from two codegen'd `array_remove` size
    * deltas, mean word length from arithmetic on `n_chars`. Zero
    * shuffles, zero joins; at 100 TB the op is scan-bound and
    * embarrassingly parallel, exactly like the production filter
    * it models. */
  val gopherFilter = Op(
    "gopher_filter",
    (s, d) => {
      graft.ext.GraftFunctions.register(s)
      qualitySignals(Tables(s, d, "documents"))
        .select(col("doc_id"), col("n").as("n_tokens"),
          col("r_len"), col("r_wordlen"), col("r_stop"), col("r_dom"),
          col("r_distinct"), col("keep_q").as("keep"))
    },
    Some("""
      WITH t AS (
        SELECT doc_id, n_chars, string_split(text, ' ') AS toks
        FROM documents),
      s AS (
        SELECT doc_id,
               CAST(len(toks) AS INT) AS n,
               CAST(len(list_distinct(toks)) AS INT) AS nd,
               CAST(list_aggregate(
                 list_transform(list_distinct(toks),
                   w -> len(list_filter(toks, x -> x = w))),
                 'max') AS INT) AS top1,
               CAST(len(list_filter(toks, x -> x = 'the' OR x = 'a'))
                 AS INT) AS n_stop,
               CAST(n_chars - (len(toks) - 1) AS DOUBLE) / len(toks)
                 AS mwl
        FROM t)
      SELECT doc_id, n AS n_tokens,
             (n BETWEEN 20 AND 90) AS r_len,
             (mwl >= 4.0 AND mwl <= 5.0) AS r_wordlen,
             (CAST(n_stop AS DOUBLE) / n >= 0.02) AS r_stop,
             (CAST(top1 AS DOUBLE) / n <= 0.12) AS r_dom,
             (CAST(nd AS DOUBLE) / n >= 0.4) AS r_distinct,
             ((n BETWEEN 20 AND 90) AND (mwl >= 4.0 AND mwl <= 5.0)
              AND (CAST(n_stop AS DOUBLE) / n >= 0.02)
              AND (CAST(top1 AS DOUBLE) / n <= 0.12)
              AND (CAST(nd AS DOUBLE) / n >= 0.4)) AS keep
      FROM s"""))

  /** Per-rule ablation of the gopher battery — the diagnostic a
    * curation run reads BEFORE tuning thresholds: for each rule,
    * how many docs fail it at all (n_fail), how many fail ONLY it
    * (n_only — the docs that single rule costs the corpus: relax it
    * and exactly these come back), and the tokens those marginal
    * docs carry. A rule with large n_fail but tiny n_only is
    * redundant with the rest of the battery; a rule owning most of
    * its failures alone is the one to re-examine.
    *
    * Scale: one row-local battery pass (the shared `qualitySignals`
    * kernel — native rep_stats, no shuffle), a 5-way per-row explode
    * of (rule, pass) structs, then a 5-key rollup with map-side
    * partials. One corpus scan, constant-sized output, at any SF. */
  val gopherAblation = Op(
    "gopher_ablation",
    (s, d) => {
      graft.ext.GraftFunctions.register(s)
      val rules = Seq("len" -> "r_len", "wordlen" -> "r_wordlen",
        "stop" -> "r_stop", "dom" -> "r_dom",
        "distinct" -> "r_distinct")
      val sig = qualitySignals(Tables(s, d, "documents"))
        .withColumn("n_fails",
          rules.map { case (_, c) =>
            when(col(c), 0).otherwise(1)
          }.reduce(_ + _))
      sig
        .select(col("n"), col("n_fails"),
          explode(array(rules.map { case (name, c) =>
            struct(lit(name).as("rule"), col(c).as("pass"))
          }: _*)).as("x"))
        .groupBy(col("x.rule").as("rule"))
        .agg(
          sum(when(!col("x.pass"), 1L).otherwise(0L)).as("n_fail"),
          sum(when(!col("x.pass") && col("n_fails") === 1, 1L)
            .otherwise(0L)).as("n_only"),
          coalesce(sum(when(!col("x.pass") && col("n_fails") === 1,
            col("n").cast("long")).otherwise(0L)), lit(0L))
            .as("tokens_only"))
    },
    Some("""
      WITH t AS (
        SELECT doc_id, n_chars, string_split(text, ' ') AS toks
        FROM documents),
      s AS (
        SELECT doc_id,
               CAST(len(toks) AS INT) AS n,
               CAST(len(list_distinct(toks)) AS INT) AS nd,
               CAST(list_aggregate(
                 list_transform(list_distinct(toks),
                   w -> len(list_filter(toks, x -> x = w))),
                 'max') AS INT) AS top1,
               CAST(len(list_filter(toks, x -> x = 'the' OR x = 'a'))
                 AS INT) AS n_stop,
               CAST(n_chars - (len(toks) - 1) AS DOUBLE) / len(toks)
                 AS mwl
        FROM t),
      r AS (
        SELECT n,
               (n BETWEEN 20 AND 90) AS r_len,
               (mwl >= 4.0 AND mwl <= 5.0) AS r_wordlen,
               (CAST(n_stop AS DOUBLE) / n >= 0.02) AS r_stop,
               (CAST(top1 AS DOUBLE) / n <= 0.12) AS r_dom,
               (CAST(nd AS DOUBLE) / n >= 0.4) AS r_distinct
        FROM s),
      f AS (
        SELECT n, r_len, r_wordlen, r_stop, r_dom, r_distinct,
               (CASE WHEN r_len THEN 0 ELSE 1 END +
                CASE WHEN r_wordlen THEN 0 ELSE 1 END +
                CASE WHEN r_stop THEN 0 ELSE 1 END +
                CASE WHEN r_dom THEN 0 ELSE 1 END +
                CASE WHEN r_distinct THEN 0 ELSE 1 END) AS n_fails
        FROM r),
      x AS (
        SELECT 'len' AS rule, r_len AS pass, n, n_fails FROM f
        UNION ALL
        SELECT 'wordlen', r_wordlen, n, n_fails FROM f
        UNION ALL
        SELECT 'stop', r_stop, n, n_fails FROM f
        UNION ALL
        SELECT 'dom', r_dom, n, n_fails FROM f
        UNION ALL
        SELECT 'distinct', r_distinct, n, n_fails FROM f)
      SELECT rule,
             CAST(SUM(CASE WHEN NOT pass THEN 1 ELSE 0 END) AS BIGINT)
               AS n_fail,
             CAST(SUM(CASE WHEN NOT pass AND n_fails = 1
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_only,
             CAST(COALESCE(SUM(CASE WHEN NOT pass AND n_fails = 1
                                    THEN n ELSE 0 END), 0) AS BIGINT)
               AS tokens_only
      FROM x GROUP BY rule"""))

  /** Epoch planning for a temperature-weighted source mixture — the
    * "how many repeats of each source hit the token budget" calc
    * every pre-training data plan starts from (the τ-weighting is
    * `mix_temperature`'s exponent family; this op outputs the PLAN
    * rather than sampling rows): per-source token counts c_s, τ=0.5
    * weights w_s ∝ √c_s, budget B = 2·Σc, target tokens B·w_s and
    * epochs (repeat factor) B·w_s/c_s — small sources repeat more,
    * the classic up-weighting trade-off made explicit.
    *
    * Cross-engine determinism: √c_s is quantized to an integer at 4dp
    * (`round(sqrt·10⁴) → long`) so the weight denominator is an EXACT
    * integer sum — float sums over per-source doubles would be
    * order-sensitive and could differ between engines in the last
    * ulp; integer sums cannot. All downstream arithmetic is then
    * identical IEEE double ops on identical operands.
    *
    * Scale shape: one map-side-combined rollup keyed by source (20
    * keys — partial aggregation makes the shuffle bytes, not rows),
    * a 1-row total broadcast back, output O(sources). One pass over
    * the corpus at any SF. */
  val epochPlan = Op(
    "epoch_plan",
    (s, d) => {
      val per = Tables(s, d, "documents")
        .groupBy(col("source"))
        .agg(sum(size(split(col("text"), " "))).as("n_tokens"))
        .withColumn("sq",
          round(sqrt(col("n_tokens").cast("double")) * 10000)
            .cast("long"))
      val tot = per.agg(sum(col("sq")).as("den"),
        sum(col("n_tokens")).as("corpus"))
      per.crossJoin(broadcast(tot))
        .select(
          col("source"),
          col("n_tokens"),
          round(col("sq").cast("double") / col("den"), 6).as("weight"),
          round(lit(2.0) * col("corpus") * col("sq") / col("den"), 2)
            .as("target_tokens"),
          round(lit(2.0) * col("corpus") * col("sq") /
            (col("den") * col("n_tokens")), 4).as("epochs"))
    },
    Some("""
      WITH per AS (
        SELECT source,
               CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
                 AS n_tokens
        FROM documents GROUP BY source),
      per2 AS (
        SELECT source, n_tokens,
               CAST(ROUND(sqrt(CAST(n_tokens AS DOUBLE)) * 10000)
                 AS BIGINT) AS sq
        FROM per),
      tot AS (
        SELECT CAST(SUM(sq) AS BIGINT) AS den,
               CAST(SUM(n_tokens) AS BIGINT) AS corpus
        FROM per2)
      SELECT source, n_tokens,
             ROUND(CAST(sq AS DOUBLE) / den, 6) AS weight,
             ROUND(2.0 * corpus * sq / den, 2) AS target_tokens,
             ROUND(2.0 * corpus * sq / (den * n_tokens), 4) AS epochs
      FROM per2, tot"""))

  /** The exact-dedup index rollup — `dedup_append`'s kernel, shared
    * with the streaming ingest (StreamOps.dedupIndexMerge) so the
    * streamed index cannot drift from the batch op it is documented
    * to equal: (md5 → keeper = min doc_id, n = count), partitioned by
    * the hash's first hex char. */
  private[graft] def dedupIndexRollup(
      dd: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    dedupIndexRollupHashed(dedupHashRows(dd))

  /** The rollup's map side alone — per-doc (doc_id, h) rows. Split
    * out so `dedup_append` can hash the corpus ONCE and roll up the
    * base and batch slices from the same checkpointed rows. */
  private[graft] def dedupHashRows(
      dd: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    dd.select(col("doc_id"), md5(col("text")).as("h"))

  /** The rollup's reduce side over pre-hashed rows. */
  private[graft] def dedupIndexRollupHashed(
      hr: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    hr.groupBy(col("h"))
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n"))
      .withColumn("hp", substring(col("h"), 1, 1))

  /** Merge a rolled-up batch into the previous index contents:
    * keeper = least, n = sum — associative, so ANY batch slicing
    * yields the one-shot index. Emits only touched-partition rows
    * (the `commitPartitions` contract). `batch` is consumed twice
    * (touched-partition semi + merge) — callers materialize it. */
  private[graft] def dedupIndexMergeFrames(
      prev: org.apache.spark.sql.DataFrame,
      batch: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val touched = batch.select(col("hp")).distinct()
    prev
      .join(broadcast(touched), Seq("hp"), "left_semi")
      .select(col("hp"), col("h"), col("keeper").as("p_keeper"),
        col("n").as("p_n"))
      .join(batch.select(col("hp"), col("h"),
        col("keeper").as("b_keeper"), col("n").as("b_n")),
        Seq("hp", "h"), "full_outer")
      .select(col("hp"), col("h"),
        least(col("p_keeper"), col("b_keeper")).as("keeper"),
        (coalesce(col("p_n"), lit(0L)) +
          coalesce(col("b_n"), lit(0L))).as("n"))
  }

  /** The PERSISTED exact-dedup index with incremental ingest — how a
    * rolling-crawl dedup actually lives at 100 TB: the index is a
    * snapshot table of (content hash → keeper doc, group count),
    * hive-partitioned by hash prefix, built once from the base corpus
    * (`commitPartitioned`) and maintained by MERGING each ingest
    * batch's rolled-up hashes into it (`commitPartitions`) — keeper =
    * least(old, new), count = sum. Only the partitions that received
    * batch hashes rewrite (write amplification O(touched)·index/16,
    * never O(corpus)); no document text is ever stored or re-read on
    * the ingest path, the index rows are ~50 B each regardless of doc
    * size. The batch is the 10 NEWEST doc_ids — a bounded ingest
    * tick, so touched partitions ≤ 10 of 16 at every SF. Because the
    * merge is associative (min and + over disjoint doc sets), the
    * merged index is row-identical to hashing the full corpus at once
    * — which is what the oracle computes — so any hash lost,
    * double-counted, or mis-kept by the incremental path
    * hash-mismatches. Output = the ENTIRE merged index (singletons
    * included): every (hash, keeper, count) row must equal the
    * one-shot build — stronger than reporting only dup groups, and
    * non-empty at every SF (the fixtures below sf0.1 contain no exact
    * clones, so a dup-only report would gate on empty-vs-empty). */
  val dedupAppend = Op(
    "dedup_append",
    (s, d) => {
      import graft.sources.Snapshots
      val docs = Tables(s, d, "documents")
      val base = Snapshots.freshTmpBase(s, "cur_dedup_append", d)
      // ONE md5 pass over the corpus text, checkpointed as skinny
      // (doc_id, h) rows, then base and batch ROLL UP SEPARATELY
      // from those rows (the within-batch rollup + merge semantics
      // are unchanged — hashes are per-doc pure, only the text scan
      // is shared; the r18 shape re-read the full documents table
      // once per slice, the r19 duplicate-pass finding)
      val mxRow = docs.agg(max(col("doc_id"))).head
      val mxd: Long = if (mxRow.isNullAt(0)) 0L else mxRow.getLong(0)
      // size-gated (guide §5, VERDICT r19 #4): see graft.Ckpt
      val hrows = graft.Ckpt.boundedLocal(dedupHashRows(docs),
        "dedup_append hash rows") // consumers: base rollup, batch rollup, guard
      // ingest tick: the 10 newest docs, rolled up within-batch, then
      // merged into ONLY the touched hash-prefix partitions
      val batch = dedupIndexRollupHashed(
        hrows.filter(col("doc_id") > mxd - 10))
        .localCheckpoint() // 2 consumers: touched-partition semi + merge
      val v =
        // base emptiness is a filter over the checkpointed hash rows
        if (hrows.filter(col("doc_id") <= mxd - 10).isEmpty) {
          // corpus no larger than the ingest batch: the batch IS the
          // corpus — seed with it (hashes are per-doc pure functions,
          // so the batch-only index is exactly the one-shot build)
          // instead of tripping the empty-commit guard. An entirely
          // EMPTY corpus has no batch either: fail loudly with the
          // actual problem, not the commit guard's message (the
          // ivf_append/semdedup_append pattern).
          require(!batch.isEmpty,
            "dedup_append needs at least one document — the corpus " +
              "is empty, there is nothing to index")
          Snapshots.commitPartitioned(
            batch.repartition(col("hp")), base, "hp")
        } else {
          // clustered commits: one file per hp dir per version (the
          // minhash_append / streaming-tick doctrine — unclustered,
          // partitionBy fans out #tasks files per dir)
          val v1 = Snapshots.commitPartitioned(
            dedupIndexRollupHashed(
              hrows.filter(col("doc_id") <= mxd - 10))
              .repartition(col("hp")),
            base, "hp")
          Snapshots.commitPartitions(
            dedupIndexMergeFrames(Snapshots.readAsOf(s, base, v1), batch)
              .repartition(col("hp")),
            base, "hp")
        }
      // the merged index itself — row-identical to the one-shot build
      Snapshots.readAsOf(s, base, v)
        .select(col("h"), col("keeper"), col("n").cast("long").as("n"))
    },
    Some("""
      SELECT md5(text) AS h, MIN(doc_id) AS keeper,
             COUNT(*) AS n
      FROM documents
      GROUP BY 1"""))

  /** Exact-dedup keepers of a (doc_id, text, …) frame: the rows
    * whose doc_id is their md5-group minimum — `dedup_exact`'s keeper
    * rule, for `Graft.curate` (whose docs promise exact
    * reconciliation). `curation_funnel` applies the same rule inline
    * over its checkpointed hashes, so it never re-reads text. */
  private[graft] def exactKeepers(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs.join(
      docs.groupBy(md5(col("text")).as("_h"))
        .agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id")),
      Seq("doc_id"), "left_semi")

  /** Near-dup survivors: drop any doc with a LOWER-id minhash partner
    * at jaccard ≥ `threshold` (the EXISTS-lower-id rule over the
    * `minhash_det` band→verify kernel), for `Graft.curate`.
    * `curation_funnel` applies the same rule inline to its skinny
    * exact-dedup survivors, joined against a re-read of their text. */
  private[graft] def nearDupSurvivors(
      docs: org.apache.spark.sql.DataFrame, threshold: Double)
      : org.apache.spark.sql.DataFrame =
    docs.join(
      SimilarityOps
        .minhashDetPairs(docs.select(col("doc_id"), col("text")),
          threshold)
        .select(col("doc_b").as("doc_id")).distinct(),
      Seq("doc_id"), "left_anti")

  /** The curation funnel report — stage-by-stage document/token
    * attrition through the standard pre-training pipeline order
    * (raw → quality battery → exact dedup → near-dup), the one table
    * every curation run publishes ("we started with X tokens and
    * shipped Y, and here is which stage took what"). Stages reuse the
    * declared kernels verbatim so the report is consistent with the
    * ops a user runs individually: the quality gate is
    * `gopher_filter`'s keep conjunction (same thresholds, same native
    * `rep_stats` pass), exact dedup is `dedup_exact`'s md5-group
    * min-id keeper, near-dup is the `minhash_det` band→verify kernel
    * (jaccard ≥ 0.4) with the EXISTS-lower-id drop rule (`semdedup`'s
    * keep contract).
    *
    * Fixture note: the driver-gate SF's 500 texts are all distinct
    * (FIXTURES.md), so the exact stage shows zero attrition there by
    * construction — at the synthetic sf1/sf10, where `make_sf.py`
    * replicates non-key attributes verbatim, it removes ~90%/99% of
    * surviving docs, which is exactly the regime the stage exists for.
    *
    * Scale shape: the battery runs ONCE — its row-local signals are
    * checkpointed as a SKINNY (doc_id, n_tokens, keep_q, md5) frame
    * (~50 B/row, NO text; the r14 verdict measured the previous
    * re-derive-per-consumer form as a 4× redundant battery pass and
    * the #2 sf10 tail), and stages 0–2 are rollups/joins over that
    * frame. Document text is re-read exactly once more, for the one
    * stage that genuinely needs it: the near-dup minhash chain, over
    * a left-semi-pruned read of only the exact-dedup survivors. The
    * only data-sized shuffles are the md5-keeper rollup and the
    * minhash chain's banded candidate join, both established
    * scale-clean kernels; every stage row is a map-side-combined
    * 1-row rollup. */
  val curationFunnel = Op(
    "curation_funnel",
    (s, d) => {
      graft.ext.GraftFunctions.register(s)
      val docs = Tables(s, d, "documents")
      // ONE battery pass over the text, checkpointed skinny (no text)
      val skinny = qualitySignals(docs)
        .select(col("doc_id"), col("n").cast("long").as("n_tokens"),
          col("keep_q"), md5(col("text")).as("h"))
        .localCheckpoint() // 4 consumers: raw row + quality/exact/near
      def stageRow(no: Int, name: String,
          df: org.apache.spark.sql.DataFrame) = df
        .agg(count(lit(1)).as("n_docs"),
          // a stage that keeps zero docs must report 0, not NULL
          coalesce(sum(col("n_tokens")), lit(0L)).as("n_tokens"))
        .select(lit(no).as("stage_no"), lit(name).as("stage"),
          col("n_docs"), col("n_tokens"))
      val q = skinny.filter(col("keep_q"))
      // exact keepers from the checkpointed hashes — `dedup_exact`'s
      // md5-group min-id rule, zero text re-read
      val exDocs = q.join(
        q.groupBy(col("h")).agg(min(col("doc_id")).as("doc_id"))
          .select(col("doc_id")),
        Seq("doc_id"), "left_semi")
        .localCheckpoint() // 3 consumers: stage row, text semi, survivors
      // near-dup is the ONE stage that needs text: re-read ONLY the
      // exact-dedup survivors' texts (left-semi-pruned corpus read)
      val exTexts = docs.select(col("doc_id"), col("text"))
        .join(exDocs.select(col("doc_id")), Seq("doc_id"), "left_semi")
      val nd = exDocs.join(
        SimilarityOps.minhashDetPairs(exTexts, 0.4)
          .select(col("doc_b").as("doc_id")).distinct(),
        Seq("doc_id"), "left_anti")
      stageRow(0, "raw", skinny)
        .unionByName(stageRow(1, "quality", q))
        .unionByName(stageRow(2, "dedup_exact", exDocs))
        .unionByName(stageRow(3, "dedup_near", nd))
    },
    Some("""
      WITH t AS (
        SELECT doc_id, n_chars, text, string_split(text, ' ') AS toks
        FROM documents),
      s AS (
        SELECT doc_id, text,
               CAST(len(toks) AS BIGINT) AS n,
               CAST(len(list_distinct(toks)) AS INT) AS nd,
               CAST(list_aggregate(
                 list_transform(list_distinct(toks),
                   w -> len(list_filter(toks, x -> x = w))),
                 'max') AS INT) AS top1,
               CAST(len(list_filter(toks, x -> x = 'the' OR x = 'a'))
                 AS INT) AS n_stop,
               CAST(n_chars - (len(toks) - 1) AS DOUBLE) / len(toks)
                 AS mwl
        FROM t),
      q AS (
        SELECT doc_id, text, n FROM s
        WHERE (n BETWEEN 20 AND 90) AND (mwl >= 4.0 AND mwl <= 5.0)
          AND (CAST(n_stop AS DOUBLE) / n >= 0.02)
          AND (CAST(top1 AS DOUBLE) / n <= 0.12)
          AND (CAST(nd AS DOUBLE) / n >= 0.4)),
      ex AS (
        SELECT MIN(doc_id) AS doc_id, MIN(n) AS n
        FROM q GROUP BY md5(text)),
      exd AS (SELECT q.doc_id, q.text, q.n FROM q JOIN ex USING (doc_id)),
      mdocs AS (
        SELECT doc_id,
               list_distinct([toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]
                              FOR i IN range(0, len(toks) - 2)]) AS grams
        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM exd)
        WHERE len(toks) >= 3),
      sig AS (
        SELECT doc_id,
               list_aggregate(list_transform(grams, g -> substring(md5(g), 1, 4)), 'min') AS h0,
               list_aggregate(list_transform(grams, g -> substring(md5(g), 5, 4)), 'min') AS h1,
               list_aggregate(list_transform(grams, g -> substring(md5(g), 9, 4)), 'min') AS h2,
               list_aggregate(list_transform(grams, g -> substring(md5(g), 13, 4)), 'min') AS h3,
               list_aggregate(list_transform(grams, g -> substring(md5(g), 17, 4)), 'min') AS h4,
               list_aggregate(list_transform(grams, g -> substring(md5(g), 21, 4)), 'min') AS h5,
               list_aggregate(list_transform(grams, g -> substring(md5(g), 25, 4)), 'min') AS h6,
               list_aggregate(list_transform(grams, g -> substring(md5(g), 29, 4)), 'min') AS h7
        FROM mdocs),
      bands AS (
        SELECT doc_id, 0 AS band, h0 || h1 AS bkey FROM sig
        UNION ALL SELECT doc_id, 1 AS band, h2 || h3 AS bkey FROM sig
        UNION ALL SELECT doc_id, 2 AS band, h4 || h5 AS bkey FROM sig
        UNION ALL SELECT doc_id, 3 AS band, h6 || h7 AS bkey FROM sig),
      cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
      grams AS (SELECT doc_id, unnest(grams) AS g FROM mdocs),
      sizes AS (SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id),
      inter AS (
        SELECT cand.doc_a, cand.doc_b, COUNT(*) AS n_inter
        FROM cand
        JOIN grams ga ON ga.doc_id = cand.doc_a
        JOIN grams gb ON gb.doc_id = cand.doc_b AND gb.g = ga.g
        GROUP BY 1, 2),
      drp AS (
        SELECT DISTINCT doc_b AS doc_id
        FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE ROUND(CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter), 4)
                >= 0.4),
      nd AS (
        SELECT * FROM exd
        WHERE doc_id NOT IN (SELECT doc_id FROM drp))
      SELECT 0 AS stage_no, 'raw' AS stage, COUNT(*) AS n_docs,
             CAST(SUM(n) AS BIGINT) AS n_tokens FROM s
      UNION ALL SELECT 1, 'quality', COUNT(*), CAST(SUM(n) AS BIGINT)
        FROM q
      UNION ALL SELECT 2, 'dedup_exact', COUNT(*), CAST(SUM(n) AS BIGINT)
        FROM ex
      UNION ALL SELECT 3, 'dedup_near', COUNT(*), CAST(SUM(n) AS BIGINT)
        FROM nd"""))

  /** The per-source data card — the summary table a released dataset
    * ships (docs, tokens, chars, language spread, quality pass rate,
    * exact-dup rate per source): `data_profile`'s warehouse shape
    * specialized to the corpus with the curation signals a consumer
    * actually reads before training on a source. quality_rate is the
    * `gopher_filter` keep conjunction (same thresholds, same native
    * `rep_stats` pass); dup_rate is within-source exact duplication
    * (1 − distinct md5 / docs, `dedup_exact`'s key).
    *
    * Determinism: every averaged quantity is a ratio of exact
    * integer sums (a 0/1 keep sum and token counts are
    * exactly-representable doubles at any corpus size below 2⁵³
    * docs), so float-sum order cannot split the engines.
    *
    * Scale shape: one row-local codegen flag pass, then a
    * source-keyed rollup (20 keys, map-side partials) whose only
    * data-sized exchange is the (source, md5) / (source, lang)
    * distinct expansion — 32-byte hash keys, `dedup_exact`'s
    * established shuffle. Output O(sources). */
  val datasetCard = Op(
    "dataset_card",
    (s, d) => {
      graft.ext.GraftFunctions.register(s)
      qualitySignals(Tables(s, d, "documents"))
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n").cast("long")).as("n_tokens"),
          sum(col("n_chars")).as("n_chars"),
          countDistinct(col("lang")).as("n_langs"),
          round(sum(col("n").cast("long")) /
            count(lit(1)).cast("double"), 2).as("mean_tokens"),
          round(sum(when(col("keep_q"), 1L).otherwise(0L)) /
            count(lit(1)).cast("double"), 4).as("quality_rate"),
          round(lit(1.0) - countDistinct(md5(col("text"))) /
            count(lit(1)).cast("double"), 4).as("dup_rate"))
    },
    Some("""
      WITH t AS (
        SELECT doc_id, source, lang, n_chars, text,
               string_split(text, ' ') AS toks
        FROM documents),
      s AS (
        SELECT source, lang, n_chars, text,
               CAST(len(toks) AS BIGINT) AS n,
               CAST(len(list_distinct(toks)) AS INT) AS nd,
               CAST(list_aggregate(
                 list_transform(list_distinct(toks),
                   w -> len(list_filter(toks, x -> x = w))),
                 'max') AS INT) AS top1,
               CAST(len(list_filter(toks, x -> x = 'the' OR x = 'a'))
                 AS INT) AS n_stop,
               CAST(n_chars - (len(toks) - 1) AS DOUBLE) / len(toks)
                 AS mwl
        FROM t)
      SELECT source,
             COUNT(*) AS n_docs,
             CAST(SUM(n) AS BIGINT) AS n_tokens,
             CAST(SUM(n_chars) AS BIGINT) AS n_chars,
             CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
             ROUND(CAST(SUM(n) AS BIGINT) / CAST(COUNT(*) AS DOUBLE), 2)
               AS mean_tokens,
             ROUND(CAST(SUM(CASE WHEN
                 (n BETWEEN 20 AND 90) AND (mwl >= 4.0 AND mwl <= 5.0)
                 AND (CAST(n_stop AS DOUBLE) / n >= 0.02)
                 AND (CAST(top1 AS DOUBLE) / n <= 0.12)
                 AND (CAST(nd AS DOUBLE) / n >= 0.4)
               THEN 1 ELSE 0 END) AS BIGINT)
               / CAST(COUNT(*) AS DOUBLE), 4) AS quality_rate,
             ROUND(1.0 - CAST(COUNT(DISTINCT md5(text)) AS BIGINT)
               / CAST(COUNT(*) AS DOUBLE), 4) AS dup_rate
      FROM s
      GROUP BY source"""))

  /** Weighted sampling WITHOUT replacement at corpus scale —
    * Efraimidis–Spirakis A-Res (2006, "Weighted random sampling with
    * a reservoir" — public paper): each row draws key = u^(1/w) and
    * the sample is the top-M keys, which selects each row with
    * probability proportional to its weight among the survivors. Here
    * in its log-monotone form skey = ln(u)/w (same order, no
    * underflow at large w), with u the engine-portable Knuth-hash
    * uniform of doc_id (the `split_hash` idiom, +0.5 to dodge
    * ln(0)) — so the "random" draw is a PURE FUNCTION of doc_id:
    * re-runs and incremental appends never flip a selected doc, the
    * membership-stability contract every sampler in this module
    * keeps. Weight here is doc length (token-budget sampling ∝
    * size); composing with `dsir_weights` (w = exp(dsir_w)) gives
    * DSIR's importance-resampling step.
    *
    * Scale: one scan, per-row arithmetic, then top-M — planned as
    * TakeOrderedAndProject (per-partition bounded heaps + one M-row
    * merge on the driver), no global sort, no shuffle of anything
    * data-sized. The 6-dp rounding before the ORDER gives both
    * engines the same total order (the perplexity_mix precedent);
    * doc_id breaks the rounding ties deterministically.
    *
    * Hash domain (r16, ADVICE fix): u's period is ~1e9 — doc_id
    * pre-reduced mod the prime 999999937 (not the old 100000, whose
    * 100k period made same-residue docs share a draw and degraded
    * A-Res's ∝-weight guarantee above 100k docs), Knuth-multiplied,
    * then mod the prime 1000000007. Max intermediate 999999936 ×
    * 2654435761 ≈ 2.65e18 < 2^63 — no BIGINT overflow in either
    * engine. Corpora above ~1e9 docs hit the same (far rarer)
    * residue-sharing at the new period; that residual is the
    * documented cost of keeping u a pure overflow-free function of
    * doc_id in portable integer arithmetic. */
  val weightedSample = Op(
    "weighted_sample",
    (s, d) =>
      Tables(s, d, "documents")
        .withColumn("w", col("n_chars") + lit(1.0))
        .withColumn("u",
          (expr("pmod((doc_id % 999999937) * 2654435761, 1000000007)") +
            lit(0.5)) / lit(1000000007.0))
        .withColumn("skey", round(log(col("u")) / col("w"), 6))
        .orderBy(col("skey").desc, col("doc_id"))
        .limit(100)
        .select(col("doc_id"), col("w"), col("skey")),
    Some("""
      SELECT doc_id, w, skey FROM (
        SELECT doc_id, n_chars + 1.0 AS w,
               ROUND(LN((((doc_id % 999999937) * 2654435761
                          % 1000000007 + 1000000007) % 1000000007
                         + 0.5) / 1000000007.0)
                     / (n_chars + 1.0), 6) AS skey
        FROM documents)
      ORDER BY skey DESC, doc_id LIMIT 100"""))

  override def ops: Seq[Op] = Seq(redactTerms, repRatio,
    sampleStratified, packSequences, dedupKeepBest, contamination,
    contaminationBloom, sampleBudget, mixUniform, dsirWeights,
    domainCap, mixTemperature, shuffleShard, klSourceDivergence,
    dedupAppend, gopherFilter, epochPlan, curationFunnel, datasetCard,
    weightedSample, gopherAblation)
}
