package graft.text

import graft.{Op, OpModule, Tables}
import graft.api.Graft
import org.apache.spark.sql.functions._

/** Language-model data-prep operators over the `documents` corpus
  * (SURVEY.md §2.11): chunking long documents into overlapping
  * windows, PMI collocation mining, and unigram-LM quality scoring.
  * These are the "turn a raw corpus into training data" primitives
  * the north star calls out alongside dedup/similarity.
  *
  * Scale shape shared by all three: per-row generation (chunking) is
  * embarrassingly parallel and never shuffles document text; the
  * statistics ops shuffle vocabulary-sized keys only (tokens/bigrams,
  * bounded by vocabulary² at worst) and broadcast the count tables,
  * so at 100 TB the corpus is read once and the only wide exchange
  * carries (token, count) pairs.
  */
object LmOps extends OpModule {

  private val ChunkLen = 120
  private val ChunkStride = 90

  /** Overlapping fixed-width character chunks (the context-window
    * packing precursor: chunk = substring(off, 120), stride 90 → 30
    * chars of overlap). One output row per (doc, chunk) keyed by
    * chunk index; the chunk itself travels as an md5 digest so the
    * declared output stays narrow. Narrow plan: sequence + explode
    * per row, no shuffle at all. */
  val chunkDocs = Op(
    "chunk_docs",
    (s, d) =>
      Graft.chunkDocs(Tables(s, d, "documents"), "text", "doc_id",
        ChunkLen, ChunkStride)
        .select(col("doc_id"), col("chunk_idx"),
          length(col("chunk")).as("chunk_len"),
          md5(col("chunk")).as("chunk_md5")),
    Some(s"""
      SELECT doc_id, off // $ChunkStride AS chunk_idx,
             CAST(length(substr(text, off + 1, $ChunkLen)) AS INT)
               AS chunk_len,
             md5(substr(text, off + 1, $ChunkLen)) AS chunk_md5
      FROM documents,
           UNNEST(generate_series(0, CAST(n_chars AS INT) - 1,
                                  $ChunkStride)) AS u(off)"""))

  /** PMI-scored bigram collocations: pmi(x,y) = ln(p(x,y)/(p(x)p(y)))
    * over corpus token bigrams, min pair count 5, top 25. Bigrams are
    * formed positionally (element_at over the split array — no
    * self-join on token position), counted with map-side partial
    * aggregation, and the unigram table is broadcast (vocabulary-
    * sized). The double arithmetic is written in the identical
    * association order on both engines. */
  val pmiBigrams = Op(
    "pmi_bigrams",
    (s, d) => Graft.pmiBigrams(Tables(s, d, "documents"), "text", 5, 25),
    Some("""
      WITH t AS (
        SELECT string_split(text, ' ') AS toks FROM documents),
      bg AS (
        SELECT toks[i] AS w1, toks[i + 1] AS w2
        FROM t, UNNEST(generate_series(1, len(toks) - 1)) AS u(i)),
      cb AS (
        SELECT w1, w2, COUNT(*) AS pair_count FROM bg GROUP BY w1, w2),
      cu AS (
        SELECT w, COUNT(*) AS c
        FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        GROUP BY w),
      nu AS (SELECT SUM(c) AS nu FROM cu),
      nb AS (SELECT SUM(pair_count) AS nb FROM cb)
      SELECT w1, w2, pair_count,
             ROUND(LN(pair_count * 1.0 * nu / nb *
               (nu * 1.0 / u1.c) / u2.c), 4) AS pmi
      FROM cb
      JOIN cu u1 ON cb.w1 = u1.w
      JOIN cu u2 ON cb.w2 = u2.w, nu, nb
      WHERE pair_count >= 5
      ORDER BY pmi DESC, w1, w2
      LIMIT 25"""))

  /** Unigram-LM document scoring (the cheap perplexity proxy used to
    * quality-filter corpora): avg over a doc's tokens of
    * ln(count(w) / N) under the corpus's own unigram distribution.
    * Token explode → broadcast-join the unigram table → per-doc agg;
    * the corpus text is read once and only (doc_id, logprob) pairs
    * shuffle. */
  val unigramLogprob = Op(
    "unigram_logprob",
    (s, d) =>
      Graft.unigramLogprob(Tables(s, d, "documents"), "text", "doc_id")
        .select(col("doc_id"), col("n_tokens").as("n_toks"),
          round(col("avg_logprob"), 4).as("avg_logprob")),
    Some("""
      WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w
        FROM documents),
      cu AS (SELECT w, COUNT(*) AS c FROM toks GROUP BY w),
      nu AS (SELECT SUM(c) AS nu FROM cu)
      SELECT doc_id, COUNT(*) AS n_toks,
             ROUND(AVG(LN(c * 1.0 / nu)), 4) AS avg_logprob
      FROM toks JOIN cu USING (w), nu
      GROUP BY doc_id"""))

  /** Bigram-LM document scoring with stupid backoff — the next rung
    * up from `unigram_logprob` on the perplexity-filter ladder, and
    * the shape that actually exercises OOV handling: the LM trains on
    * the 80% `split_hash` train slice (same Knuth-multiplicative
    * bucket — membership is a pure function of doc_id) and scores
    * EVERY document, so held-out docs hit unseen bigrams and fall
    * back to 0.4·(c(w)+1)/(N+V) add-one unigram mass (Brants et al.'s
    * stupid backoff: no discounting, one multiplicative penalty —
    * the standard web-scale choice because it needs no second pass
    * over the counts).
    *
    * Scale shape: bigrams shuffle as xxhash64 longs (the dsir/gram
    * lesson — no gram string in any output); the unigram table and
    * the scalar totals broadcast; the single data-sized exchange is
    * the scoring join on the 8-byte bigram key, whose payload is
    * (doc_id, two ints) because both broadcast unigram joins run
    * BEFORE the shuffle. The single-token guard lives inside the
    * generator (empty array), not in a pushdown-eligible filter
    * (the r13 corpus-spread lesson). */
  val bigramLogprob = Op(
    "bigram_logprob",
    (s, d) => {
      val t = Tables(s, d, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .withColumn("is_train",
          expr("pmod((doc_id % 100000) * 2654435761, 100) < 80"))
      val bg = t
        .select(col("doc_id"), col("is_train"), col("toks"),
          explode(when(size(col("toks")) >= 2,
            sequence(lit(1), size(col("toks")) - 1))
            .otherwise(expr("CAST(array() AS array<int>)"))).as("i"))
        .select(col("doc_id"), col("is_train"),
          element_at(col("toks"), col("i")).as("w1"),
          element_at(col("toks"), col("i") + 1).as("w2"),
          xxhash64(concat(element_at(col("toks"), col("i")), lit(" "),
            element_at(col("toks"), col("i") + 1))).as("g"))
      val cb = bg.filter(col("is_train"))
        .groupBy(col("g")).agg(count(lit(1)).as("bc"))
      // the unigram side builds from the scan directly, with the
      // train-slice guard INSIDE the generator: `t.filter(is_train)
      // .select(explode(toks))` sinks both the filter and the
      // attribute-explode's inferred size(split(text))>0 below the
      // corpus-spread exchange — 5.3 s of single-task tokenize at
      // sf10 (StageProbe; the third face of the r13 pushdown lesson)
      val cu = Tables(s, d, "documents")
        .select(explode(when(
          expr("pmod((doc_id % 100000) * 2654435761, 100) < 80"),
          split(col("text"), " "))
          .otherwise(expr("CAST(array() AS array<string>)"))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("c"))
      val tot = cu.agg(sum(col("c")).as("tn"), count(lit(1)).as("tv"))
      bg
        .join(broadcast(cu.select(col("w").as("w1"), col("c").as("c1"))),
          Seq("w1"), "left")
        .join(broadcast(cu.select(col("w").as("w2"), col("c").as("c2"))),
          Seq("w2"), "left")
        .select(col("doc_id"), col("g"), col("c1"), col("c2"))
        .join(cb, Seq("g"), "left")
        .crossJoin(broadcast(tot))
        .withColumn("lp",
          when(col("bc").isNotNull,
            log(col("bc") * lit(1.0) / col("c1")))
            .otherwise(log(lit(0.4) *
              (coalesce(col("c2"), lit(0L)) + lit(1.0)) /
              (col("tn") + col("tv")))))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"),
          round(avg(col("lp")), 4).as("avg_logprob"))
    },
    Some("""
      WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks,
               ((doc_id % 100000) * 2654435761 % 100 + 100) % 100 < 80
                 AS is_train
        FROM documents),
      bg AS (
        SELECT doc_id, is_train, toks[i] AS w1, toks[i + 1] AS w2
        FROM t, UNNEST(generate_series(1, len(toks) - 1)) AS u(i)
        WHERE len(toks) >= 2),
      cb AS (
        SELECT w1, w2, COUNT(*) AS bc FROM bg WHERE is_train
        GROUP BY w1, w2),
      cu AS (
        SELECT w, COUNT(*) AS c
        FROM (SELECT unnest(toks) AS w FROM t WHERE is_train)
        GROUP BY w),
      tot AS (SELECT SUM(c) AS tn, COUNT(*) AS tv FROM cu)
      SELECT bg.doc_id, COUNT(*) AS n_bigrams,
             ROUND(AVG(CASE WHEN bc IS NOT NULL
                            THEN LN(bc * 1.0 / u1.c)
                            ELSE LN(0.4 * (COALESCE(u2.c, 0) + 1.0)
                                    / (tn + tv)) END), 4) AS avg_logprob
      FROM bg
      LEFT JOIN cb ON bg.w1 = cb.w1 AND bg.w2 = cb.w2
      LEFT JOIN cu u1 ON bg.w1 = u1.w
      LEFT JOIN cu u2 ON bg.w2 = u2.w, tot
      GROUP BY bg.doc_id"""))

  private val BpeRounds = 8

  /** Adjacent symbol-pair counts over a segmentation table
    * (seg = "||s1||s2||...||", c = word frequency). Splitting on the
    * double delimiter yields ['', s1..sn, ''] in BOTH engines, so
    * 1-based pair indices run 2..len-2; single-symbol words (len < 4)
    * have no pairs and are filtered identically on both sides. */
  private def bpePairs(seg: org.apache.spark.sql.DataFrame) =
    seg.withColumn("arr", split(col("seg"), "\\|\\|"))
      .filter(size(col("arr")) >= 4)
      .select(col("c"), col("arr"),
        explode(sequence(lit(2), size(col("arr")) - 2)).as("i"))
      .select(element_at(col("arr"), col("i")).as("s1"),
        element_at(col("arr"), col("i") + 1).as("s2"), col("c"))
      .groupBy(col("s1"), col("s2"))
      .agg(sum(col("c")).as("pair_count"))

  /** K greedy BPE merge rounds over a delimiter-framed segmentation
    * table (columns: `seg`, weight `c`, plus any carried columns,
    * preserved through re-segmentation). Returns the ranked merge
    * table (merge_rank, s1, s2, pair_count) and the final
    * re-segmented table — both DataFrames: the per-round argmax is a
    * 1-row `limit(1)` (TakeOrderedAndProject) materialized
    * EXECUTOR-side via `localCheckpoint` and broadcast back into the
    * next round's re-segmentation join, so no row ever lands on the
    * driver (the unrolled-join shape of the op's own oracle CTEs).
    * Checkpointing the 1-row winner is what keeps the K-round
    * lineage LINEAR — an untruncated argmax branch re-evaluates the
    * entire prior chain twice per round, i.e. 2^K runs of the base
    * rollup (measured 10× op cost at sf0.1). An empty argmax
    * (nothing left to merge) contributes zero rows and the LEFT
    * join leaves the segmentation untouched, so later rounds are
    * no-ops — the same early-stop the oracle's empty m_r CTE
    * implies. */
  private[graft] def learnMerges(seg0: org.apache.spark.sql.DataFrame,
      rounds: Int = BpeRounds)
      : (org.apache.spark.sql.DataFrame,
         org.apache.spark.sql.DataFrame) = {
    // materialize the vocab-sized rollup once: every round's argmax
    // job would otherwise re-run the corpus scan + token explode
    // behind it (measured ~2x the whole op's cost at sf0.1). The
    // rollup is vocabulary-sized, so 8 partitions keep the K rounds'
    // per-task scheduling overhead bounded without starving them —
    // resize upward with vocab bytes, not corpus bytes, at scale.
    var seg = seg0.coalesce(8).localCheckpoint()
    var merges: Option[org.apache.spark.sql.DataFrame] = None
    for (r <- 1 to rounds) {
      // lazy 1-row argmax: deterministic under the total order, so
      // the seg-join evaluation (inside this round's checkpoint job)
      // and a later merges-output evaluation compute the same winner
      // from the CHECKPOINTED prior segmentation — no extra eager job
      val m = bpePairs(seg)
        .orderBy(col("pair_count").desc, col("s1"), col("s2"))
        .limit(1)
      val ranked = m.select(lit(r).as("merge_rank"), col("s1"),
        col("s2"), col("pair_count"))
      merges = Some(merges.fold(ranked)(_.union(ranked)))
      seg = seg
        .withColumn("_one", lit(1))
        .join(broadcast(m.select(lit(1).as("_one"),
          col("s1").as("_m1"), col("s2").as("_m2"))), Seq("_one"),
          "left")
        .withColumn("seg",
          when(col("_m1").isNull, col("seg"))
            .otherwise(expr(
              "replace(seg, concat('|', _m1, '||', _m2, '|')," +
                " concat('|', _m1, _m2, '|'))")))
        .drop("_one", "_m1", "_m2")
        // keep every round's plan ONE join deep: without this, round
        // r's pair count re-executes all r-1 prior broadcast-join
        // layers (O(K²) recompute of the vocab-sized table)
        .localCheckpoint()
    }
    (merges.get, seg)
  }

  /** BPE merge-rule training (the `vocab_build` companion: that op
    * ranks unigrams, this one LEARNS the merge table): K greedy rounds
    * of count-adjacent-symbol-pairs → argmax under a deterministic
    * tie-break (count desc, then pair lexicographic) → re-segment.
    *
    * Representation: each word's segmentation is a delimiter-framed
    * string "||s1||s2||...||" (the corpus is pipe-free — asserted in
    * LmSpec). Merging pair (a,b) is then
    * `replace(seg, "|a||b|", "|ab|")`: the double delimiter means
    * consecutive merge sites do NOT share boundary characters, so
    * leftmost-non-overlapping replace (identical semantics in Spark's
    * StringReplace and DuckDB's replace) implements exactly BPE's
    * greedy left-to-right merge — including the "a a a" → [aa, a]
    * triple case.
    *
    * Scale shape: the corpus is read ONCE into the vocabulary-sized
    * (word, count) rollup (token-key shuffle, map-side combine); all K
    * rounds then operate on that bounded table. Per round the only
    * shuffle carries (symbol-pair, count) keys — vocabulary-bounded,
    * never corpus-sized — the argmax is a TakeOrderedAndProject (no
    * global window) whose 1-row winner is checkpointed on the
    * EXECUTORS and broadcast into the next round's re-segmentation
    * join (see `learnMerges`): the loop is driver-COORDINATED (K
    * fixed job submissions) but no data row crosses to the driver.
    * At 100 TB only the initial word rollup touches the data; the
    * K-round loop operates on the vocabulary-sized table. */
  val bpeMerges = Op(
    "bpe_merges",
    (s, d) => Graft.bpeMerges(Tables(s, d, "documents"), "text", BpeRounds),
    Some {
      val rounds = (1 to BpeRounds).map { r =>
        s"""
      p$r AS (
        SELECT arr[i] AS s1, arr[i + 1] AS s2,
               CAST(SUM(c) AS BIGINT) AS pair_count
        FROM (SELECT string_split(seg, '||') AS arr, c FROM seg${r - 1}
              WHERE len(string_split(seg, '||')) >= 4),
             UNNEST(generate_series(2, len(arr) - 2)) AS u(i)
        GROUP BY s1, s2),
      m$r AS (SELECT s1, s2, pair_count FROM p$r
              ORDER BY pair_count DESC, s1, s2 LIMIT 1),
      seg$r AS (
        SELECT replace(seg, '|' || s1 || '||' || s2 || '|',
                       '|' || s1 || s2 || '|') AS seg, c
        FROM seg${r - 1}, m$r)"""
      }.mkString(",")
      val finals = (1 to BpeRounds).map { r =>
        s"SELECT $r AS merge_rank, s1, s2, pair_count FROM m$r"
      }.mkString("\n      UNION ALL\n      ")
      s"""
      WITH words AS (
        SELECT w, COUNT(*) AS c
        FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        WHERE w <> '' GROUP BY w),
      seg0 AS (
        SELECT '||' || regexp_replace(w, '(.)', '\\1||', 'g') AS seg, c
        FROM words),$rounds
      $finals"""
    })

  /** Skip-gram co-occurrence mining (the word2vec/GloVe count matrix
    * build): ordered token pairs (w_i, w_{i+k}) within a ±3 window,
    * counted over the corpus, top 20 by (count desc, w1, w2). The
    * `pmi_bigrams` upgrade from adjacency to windowed context.
    *
    * Scale: pair generation is positional per-row expression work
    * (two nested sequence explodes — never a self-join on token
    * position), so the corpus is read once and never shuffled; the
    * only exchange carries (w1, w2, partial count) keys, map-side
    * combined and bounded by context-vocabulary², and the top-20 is
    * TakeOrderedAndProject (no global sort materialization). */
  val cooccurTopk = Op(
    "cooccur_topk",
    (s, d) => Graft.cooccurTopK(Tables(s, d, "documents"), "text", 3, 20),
    Some("""
      WITH t AS (
        SELECT string_split(text, ' ') AS toks FROM documents),
      p AS (
        SELECT toks[i] AS w1, toks[i + k] AS w2
        FROM t,
             UNNEST(generate_series(1, len(toks) - 1)) AS u(i),
             UNNEST(generate_series(1, LEAST(3, len(toks) - i))) AS v(k)
        WHERE len(toks) >= 2)
      SELECT w1, w2, COUNT(*) AS n_cooccur
      FROM p GROUP BY 1, 2
      ORDER BY n_cooccur DESC, w1, w2
      LIMIT 20"""))

  /** BPE tokenizer APPLICATION (`bpe_merges` learns the merge table;
    * this op runs the tokenizer): re-learn the same 8 merge rules,
    * apply them in rank order to the distinct-word table, and report
    * per-document word and BPE-token counts — the "how many tokens
    * is my corpus under this tokenizer" question every training-data
    * budget starts from. A word's token count is its symbol count in
    * the final segmentation (split on the '||' delimiter frame, the
    * same convention as `bpePairs`).
    *
    * Scale: the merge learning is `bpe_merges`' plan (corpus read
    * once into the vocab-sized (word, count) rollup; per-round
    * shuffles carry only symbol-pair keys). Encoding touches ONLY
    * the distinct-word table — the corpus is never re-segmented
    * row by row; the doc rollup is one equi-join of (doc_id, word)
    * tokens against the vocab-sized encode table, then a
    * map-side-combined per-doc sum. */
  val bpeEncode = Op(
    "bpe_encode",
    (s, d) => {
      val docs = Tables(s, d, "documents")
      val words = docs
        .select(explode(split(col("text"), " ")).as("w"))
        .filter(col("w") =!= "")
        .groupBy(col("w")).agg(count(lit(1)).as("c"))
      val seg = learnMerges(words.select(col("w"),
        concat(lit("||"), regexp_replace(col("w"), "(.)", "$1||")).as("seg"),
        col("c")))._2
      val enc = seg.select(col("w"),
        (size(split(col("seg"), "\\|\\|")) - 2).as("n_sym"))
      // broadcast the dictionary side EXPLICITLY: enc is vocab-sized
      // by construction (the learned segmentation of the vocabulary),
      // but its size estimate is opaque behind the learnMerges chain
      // and the planner was observed to broadcast the DOCS side
      // instead (BuildLeft on the exploded corpus — harmless at the
      // gate SF, a data-sized broadcast at sf10, measured as this
      // op's 20 s tail)
      docs
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .filter(col("w") =!= "")
        .join(broadcast(enc), "w")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_words"),
          sum(col("n_sym")).as("n_bpe_tokens"))
    },
    Some {
      val rounds = (1 to BpeRounds).map { r =>
        s"""
      p$r AS (
        SELECT arr[i] AS s1, arr[i + 1] AS s2,
               CAST(SUM(c) AS BIGINT) AS pair_count
        FROM (SELECT string_split(seg, '||') AS arr, c FROM seg${r - 1}
              WHERE len(string_split(seg, '||')) >= 4),
             UNNEST(generate_series(2, len(arr) - 2)) AS u(i)
        GROUP BY s1, s2),
      m$r AS (SELECT s1, s2 FROM p$r
              ORDER BY pair_count DESC, s1, s2 LIMIT 1),
      seg$r AS (
        SELECT w, replace(seg, '|' || s1 || '||' || s2 || '|',
                          '|' || s1 || s2 || '|') AS seg, c
        FROM seg${r - 1}, m$r)"""
      }.mkString(",")
      s"""
      WITH words AS (
        SELECT w, COUNT(*) AS c
        FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        WHERE w <> '' GROUP BY w),
      seg0 AS (
        SELECT w, '||' || regexp_replace(w, '(.)', '\\1||', 'g') AS seg, c
        FROM words),$rounds,
      enc AS (
        SELECT w, len(string_split(seg, '||')) - 2 AS n_sym
        FROM seg$BpeRounds),
      tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w
        FROM documents)
      SELECT doc_id, COUNT(*) AS n_words,
             CAST(SUM(n_sym) AS BIGINT) AS n_bpe_tokens
      FROM tok JOIN enc USING (w)
      WHERE w <> ''
      GROUP BY doc_id"""
    })

  /** Zipf-law fit over the corpus token-frequency distribution: OLS
    * slope/intercept of ln(count) on ln(rank) for the top-1000 tokens
    * (rank by count desc, token asc). A healthy natural-language
    * corpus fits slope ≈ −1; templated/spammy corpora flatten or
    * steepen it — the one-row corpus-health diagnostic an LM data
    * pipeline tracks per snapshot.
    *
    * Determinism: both lns are rounded to 6dp BEFORE the moment sums
    * (the shared double basis), the regression runs in one fixed
    * association order, and the outputs round to 4dp — the
    * `trend_slope` guard pattern, including the NULL-on-zero-variance
    * behavior encoded on both engines.
    *
    * Scale shape: corpus read once into the map-side-combined token
    * rollup; ranking via the distributed exact-rank kernel
    * (`Ranks.withGlobalRank` — the `vocab_build` precedent: a web
    * vocabulary grows with the corpus, so no single-task global
    * window) and the final agg is top-K-sized. */
  val zipfFit = Op(
    "zipf_fit",
    (s, d) => Graft.zipfFit(Tables(s, d, "documents"), "text", 1000),
    Some("""
      WITH counts AS (
        SELECT w, COUNT(*) AS c
        FROM (SELECT unnest(string_split(text, ' ')) AS w
              FROM documents)
        WHERE w <> '' GROUP BY w),
      ranked AS (
        SELECT ROUND(LN(CAST(r AS DOUBLE)), 6) AS x,
               ROUND(LN(CAST(c AS DOUBLE)), 6) AS y
        FROM (SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, w) AS r
              FROM counts)
        WHERE r <= 1000)
      SELECT COUNT(*) AS n_tokens,
             ROUND((COUNT(*) * SUM(x * y) - SUM(x) * SUM(y)) /
                   NULLIF(COUNT(*) * SUM(x * x) - SUM(x) * SUM(x), 0),
                   4) AS slope,
             ROUND((SUM(y) -
                    (COUNT(*) * SUM(x * y) - SUM(x) * SUM(y)) /
                    NULLIF(COUNT(*) * SUM(x * x) - SUM(x) * SUM(x), 0)
                    * SUM(x)) / COUNT(*), 4) AS intercept
      FROM ranked"""))

  /** Perplexity-bucketed corpus mixing (the CCNet move: split the
    * corpus by LM quality and keep more of the good tail): every doc
    * scored by the `unigram_logprob` kernel, exact global quality
    * QUARTILES by rank — bucket = ⌊(rank−1)·4/N⌋ over the (score,
    * doc_id) total order — then a deterministic per-bucket keep rate
    * (100/250/500/1000 ‰, worst→best) on the `mix_uniform` Knuth
    * hash, so membership stays a pure function of doc_id (re-runs and
    * appends never resample). Output = the per-bucket audit (counts,
    * kept, score range).
    *
    * Scale: the ranking is the ONLY data-sized ordered step and it
    * runs on the distributed exact-rank kernel
    * (`Ranks.withGlobalRank`: one range exchange + one per-partition
    * sort, which also gives the quartile total N — no single-task
    * global window, the zipf_fit/vocab_build precedent); scoring is
    * the unigram kernel's one broadcast join; the rest is per-row
    * hash arithmetic and a 4-row rollup. Rank-based buckets beat
    * value cutoffs here because they are exactly reproducible in both
    * engines with no quantile-interpolation convention to match. */
  val perplexityMix = Op(
    "perplexity_mix",
    (s, d) => {
      val docs = Tables(s, d, "documents")
      // deliberately TWO tokenize passes (dictionary rollup + scoring
      // join re-scan the text column): the r16 A/B materialized the
      // hashed token frame once (localCheckpoint) and LOST at sf10 —
      // the 33M-row checkpoint write+read costs more than the saved
      // parquet scan (SCALE.md r16), and at 100 TB the token frame
      // outgrows executor storage while re-scanning only re-reads
      // pruned columns. Re-scan wins at both ends.
      val toks = docs.select(col("doc_id"),
        explode(split(col("text"), " ")).as("w"))
      val cu = toks.groupBy(col("w")).agg(count(lit(1)).as("c"))
      val nu = cu.agg(sum(col("c")).as("nu"))
      val scored = toks
        .join(broadcast(cu), "w")
        .crossJoin(broadcast(nu))
        .groupBy(col("doc_id"))
        .agg(round(avg(log(col("c") * lit(1.0) / col("nu"))), 4).as("lp"))
      // nn = scored's row count, the oracle's COUNT(*) FROM scored
      graft.ops.Ranks.withGlobalRank(
          scored, "rk", "nn", col("lp"), col("doc_id"))
        // ((rk-1)*4) DIV nn directly: Spark's DIV truncates and the
        // operands are non-negative, so the explicit x - x%n floor is
        // redundant — and this is byte-for-byte the oracle's `//` form
        .withColumn("bucket", expr("((rk - 1) * 4) DIV nn"))
        .withColumn("rate", expr(
          "CASE bucket WHEN 0 THEN 100 WHEN 1 THEN 250 " +
            "WHEN 2 THEN 500 ELSE 1000 END"))
        .withColumn("keep", expr(
          "pmod((doc_id % 100000) * 2654435761, 1000) < rate"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
          min(col("lp")).as("lo_lp"),
          max(col("lp")).as("hi_lp"))
    },
    Some("""
      WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w
        FROM documents),
      cu AS (SELECT w, COUNT(*) AS c FROM toks GROUP BY w),
      nu AS (SELECT SUM(c) AS nu FROM cu),
      scored AS (
        SELECT doc_id, ROUND(AVG(LN(c * 1.0 / nu)), 4) AS lp
        FROM toks JOIN cu USING (w), nu
        GROUP BY doc_id),
      ranked AS (
        SELECT doc_id, lp,
               ROW_NUMBER() OVER (ORDER BY lp, doc_id) AS rk
        FROM scored),
      tot AS (SELECT COUNT(*) AS nn FROM scored),
      b AS (
        SELECT doc_id, lp,
               ((rk - 1) * 4) // nn AS bucket,
               CASE ((rk - 1) * 4) // nn
                 WHEN 0 THEN 100 WHEN 1 THEN 250
                 WHEN 2 THEN 500 ELSE 1000 END AS rate
        FROM ranked, tot)
      SELECT bucket, COUNT(*) AS n_docs,
             CAST(SUM(CASE WHEN (doc_id % 100000) * 2654435761 % 1000
                             < rate THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept,
             MIN(lp) AS lo_lp, MAX(lp) AS hi_lp
      FROM b GROUP BY bucket"""))

  /** CCNet-style per-LANGUAGE perplexity bucketing (Wenzek et al.
    * 2020, "CCNet: Extracting High Quality Monolingual Datasets from
    * Web Crawl Data" — public paper): each document scored by its OWN
    * language's unigram LM (the per-lang dictionary is the CCNet
    * move `perplexity_mix` doesn't make — a Chinese doc scored
    * against the global token distribution is penalized for not
    * being English, not for being low quality), then cut into exact
    * per-lang TERCILES — head / middle / tail, bucket 0 = most
    * probable — by rank over the (lp desc, doc_id) per-lang total
    * order. Output is the per-(lang, bucket) audit a mixing policy
    * reads: doc and token counts plus the lp range of each bucket.
    *
    * Scale: tokens shuffle once as (lang, xxhash64(token)) into the
    * dictionary (vocab-sized × |langs|; the rareGramStats long-key
    * precedent — a 64-bit collision merges two count cells, never
    * corrupts structure), scoring is one dictionary join, and the
    * only data-sized ordered step is the exact-rank kernel
    * (`Ranks.withGlobalRank` over (lang, lp desc, doc_id): one range
    * exchange + one sort per partition, no single-task window).
    * Per-lang ranks come from the GLOBAL rank minus a per-lang
    * offset — the offset table is |langs| rows (≤ a few hundred at
    * web scale), so its cumulative window is a broadcast-sized
    * frame, never data-sized.
    * A `ROW_NUMBER() OVER (PARTITION BY lang ...)` window would
    * instead sort each language's full corpus in one task per lang —
    * the single-reducer killer for an 80%-English crawl. */
  val ccnetBuckets = Op(
    "ccnet_buckets",
    (s, d) => {
      val docs = Tables(s, d, "documents")
      // deliberately TWO tokenize passes (the dictionary rollup and
      // the scoring join each re-scan + re-explode): the r16 A/B
      // materialized this hashed token frame once (localCheckpoint)
      // and LOST at sf10 — 9.1 s two-scan vs 9.7-11.8 s single-scan,
      // the 33M-row checkpoint write+read outweighing the saved
      // pruned-column parquet scan (SCALE.md r16) — and at 100 TB
      // the token frame outgrows executor storage anyway.
      val toks = docs.select(col("doc_id"), col("lang"),
        explode(split(col("text"), " ")).as("w"))
        .select(col("doc_id"), col("lang"), xxhash64(col("w")).as("g"))
      // per-lang unigram dictionary; materialized once for its two
      // consumers (per-lang totals + the scoring join)
      val cu = toks.groupBy(col("lang"), col("g"))
        .agg(count(lit(1)).as("c"))
        .localCheckpoint()
      val nu = cu.groupBy(col("lang")).agg(sum(col("c")).as("nu"))
      val scored = toks
        .join(broadcast(cu), Seq("lang", "g"))
        .join(broadcast(nu), "lang")
        .groupBy(col("doc_id"), col("lang"))
        .agg(count(lit(1)).as("nt"),
          round(avg(log(col("c") * lit(1.0) / col("nu"))), 4).as("lp"))
      val ranked = graft.ops.Ranks.withGlobalRank(
        scored, "rk", "n", col("lang"), col("lp").desc, col("doc_id"))
      // per-lang sizes and rank offsets: |langs| rows, so the
      // cumulative-sum window is a constant-sized frame
      val lw = org.apache.spark.sql.expressions.Window
        .orderBy(col("lang"))
        .rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, -1)
      // per-lang sizes from the DOCS table, not from `scored`: an
      // agg over `scored` would be a second branch over the whole
      // tokenize/join/score lineage just to count ≤|langs| rows.
      // scored has exactly one row per non-null-(lang,text)
      // doc — explode of split('') still yields one token, and the
      // dictionary equi-join drops null langs (null keys never
      // match) — so the offset population must exclude null langs
      // too, or every real language's offset is inflated by docs the
      // rank never counted and the tercile boundaries shift off the
      // oracle's.
      val off = docs.filter(col("lang").isNotNull)
        .groupBy(col("lang"))
        .agg(count(col("text")).as("nl"))
        .withColumn("ofs", coalesce(sum(col("nl")).over(lw), lit(0L)))
      ranked.join(broadcast(off), "lang")
        .withColumn("rkl", col("rk") - col("ofs"))
        .withColumn("bucket", expr("((rkl - 1) * 3) DIV nl"))
        .groupBy(col("lang"), col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("nt")).as("n_tokens"),
          max(col("lp")).as("hi_lp"),
          min(col("lp")).as("lo_lp"))
    },
    Some("""
      WITH toks AS (
        SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
        FROM documents),
      cu AS (SELECT lang, w, COUNT(*) AS c FROM toks GROUP BY lang, w),
      nu AS (SELECT lang, SUM(c) AS nu FROM cu GROUP BY lang),
      scored AS (
        SELECT doc_id, t.lang, COUNT(*) AS nt,
               ROUND(AVG(LN(c * 1.0 / nu)), 4) AS lp
        FROM toks t JOIN cu USING (lang, w) JOIN nu USING (lang)
        GROUP BY doc_id, t.lang),
      ranked AS (
        SELECT lang, nt, lp,
               ROW_NUMBER() OVER (PARTITION BY lang
                                  ORDER BY lp DESC, doc_id) AS rkl,
               COUNT(*) OVER (PARTITION BY lang) AS nl
        FROM scored)
      SELECT lang, ((rkl - 1) * 3) // nl AS bucket,
             COUNT(*) AS n_docs, CAST(SUM(nt) AS BIGINT) AS n_tokens,
             MAX(lp) AS hi_lp, MIN(lp) AS lo_lp
      FROM ranked GROUP BY 1, 2"""))

  override def ops: Seq[Op] =
    Seq(chunkDocs, pmiBigrams, unigramLogprob, bigramLogprob, bpeMerges,
      cooccurTopk, bpeEncode, zipfFit, perplexityMix, ccnetBuckets)
}
