package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Native Catalyst extension tests: dot_f bit-equality with the
  * lambda-expression formulation (same double accumulation order),
  * codegen + interpreted agreement, ngrams generator vs the
  * transform/sequence formulation, and analysis-time type errors.
  */
class ExtensionsSpec extends AnyFunSuite {
  import SparkFixture._

  private lazy val emb = Tables(spark, sfDir, "embeddings")

  private val lambdaDot =
    """aggregate(
         zip_with(embedding, t_emb, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
         CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"""

  test("dot_f equals the zip_with/aggregate formulation bit-for-bit") {
    val t = emb.filter(col("vec_id") === 0).select(col("embedding").as("t_emb"))
    val both = emb.crossJoin(broadcast(t))
      .select(col("vec_id"),
        expr("dot_f(embedding, t_emb)").as("native"),
        expr(lambdaDot).as("lambda"))
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      assert(r.getDouble(1) == r.getDouble(2),
        s"vec ${r.getLong(0)}: ${r.getDouble(1)} != ${r.getDouble(2)}")
    }
  }

  test("dot_f codegen and interpreted paths agree") {
    val t = emb.filter(col("vec_id") === 0).select(col("embedding").as("t_emb"))
    val q = emb.crossJoin(broadcast(t))
      .select(col("vec_id"), expr("dot_f(embedding, t_emb)").as("s"))
    val on = q.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val off = q.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(on == off)
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("dot_f null semantics: null array -> null, self-dot is |v|^2 > 0") {
    val r = spark.sql(
      "SELECT dot_f(CAST(NULL AS ARRAY<FLOAT>), array(CAST(1.0 AS FLOAT)))")
      .collect().head
    assert(r.isNullAt(0))
    val self = emb.select(expr("dot_f(embedding, embedding)").as("s"))
      .collect()
    self.foreach(r => assert(r.getDouble(0) > 0.0))
  }

  test("dot_fd equals the cast-to-double zip_with tree bit-for-bit, " +
      "for every float/double side combination") {
    // the trained-index kernels score float embeddings against
    // double centroids; dot_fd must reproduce the widen-then-fold
    // lambda tree exactly in all four type combinations
    val t = emb.filter(col("vec_id") === 0)
      .select(col("embedding").as("t_emb"))
    val both = emb.crossJoin(broadcast(t))
      .withColumn("e_d", expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
      .withColumn("t_d", expr("transform(t_emb, x -> CAST(x AS DOUBLE))"))
      .select(col("vec_id"),
        expr("dot_fd(embedding, t_emb)").as("ff"),
        expr("dot_fd(embedding, t_d)").as("fd"),
        expr("dot_fd(e_d, t_emb)").as("df"),
        expr("dot_fd(e_d, t_d)").as("dd"),
        expr(lambdaDot).as("lambda"))
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      val ref = r.getDouble(5)
      Seq(1, 2, 3, 4).foreach(i =>
        assert(r.getDouble(i) == ref,
          s"vec ${r.getLong(0)} col $i: ${r.getDouble(i)} != $ref"))
    }
    // null + type guards mirror dot_f
    assert(spark.sql(
      "SELECT dot_fd(CAST(NULL AS ARRAY<DOUBLE>), array(CAST(1.0 AS DOUBLE)))")
      .collect().head.isNullAt(0))
    intercept[Exception] {
      spark.sql("SELECT dot_fd(array(1, 2), array(3, 4))").collect()
    }
  }

  test("dot_f rejects wrong input types at analysis time") {
    val e = intercept[Exception] {
      spark.sql("SELECT dot_f(array(1, 2), array(3, 4))").collect()
    }
    assert(e.getMessage.contains("dot_f") ||
      e.getMessage.toLowerCase.contains("type"))
  }

  test("ngrams generator matches the transform/sequence formulation") {
    val docs = Tables(spark, sfDir, "documents").limit(50)
      .withColumn("toks", split(col("text"), " "))
    val viaGen = docs
      .select(col("doc_id"), expr("ngrams(toks, 3)"))
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted
    val viaTransform = docs
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(0, size(toks) - 3),
             i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))"""))
        .as("ngram"))
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted
    assert(viaGen.sameElements(viaTransform))
  }

  test("ngrams with n=1 yields one row per token") {
    val docs = Tables(spark, sfDir, "documents").limit(20)
      .withColumn("toks", split(col("text"), " "))
    val n1 = docs.select(col("doc_id"), expr("ngrams(toks, 1)")).count()
    val nTok = docs.select(explode(col("toks"))).count()
    assert(n1 == nTok)
  }

  test("ngram_hashes equals ngrams -> xxhash64 -> per-doc distinct") {
    val docs = Tables(spark, sfDir, "documents").limit(50)
      .withColumn("toks", split(col("text"), " "))
    val viaGen = docs
      .select(col("doc_id"), expr("ngram_hashes(toks, 3)"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    // the shape it replaces: string grams, SQL xxhash64 (same seed
    // 42), global distinct — must be the same multiset
    val viaDistinct = docs
      .select(col("doc_id"), expr("ngrams(toks, 3)"))
      .select(col("doc_id"), xxhash64(col("ngram")).as("g"))
      .distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(viaGen.sameElements(viaDistinct))
    // short docs (< n tokens) emit nothing, like ngrams
    val empty = spark.sql(
      "SELECT ngram_hashes(array('a', 'b'), 3)").count()
    assert(empty == 0)
  }

  test("ngrams_distinct equals ngrams -> per-doc distinct, as strings") {
    val docs = Tables(spark, sfDir, "documents").limit(50)
      .withColumn("toks", split(col("text"), " "))
    val viaGen = docs
      .select(col("doc_id"), expr("ngrams_distinct(toks, 3)"))
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted
    val viaDistinct = docs
      .select(col("doc_id"), expr("ngrams(toks, 3)"))
      .distinct()
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted
    assert(viaGen.sameElements(viaDistinct))
    // a row with repeats dedups; order of first occurrence
    val reps = spark.sql(
      "SELECT ngrams_distinct(array('a','b','a','b','a'), 2)")
      .collect().map(_.getString(0)).toSeq
    assert(reps == Seq("a b", "b a"))
  }

  test("token_counts equals explode -> groupBy(doc, w).count()") {
    val docs = Tables(spark, sfDir, "documents").limit(50)
      .withColumn("toks", split(col("text"), " "))
    val viaGen = docs
      .select(col("doc_id"), expr("token_counts(toks)"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .sorted
    val viaAgg = docs
      .select(col("doc_id"), explode(col("toks")).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .sorted
    assert(viaGen.sameElements(viaAgg))
    val empty = spark.sql(
      "SELECT token_counts(CAST(array() AS ARRAY<STRING>))").count()
    assert(empty == 0)
  }

  test("winnow_stats equals the HOF chain bit-for-bit, incl. edges") {
    // the HOF original the native kernel replaced (r13)
    def hof(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("ths",
        expr("""transform(toks,
                  tk -> aggregate(
                          transform(split(tk, ''),
                                    c -> CAST(ascii(c) AS BIGINT)),
                          CAST(7 AS BIGINT),
                          (acc, x) -> (acc * 31 + x) % 1073741824))"""))
      .withColumn("gh",
        expr("""CASE WHEN size(ths) >= 4 THEN
                  transform(sequence(1, size(ths) - 3),
                    i -> aggregate(slice(ths, i, 4),
                           CAST(7 AS BIGINT),
                           (acc, x) -> (acc * 1000003 + x) % 1073741824))
                ELSE CAST(array() AS ARRAY<BIGINT>) END"""))
      .withColumn("nw",
        expr("""CASE WHEN size(gh) = 0 THEN 0
                     WHEN size(gh) <= 4 THEN 1
                     ELSE size(gh) - 3 END"""))
      .withColumn("sel",
        expr("""array_distinct(
                  CASE WHEN nw = 0 THEN CAST(array() AS ARRAY<BIGINT>)
                       ELSE transform(sequence(1, nw),
                              j -> array_min(slice(gh, j,
                                     least(4, size(gh) - j + 1))))
                  END)"""))
      .select(col("id"),
        expr("CAST(size(gh) AS BIGINT)").as("n_grams"),
        expr("CAST(size(sel) AS BIGINT)").as("n_fp"),
        expr("COALESCE(array_min(sel), CAST(0 AS BIGINT))").as("fp_min"),
        expr("aggregate(sel, CAST(0 AS BIGINT), (acc, x) -> acc ^ x)")
          .as("fp_xor"))
    import spark.implicits._
    // edges: empty token, < 4 tokens (no grams), exactly 4, repeats
    // (distinct fires), and real fixture docs
    val edges = Seq("", "a", "a b c", "a b c d", "x x x x x x x x x x",
      "one two three four five six seven eight")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text").withColumn("toks", split(col("text"), " "))
    val docs = Tables(spark, sfDir, "documents").limit(100)
      .select(col("doc_id").as("id"), split(col("text"), " ").as("toks"))
    for (df <- Seq(edges, docs)) {
      val native = df
        .select(col("id"), expr("winnow_stats(toks)").as("ws"))
        .select(col("id"), col("ws.n_grams"), col("ws.n_fp"),
          col("ws.fp_min"), col("ws.fp_xor"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).sorted
      val viaHof = hof(df)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).sorted
      assert(native.sameElements(viaHof))
    }
  }

  test("rep_stats equals the HOF counts, incl. the concat-collision " +
      "bigram semantics") {
    import spark.implicits._
    // ("a b","c") and ("a","b c") produce the SAME joined bigram
    // string — rep_stats must count them as one, like array_distinct
    // over concat_ws did
    val edges = Seq("a", "a a", "a b a b", "a b c b a",
      "x y z w x y z w", "t t t")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text").withColumn("toks", split(col("text"), " "))
    val docs = Tables(spark, sfDir, "documents").limit(100)
      .select(col("doc_id").as("id"), split(col("text"), " ").as("toks"))
    for (df <- Seq(edges, docs)) {
      val native = df
        .select(col("id"), expr("rep_stats(toks)").as("rs"))
        .select(col("id"), col("rs.n_tokens"), col("rs.n_distinct"),
          col("rs.n_bg"), col("rs.n_bg_distinct"), col("rs.top1"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
          r.getInt(3), r.getInt(4), r.getInt(5))).sorted
      val viaHof = df
        .withColumn("bg", expr(
          """CASE WHEN size(toks) >= 2 THEN
               transform(sequence(0, size(toks) - 2),
                 i -> concat_ws(' ', toks[i], toks[i+1]))
             ELSE CAST(array() AS ARRAY<STRING>) END"""))
        .select(col("id"), size(col("toks")).as("n_tokens"),
          size(array_distinct(col("toks"))).as("n_distinct"),
          size(col("bg")).as("n_bg"),
          size(array_distinct(col("bg"))).as("n_bg_distinct"),
          expr("""COALESCE(array_max(transform(array_distinct(toks),
                    w -> size(filter(toks, x -> x = w)))), 0)""")
            .as("top1"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
          r.getInt(3), r.getInt(4), r.getInt(5))).sorted
      assert(native.sameElements(viaHof))
    }
  }

  test("char_entropy equals the substring-explode rollup at 4 dp") {
    import spark.implicits._
    val edges = Seq("a", "ab", "aaaa", "abab", "the quick brown fox")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
    val docs = Tables(spark, sfDir, "documents").limit(100)
      .filter(col("n_chars") > 0)
      .select(col("doc_id").as("id"), col("text"))
    for (df <- Seq(edges, docs)) {
      val native = df
        .select(col("id"), round(expr("char_entropy(text)"), 4).as("e"))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).sorted
      val viaExplode = df
        .withColumn("L", length(col("text")))
        .select(col("id"), col("L"),
          explode(sequence(lit(1), col("L"))).as("i"), col("text"))
        .select(col("id"), col("L"), expr("substring(text, i, 1)").as("ch"))
        .groupBy(col("id"), col("L"), col("ch"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("id"), col("L"))
        .agg(round(-sum(col("c") / col("L") *
          log(col("c") / col("L"))), 4).as("e"))
        .select(col("id"), col("e"))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).sorted
      assert(native.sameElements(viaExplode))
    }
    // entropy facts: uniform over k chars = ln(k); single char = 0
    val one = spark.sql("SELECT char_entropy('aaaa')").head.getDouble(0)
    assert(one == 0.0)
    val two = spark.sql("SELECT char_entropy('abab')").head.getDouble(0)
    assert(math.abs(two - math.log(2.0)) < 1e-12)
  }

  test("GraftFunctions.register is idempotent: a second call rebinds " +
      "nothing") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    val s = spark.newSession()
    val reg = s.sessionState.functionRegistry
    ext.GraftFunctions.register(s)
    def builders = reg.listFunction().map(id =>
      id -> reg.lookupFunctionBuilder(id).get).toMap
    val before = builders
    ext.GraftFunctions.register(s)
    val after = builders
    assert(after.keySet == before.keySet)
    val rebound = before.keys.filterNot(id => after(id) eq before(id))
    assert(rebound.isEmpty, s"rebound: ${rebound.mkString(", ")}")
    // a name bound to something else is still taken back
    val id = FunctionIdentifier("dot_f")
    reg.createOrReplaceTempFunction("dot_f",
      _ => org.apache.spark.sql.catalyst.expressions.Literal(0), "scala_udf")
    ext.GraftFunctions.register(s)
    val graftDot = ext.GraftFunctions.functions.toMap.apply("dot_f")
    assert(reg.lookupFunctionBuilder(id).exists(_ eq graftDot))
  }
}
