package graft.ext

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** Registration of graft's native Catalyst extensions.
  *
  * Two paths, same functions:
  *  - `GraftFunctions.register(spark)` — imperative, idempotent; the
  *    ops call it so any session works.
  *  - `spark.sql.extensions=graft.ext.GraftExtensions` — declarative,
  *    for clusters configured at submit time.
  */
object GraftFunctions {

  private def intArg(e: Expression, name: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$name must be an integer literal, got $other")
  }

  val functions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "dot_f" -> { args =>
      require(args.length == 2, "dot_f(arrayA, arrayB)")
      DotProductFloat(args(0), args(1))
    },
    "dot_fd" -> { args =>
      require(args.length == 2, "dot_fd(arrayA, arrayB)")
      DotProductMixed(args(0), args(1))
    },
    "ngrams" -> { args =>
      require(args.length == 2, "ngrams(array<string>, n)")
      NGramsGenerator(args(0), intArg(args(1), "n"))
    },
    "ngrams_distinct" -> { args =>
      require(args.length == 2, "ngrams_distinct(array<string>, n)")
      NGramsGenerator(args(0), intArg(args(1), "n"), distinct = true)
    },
    "ngram_hashes" -> { args =>
      require(args.length == 2, "ngram_hashes(array<string>, n)")
      NGramHashesGenerator(args(0), intArg(args(1), "n"))
    },
    "ngram_hash_pos" -> { args =>
      require(args.length == 2, "ngram_hash_pos(array<string>, n)")
      NGramHashesGenerator(args(0), intArg(args(1), "n"), withPos = true)
    },
    "minhash_sig" -> { args =>
      require(args.length == 2, "minhash_sig(array<string>, n)")
      MinHashSigGenerator(args(0), intArg(args(1), "n"))
    },
    "ngram_hash_set" -> { args =>
      require(args.length == 2, "ngram_hash_set(array<string>, n)")
      NGramHashSetGenerator(args(0), intArg(args(1), "n"))
    },
    "token_counts" -> { args =>
      require(args.length == 1, "token_counts(array<string>)")
      TokenCountsGenerator(args(0))
    },
    "rep_stats" -> { args =>
      require(args.length == 1, "rep_stats(array<string>)")
      RepStats(args(0))
    },
    "char_entropy" -> { args =>
      require(args.length == 1, "char_entropy(string)")
      CharEntropy(args(0))
    },
    "winnow_stats" -> { args =>
      require(args.length == 1, "winnow_stats(array<string>)")
      WinnowStats(args(0))
    },
    "kmv_distinct" -> { args =>
      require(args.nonEmpty && args.length <= 2, "kmv_distinct(col[, k])")
      if (args.length == 1) KmvDistinct(args(0))
      else KmvDistinct(args(0), intArg(args(1), "k"))
    },
    "mg_topk" -> { args =>
      require(args.nonEmpty && args.length <= 2, "mg_topk(col[, k])")
      if (args.length == 1) MgTopK(args(0))
      else MgTopK(args(0), intArg(args(1), "k"))
    },
    "bloom_agg" -> { args =>
      require(args.length == 1, "bloom_agg(col)")
      BloomAgg(args(0))
    },
    "bloom_contains" -> { args =>
      require(args.length == 2, "bloom_contains(bloomBytes, col)")
      BloomMightContain(args(0), args(1))
    })

  /** One info per function, shared by both paths: a registry entry
    * holding graft's builder is left as it is. */
  private val infos: Map[String, ExpressionInfo] = functions.map {
    case (name, _) => name -> new ExpressionInfo("graft.ext.GraftFunctions", name)
  }.toMap

  /** Binds every graft function not already bound to graft's own
    * builder; a name bound to anything else is replaced. A repeat call
    * changes nothing, so the ops may call it per use without the
    * registry logging a "replaced" warning per function. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    functions.foreach { case (name, builder) =>
      val id = FunctionIdentifier(name)
      if (!registry.lookupFunctionBuilder(id).exists(_ eq builder))
        registry.registerFunction(id, infos(name), builder)
    }
  }

  def inject(extensions: SparkSessionExtensions): Unit = {
    functions.foreach { case (name, builder) =>
      extensions.injectFunction((FunctionIdentifier(name), infos(name), builder))
    }
    extensions.injectOptimizerRule(_ => RewriteDotProduct)
    extensions.injectOptimizerRule(_ => graft.plans.WindowTopKRewrite)
    extensions.injectPlannerStrategy(_ => graft.plans.TopKPerKeyStrategy)
  }
}

/** `spark.sql.extensions` entry point. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(extensions: SparkSessionExtensions): Unit =
    GraftFunctions.inject(extensions)
}
