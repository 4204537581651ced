package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Optional third arg: comma-separated query names — dump only that
  * subset (used for spot-checks at synthetic SFs where the pair-output
  * ops' results are too large to dump/compare; the driver's own
  * two-arg invocation is unchanged). */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, only) = args match {
      case Array(s, o)    => (s, o, None)
      case Array(s, o, f) =>
        (s, o, Some(f.split(",").map(_.trim).filter(_.nonEmpty).toSet))
    }
    val spark = Sessions.local(Sessions.cpus(4))
    new java.io.File(outDir).mkdirs()
    // run queries on a small thread pool: Spark schedules concurrent
    // jobs fine, and the dump is dominated by per-query fixed cost
    // a subset arg that matches nothing must fail loudly: a typo'd
    // spot-check would otherwise dump zero queries, write an empty
    // oracle_sql.json, and let the compare "pass" on zero keys
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      require(unknown.isEmpty,
        s"unknown query name(s): ${unknown.mkString(", ")}")
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val tasks = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
      pool.submit(new Runnable {
        override def run(): Unit =
          // repartition(1), NOT coalesce(1): coalesce collapses the
          // entire upstream plan into one task, which serializes the
          // multi-million-row pair joins at synthetic sf10 (observed:
          // simhash_pairs single-threaded for 30+ min); the extra
          // exchange is noise at the driver's sf0.01 gate
          try fn(spark, sfDir).repartition(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          catch { case e: Throwable =>
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
          }
      })
    }
    tasks.foreach(_.get())
    pool.shutdown()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
