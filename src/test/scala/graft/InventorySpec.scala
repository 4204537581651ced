package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every registered operator executes end-to-end on sf0.001 and obeys
  * the driver-contract basics (SURVEY.md §2 determinism rules): every
  * oracle key has a query, schemas are non-empty with unique
  * lowercase column names (the driver sorts columns by name before
  * hashing, so duplicate or case-colliding names would break the
  * compare).
  */
class InventorySpec extends AnyFunSuite {
  import SparkFixture._

  test("oracleSql keys are a subset of queries keys") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  test("Bench sets name declared queries; an unknown set name fails " +
      "and lists the valid ones") {
    for ((name, keys) <- Bench.sets) {
      val missing = keys.filterNot(SparkEntry.queries.contains)
      assert(missing.isEmpty, s"set $name names undeclared keys: $missing")
    }
    assert(Bench.selectSet(None) == Bench.headline)
    assert(Bench.selectSet(Some("append")) == Bench.append)
    assert(Bench.selectSet(Some("custom:topk, pagerank,")) ==
      Seq("topk", "pagerank"))
    val e = intercept[IllegalArgumentException](
      Bench.selectSet(Some("r14")))
    Bench.sets.foreach { case (name, _) =>
      assert(e.getMessage.contains(name), e.getMessage)
    }
  }

  test("flagship entry returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
    test(s"$name executes on sf0.001 with a sane schema") {
      val df = fn(spark, sfDir)
      val cols = df.schema.fieldNames.toSeq
      assert(cols.nonEmpty)
      assert(cols.map(_.toLowerCase).distinct.size == cols.size,
        s"duplicate column names: $cols")
      assert(df.count() >= 0)
    }
  }
}
