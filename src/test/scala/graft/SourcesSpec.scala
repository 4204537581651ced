package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Source/sink parity (SURVEY.md §2.1): the reference ingests JSON
  * API payloads; we support csv/json/parquet read + write round-trips
  * with schema preservation, plus the JSON-payload column path
  * (from_json -> MapType -> explode).
  */
class SourcesSpec extends AnyFunSuite {
  import SparkFixture._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft-src").toString

  test("csv round-trip preserves data with explicit schema") {
    val orig = Tables(spark, sfDir, "nation")
    val dir = tmp() + "/nation_csv"
    orig.write.option("header", "true").csv(dir)
    val back = spark.read.option("header", "true")
      .schema(orig.schema).csv(dir)
    assert(back.collect().map(_.toString).sorted
      .sameElements(orig.collect().map(_.toString).sorted))
  }

  test("json round-trip preserves data and types") {
    val orig = Tables(spark, sfDir, "region")
    val dir = tmp() + "/region_json"
    orig.write.json(dir)
    val back = spark.read.schema(orig.schema).json(dir)
    assert(back.collect().map(_.toString).sorted
      .sameElements(orig.collect().map(_.toString).sorted))
  }

  test("json source infers schema from API-payload-shaped records") {
    val dir = tmp() + "/payload"
    val payload = Seq(
      """{"profile":"p1","rows":3,"metrics":{"sessions":10,"users":7}}""",
      """{"profile":"p2","rows":5,"metrics":{"sessions":20,"users":9}}""")
    import spark.implicits._
    payload.toDF("value").coalesce(1).write.text(dir)
    val df = spark.read.json(dir)
    assert(df.schema.fieldNames.toSet == Set("profile", "rows", "metrics"))
    val sessions = df.select(col("metrics.sessions")).collect()
      .map(_.getLong(0)).sorted
    assert(sessions.sameElements(Array(10L, 20L)))
  }

  test("parquet sink round-trip: the Verify dump format reads back exactly") {
    val orig = q("pricing_agg")
    val dir = tmp() + "/pricing"
    orig.coalesce(1).write.mode("overwrite").parquet(dir)
    val back = spark.read.parquet(dir)
    // parquet read widens nullability; names + types must survive
    assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      orig.schema.fields.map(f => (f.name, f.dataType)).toSeq)
    assert(back.collect().map(_.toString).sorted
      .sameElements(orig.collect().map(_.toString).sorted))
  }

  test("orc round-trip preserves data and pushes predicates") {
    val orig = Tables(spark, sfDir, "orders")
    val dir = tmp() + "/orders_orc"
    orig.write.orc(dir)
    val back = spark.read.orc(dir)
    assert(back.count() == orig.count())
    val filtered = back.filter(col("o_totalprice") > 300000.0)
    filtered.collect()
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("o_totalprice"),
      s"orc pushdown missing:\n${plan.take(600)}")
    assert(filtered.count() ==
      orig.filter(col("o_totalprice") > 300000.0).count())
  }

  test("props JSON column: from_json -> MapType -> explode") {
    val ev = Tables.events(spark, sfDir)
    val m = ev.withColumn("m",
      from_json(col("props"), MapType(StringType, IntegerType)))
      .select(col("event_id"), explode(col("m")).as(Seq("k", "v")))
    val rows = m.collect()
    assert(rows.length == ev.count())
    assert(rows.forall(_.getString(1) == "k"))
    // values agree with get_json_object path (the declared json_funcs op)
    val viaGet = ev.select(col("event_id"),
      get_json_object(col("props"), "$.k").cast("int").as("v"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    rows.foreach(r => assert(viaGet(r.getLong(0)) == r.getInt(2)))
  }

  test("partitioned parquet write prunes partitions on read") {
    val dir = tmp() + "/orders_part"
    Tables(spark, sfDir, "orders")
      .withColumn("year", year(col("o_orderdate")))
      .write.partitionBy("year").parquet(dir)
    val one = spark.read.parquet(dir).filter(col("year") === 1996)
    one.collect()
    val plan = one.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(year"),
      s"partition pruning missing:\n${plan.take(600)}")
  }

  test("snapshots: commit is marker-last, versions monotonic, " +
      "readAsOf returns the greatest committed version <= ask") {
    import spark.implicits._
    val base = tmp() + "/snap"
    assert(sources.Snapshots.versions(spark, base).isEmpty)
    assert(sources.Snapshots.latest(spark, base) == 0L)
    val v1 = sources.Snapshots.commit(Seq(1, 2, 3).toDF("k"), base)
    val v2 = sources.Snapshots.commit(Seq(1, 2).toDF("k"), base)
    val v3 = sources.Snapshots.commit(Seq(9).toDF("k"), base)
    assert(Seq(v1, v2, v3) == Seq(1L, 2L, 3L))
    // exact version, greatest-<= semantics, and beyond-latest
    assert(sources.Snapshots.readAsOf(spark, base, 1)
      .as[Int].collect().sorted.sameElements(Array(1, 2, 3)))
    assert(sources.Snapshots.readAsOf(spark, base, 2)
      .as[Int].collect().sorted.sameElements(Array(1, 2)))
    assert(sources.Snapshots.readAsOf(spark, base, Long.MaxValue)
      .as[Int].collect().sameElements(Array(9)))
    intercept[IllegalArgumentException] {
      sources.Snapshots.readAsOf(spark, base, 0)
    }
  }

  test("snapshots: compact rewrites the latest version into fewer " +
      "files with identical rows; older versions stay readable") {
    import spark.implicits._
    val base = tmp() + "/snap_compact"
    val v1 = sources.Snapshots.commit(
      (1 to 1000).toDF("k").repartition(16), base)
    assert(sources.Snapshots.fileCount(spark, base, v1) == 16)
    val v2 = sources.Snapshots.compact(spark, base, 1L << 30)
    assert(v2 == v1 + 1)
    assert(sources.Snapshots.fileCount(spark, base, v2) == 1)
    assert(sources.Snapshots.readAsOf(spark, base, v2)
      .as[Int].collect().sorted.toSeq == (1 to 1000).toSeq)
    // time travel across the compaction: v1 untouched
    assert(sources.Snapshots.readAsOf(spark, base, v1).count() == 1000)
    assert(sources.Snapshots.fileCount(spark, base, v1) == 16)
    // compacting a base with no committed version fails loudly
    intercept[IllegalArgumentException] {
      sources.Snapshots.compact(spark, tmp() + "/snap_none", 1024)
    }
  }

  test("snapshots: commitAs is idempotent per version — a re-offered " +
      "batch cannot duplicate or mutate a committed version") {
    import spark.implicits._
    val base = tmp() + "/snap_as"
    assert(sources.Snapshots.commitAs(Seq(1, 2).toDF("k"), base, 1L))
    // the restart path: same version re-offered with different data
    // (a nondeterministic upstream) must be a no-op, not a rewrite
    assert(!sources.Snapshots.commitAs(Seq(9, 9, 9).toDF("k"), base, 1L))
    assert(sources.Snapshots.readAsOf(spark, base, 1L)
      .as[Int].collect().sorted.toSeq == Seq(1, 2))
    assert(sources.Snapshots.versions(spark, base) == Seq(1L))
    // versions can land out of order (concurrent writers) and
    // interleave with commit()
    assert(sources.Snapshots.commitAs(Seq(3).toDF("k"), base, 5L))
    assert(sources.Snapshots.latest(spark, base) == 5L)
  }

  test("snapshots: rollbackTo re-commits old content as a NEW version " +
      "(undo is itself versioned, nothing is deleted)") {
    import spark.implicits._
    val base = tmp() + "/snap_rb"
    sources.Snapshots.commit(Seq(1, 2).toDF("k"), base)   // v1 good
    sources.Snapshots.commit(Seq(9, 9).toDF("k"), base)   // v2 bad
    val v3 = sources.Snapshots.rollbackTo(spark, base, 1L)
    assert(v3 == 3L)
    assert(sources.Snapshots.readAsOf(spark, base, Long.MaxValue)
      .as[Int].collect().sorted.toSeq == Seq(1, 2))
    // the bad version stays readable (auditable) until vacuumed
    assert(sources.Snapshots.readAsOf(spark, base, 2L)
      .as[Int].collect().toSeq == Seq(9, 9))
    assert(sources.Snapshots.versions(spark, base) == Seq(1L, 2L, 3L))
  }

  test("snapshots: vacuum keeps the newest retained versions, fails " +
      "vacuumed reads loudly, and respects the orphan grace period") {
    import spark.implicits._
    val base = tmp() + "/snap_vac"
    (1 to 5).foreach(i =>
      sources.Snapshots.commit(Seq(i).toDF("k"), base))
    // an orphan from a "crashed writer"
    Seq(42).toDF("k").write.parquet(s"$base/v=99")
    // a generous grace period protects the (possibly in-flight) orphan
    assert(sources.Snapshots.vacuum(spark, base, retain = 2)
      == Seq(1L, 2L, 3L))
    assert(sources.Snapshots.versions(spark, base) == Seq(4L, 5L))
    assert(new java.io.File(s"$base/v=99").exists(),
      "fresh orphan deleted inside the grace period")
    // reads of retained versions still work; vacuumed reads fail loudly
    assert(sources.Snapshots.readAsOf(spark, base, 4L)
      .as[Int].collect().toSeq == Seq(4))
    intercept[IllegalArgumentException] {
      sources.Snapshots.readAsOf(spark, base, 3L)
    }
    // zero grace: the orphan goes too; retained data is untouched
    sources.Snapshots.vacuum(spark, base, retain = 2, graceMs = 0L)
    assert(!new java.io.File(s"$base/v=99").exists())
    assert(sources.Snapshots.readAsOf(spark, base, 5L)
      .as[Int].collect().toSeq == Seq(5))
  }

  test("snapshots: an orphan data dir without its commit marker is " +
      "invisible to every reader (crash-safety)") {
    import spark.implicits._
    val base = tmp() + "/snap_crash"
    sources.Snapshots.commit(Seq(1).toDF("k"), base)
    // simulate a writer that died between data write and marker:
    // data dir exists, _commits/2 does not
    Seq(7, 8).toDF("k").write.parquet(s"$base/v=2")
    assert(sources.Snapshots.versions(spark, base) == Seq(1L))
    assert(sources.Snapshots.latest(spark, base) == 1L)
    assert(sources.Snapshots.readAsOf(spark, base, Long.MaxValue)
      .as[Int].collect().sameElements(Array(1)))
    // a later successful commit reclaims the orphan NUMBER without
    // ever touching the orphan's bytes: it writes its own
    // uniquely-named dir and the marker content points there
    val v = sources.Snapshots.commit(Seq(5).toDF("k"), base)
    assert(v == 2L)
    assert(sources.Snapshots.readAsOf(spark, base, 2)
      .as[Int].collect().sameElements(Array(5)))
  }

  test("snapshots: a racing duplicate marker forces the loser to the " +
      "next version (optimistic concurrency)") {
    import spark.implicits._
    val base = tmp() + "/snap_race"
    sources.Snapshots.commit(Seq(1).toDF("k"), base)
    // plant version 2's marker as the "winner" (data dir too, so the
    // loser's overwrite of v=2 data doesn't matter for this check)
    Seq(2).toDF("k").write.parquet(s"$base/v=2")
    val f = new org.apache.hadoop.fs.Path(base, "_commits/2")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.create(new org.apache.hadoop.fs.Path(base, "_commits/2"),
      false).close()
    // the "loser" writer: sees latest=2 mid-flight? No — it computes
    // v=3 up front from the committed set and lands there
    val v = sources.Snapshots.commit(Seq(3).toDF("k"), base)
    assert(v == 3L)
    assert(sources.Snapshots.versions(spark, base) == Seq(1L, 2L, 3L))
  }

  test("snapshots: two RACING commitAs writers of the same version — " +
      "exactly one wins, the winner's bytes are never clobbered") {
    import spark.implicits._
    val base = tmp() + "/snap_race2"
    // barrier-synchronized writers with DIFFERENT payloads: under the
    // old shared-dir protocol the loser's overwrite could delete or
    // interleave the winner's files between its write and its marker;
    // writer-unique dirs make cross-contamination structurally
    // impossible — the committed content must equal EXACTLY the
    // winning writer's rows
    val payloads = Seq(Seq(1, 1, 1), Seq(2, 2))
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val results = new Array[Boolean](2)
    val threads = payloads.zipWithIndex.map { case (p, i) =>
      new Thread(() => {
        val df = p.toDF("k")
        barrier.await()
        results(i) = sources.Snapshots.commitAs(df, base, 1L)
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(results.count(identity) == 1,
      s"expected exactly one winner, got ${results.toSeq}")
    val winner = payloads(results.indexOf(true))
    val got = sources.Snapshots.readAsOf(spark, base, 1L)
      .as[Int].collect().sorted.toSeq
    assert(got == winner.sorted,
      s"committed content $got is not the winner's payload $winner")
    // exactly one marker; the loser's dir is an unreferenced orphan
    // that a zero-grace vacuum retires without touching the winner
    val commits = new java.io.File(s"$base/_commits").listFiles()
      .filterNot(_.getName.startsWith(".")) // local-FS .crc sidecars
    assert(commits.length == 1 && commits.head.getName == "1")
    // the loser deleted its own unique dir on the marker loss (or
    // never wrote one, if the winner's marker landed first) — only
    // the winner's dir remains, and vacuum has nothing to reclaim
    val dirs = new java.io.File(base).listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("v="))
    assert(dirs == 1, "only the winner's dir should remain")
    sources.Snapshots.vacuum(spark, base, retain = 1, graceMs = 0L)
    assert(sources.Snapshots.readAsOf(spark, base, 1L)
      .as[Int].collect().sorted.toSeq == winner.sorted)
  }

  test("snapshots: two RACING commit() writers serialize to distinct " +
      "versions with unmixed content") {
    import spark.implicits._
    val base = tmp() + "/snap_race3"
    val payloads = Seq(Seq(10, 11), Seq(20, 21, 22))
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val versions = new Array[Long](2)
    val threads = payloads.zipWithIndex.map { case (p, i) =>
      new Thread(() => {
        val df = p.toDF("k")
        barrier.await()
        versions(i) = sources.Snapshots.commit(df, base)
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    // optimistic concurrency: the marker race loser retried at the
    // next number — both land, on different versions
    assert(versions.sorted.toSeq == Seq(1L, 2L), versions.toSeq)
    payloads.zip(versions).foreach { case (p, v) =>
      val got = sources.Snapshots.readAsOf(spark, base, v)
        .as[Int].collect().sorted.toSeq
      assert(got == p.sorted, s"v$v content $got is not its writer's $p")
    }
  }

  test("snapshots: commitPartitions rewrites only the touched " +
      "partition, inherits the rest, and cuts bytes written") {
    import spark.implicits._
    val base = tmp() + "/snap_incr"
    val full = (1 to 3)
      .flatMap(p => (1 to 2000).map(i => (p * 10000 + i, s"p$p")))
      .toDF("k", "part")
    val v1 = sources.Snapshots.commitPartitioned(full, base, "part")
    assert(v1 == 1L)
    assert(sources.Snapshots.readAsOf(spark, base, v1).count() == 6000)
    // incremental: rewrite ONLY p2 (half the rows, values bumped)
    val p2new = (1 to 1000).map(i => (20000 + i, "p2")).toDF("k", "part")
    val v2 = sources.Snapshots.commitPartitions(p2new, base, "part")
    assert(v2 == 2L)
    val got2 = sources.Snapshots.readAsOf(spark, base, v2)
      .groupBy("part").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got2 == Map("p1" -> 2000L, "p2" -> 1000L, "p3" -> 2000L),
      s"v2 partition counts wrong: $got2")
    // inherited partitions are v1's exact rows
    assert(sources.Snapshots.readAsOf(spark, base, v2)
      .filter(col("part") === "p1").select("k").as[Int]
      .collect().sorted.toSeq == (1 to 2000).map(10000 + _))
    // time travel: v1 unchanged, including its own p2
    assert(sources.Snapshots.readAsOf(spark, base, v1).count() == 6000)
    assert(sources.Snapshots.readAsOf(spark, base, v1)
      .filter(col("part") === "p2").count() == 2000)
    // write amplification: v2 wrote ~one partition's bytes, not ~3
    val b1 = sources.Snapshots.bytesWritten(spark, base, v1)
    val b2 = sources.Snapshots.bytesWritten(spark, base, v2)
    assert(b2 < b1 / 2, s"v2 wrote $b2 bytes vs full-copy $b1")
    // a further full commit on top of the incremental chain still works
    val v3 = sources.Snapshots.commitPartitioned(
      Seq((1, "p9")).toDF("k", "part"), base, "part")
    assert(sources.Snapshots.readAsOf(spark, base, v3).count() == 1)
    // vacuum keeping v2+v3 must NOT delete v1's dir: v2 inherits
    // p1/p3 from it
    sources.Snapshots.vacuum(spark, base, retain = 2, graceMs = 0L)
    assert(sources.Snapshots.versions(spark, base) == Seq(2L, 3L))
    assert(sources.Snapshots.readAsOf(spark, base, v2).count() == 5000)
    intercept[IllegalArgumentException] {
      sources.Snapshots.readAsOf(spark, base, v1)
    }
    // seeding an incremental commit without a manifest fails loudly
    val plain = tmp() + "/snap_incr_plain"
    sources.Snapshots.commit(Seq(1).toDF("k"), plain)
    intercept[IllegalArgumentException] {
      sources.Snapshots.commitPartitions(
        Seq((1, "p1")).toDF("k", "part"), plain, "part")
    }
  }

  test("compact_partitions: only fragmented partitions rewrite; the " +
      "healthy one is inherited by reference and moves zero bytes") {
    val res = q("compact_partitions").collect()
    assert(res.length == 5) // one row per event_type
    val base = s"/tmp/graft_src_compact_parts_" +
      s"${Integer.toHexString(sfDir.hashCode)}" +
      s"_p${ProcessHandle.current().pid()}"
    // v2 left 'click' at 1 file, everything else fragmented; v3 is
    // the compaction commit
    assert(sources.Snapshots.latest(spark, base) == 3L)
    val audit3 = sources.Snapshots.partitionFiles(spark, base, 3L)
      .map { case (p, files, _) => p -> files }.toMap
    assert(audit3.values.forall(_ == 1), s"not compacted: $audit3")
    // selectivity: v3's OWN data dir holds every partition EXCEPT
    // click (click was already healthy and is inherited from v2)
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v3Dir = fs.listStatus(new org.apache.hadoop.fs.Path(base))
      .filter(_.isDirectory).map(_.getPath.getName)
      .filter(_.startsWith("v=3-")).head
    val ownParts = fs.listStatus(
      new org.apache.hadoop.fs.Path(base, v3Dir))
      .filter(_.isDirectory).map(_.getPath.getName)
      .filter(_.startsWith("event_type=")).toSet
    assert(!ownParts.contains("event_type=click"),
      "click was rewritten despite being healthy")
    assert(ownParts.size == 4, s"expected 4 rewritten partitions: $ownParts")
    // pre-compaction versions stay readable (time travel)
    val n = sources.Snapshots.readAsOf(spark, base, 3L).count()
    assert(sources.Snapshots.readAsOf(spark, base, 1L).count() == n)
    assert(sources.Snapshots.readAsOf(spark, base, 2L).count() == n)
    // a second pass finds nothing fragmented: no new version
    val (v4, parts) =
      sources.Snapshots.compactPartitions(spark, base, 1L << 30)
    assert(v4 == 3L && parts.isEmpty)
  }

  test("snapshots: hive-escaped and NULL partition values survive the " +
      "manifest round-trip; an empty partitioned commit is refused") {
    import spark.implicits._
    val base = tmp() + "/snap_esc"
    // '=' and ':' hive-escape in dir names (part=x%3Dy); null lands in
    // __HIVE_DEFAULT_PARTITION__ — both break a raw dir-name isin
    val full = Seq(
      (1, "a b"), (2, "a b"), (3, "x=y"), (4, "p:q"),
      (5, null.asInstanceOf[String]), (6, "plain")
    ).toDF("k", "part")
    val v1 = sources.Snapshots.commitPartitioned(full, base, "part")
    assert(sources.Snapshots.readAsOf(spark, base, v1)
      .select("k").as[Int].collect().sorted.toSeq == (1 to 6))
    // incremental rewrite of the escaped partition AND the null one
    val upd = Seq((30, "x=y"), (50, null.asInstanceOf[String]))
      .toDF("k", "part")
    val v2 = sources.Snapshots.commitPartitions(upd, base, "part")
    val got2 = sources.Snapshots.readAsOf(spark, base, v2)
      .select("k").as[Int].collect().sorted.toSeq
    assert(got2 == Seq(1, 2, 4, 6, 30, 50), s"got $got2")
    // values come back RAW (unescaped) and null stays null
    val parts = sources.Snapshots.readAsOf(spark, base, v2)
      .select("part").distinct().collect()
      .map(r => Option(r.getString(0))).toSet
    assert(parts ==
      Set(Some("a b"), Some("x=y"), Some("p:q"), Some("plain"), None))
    // an empty partitioned commit can never be read back (no dirs, no
    // schema): refused loudly, nothing published
    intercept[IllegalArgumentException] {
      sources.Snapshots.commitPartitioned(
        full.filter(col("k") > 99), base, "part")
    }
    assert(sources.Snapshots.latest(spark, base) == v2)
  }

  /** Runs `body` with `version`'s manifest header lines replaced by
    * `edit`'s (a header `edit` maps to None is dropped), then restores
    * the manifest. Goes through the Hadoop filesystem so the local
    * checksum file stays in step. */
  private def withManifestHeader[T](base: String, version: Long)(
      edit: String => Option[String])(body: => T): T = {
    val p = new org.apache.hadoop.fs.Path(s"$base/_manifests/$version")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def write(text: String): Unit = {
      val out = fs.create(p, true)
      try out.write(text.getBytes("UTF-8")) finally out.close()
    }
    val in = fs.open(p)
    val orig = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    write(orig.split('\n').toSeq
      .flatMap(l => if (l.startsWith("#")) edit(l) else Some(l))
      .mkString("\n"))
    try body finally write(orig)
  }

  /** The header a manifest carried before `#schema`: `#type` and the
    * partition column's type. */
  private def asTypeHeader(line: String): Option[String] =
    if (!line.startsWith("#schema\t")) Some(line)
    else Some("#type\t" + DataType.fromJson(line.stripPrefix("#schema\t"))
      .asInstanceOf[StructType].fields.last.dataType.catalogString)

  /** The schema and the sorted rows of a snapshot read. */
  private def snapshot(base: String, version: Long): (StructType, Seq[String]) = {
    val df = sources.Snapshots.readAsOf(spark, base, version)
    (df.schema, df.collect().map(_.toString).sorted.toSeq)
  }

  test("snapshots: a recorded #schema reads back the inference path's " +
      "schema and rows for seed, incremental and escaped/NULL versions") {
    import spark.implicits._
    val base = tmp() + "/snap_schema"
    val full = (1 to 3).flatMap(p => (1 to 20).map(i => (p * 100 + i, p)))
      .toDF("k", "p")
      .select(col("k"), (col("k") * 1.5).as("x"),
        concat(lit("p"), col("p")).as("part"),
        array(col("k"), col("p")).as("arr"),
        struct(col("k").as("a"), lit("b").as("b")).as("st"),
        map(lit("m"), col("k")).as("mp"),
        timestamp_seconds(col("k")).as("ts"),
        col("k").cast("decimal(10,2)").as("d"))
    val v1 = sources.Snapshots.commitPartitioned(full, base, "part")
    val v2 = sources.Snapshots.commitPartitions(
      full.filter(col("part") === "p2" && col("k") % 2 === 0), base, "part")
    val esc = tmp() + "/snap_schema_esc"
    val e1 = sources.Snapshots.commitPartitioned(Seq(
      (1, "a b"), (2, "x=y"), (3, "p:q"), (4, null.asInstanceOf[String]),
      (5, "plain")).toDF("k", "part"), esc, "part")
    val e2 = sources.Snapshots.commitPartitions(
      Seq((20, "x=y"), (40, null.asInstanceOf[String])).toDF("k", "part"),
      esc, "part")
    for ((b, v) <- Seq(base -> v1, base -> v2, esc -> e1, esc -> e2)) {
      val recorded = snapshot(b, v)
      // the recorded schema is every field nullable, partition last
      assert(recorded._1.fields.last.name == "part")
      assert(recorded._1.fields.forall(_.nullable))
      assert(withManifestHeader(b, v)(asTypeHeader)(snapshot(b, v)) ==
        recorded, s"$b@$v: #type header read differs")
      // a manifest with no header at all (stripped #schema) too
      assert(withManifestHeader(b, v)(_ => None)(snapshot(b, v)) ==
        recorded, s"$b@$v: header-less read differs")
    }
    assert(snapshot(base, v2)._2.size == 50)
    assert(snapshot(esc, e2)._2.size == 5)
  }

  test("snapshots: a string partition whose live values are all " +
      "digits stays string, leading zeros included") {
    import spark.implicits._
    val base = tmp() + "/snap_digits"
    sources.Snapshots.commitPartitioned(
      Seq((1, "1"), (2, "2"), (3, "10"), (4, "07")).toDF("k", "part"),
      base, "part")
    val v2 = sources.Snapshots.commitPartitions(
      Seq((20, "2")).toDF("k", "part"), base, "part")
    val df = sources.Snapshots.readAsOf(spark, base, v2)
    assert(df.schema("part").dataType == StringType)
    assert(df.as[(Int, String)].collect().toSet ==
      Set((1, "1"), (20, "2"), (3, "10"), (4, "07")))
  }

  test("snapshots: readAsOf of a manifest version runs no Spark job " +
      "before its first action; a header-less manifest infers per dir") {
    import spark.implicits._
    val base = tmp() + "/snap_jobs"
    sources.Snapshots.commitPartitioned(
      Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "part"), base, "part")
    val v2 = sources.Snapshots.commitPartitions(
      Seq((20, "b")).toDF("k", "part"), base, "part")
    assert(jobsStartedBy(sources.Snapshots.readAsOf(spark, base, v2)) == 0)
    // two source dirs (v1 owns a and c, v2 owns b): one schema
    // inference job each when nothing is recorded
    assert(withManifestHeader(base, v2)(_ => None)(
      jobsStartedBy(sources.Snapshots.readAsOf(spark, base, v2))) == 2)
    assert(sources.Snapshots.readAsOf(spark, base, v2).count() == 3)
    // a commit on top of a header-less version records the schema
    val v3 = withManifestHeader(base, v2)(_ => None)(
      sources.Snapshots.commitPartitions(
        Seq((30, "c")).toDF("k", "part"), base, "part"))
    assert(jobsStartedBy(sources.Snapshots.readAsOf(spark, base, v3)) == 0)
    assert(sources.Snapshots.readAsOf(spark, base, v3).as[(Int, String)]
      .collect().toSet == Set((1, "a"), (20, "b"), (30, "c")))
  }

  test("snapshots: commitPartitions refuses a frame whose data columns " +
      "differ from the table's, before writing anything") {
    import spark.implicits._
    val base = tmp() + "/snap_refuse"
    val v1 = sources.Snapshots.commitPartitioned(
      Seq((1, "x", "a"), (2, "y", "b")).toDF("k", "s", "part"), base, "part")
    def files: Set[String] = {
      val st = java.nio.file.Files.walk(java.nio.file.Paths.get(base))
      try st.iterator().asScala.map(_.toString).toSet finally st.close()
    }
    val before = files
    val bad = Seq(
      Seq((1L, "x", "a")).toDF("k", "s", "part"),          // k widened
      Seq((1, "x", 2, "a")).toDF("k", "s", "extra", "part"), // extra
      Seq((1, "a")).toDF("k", "part"))                     // s missing
    bad.foreach { df =>
      val e = intercept[IllegalArgumentException](
        sources.Snapshots.commitPartitions(df, base, "part"))
      assert(e.getMessage.contains("k:int, s:string"), e.getMessage)
      intercept[IllegalArgumentException](
        sources.Snapshots.commitPartitionsAs(df, base, "part", 7L))
    }
    assert(files == before, "a refused commit left files behind")
    assert(sources.Snapshots.versions(spark, base) == Seq(v1))
    // the same columns in another order are the same table
    val v2 = sources.Snapshots.commitPartitions(
      Seq(("b", 3, "z")).toDF("part", "k", "s"), base, "part")
    assert(sources.Snapshots.readAsOf(spark, base, v2)
      .as[(Int, String, String)].collect().toSet ==
      Set((1, "x", "a"), (3, "z", "b")))
  }

  /** Every path under `base` (dirs and files), for before/after
    * comparisons of commits that must write nothing. */
  private def pathsUnder(base: String): Set[String] = {
    val st = java.nio.file.Files.walk(java.nio.file.Paths.get(base))
    try st.iterator().asScala.map(_.toString).toSet finally st.close()
  }

  /** The hive partition dirs that version `v`'s own data dir holds. */
  private def ownPartitions(base: String, v: Long): Set[String] = {
    val root = java.nio.file.Paths.get(base)
    val dir = java.nio.file.Files.list(root).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith(s"v=$v-")).toSeq
    assert(dir.size == 1, s"version $v data dirs: $dir")
    java.nio.file.Files.list(root.resolve(dir.head)).iterator().asScala
      .map(_.getFileName.toString).filter(_.contains("=")).toSet
  }

  test("snapshots: appendPartitions seeds a fresh table as " +
      "commitPartitioned does, then rewrites only the touched " +
      "partitions, one file each") {
    import spark.implicits._
    val full = (1 to 3)
      .flatMap(p => (1 to 50).map(i => (p * 100 + i, s"s$i", s"p$p")))
      .toDF("k", "s", "part").repartition(4)
    val base = tmp() + "/append"
    val ref = tmp() + "/append_ref"
    assert(sources.Snapshots.appendPartitions(full, base, "part") == 1L)
    sources.Snapshots.commitPartitioned(full, ref, "part")
    assert(snapshot(base, 1L) == snapshot(ref, 1L))
    assert(sources.Snapshots.partitionFiles(spark, base, 1L)
      .forall(_._2 == 1), "the seed is not one file per partition")
    val batch = Seq((900, "x", "p2"), (901, "y", "p4")).toDF("k", "s", "part")
    val v2 = sources.Snapshots.appendPartitions(batch, base, "part")
    assert(v2 == 2L)
    assert(ownPartitions(base, v2) == Set("part=p2", "part=p4"))
    val files = sources.Snapshots.partitionFiles(spark, base, v2)
    assert(files.map(_._1).toSet ==
      Set("part=p1", "part=p2", "part=p3", "part=p4"))
    assert(files.forall(_._2 == 1), s"not one file per partition: $files")
    assert(sources.Snapshots.readAsOf(spark, base, v2)
      .as[(Int, String, String)].collect().toSet ==
      full.as[(Int, String, String)].collect().toSet ++
        Set((900, "x", "p2"), (901, "y", "p4")))
    // the appended version reads back as a partitionBy write of the
    // same rows would, schema included
    val vRef = sources.Snapshots.commitPartitioned(
      sources.Snapshots.readAsOf(spark, base, v2), ref, "part")
    assert(snapshot(base, v2) == snapshot(ref, vRef))
  }

  test("snapshots: an empty append commits nothing, a committed " +
      "version is not rewritten, and mismatched columns are refused") {
    import spark.implicits._
    val base = tmp() + "/append_noop"
    val rows = Seq((1, "x", "a"), (2, "y", "b")).toDF("k", "s", "part")
    val empty = rows.filter(col("k") > 99)
    // a fresh table: nothing seeded, no dir left
    assert(sources.Snapshots.appendPartitions(empty, base, "part") == 0L)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(base)) ||
      pathsUnder(base).forall(p => !p.contains("v=")))
    val v1 = sources.Snapshots.appendPartitions(rows, base, "part")
    val before = pathsUnder(base)
    assert(sources.Snapshots.appendPartitions(empty, base, "part") == v1)
    assert(!sources.Snapshots.appendPartitionsAs(empty, base, "part", 5L))
    assert(pathsUnder(base) == before, "an empty append left files")
    assert(sources.Snapshots.versions(spark, base) == Seq(v1))
    // a committed version: false, nothing written
    assert(!sources.Snapshots.appendPartitionsAs(
      Seq((3, "z", "a")).toDF("k", "s", "part"), base, "part", v1))
    assert(pathsUnder(base) == before, "a replayed append wrote files")
    // the data-column refusal fires before anything is written
    Seq(
      Seq((1L, "x", "a")).toDF("k", "s", "part"),
      Seq((1, "x", 2, "a")).toDF("k", "s", "extra", "part"),
      Seq((1, "a")).toDF("k", "part")).foreach { df =>
      val e = intercept[IllegalArgumentException](
        sources.Snapshots.appendPartitions(df, base, "part"))
      assert(e.getMessage.contains("k:int, s:string"), e.getMessage)
      intercept[IllegalArgumentException](
        sources.Snapshots.appendPartitionsAs(df, base, "part", 7L))
    }
    assert(pathsUnder(base) == before, "a refused append left files")
    // the fixed-version form appends on top of the latest version
    assert(sources.Snapshots.appendPartitionsAs(
      Seq((3, "z", "a")).toDF("k", "s", "part"), base, "part", 7L))
    assert(sources.Snapshots.readAsOf(spark, base, 7L)
      .as[(Int, String, String)].collect().toSet ==
      Set((1, "x", "a"), (2, "y", "b"), (3, "z", "a")))
  }

  test("snapshots: an append built before a concurrent append " +
      "committed keeps the winner's rows") {
    import spark.implicits._
    val base = tmp() + "/append_stale"
    sources.Snapshots.appendPartitions(
      Seq((1, "p"), (9, "q")).toDF("id", "part"), base, "part")
    // writer B holds its batch from before writer A's append lands
    val b = Seq((3, "p")).toDF("id", "part")
    assert(sources.Snapshots.appendPartitions(
      Seq((2, "p")).toDF("id", "part"), base, "part") == 2L)
    assert(sources.Snapshots.appendPartitions(b, base, "part") == 3L)
    assert(sources.Snapshots.readAsOf(spark, base, 3L)
      .as[(Int, String)].collect().toSet ==
      Set((1, "p"), (2, "p"), (3, "p"), (9, "q")))
  }

  test("snapshots: two appends racing for one version both commit " +
      "and the latest version holds both rows") {
    import spark.implicits._
    val base = tmp() + "/append_race"
    sources.Snapshots.appendPartitions(
      Seq((1, "p"), (9, "q")).toDF("id", "part"), base, "part")
    // the slow batch finishes its write after the fast one committed
    // the version both started on, so its manifest create finds the
    // winner's manifest and marker
    val slow = udf { (id: Int) => Thread.sleep(5000); id }
    val batches = Seq(
      Seq((2, "p")).toDF("id", "part"),
      Seq((3, "p")).toDF("id", "part").withColumn("id", slow(col("id"))))
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val versions = new Array[Long](2)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val threads = batches.zipWithIndex.map { case (df, i) =>
      new Thread(() => {
        barrier.await()
        try versions(i) = sources.Snapshots.appendPartitions(df, base, "part")
        catch { case e: Throwable => errors.add(e) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errors.isEmpty, errors.asScala.map(_.toString).mkString("; "))
    assert(versions.sorted.toSeq == Seq(2L, 3L), versions.toSeq)
    assert(sources.Snapshots.readAsOf(spark, base, 3L)
      .as[(Int, String)].collect().toSet ==
      Set((1, "p"), (2, "p"), (3, "p"), (9, "q")))
  }

  test("zorder_write: the z-clustered layout makes most files " +
      "skippable for a both-dim predicate; round-robin makes none") {
    // the pruning evidence behind the declared zorder_write op: write
    // the SAME rows in the two layouts, recover each file's (px, sx)
    // min/max — exactly the parquet column stats a reader skips on —
    // and count the files whose span excludes px<32 AND sx<32 on at
    // least one dimension
    val spread8 = (c: String) =>
      (0 until 8).map(i =>
        s"(((($c) >> $i) & 1) << ${2 * i})").mkString(" + ")
    val z = Tables(spark, sfDir01, "lineitem")
      .select(col("l_partkey"), col("l_suppkey"))
      .withColumn("px", col("l_partkey") % 256)
      .withColumn("sx", col("l_suppkey") % 256)
      .withColumn("zkey", expr(spread8("px")) + expr(spread8("sx")) * 2)
    def skippable(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
      val dir = tmp() + "/layout"
      df.write.mode("overwrite").parquet(dir)
      val spans = spark.read.parquet(dir)
        .groupBy(input_file_name().as("f"))
        .agg(min("px").as("px_min"), max("px").as("px_max"),
          min("sx").as("sx_min"), max("sx").as("sx_max"))
        .collect()
      val skip = spans.count { r =>
        r.getAs[Long]("px_min") >= 32 || r.getAs[Long]("px_max") < 0 ||
          r.getAs[Long]("sx_min") >= 32
      }
      (skip.toLong, spans.length.toLong)
    }
    val (zSkip, zFiles) = skippable(
      z.repartitionByRange(16, col("zkey")).sortWithinPartitions(col("zkey"))
        .drop("zkey"))
    val (rSkip, rFiles) = skippable(z.repartition(16).drop("zkey"))
    info(s"zorder skips $zSkip/$zFiles files; round-robin $rSkip/$rFiles")
    println(s"[zorder] skip_zorder=$zSkip/$zFiles " +
      s"skip_roundrobin=$rSkip/$rFiles")
    // z-clustering: all target rows live in the low-zkey files, so
    // nearly every other file's stats exclude the predicate; a
    // round-robin layout spreads the target everywhere (0 skippable)
    assert(zSkip >= zFiles - 3,
      s"z-order should leave <=3 unskippable files, skipped $zSkip/$zFiles")
    assert(rSkip == 0,
      s"round-robin should be unskippable, skipped $rSkip/$rFiles")
  }
}
