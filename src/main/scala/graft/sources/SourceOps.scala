package graft.sources

import graft.{Op, OpModule, Tables}
import org.apache.spark.sql.functions._

/** Source/sink round-trips (SURVEY.md §2.1): csv and json ingest and
  * the partitioned-parquet sink, declared as driver-visible queries.
  *
  * Each op writes a copy of a fixture table to /tmp in the target
  * format, reads it back with an EXPLICIT schema (at 100 TB schema
  * inference is an extra full scan — production readers always pin
  * the schema), and returns a result the oracle computes from the
  * original parquet: hash equality proves the round-trip is
  * lossless. Paths come from `Snapshots.freshTmpBase` (keyed by the
  * sfDir hash and pid, emptied first) so concurrent Verify runs never
  * collide and snapshot ops re-commit from scratch each run.
  *
  * `sink_partitioned` is the 100 TB layout primitive: a
  * `partitionBy(col)` parquet write produces the hive-style directory
  * tree whose partition column filter is pruned at FILE LISTING time
  * (PartitionFilters in the scan, not a data read) — the batch analog
  * of the date-partitioned event store every GA-like pipeline uses.
  */
object SourceOps extends OpModule {

  /** nation -> csv (header) -> explicit-schema read -> projection.
    * Integer/string columns only: csv is a textual format, so the op
    * sticks to types with exact textual round-trips. */
  val csvRoundtrip = Op(
    "csv_roundtrip",
    (s, d) => {
      val path = Snapshots.freshTmpBase(s, "src_csv", d)
      Tables(s, d, "nation")
        .write.mode("overwrite").option("header", "true").csv(path)
      s.read
        .schema("n_nationkey INT, n_name STRING, n_regionkey INT")
        .option("header", "true")
        .csv(path)
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
    },
    Some("SELECT n_nationkey, n_name, n_regionkey FROM nation"))

  /** supplier -> ndjson -> explicit-schema read. Doubles round-trip
    * exactly through Spark's JSON writer (shortest repr that parses
    * back to the same IEEE value). */
  val jsonRoundtrip = Op(
    "json_roundtrip",
    (s, d) => {
      val path = Snapshots.freshTmpBase(s, "src_json", d)
      Tables(s, d, "supplier").write.mode("overwrite").json(path)
      s.read
        .schema("s_suppkey BIGINT, s_name STRING, s_nationkey INT, " +
          "s_acctbal DOUBLE")
        .json(path)
        .select(col("s_suppkey"), col("s_name"), col("s_nationkey"),
          col("s_acctbal"))
    },
    Some("SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier"))

  /** events -> parquet partitioned by event_type -> read back with a
    * partition filter -> daily aggregate. The event_type predicate is
    * satisfied by directory pruning (PartitionFilters), not row
    * filtering; the oracle computes the same aggregate straight from
    * the source table. */
  val sinkPartitioned = Op(
    "sink_partitioned",
    (s, d) => {
      val path = Snapshots.freshTmpBase(s, "src_part", d)
      Tables.events(s, d)
        .select(col("event_id"), col("ts"), col("user_id"), col("value"),
          col("event_type"))
        .write.mode("overwrite").partitionBy("event_type").parquet(path)
      s.read.parquet(path)
        .filter(col("event_type") === "purchase")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(
          count(lit(1)).as("n_events"),
          round(sum(col("value")), 2).as("total_value"))
    },
    Some("""
      SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
             COUNT(*) AS n_events,
             ROUND(SUM(value), 2) AS total_value
      FROM events
      WHERE event_type = 'purchase'
      GROUP BY 1"""))

  /** MERGE INTO against a partitioned target layout — the thing a
    * real Delta/Iceberg merge buys over `merge_upsert`'s plain-table
    * shuffle: when every source row targets one partition (here
    * event_type='click'), the target read is pruned at FILE LISTING
    * time (PartitionFilters on the scan), so a 100 TB event store
    * rewrites one partition's files instead of scanning the table.
    * Same full-outer-join + per-column coalesce kernel and the same
    * audit-rollup output shape as `merge_upsert`; integer-cent sums
    * for exact cross-engine totals. The oracle computes the identical
    * merge from the source `events` table filtered to the partition
    * (pruning changes I/O, never results). */
  val mergePartitioned = Op(
    "merge_partitioned",
    (s, d) => {
      val path = Snapshots.freshTmpBase(s, "src_mergepart", d)
      Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("value"),
          col("event_type"))
        .write.mode("overwrite").partitionBy("event_type").parquet(path)
      // target: only the merged partition is listed, never the rest
      val target = s.read.parquet(path)
        .filter(col("event_type") === "click")
        .select(col("event_id"),
          floor(col("value") * 100).cast("long").as("t_cents"))
      val mk = target.agg(max(col("event_id")).as("mk"))
      val source = target
        .filter(expr("(event_id % 100000) * 2654435761 % 10 = 0"))
        .crossJoin(broadcast(mk))
        .select(
          // even multiples of 10 update in place, odd multiples
          // insert beyond the key space (same split as merge_upsert)
          when(col("event_id") % 20 === 0, col("event_id"))
            .otherwise(col("event_id") + col("mk") + 1).as("event_id"),
          (col("t_cents") + 100L).as("s_cents"))
      target.join(source, Seq("event_id"), "full_outer")
        .select(
          when(col("s_cents").isNotNull && col("t_cents").isNotNull,
            "updated")
            .when(col("s_cents").isNotNull, "inserted")
            .otherwise("unchanged").as("action"),
          coalesce(col("s_cents"), col("t_cents")).as("cents"))
        .groupBy(col("action"))
        .agg(count(lit(1)).as("n_rows"),
          round(sum(col("cents")) / 100.0, 2).as("total_value"))
    },
    Some("""
      WITH target AS (
        SELECT event_id, CAST(FLOOR(value * 100) AS BIGINT) AS cents
        FROM events WHERE event_type = 'click'),
      mk AS (SELECT MAX(event_id) AS mk FROM target),
      source AS (
        SELECT CASE WHEN event_id % 20 = 0 THEN event_id
                    ELSE event_id + mk + 1 END AS event_id,
               cents + 100 AS cents
        FROM target, mk
        WHERE (event_id % 100000) * 2654435761 % 10 = 0),
      merged AS (
        SELECT COALESCE(s.cents, t.cents) AS cents,
               CASE WHEN s.cents IS NOT NULL AND t.cents IS NOT NULL
                      THEN 'updated'
                    WHEN s.cents IS NOT NULL THEN 'inserted'
                    ELSE 'unchanged' END AS action
        FROM target t FULL OUTER JOIN source s ON t.event_id = s.event_id)
      SELECT action, COUNT(*) AS n_rows,
             ROUND(SUM(cents) / 100.0, 2) AS total_value
      FROM merged GROUP BY action"""))

  /** part -> ORC -> explicit-schema read. Third columnar format after
    * parquet (infra) and csv/json (textual): ORC ships in Spark's
    * default distribution and round-trips int64/string/double
    * losslessly. The oracle reads the ORIGINAL parquet — hash equality
    * proves the ORC write+read lost nothing (DuckDB never touches the
    * ORC file itself). */
  val orcRoundtrip = Op(
    "orc_roundtrip",
    (s, d) => {
      val path = Snapshots.freshTmpBase(s, "src_orc", d)
      Tables(s, d, "part")
        .select(col("p_partkey"), col("p_name"), col("p_brand"),
          col("p_retailprice"))
        .write.mode("overwrite").orc(path)
      s.read
        .schema("p_partkey BIGINT, p_name STRING, p_brand STRING, " +
          "p_retailprice DOUBLE")
        .orc(path)
        .select(col("p_partkey"), col("p_name"), col("p_brand"),
          col("p_retailprice"))
    },
    Some("SELECT p_partkey, p_name, p_brand, p_retailprice FROM part"))

  /** Co-located join via bucketed tables — the 100 TB join primitive
    * when NEITHER side fits in a broadcast: both sides are written
    * `bucketBy(8, custkey)` + `sortBy`, so the scans come up already
    * hash-partitioned on the join key and the merge join (and the
    * per-customer aggregate above it, whose grouping keys contain the
    * bucket key) runs with ZERO shuffle exchanges — at 100 TB that is
    * the entire join input never crossing the network. Plan-asserted
    * exchange-free in PlanShapeSpec. Integer-cent sums for exact
    * cross-engine totals; the oracle computes the same join+rollup
    * from the original parquet (bucketing changes data movement,
    * never results). */
  val bucketJoin = Op(
    "bucket_join",
    (s, d) => {
      val path = Snapshots.freshTmpBase(s, "src_bucket", d)
      val tag = Integer.toHexString(d.hashCode) +
        "_p" + ProcessHandle.current().pid()
      Tables(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          floor(col("o_totalprice") * 100).cast("long").as("price_cents"))
        .write.mode("overwrite")
        .bucketBy(8, "o_custkey").sortBy("o_custkey")
        .option("path", s"$path/orders")
        .saveAsTable(s"graft_bkt_${tag}_orders")
      Tables(s, d, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
        .write.mode("overwrite")
        .bucketBy(8, "c_custkey").sortBy("c_custkey")
        .option("path", s"$path/customer")
        .saveAsTable(s"graft_bkt_${tag}_customer")
      val c = s.table(s"graft_bkt_${tag}_customer")
      val o = s.table(s"graft_bkt_${tag}_orders")
      // merge hint: at real scale neither side broadcasts; the hint
      // keeps the local plan on the same SMJ path the cluster would use
      c.hint("merge").join(o, col("c_custkey") === col("o_custkey"))
        .groupBy(col("c_custkey"), col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("price_cents")) / 100.0, 2).as("total_price"))
    },
    Some("""
      SELECT c_custkey, c_mktsegment, COUNT(*) AS n_orders,
             ROUND(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) / 100.0,
                   2) AS total_price
      FROM customer JOIN orders ON c_custkey = o_custkey
      GROUP BY c_custkey, c_mktsegment"""))

  /** Small-file compaction planner — the table-maintenance step a
    * 100 TB lakehouse runs nightly (the OPTIMIZE/rewrite planning
    * pass): per ship-month partition, estimate payload bytes (96 B
    * per encoded row across the 11 fixed-width columns), then plan
    * the output layout against a 64 KiB target file size in exact
    * integer arithmetic (`ceil` via `(x + t - 1) div t` — no
    * doubles). The
    * emitted plan (partition, rows, bytes, file count, rows/file) is
    * exactly what drives a `repartitionByRange(n_files)` rewrite of
    * that partition.
    *
    * Scale: one scan, metadata-sized map-side-combined rollup on the
    * month key; output ∝ partition count, not data. The planner is
    * the cheap half of compaction — the rewrite it drives is
    * per-partition-parallel and touches only partitions whose
    * n_files differs from the current layout. */
  val compactionPlan = Op(
    "compaction_plan",
    (s, d) =>
      Tables(s, d, "lineitem")
        .groupBy(date_format(col("l_shipdate"), "yyyy-MM")
          .as("part_month"))
        .agg(count(lit(1)).as("n_rows"),
          (count(lit(1)) * lit(96L)).as("est_bytes"))
        .withColumn("n_files",
          expr("(est_bytes + 65535) div 65536"))
        .withColumn("rows_per_file",
          expr("(n_rows + n_files - 1) div n_files")),
    Some("""
      WITH p AS (
        SELECT strftime(l_shipdate, '%Y-%m') AS part_month,
               COUNT(*) AS n_rows,
               COUNT(*) * 96 AS est_bytes
        FROM lineitem GROUP BY 1)
      SELECT part_month, n_rows, est_bytes,
             (est_bytes + 65535) // 65536 AS n_files,
             (n_rows + (est_bytes + 65535) // 65536 - 1)
               // ((est_bytes + 65535) // 65536) AS rows_per_file
      FROM p"""))

  /** Dynamic partition pruning — the single biggest scan lever on a
    * date-partitioned 100 TB star schema: events land day-partitioned
    * (the standard event-store layout), a calendar dim is filtered on
    * a NON-partition attribute (every 7th day), and the fact⋈dim join
    * prunes the fact scan to the dim's surviving days AT RUNTIME via
    * `DynamicPruningExpression` in the scan's PartitionFilters — a
    * static filter can't do this because the day set is only known
    * after the dim filter runs. 30 day-partitions → 5 read.
    *
    * The fixture is KB-sized, so Spark's benefit heuristic would
    * (correctly) reject DPP here; the op pins the decision on a
    * CLONED session (`newSession` — own SQLConf, shared context, the
    * driver's session untouched) the way a real 100 TB fact table
    * wins it on stats. PlanShapeSpec asserts the
    * dynamicpruningexpression is in the scan. Pruning changes I/O,
    * never results: the oracle computes the identical join from the
    * unpartitioned events table. */
  val dppJoin = Op(
    "dpp_join",
    (s0, d) => {
      val s = s0.newSession()
      s.conf.set(
        "spark.sql.optimizer.dynamicPartitionPruning.useStats", "false")
      s.conf.set(
        "spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio",
        "10000")
      s.conf.set(
        "spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly",
        "false")
      val path = Snapshots.freshTmpBase(s, "src_dpp", d)
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("value"),
          to_date(col("ts")).as("day"))
      ev.write.mode("overwrite").partitionBy("day")
        .parquet(s"$path/fact")
      // calendar dim: (day, day-number) — dim must be file-backed, a
      // LocalRelation filter constant-folds before PartitionPruning
      ev.select(col("day")).distinct()
        .withColumn("dno",
          datediff(col("day"), lit("2024-01-01")).cast("int"))
        .write.mode("overwrite").parquet(s"$path/dim")
      val fact = s.read.parquet(s"$path/fact")
      val dim = s.read.parquet(s"$path/dim")
        .filter(pmod(col("dno"), lit(7)) === 0)
        .select(col("day"))
      fact.join(dim, Seq("day"))
        .groupBy(col("day"))
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value")), 2).as("total_value"))
    },
    Some("""
      WITH e AS (
        SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, value
        FROM events),
      dim AS (
        SELECT DISTINCT day,
               date_diff('day', DATE '2024-01-01', day) AS dno
        FROM e),
      sel AS (SELECT day FROM dim WHERE dno % 7 = 0)
      SELECT e.day, COUNT(*) AS n_events,
             ROUND(SUM(e.value), 2) AS total_value
      FROM e JOIN sel USING (day)
      GROUP BY e.day"""))

  /** Snapshot / time-travel read (`Snapshots.readAsOf`): three
    * versions of an orders slice are committed (marker-last
    * protocol), and the query reads AS OF version 2 — proving read
    * isolation from both the earlier v1 and the later v3. The oracle
    * recomputes v2's content (the `o_orderkey % 3 <= 1` slice)
    * straight from the base table, so a reader that leaked v1 or v3
    * rows hash-mismatches. Money sums in exact integer cents (the
    * `pricing_agg` discipline). */
  val snapshotRead = Op(
    "snapshot_read",
    (s, d) => {
      val base = Snapshots.freshTmpBase(s, "src_snap_read", d)
      val o = Tables(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice"))
      Snapshots.commit(o.filter(col("o_orderkey") % 2 === 0), base) // v1
      Snapshots.commit(o.filter(col("o_orderkey") % 3 <= 1), base)  // v2
      Snapshots.commit(o, base)                                     // v3
      Snapshots.readAsOf(s, base, 2L)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(floor(col("o_totalprice") * 100).cast("long"))
            / 100.0, 2).as("sum_price"))
    },
    Some("""
      SELECT o_orderstatus, COUNT(*) AS n_orders,
             ROUND(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT))
               / 100.0, 2) AS sum_price
      FROM orders WHERE o_orderkey % 3 <= 1
      GROUP BY 1"""))

  /** Snapshot-to-snapshot diff: which keys appeared/disappeared
    * between version 1 (even orderkeys) and version 2 (`% 3 <= 1`)
    * of the snapshot table — the audit query time travel exists for
    * (`table_diff` owns the value-level compare; this one is the
    * version-level membership diff). Two one-sided anti joins on the
    * snapshot key; each side scans exactly one version directory. */
  val snapshotDiff = Op(
    "snapshot_diff",
    (s, d) => {
      val base = Snapshots.freshTmpBase(s, "src_snap_diff", d)
      val o = Tables(s, d, "orders").select(col("o_orderkey"))
      Snapshots.commit(o.filter(col("o_orderkey") % 2 === 0), base) // v1
      Snapshots.commit(o.filter(col("o_orderkey") % 3 <= 1), base)  // v2
      val v1 = Snapshots.readAsOf(s, base, 1L)
      val v2 = Snapshots.readAsOf(s, base, 2L)
      val deleted = v1.join(v2, Seq("o_orderkey"), "left_anti")
        .withColumn("change", lit("delete"))
      val inserted = v2.join(v1, Seq("o_orderkey"), "left_anti")
        .withColumn("change", lit("insert"))
      deleted.unionByName(inserted)
    },
    Some("""
      SELECT o_orderkey, 'delete' AS change FROM orders
      WHERE o_orderkey % 2 = 0 AND NOT o_orderkey % 3 <= 1
      UNION ALL
      SELECT o_orderkey, 'insert' AS change FROM orders
      WHERE o_orderkey % 3 <= 1 AND NOT o_orderkey % 2 = 0"""))

  /** Snapshot compaction (`Snapshots.compact` — the OPTIMIZE half of
    * the snapshot story): v1 is committed deliberately fragmented
    * (repartition(16) — sixteen small files), compaction rewrites it
    * as v2 with a file-size target that collapses it to one file, and
    * the query reads the COMPACTED version. The oracle computes the
    * same aggregate from the base table, so any row lost or
    * duplicated by the rewrite hash-mismatches; SourcesSpec asserts
    * the file-count drop and v1's continued readability (time travel
    * across a compaction). */
  val snapshotCompact = Op(
    "snapshot_compact",
    (s, d) => {
      val base = Snapshots.freshTmpBase(s, "src_snap_compact", d)
      val l = Tables(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity"), col("l_returnflag"))
      Snapshots.commit(l.repartition(16), base)          // v1: fragmented
      val v2 = Snapshots.compact(s, base, 1L << 30)      // v2: compacted
      Snapshots.readAsOf(s, base, v2)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_lines"),
          sum(col("l_quantity").cast("long")).as("sum_qty"))
    },
    Some("""
      SELECT l_returnflag, COUNT(*) AS n_lines,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
      FROM lineitem GROUP BY 1"""))

  /** MERGE INTO one partition of a snapshot table, committed
    * INCREMENTALLY (`Snapshots.commitPartitions`) — the write path a
    * 100 TB lakehouse actually runs: v1 is a full partition-committed
    * copy of the events projection (hive layout + manifest), the
    * merge rewrites ONLY the 'click' partition, and v2's manifest
    * inherits every other partition from v1's directory by reference.
    * Write amplification drops from O(table) to O(touched partition)
    * — `Snapshots.bytesWritten(v2)` is the click partition's bytes,
    * not the table's (measured in SourcesSpec and SCALE.md) — while
    * v1 stays readable (its manifest still names its own dirs) and
    * readers of v2 see one pruned scan per source version. Same
    * deterministic update/insert split and integer-cent sums as
    * `merge_partitioned`; the oracle recomputes the post-merge table
    * straight from `events`, so a lost/duplicated row in either the
    * rewritten or an inherited partition hash-mismatches. */
  val snapshotMerge = Op(
    "snapshot_merge",
    (s, d) => {
      val base = Snapshots.freshTmpBase(s, "src_snap_merge", d)
      val ev = Tables.events(s, d)
        .select(col("event_id"),
          floor(col("value") * 100).cast("long").as("cents"),
          col("event_type"))
      val v1 = Snapshots.commitPartitioned(ev, base, "event_type")
      val target = Snapshots.readAsOf(s, base, v1)
        .filter(col("event_type") === "click")
        .select(col("event_id"), col("cents").as("t_cents"))
      val mk = target.agg(max(col("event_id")).as("mk"))
      val source = target
        .filter(expr("(event_id % 100000) * 2654435761 % 10 = 0"))
        .crossJoin(broadcast(mk))
        .select(
          when(col("event_id") % 20 === 0, col("event_id"))
            .otherwise(col("event_id") + col("mk") + 1).as("event_id"),
          (col("t_cents") + 100L).as("s_cents"))
      val merged = target.join(source, Seq("event_id"), "full_outer")
        .select(col("event_id"),
          coalesce(col("s_cents"), col("t_cents")).as("cents"),
          lit("click").as("event_type"))
      val v2 = Snapshots.commitPartitions(merged, base, "event_type")
      Snapshots.readAsOf(s, base, v2)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_rows"),
          round(sum(col("cents")) / 100.0, 2).as("total_value"))
    },
    Some("""
      WITH ev AS (
        SELECT event_id, CAST(FLOOR(value * 100) AS BIGINT) AS cents,
               event_type
        FROM events),
      target AS (
        SELECT event_id, cents FROM ev WHERE event_type = 'click'),
      mk AS (SELECT MAX(event_id) AS mk FROM target),
      source AS (
        SELECT CASE WHEN event_id % 20 = 0 THEN event_id
                    ELSE event_id + mk + 1 END AS event_id,
               cents + 100 AS cents
        FROM target, mk
        WHERE (event_id % 100000) * 2654435761 % 10 = 0),
      merged AS (
        SELECT COALESCE(s.cents, t.cents) AS cents
        FROM target t FULL OUTER JOIN source s ON t.event_id = s.event_id),
      unioned AS (
        SELECT 'click' AS event_type, cents FROM merged
        UNION ALL
        SELECT event_type, cents FROM ev WHERE event_type <> 'click')
      SELECT event_type, COUNT(*) AS n_rows,
             ROUND(SUM(cents) / 100.0, 2) AS total_value
      FROM unioned GROUP BY event_type"""))

  /** Z-order WRITER — the layout half `zorder_bucket` audits: build
    * the 16-bit Morton key over (l_partkey, l_suppkey) low bytes,
    * `repartitionByRange(16, zkey)` + `sortWithinPartitions(zkey)` so
    * each output file owns a contiguous zkey range (both source
    * dimensions stay range-clustered per file), and COMMIT the
    * clustered layout as a snapshot version (marker-last — a crashed
    * rewrite is invisible). The declared query then runs a
    * both-dimension point-range predicate (px < 32 AND sx < 32)
    * against the committed layout; under z-ordering every matching
    * row lives in the low-zkey files, so the parquet min/max stats of
    * ~15/16 files exclude the predicate on at least one dimension
    * (file-skip fraction measured per layout in SourcesSpec and
    * SCALE.md — the clustering changes I/O, never results, which is
    * exactly what the oracle checks from the unclustered table).
    * Scale: one range exchange (sampled boundaries) + in-partition
    * sort — the standard OPTIMIZE ZORDER write shape; file count
    * scales with data (16 is the fixture-scale stand-in for
    * bytes/targetFileSize). */
  val zorderWrite = Op(
    "zorder_write",
    (s, d) => {
      val base = Snapshots.freshTmpBase(s, "src_zorder", d)
      val spread8 = (c: String) =>
        (0 until 8).map(i =>
          s"(((($c) >> $i) & 1) << ${2 * i})").mkString(" + ")
      val z = Tables(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          col("l_quantity"))
        .withColumn("px", col("l_partkey") % 256)
        .withColumn("sx", col("l_suppkey") % 256)
        .withColumn("zkey",
          expr(spread8("px")) + expr(spread8("sx")) * 2)
      val clustered = z
        .repartitionByRange(16, col("zkey"))
        .sortWithinPartitions(col("zkey"))
        .drop("zkey")
      val v = Snapshots.commit(clustered, base)
      Snapshots.readAsOf(s, base, v)
        .filter(col("px") < 32 && col("sx") < 32)
        .groupBy(expr("px div 8").as("px_band"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("l_quantity").cast("long")).as("sum_qty"),
          min(col("l_orderkey")).as("min_ok"),
          max(col("l_orderkey")).as("max_ok"))
    },
    Some("""
      SELECT CAST(px // 8 AS BIGINT) AS px_band, COUNT(*) AS n_rows,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
             MIN(l_orderkey) AS min_ok, MAX(l_orderkey) AS max_ok
      FROM (SELECT l_partkey % 256 AS px, l_suppkey % 256 AS sx,
                   l_quantity, l_orderkey
            FROM lineitem)
      WHERE px < 32 AND sx < 32
      GROUP BY 1"""))

  /** Partition-scoped compaction (`Snapshots.compactPartitions`) —
    * the selective OPTIMIZE a 100 TB table actually runs, closing the
    * loop `compaction_plan` (planning) and `snapshot_compact`
    * (whole-table rewrite) opened: v1 commits the events projection
    * hive-partitioned and DELIBERATELY fragmented (repartition(8)
    * before the partitionBy write → 8 round-robin files in every
    * partition at any SF), v2's
    * incremental merge rewrites ONLY the 'click' partition compactly
    * (1 file), and the compaction pass then audits v3 = latest by
    * metadata listing, finds every partition EXCEPT click over its
    * file target, rewrites exactly those, and inherits click by
    * manifest reference — the one partition that was already healthy
    * moves zero bytes. The declared query reads the compacted
    * version; the oracle recomputes the same rollup straight from
    * `events`, so a row lost or duplicated by any of the three write
    * paths hash-mismatches. SourcesSpec asserts the file-count drops,
    * the selectivity (click untouched), and v1/v2 time travel. */
  val compactPartitions = Op(
    "compact_partitions",
    (s, d) => {
      val base = Snapshots.freshTmpBase(s, "src_compact_parts", d)
      val ev = Tables.events(s, d)
        .select(col("event_id"),
          floor(col("value") * 100).cast("long").as("cents"),
          col("event_type"))
      Snapshots.commitPartitioned(ev.repartition(8), base, "event_type")
      // an incremental merge leaves 'click' compact (1 file) while
      // every other partition keeps its 8 commit-time task files
      val click1 = Snapshots.readAsOf(s, base, 1L)
        .filter(col("event_type") === "click")
        .withColumn("cents", col("cents") + 1L)
        .repartition(1)
      Snapshots.commitPartitions(click1, base, "event_type")
      val (v3, _) = Snapshots.compactPartitions(s, base, 1L << 30)
      Snapshots.readAsOf(s, base, v3)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("cents")).as("total_cents"))
    },
    Some("""
      SELECT event_type, COUNT(*) AS n_rows,
             CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)
                      + CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
               AS BIGINT) AS total_cents
      FROM events GROUP BY event_type"""))

  override def ops: Seq[Op] =
    Seq(csvRoundtrip, jsonRoundtrip, sinkPartitioned, mergePartitioned,
      orcRoundtrip, bucketJoin, compactionPlan, dppJoin, snapshotRead,
      snapshotDiff, snapshotCompact, snapshotMerge, zorderWrite,
      compactPartitions)
}
