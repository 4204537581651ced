package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructField, StructType}

import java.nio.charset.StandardCharsets.UTF_8

/** Versioned-parquet snapshots: ACID-lite table versioning with
  * time-travel reads (`readAsOf`) — the lake-user primitive the
  * MERGE emulations (`merge_upsert`, `merge_partitioned`,
  * `table_diff`) compose with.
  *
  * Layout under `base/`:
  *   - `v=<N>-<nonce>/` — a version-N data candidate, uniquely named
  *     PER WRITER (the nonce is a random suffix)
  *   - `_commits/<N>` — the commit marker; its CONTENT names the
  *     winning writer's data directory
  *   - `_manifests/<N>` — present only for partition-committed
  *     versions (`commitPartitioned`, `commitPartitions` and their
  *     `As` forms), written before the marker. UTF-8 text, one entry
  *     per line:
  *     - `#schema<TAB><StructType JSON>` — the version's read schema:
  *       the data columns in file order, then the partition column
  *       with its committed type, every field nullable. `readAsOf`
  *       reads each source dir with it, so no Parquet schema
  *       inference (a footer-reading Spark job per dir) runs before
  *       the caller's first action. Manifests written before this
  *       header carry `#type<TAB><partition type>` or no header and
  *       are read by inference.
  *     - `<hive partition dir><TAB><data dir>`, sorted: each live
  *       partition (`day=2024-01-03`, hive-escaped) and the data dir
  *       of the version that last wrote it.
  *
  * Commit protocol (write-ordered, marker-last, writer-unique dirs):
  *   1. write the data to `v=<N>-<nonce>/` (Spark job; may take
  *      hours) — a directory NO other writer ever touches
  *   2. create `_commits/<N>` with `create(..., overwrite = false)`
  *      and write the data-dir name into it
  * The marker create is the atomic commit point: a crash after step 1
  * leaves an orphan data dir that NO reader ever sees (readers list
  * only `_commits/` and resolve dirs through marker content), and
  * `overwrite = false` makes two racing writers of the same version
  * fail-loudly at the marker — each wrote its OWN directory, so the
  * loser's bytes can never clobber or interleave with the winner's
  * (the Iceberg pointer-file idiom re-expressed on raw parquet: the
  * tiny marker, not the data path, is the unit of atomicity). The
  * loser's dir becomes an orphan that `vacuum` retires after its
  * grace period. `commit` retries the loser at the next version
  * number (optimistic concurrency); `commitAs` reports the loss.
  *
  * Partition commits write the manifest between steps 1 and 2 with
  * the same `overwrite = false` create, so two writers of one version
  * collide there first. A loser that finds the winner's manifest AND
  * marker treats it as a lost marker race: it deletes only its own
  * dir and retries at the next version (the fixed-version `As` forms
  * return false). A manifest with no marker beside it is crash debris
  * and still fails loudly.
  *
  * Appends: `appendPartitions(rows, base, partCol)` is the one way to
  * add rows to a partitioned table. Each attempt builds the merge —
  * the committed rows of every partition `rows` touches, plus `rows`,
  * clustered one file per partition — from the version it commits on
  * top of, so a writer that loses the race rebuilds on the winner's
  * version and two concurrent appends both keep their rows. An empty
  * `rows` commits nothing. `commitPartitions` instead takes a
  * caller-built frame that REPLACES the partitions it holds (upserts,
  * rewrites): a caller that built it from a read older than the
  * version it lands on replaces the concurrent winner's rows.
  *
  * The one non-atomicity left is marker content: a reader can list a
  * marker in the instant between its create and its content write.
  * That window resolves to a LOUD failure (the named dir is not yet
  * parseable), never to another writer's data — and the fallback for
  * empty content is the legacy `v=<N>` path, which only a pre-nonce
  * layout ever has.
  *
  * The 100 TB story is in what readers LIST: `_commits/` holds one
  * tiny file per version, so discovering versions is O(#versions)
  * metadata reads — never a recursive listing of data files — and a
  * `readAsOf` scans exactly one version directory, inside which
  * Spark's normal pruning (partition dirs, row groups, pushed
  * filters) applies untouched. Full-snapshot versions trade write
  * amplification for zero-cost reads; `commitPartitions` is the
  * incremental form — it rewrites only the touched partition
  * directories and records a per-version manifest mapping every live
  * partition to the version that last wrote it, so a daily MERGE
  * into one partition of a year-partitioned 100 TB table writes one
  * partition's bytes, not the table's.
  */
object Snapshots {

  private def fs(s: SparkSession, base: String) =
    new Path(base).getFileSystem(s.sparkContext.hadoopConfiguration)

  private def commitDir(base: String) = new Path(base, "_commits")

  private def manifestDir(base: String) = new Path(base, "_manifests")

  private def nonce(): String =
    java.util.UUID.randomUUID().toString.take(8)

  /** Committed version numbers, ascending (empty for a fresh base). */
  def versions(s: SparkSession, base: String): Seq[Long] = {
    val f = fs(s, base)
    val dir = commitDir(base)
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).toSeq
      .flatMap(st => st.getPath.getName.toLongOption)
      .sorted
  }

  /** Latest committed version; 0 when none exist. */
  def latest(s: SparkSession, base: String): Long =
    versions(s, base).lastOption.getOrElse(0L)

  /** Latest committed version STRICTLY BELOW `v`; 0 when none. The
    * pre-tick read point for fixed-version ledgers: on a replay the
    * tick's own version (and any later one) must be invisible to the
    * recompute, and version numbers may be sparse (skipped batches
    * leave gaps), so "the version before v" is a search, not v−1. */
  def latestBefore(s: SparkSession, base: String, v: Long): Long =
    versions(s, base).takeWhile(_ < v).lastOption.getOrElse(0L)

  /** The data directory a committed version's marker names (relative
    * to `base`); falls back to the legacy `v=<N>` layout for markers
    * with no content. Throws for an uncommitted version. */
  private def dataDirOf(s: SparkSession, base: String, v: Long): String = {
    val f = fs(s, base)
    val marker = new Path(commitDir(base), v.toString)
    require(f.exists(marker),
      s"version $v is not committed at $base")
    val in = f.open(marker)
    val content =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
    if (content.isEmpty) s"v=$v" else content
  }

  /** Create the version marker with `overwrite = false` — the atomic
    * commit point — and record the winning data dir as its content.
    * Returns true if THIS call created the marker. A lost race (the
    * marker already exists) returns false; any OTHER IOException is a
    * genuine write failure and PROPAGATES, so a caller driving a
    * streaming checkpoint fails and retries the batch instead of
    * silently losing the version (a swallowed transient failure here
    * would advance the checkpoint with no marker on disk). */
  private def tryMarker(s: SparkSession, base: String, v: Long,
      dataDir: String): Boolean = {
    val f = fs(s, base)
    val marker = new Path(commitDir(base), v.toString)
    // Phase 1 — the atomic create. Only HERE does "marker exists" mean
    // "another writer won": after a successful create, the marker is
    // OURS, and any later failure must not be misread as a lost race.
    val out =
      try f.create(marker, false)
      catch {
        case e: java.io.IOException =>
          // only the already-exists race is benign; everything else is
          // a real failure the caller must see
          if (f.exists(marker)) return false else throw e
      }
    // Phase 2 — the content write. A failure here is NEVER a lost race
    // (we hold the marker): leaving the half-written marker in place
    // would publish a committed version that resolves to nowhere, and
    // returning false would make the caller delete its own data dir.
    // Remove our incomplete marker and propagate.
    try {
      try out.write(dataDir.getBytes(UTF_8)) finally out.close()
      true
    } catch {
      case e: Throwable =>
        try f.delete(marker, false)
        catch { case _: Throwable => () } // best-effort; rethrow below
        throw e
    }
  }

  /** Write `df` as the next version of the table at `base`; returns
    * the committed version number. Data first (to a writer-unique
    * dir), marker last; a lost marker race leaves this writer's dir
    * an orphan and retries at the next version number. */
  def commit(df: DataFrame, base: String): Long = {
    val s = df.sparkSession
    val f = fs(s, base)
    var v = latest(s, base) + 1
    while (true) {
      val dir = s"v=$v-${nonce()}"
      df.write.mode("overwrite").parquet(s"$base/$dir")
      if (tryMarker(s, base, v, dir)) return v
      f.delete(new Path(base, dir), true) // lost the race: own dir only
      v = latest(s, base) + 1
    }
    v // unreachable
  }

  /** Idempotent commit of a KNOWN version number — the Structured
    * Streaming `foreachBatch` contract (version = batchId + 1): a
    * restarted micro-batch re-offers the same version and must land
    * exactly once. Returns true if THIS call committed the version,
    * false if it already existed (the restart/no-op path, detected
    * before any write) or another writer won the marker race — in
    * the race case the loser wrote only its own uniquely-named dir,
    * so the winner's committed data is untouched either way. A
    * transient marker-write failure (not a lost race) THROWS, so the
    * streaming query fails and re-offers the batch. */
  def commitAs(df: DataFrame, base: String, version: Long): Boolean = {
    val s = df.sparkSession
    val f = fs(s, base)
    val marker = new Path(commitDir(base), version.toString)
    if (f.exists(marker)) return false
    val dir = s"v=$version-${nonce()}"
    df.write.mode("overwrite").parquet(s"$base/$dir")
    if (tryMarker(s, base, version, dir)) true
    else { f.delete(new Path(base, dir), true); false }
  }

  /** Rollback as a COMMIT, never a delete: re-commits the content of
    * `version` as the NEXT version, so "undo to v3" is itself a
    * versioned, auditable event (v6 = v3's content), concurrent
    * readers of the bad versions are never yanked, and the bad
    * history stays inspectable until `vacuum` retires it — the
    * RESTORE semantics of the table formats this module mirrors.
    * Returns the new version number. */
  def rollbackTo(s: SparkSession, base: String, version: Long): Long =
    commit(readAsOf(s, base, version), base)

  /** Retention vacuum: keep the newest `retain` committed versions;
    * delete older versions (marker FIRST, then data — the inverse of
    * marker-last commit, so a crash mid-vacuum leaves an orphan data
    * dir, never a readable half-deleted version) and orphan `v=N…`
    * dirs no live marker references, whose writer died before its
    * marker (or lost its race) — but only orphans older than
    * `graceMs`, because an unreferenced dir is also what an IN-FLIGHT
    * commit looks like (the Delta/Iceberg vacuum-retention
    * rationale). A partition-manifest version (`commitPartitions`)
    * pins every data dir its manifest references, so incremental
    * history chains are never broken by retention. A `readAsOf` at or
    * below a vacuumed version fails loudly rather than silently
    * resolving to a different snapshot. Returns the vacuumed version
    * numbers.
    *
    * `now` is injectable for tests and for object stores whose file
    * mtimes lag wall clock — the grace compare is mtime < now−grace,
    * so give skewed stores a grace comfortably above the skew bound
    * (mtime skew shrinks the EFFECTIVE grace by the skew amount). */
  def vacuum(s: SparkSession, base: String, retain: Int,
      graceMs: Long = 24L * 3600 * 1000,
      now: Long = System.currentTimeMillis()): Seq[Long] = {
    require(retain >= 1, "vacuum must retain at least the latest version")
    val f = fs(s, base)
    val vs = versions(s, base)
    val dead = vs.dropRight(retain)
    // every dir a surviving version references stays, including dirs
    // an incremental manifest borrows from OLDER (even vacuumed)
    // versions — computed before any delete
    val live = vs.takeRight(retain)
      .flatMap(v => referencedDirs(s, base, v)).toSet
    dead.foreach { v =>
      val dir = dataDirOf(s, base, v)
      f.delete(new Path(commitDir(base), v.toString), false)
      f.delete(new Path(manifestDir(base), v.toString), false)
      if (!live(dir)) f.delete(new Path(base, dir), true)
    }
    val cutoff = now - graceMs
    f.listStatus(new Path(base)).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("v="))
      .filter(st => st.getModificationTime < cutoff)
      .filterNot(st => live(st.getPath.getName))
      .foreach(st => f.delete(st.getPath, true))
    dead
  }

  /** Compaction as a commit (the OPTIMIZE half of the snapshot
    * story, pairing `compaction_plan`'s planning half): rewrite the
    * latest version's data into ceil(bytes / targetFileBytes) files
    * and commit the rewrite as the NEXT version. Readers of the new
    * version see identical rows in fewer files; every older version
    * stays readable (time travel untouched), so a compaction that
    * crashes mid-write is invisible like any other failed commit.
    * Returns the committed version number.
    *
    * The row-identical guarantee is structural: the rewrite is
    * `read(v).repartition(n)` — a round-robin exchange, no
    * filter/project — and the marker-last protocol means the swap is
    * atomic. At 100 TB you'd compact per PARTITION (only the
    * small-file partitions `compaction_plan` flags) and commit the
    * rewrite through `commitPartitions`, which touches just those
    * partitions' dirs; whole-table round-robin is the fixture-scale
    * form of the same commit. */
  def compact(s: SparkSession, base: String, targetFileBytes: Long): Long = {
    val v = latest(s, base)
    require(v > 0, s"nothing to compact at $base (no committed version)")
    val dir = s"$base/${dataDirOf(s, base, v)}"
    val bytes = fs(s, base).getContentSummary(new Path(dir)).getLength
    val nOut = math.max(1L,
      (bytes + targetFileBytes - 1) / targetFileBytes).toInt
    commit(s.read.parquet(dir).repartition(nOut), base)
  }

  /** Data-file count of a committed version (metadata listing only —
    * the compaction audit metric). Counts across every partition dir
    * the version references (manifest versions may reference dirs
    * written by earlier versions). */
  def fileCount(s: SparkSession, base: String, version: Long): Int = {
    val f = fs(s, base)
    def countIn(p: Path): Int =
      f.listStatus(p).map { st =>
        val n = st.getPath.getName
        if (st.isDirectory && !n.startsWith("_") && !n.startsWith("."))
          countIn(st.getPath)
        else if (n.endsWith(".parquet") && !n.startsWith("_") &&
          !n.startsWith(".")) 1
        else 0
      }.sum
    referencedDirs(s, base, version)
      .map(d => countIn(new Path(base, d))).sum
  }

  /** Time-travel read: the table as of `version` — the greatest
    * committed version ≤ `version` (so `readAsOf(Long.MaxValue)` is
    * the latest snapshot). Throws for a base with no committed
    * version at or below the ask. Manifest (partition-incremental)
    * versions resolve to a pruned union over the source versions
    * that last wrote each live partition. */
  def readAsOf(s: SparkSession, base: String, version: Long): DataFrame = {
    val vs = versions(s, base).filter(_ <= version)
    require(vs.nonEmpty,
      s"no committed version <= $version at $base " +
        s"(committed: ${versions(s, base).mkString(",")})")
    val v = vs.last
    manifestOf(s, base, v) match {
      case None => s.read.parquet(s"$base/${dataDirOf(s, base, v)}")
      case Some(m) => readManifest(s, base, m)
    }
  }

  // ---- partition-incremental commits -------------------------------

  /** A parsed `_manifests/<N>` file (format in the object scaladoc).
    * `schema` is the recorded read schema; `partType` the partition
    * column's writer-side type from the `#type` header that manifests
    * carried before `#schema` (r16). Hive partition-value type
    * inference is per-READ and data-dependent — a source dir whose
    * live partition values all parse numeric infers the column as int
    * while its siblings carry strings — so both headers pin the
    * column to its committed type; a manifest with neither is read
    * by plain inference. `parts` holds one (hive partition dir like
    * "day=2024-01-03", data dir like "v=3-ab12cd34" that owns its
    * current bytes) pair per live partition. */
  private final case class Manifest(schema: Option[StructType],
      partType: Option[String], parts: Seq[(String, String)])

  /** Version `v`'s manifest, parsed from one read; None for a version
    * committed flat (`commit`/`commitAs`), which has no manifest. */
  private def manifestOf(s: SparkSession, base: String,
      v: Long): Option[Manifest] = {
    val p = new Path(manifestDir(base), v.toString)
    val in =
      try Some(fs(s, base).open(p))
      catch { case _: java.io.FileNotFoundException => None }
    in.map { in =>
      val text = try new String(in.readAllBytes(), UTF_8) finally in.close()
      val (headers, parts) = text.split('\n').toSeq.filter(_.nonEmpty)
        .partition(_.startsWith("#"))
      def header(key: String): Option[String] = headers
        .find(_.startsWith(s"#$key\t")).map(_.stripPrefix(s"#$key\t"))
      Manifest(
        header("schema").map(DataType.fromJson(_).asInstanceOf[StructType]),
        header("type").map(_.trim),
        parts.map { line =>
          val i = line.lastIndexOf('\t')
          (line.substring(0, i), line.substring(i + 1))
        })
    }
  }

  /** Every data dir under `base` that `version` references: its own
    * marker dir plus (for manifest versions) each partition's source
    * dir. */
  private def referencedDirs(s: SparkSession, base: String,
      version: Long): Seq[String] =
    (dataDirOf(s, base, version) +:
      manifestOf(s, base, version).toSeq.flatMap(_.parts.map(_._2))).distinct

  /** Create version `v`'s manifest (`overwrite = false`). Returns
    * false when it exists because another writer committed `v` (its
    * marker is there too): a lost race, which the caller retries. A
    * manifest with no marker beside it is crash debris (or a writer
    * between its manifest and its marker) and the create failure
    * propagates. */
  private def writeManifest(s: SparkSession, base: String, v: Long,
      schema: StructType, parts: Seq[(String, String)]): Boolean = {
    val f = fs(s, base)
    val p = new Path(manifestDir(base), v.toString)
    val out =
      try f.create(p, false)
      catch {
        case e: java.io.IOException =>
          if (f.exists(p) && versionExists(s, base, v)) return false
          else throw e
      }
    try out.write(
      (s"#schema\t${schema.json}" +:
        parts.map { case (p, d) => s"$p\t$d" }).mkString("\n")
        .getBytes(UTF_8))
    finally out.close()
    true
  }

  /** `fields` with every field, nested field, element and map value
    * nullable — the shape a Parquet read returns whatever the writer
    * declared. */
  private def nullable(fields: Seq[StructField]): StructType = {
    def go(t: DataType): DataType = t match {
      case st: StructType => nullable(st.fields.toSeq)
      case ArrayType(e, _) => ArrayType(go(e), containsNull = true)
      case MapType(k, v, _) => MapType(go(k), go(v), true)
      case other => other
    }
    StructType(fields.map(f => f.copy(dataType = go(f.dataType),
      nullable = true)))
  }

  /** The read schema a partition-committed version records: the data
    * columns of `schema` (every column but `partCol`, in the order
    * `partitionBy` writes them to the files), then `partCol` with
    * `partType`. */
  private def recordedSchema(schema: StructType, partCol: String,
      partType: DataType): StructType =
    nullable(schema.fields.toSeq.filterNot(_.name == partCol) :+
      StructField(partCol, partType))

  /** The hive null-partition sentinel directory name. */
  private val HiveNullPart = "__HIVE_DEFAULT_PARTITION__"

  /** Decode one hive-escaped path segment: Spark's partitioned writer
    * escapes each special char (including '=', '%', ':', space) as
    * `%XX` — two hex digits of the char — so the dir name is NOT the
    * raw value. Inverse of that per-char escaping. */
  private def unescapePathName(n: String): String = {
    val sb = new java.lang.StringBuilder(n.length)
    var i = 0
    while (i < n.length) {
      val c = n.charAt(i)
      if (c == '%' && i + 2 < n.length) {
        val hex = n.substring(i + 1, i + 3)
        val code = try Integer.parseInt(hex, 16) catch { case _: NumberFormatException => -1 }
        if (code >= 0) { sb.append(code.toChar); i += 3 }
        else { sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** The (unescaped) partition column name of a manifest line's hive
    * dir name ("day=2024-01-03" → "day"). */
  private def manifestPartCol(hiveDir: String): String =
    unescapePathName(hiveDir.substring(0, hiveDir.indexOf('=')))

  /** One pruned scan per SOURCE version: partitions are grouped by
    * the data dir that owns them, each group reads its dir with hive
    * partition discovery and an `isin` filter on the partition values
    * (directory pruning — the stale partitions a later version
    * superseded are never listed into the scan), and the groups
    * union. Values are UNESCAPED from their hive dir form before the
    * compare (an escaped name like `a%3Db` never matches the column's
    * raw `a=b` otherwise) and the hive null sentinel maps to an
    * `isNull` branch — a null-partition row would silently vanish
    * through `isin` alone. At 100 TB this is exactly the file set a
    * format manifest would enumerate, reached through O(#partitions)
    * metadata. */
  private def readManifest(s: SparkSession, base: String,
      m: Manifest): DataFrame = {
    require(m.parts.nonEmpty,
      "empty manifest: this version committed no partitions and owns " +
        "no inherited ones — an empty partitioned table version is " +
        "rejected at commit time; use commit() for full snapshots")
    m.parts.groupBy(_._2).toSeq.sortBy(_._1).map { case (dir, parts) =>
      val partCol = manifestPartCol(parts.head._1)
      val c = org.apache.spark.sql.functions.col(partCol).cast("string")
      val raw = parts.map(p => p._1.substring(p._1.indexOf('=') + 1))
      val (nulls, escaped) = raw.partition(_ == HiveNullPart)
      val vals = escaped.map(unescapePathName)
      val pred =
        if (vals.isEmpty) c.isNull
        else if (nulls.isEmpty) c.isin(vals: _*)
        else c.isin(vals: _*) || c.isNull
      val g = reader(s, m).option("basePath", s"$base/$dir")
        .parquet(s"$base/$dir")
        .filter(pred)
      // a pre-`#schema` manifest pins the inferred partition column to
      // its `#type` (see Manifest)
      m.partType.fold(g)(t => g.withColumn(partCol,
        org.apache.spark.sql.functions.col(partCol).cast(t)))
    }.reduce(_ unionByName _)
  }

  /** A reader of `m`'s source dirs: with its recorded schema (no
    * inference job), else inferring as manifests before `#schema`
    * were read. */
  private def reader(s: SparkSession, m: Manifest) =
    m.schema.fold(s.read)(s.read.schema(_))

  /** Full commit of a hive-partitioned table version: writes every
    * partition of `df` under one writer-unique dir (partitionBy) and
    * records the manifest mapping each partition to it. The base
    * version `commitPartitions` increments from. Returns the version.
    * Single string partition column (the fixture-scale form; the
    * manifest format already carries full hive dir names, so nesting
    * is a reader-side extension, not a layout change). Throws on an
    * empty DataFrame: a version with zero partitions cannot be read
    * back. */
  def commitPartitioned(df: DataFrame, base: String,
      partCol: String): Long =
    optimistic(df.sparkSession, base)(v =>
      attempt(df, base, partCol, v, None, append = false))

  /** The optimistic-concurrency loop of the partition commits: try at
    * latest + 1 and, after a lost race, again at the new latest + 1 —
    * each attempt re-reads what it inherits, so a concurrent winner's
    * rewrites are never merged away. Returns the committed version,
    * or the latest one when the attempt wrote nothing (`attempt`'s
    * None). */
  @annotation.tailrec
  private def optimistic(s: SparkSession, base: String)(
      attempt: Long => Option[Boolean]): Long = {
    val v = latest(s, base) + 1
    attempt(v) match {
      case Some(true) => v
      case Some(false) => optimistic(s, base)(attempt)
      case None => v - 1
    }
  }

  /** Version `prevV`'s manifest, for a partition commit on `partCol`
    * that inherits from it. Throws when `prevV` is not
    * partition-committed on `partCol`. */
  private def inherited(s: SparkSession, base: String, partCol: String,
      prevV: Long): Manifest = {
    val m = manifestOf(s, base, prevV).getOrElse(
      throw new IllegalArgumentException(
        s"a partition commit at $base needs a partition-committed " +
          s"previous version (v=$prevV has no manifest); seed the " +
          "table with commitPartitioned or appendPartitions"))
    require(m.parts.forall(p => manifestPartCol(p._1) == partCol),
      s"partition column mismatch: table is partitioned on " +
        s"${manifestPartCol(m.parts.head._1)}, got $partCol")
    m
  }

  /** One optimistic attempt to partition-commit AT `v`: data dir →
    * manifest → marker. `prev` is the manifest of the version `v`
    * inherits every partition it does not write from (None: `v` holds
    * only what it writes). Without `append` the written frame is
    * `rows`; with it, `rows` appended to `prev`'s copy of each
    * partition they touch, clustered by `partCol` (see
    * `appendPartitions`). Returns
    * Some(true) when committed; Some(false) when another writer
    * committed `v` first, with this attempt's dir and manifest
    * removed; None when an append wrote no partition — its dir is
    * removed and nothing is committed. A full commit (`prev` None)
    * of an empty frame throws. */
  private def attempt(rows: DataFrame, base: String, partCol: String,
      v: Long, prev: Option[Manifest],
      append: Boolean): Option[Boolean] = {
    import org.apache.spark.sql.functions.{broadcast, col}
    val s = rows.sparkSession
    val f = fs(s, base)
    // the version keeps the PRIOR version's partition type when it
    // recorded one (the table's committed contract outranks this
    // batch frame's — a caller-side cast must not flip the column
    // type mid-table), else this frame's; a pre-`#schema` prior's
    // data columns are inferred once here, so the table is recorded
    // from this version on
    val schema = prev.fold(recordedSchema(rows.schema, partCol,
        rows.schema(partCol).dataType)) { m =>
      val table = m.schema.getOrElse(recordedSchema(
        readManifest(s, base, m).schema, partCol,
        m.partType.map(DataType.fromDDL)
          .getOrElse(rows.schema(partCol).dataType)))
      // the version reads the inherited partitions' files with this
      // schema: a frame whose data columns differ would null-fill
      // there (or, read by inference, fail), so it is refused before
      // anything is written
      def columns(st: StructType): Seq[String] =
        st.fields.toSeq.filterNot(_.name == partCol)
          .map(fd => s"${fd.name}:${fd.dataType.catalogString}").sorted
      if (columns(rows.schema) != columns(table))
        throw new IllegalArgumentException(
          s"a partition commit at $base: the frame's data columns " +
            s"${columns(rows.schema).mkString(", ")} differ from the " +
            s"table's ${columns(table).mkString(", ")}")
      table
    }
    val df =
      if (!append) rows
      else prev.fold(rows) { m =>
        readManifest(s, base, m)
          .join(broadcast(rows.select(col(partCol)).distinct()),
            Seq(partCol), "left_semi")
          .select(rows.columns.toSeq.map(col): _*)
          .unionByName(rows)
      }.repartition(col(partCol))
    val dir = s"v=$v-${nonce()}"
    df.write.mode("overwrite").partitionBy(partCol)
      .parquet(s"$base/$dir")
    val touched = f.listStatus(new Path(base, dir)).toSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .filter(n => n.contains('=') && !n.startsWith("_"))
      .sorted
    if (touched.isEmpty && (append || prev.isEmpty)) {
      f.delete(new Path(base, dir), true)
      if (append) return None
      // an empty manifest is unreadable (no partition dirs, no
      // schema to infer) — refuse to publish it rather than commit
      // a version readAsOf can never resolve
      throw new IllegalArgumentException(
        "commitPartitioned refuses an empty DataFrame (a version " +
          "with zero partitions cannot be read back); use commit() " +
          "for full — possibly empty — snapshots")
    }
    val own = touched.toSet
    val parts = (prev.toSeq.flatMap(_.parts).filterNot(p => own(p._1)) ++
      touched.map(p => (p, dir))).sortBy(_._1)
    // manifest before marker: a version is only visible complete
    if (!writeManifest(s, base, v, schema, parts)) {
      // `v` is committed under another writer's manifest: a lost race
      f.delete(new Path(base, dir), true)
      Some(false)
    } else if (tryMarker(s, base, v, dir)) Some(true)
    else {
      f.delete(new Path(manifestDir(base), v.toString), false)
      f.delete(new Path(base, dir), true)
      Some(false)
    }
  }

  /** A writer-unique /tmp snapshot base for a declared op's fixture
    * demo (`/tmp/graft_<tag>_<sfDirHash>_p<pid>`), with any prior dir
    * for the same (tag, fixture, process) removed — ONE definition
    * for the append ops and SourceOps (the path scheme appears in test
    * assertions, so it must not drift per module). */
  def freshTmpBase(s: SparkSession, tag: String, sfDir: String): String = {
    val base = s"/tmp/graft_${tag}_${Integer.toHexString(sfDir.hashCode)}" +
      s"_p${ProcessHandle.current().pid()}"
    val p = new Path(base)
    val f = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (f.exists(p)) f.delete(p, true)
    base
  }

  /** Does `version` have a commit marker at `base`? */
  def versionExists(s: SparkSession, base: String,
      version: Long): Boolean =
    fs(s, base).exists(new Path(commitDir(base), version.toString))

  /** `commitPartitioned` at a CALLER-FIXED version — `commitAs`'s
    * partitioned twin, for streaming `foreachBatch` ledgers where
    * version = f(batchId) makes a replayed batch a no-op. Returns
    * false without touching the table when `version` is already
    * committed (the replay/no-op case) or when the marker race is
    * lost. Version numbers MAY be sparse (a skipped batch leaves a
    * gap); `latest`/`versions` handle gaps by construction. */
  def commitPartitionedAs(df: DataFrame, base: String, partCol: String,
      version: Long): Boolean = {
    val s = df.sparkSession
    if (versionExists(s, base, version)) false
    else {
      clearOrphanManifest(s, base, version)
      attempt(df, base, partCol, version, None, append = false)
        .contains(true)
    }
  }

  /** Delete a MARKER-LESS manifest left at `version` by a crashed
    * prior attempt — without this, a streaming re-offer of the same
    * version (the fixed-version ledger's whole point) would wedge
    * forever on writeManifest's `create(overwrite = false)`. Only the
    * fixed-version paths call this: they own their version number
    * (one streaming query per table), so a marker-less manifest there
    * can only be crash debris. The optimistic-loop paths must NOT —
    * under a live same-version race a marker-less manifest belongs to
    * the concurrent writer, and deleting it could pair one writer's
    * marker with the other's manifest. */
  private def clearOrphanManifest(s: SparkSession, base: String,
      version: Long): Unit = {
    val f = fs(s, base)
    val m = new Path(manifestDir(base), version.toString)
    if (!versionExists(s, base, version) && f.exists(m))
      f.delete(m, false)
  }

  /** The fixed-version form of a commit that inherits from the latest
    * committed version: false without touching the table when
    * `version` is already committed (the replay/no-op case), else
    * `attempt(latest)`'s outcome — false on a lost race or when it
    * wrote nothing. Requires `version` > the current latest. */
  private def atVersion(s: SparkSession, base: String, version: Long)(
      attempt: Long => Option[Boolean]): Boolean =
    !versionExists(s, base, version) && {
      val prevV = latest(s, base)
      require(prevV < version,
        s"fixed version $version is not ahead of the latest committed " +
          s"version $prevV at $base")
      clearOrphanManifest(s, base, version)
      attempt(prevV).contains(true)
    }

  /** INCREMENTAL commit — the 100 TB write path: rewrite ONLY the
    * partitions present in `df`, inherit every other live partition
    * from the previous version by manifest reference, and commit the
    * result as the next version. A daily MERGE into one partition of
    * a year-partitioned table writes that partition's bytes (+ a
    * KB-sized manifest + marker), not a full table copy — the write
    * amplification drops from O(table) to O(touched partitions),
    * measured in SCALE.md. Old versions stay readable (their
    * manifests still name the dirs that own their partitions; vacuum
    * pins every dir a retained manifest references). Returns the
    * committed version number.
    *
    * `df` REPLACES each partition it holds rows for, so the caller
    * builds that partition's new contents — an upsert or a rewrite —
    * and it is written as given (z-order writers keep their
    * within-file order). An append that keeps the committed rows is
    * `appendPartitions`, which builds the merge inside the retry.
    *
    * Requires the table's previous version to be partition-committed
    * on the same column — the manifest is the inheritance mechanism. */
  def commitPartitions(df: DataFrame, base: String,
      partCol: String): Long = {
    val s = df.sparkSession
    optimistic(s, base)(v => attempt(df, base, partCol, v,
      Some(inherited(s, base, partCol, v - 1)), append = false))
  }

  /** `commitPartitions` at a CALLER-FIXED version, inheriting from
    * the LATEST committed version below it (version numbers may be
    * sparse under a batch-ledger scheme — a skipped empty batch
    * leaves a gap). Returns false without touching the table when
    * `version` already exists (the replay/no-op case) or on a lost
    * race. Requires `version` > the current latest. */
  def commitPartitionsAs(df: DataFrame, base: String, partCol: String,
      version: Long): Boolean = {
    val s = df.sparkSession
    atVersion(s, base, version)(prevV => attempt(df, base, partCol,
      version, Some(inherited(s, base, partCol, prevV)), append = false))
  }

  /** APPEND `rows` to a hive-partitioned table and commit the result
    * as the next version: each partition `rows` touches is rewritten
    * as its committed rows plus `rows`' (no dedup, no upsert), and
    * every other live partition is inherited by manifest reference.
    * The merge — `prev ⋉ broadcast(distinct partCol) ∪ rows`,
    * hash-repartitioned by `partCol` so each touched partition is one
    * file per version — is built INSIDE each optimistic attempt from
    * the version that attempt commits on top of. A writer that loses
    * the race to a concurrent append therefore retries on the
    * winner's version and keeps its rows: no append is lost. A fresh
    * table is seeded with `rows` (`commitPartitioned`'s layout).
    *
    * An empty `rows` writes no partition dir and commits nothing;
    * the latest version is returned. `rows` is read twice (the
    * touched-partition list and the union), so callers materialize
    * it. Its data columns must match the table's (any order). */
  def appendPartitions(rows: DataFrame, base: String,
      partCol: String): Long = {
    val s = rows.sparkSession
    optimistic(s, base)(v => attempt(rows, base, partCol, v,
      Option.when(v > 1L)(inherited(s, base, partCol, v - 1)),
      append = true))
  }

  /** `appendPartitions` at a CALLER-FIXED version, appending to the
    * LATEST committed version below it (the `commitPartitionsAs`
    * ledger form). Returns false without touching the table when
    * `version` is already committed, on a lost race, and when `rows`
    * is empty (nothing is committed; `version` stays a gap). Requires
    * `version` > the current latest. */
  def appendPartitionsAs(rows: DataFrame, base: String, partCol: String,
      version: Long): Boolean = {
    val s = rows.sparkSession
    atVersion(s, base, version)(prevV => attempt(rows, base, partCol,
      version, Option.when(prevV > 0L)(inherited(s, base, partCol, prevV)),
      append = true))
  }

  /** Bytes under every data dir `version` wrote ITSELF (its marker
    * dir only — inherited partitions cost nothing): the write-
    * amplification audit metric for `commitPartitions`. */
  def bytesWritten(s: SparkSession, base: String, version: Long): Long =
    fs(s, base).getContentSummary(
      new Path(base, dataDirOf(s, base, version))).getLength

  /** Per-partition file count of a committed manifest version: one
    * (hive partition, n_files, bytes) row per live partition, from
    * metadata listing only — the audit `compactPartitions` selects
    * its rewrite set from. */
  def partitionFiles(s: SparkSession, base: String,
      version: Long): Seq[(String, Int, Long)] = {
    val f = fs(s, base)
    val m = manifestOf(s, base, version).getOrElse(
      throw new IllegalArgumentException(
        s"partitionFiles needs a partition-committed version at $base"))
    m.parts.map { case (part, dir) =>
      val p = new Path(base, s"$dir/$part")
      val files = f.listStatus(p).count { st =>
        val n = st.getPath.getName
        n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
      }
      (part, files, f.getContentSummary(p).getLength)
    }
  }

  /** Partition-scoped OPTIMIZE — the 100 TB compaction form the
    * whole-table `compact` scaladoc promises: audit every live
    * partition of the latest (manifest) version by metadata listing,
    * rewrite ONLY the partitions carrying more files than
    * ceil(bytes / targetFileBytes), each to exactly its target count,
    * and commit the rewrites through `commitPartitions` so every
    * healthy partition is inherited by manifest reference — zero
    * bytes moved for it. A 100 TB table where one day's ingest
    * fragmented three partitions compacts those three partitions'
    * bytes, not the table's. Untouched versions stay readable (time
    * travel across compaction, as with `compact`). Returns
    * (committed version, rewritten partitions); no commit happens
    * when nothing is fragmented (the latest version is returned).
    *
    * Row identity is structural, like `compact`'s: each flagged
    * partition is re-read through its own pruned hive scan and
    * round-robin `repartition(n)` — no filter, no project beyond the
    * partition column the writer re-derives. */
  def compactPartitions(s: SparkSession, base: String,
      targetFileBytes: Long): (Long, Seq[String]) = {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    val v = latest(s, base)
    val audit = partitionFiles(s, base, v)
    val m = manifestOf(s, base, v).get // partitionFiles proved it exists
    val owner = m.parts.toMap
    val flagged = audit.filter { case (_, files, bytes) =>
      files > math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes)
    }
    if (flagged.isEmpty) return (v, Seq.empty)
    val partCol = manifestPartCol(m.parts.head._1)
    val rewritten = flagged.map { case (part, _, bytes) =>
      val n = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes)
      reader(s, m).option("basePath", s"$base/${owner(part)}")
        .parquet(s"$base/${owner(part)}/$part")
        .repartition(n.toInt)
    }.reduce(_ unionByName _)
    (commitPartitions(rewritten, base, partCol), flagged.map(_._1))
  }
}
