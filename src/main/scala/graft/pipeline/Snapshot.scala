package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, count, lit, max, regexp_replace}
import org.apache.spark.sql.graft.PruningBridge
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import FsCommit.deleteRecursively

/** Snapshot-replace sink: the reference's `writeTo(t).createOrReplace()`
  * (`/root/reference/jobs/build_orders_silver.py:95`,
  * `build_privacy_table.py:37`) re-expressed over plain parquet.
  *
  * `mode("overwrite")` on the live path is not atomic (readers can see a
  * half-deleted directory); instead: write to a staging dir, then
  * atomically swap directories ([[FsCommit]]) — the same commit shape
  * as an Iceberg snapshot commit, minus the catalog. Also the append
  * sink (bronze, `ingest_orders_raw.py:53`).
  */
object Snapshot {

  def append(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Append).parquet(path)

  /** Driver-side row count of a FLAT parquet dir from the file
    * footers — no Spark job (a count() action on a freshly written
    * tiny table costs a full plan+schedule cycle, ~0.2 s, just to
    * re-read numbers the footers already carry). Only valid for a
    * sidecar-free dir (e.g. one [[createOrReplace]] just wrote);
    * callers owning MOR tables must go through [[read]]. */
  private[graft] def parquetFooterRowCount(dir: String): Long = {
    val conf = new org.apache.hadoop.conf.Configuration()
    def walk(d: Path): Long = {
      val s = Files.list(d)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.map { p =>
          val n = p.getFileName.toString
          // recurse into Hive fragment dirs; skip scan-invisible
          // names (_mor sidecars, markers, dot-staging) exactly as a
          // parquet scan would
          if (n.startsWith("_") || n.startsWith(".")) 0L
          else if (Files.isDirectory(p)) walk(p)
          else if (!n.endsWith(".parquet")) 0L
          else {
            val in = org.apache.parquet.hadoop.util.HadoopInputFile
              .fromPath(new org.apache.hadoop.fs.Path(p.toString), conf)
            val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
            try r.getRecordCount finally r.close()
          }
        }.sum
      } finally s.close()
    }
    walk(Paths.get(dir))
  }

  /** Marker file inside a snapshot dir carrying its version number —
    * underscore-prefixed so parquet scans ignore it (like `_SUCCESS`). */
  private val VersionFile = "_graft_version"

  /** Version stamped in a snapshot dir's marker file — the version of
    * the BASE data files (merge-on-read commits layer on top of it
    * without rewriting them; see [[morVersions]]). */
  private def markerVersion(dir: String): Option[Long] =
    FsCommit.read(Paths.get(dir, VersionFile)).map(_.trim.toLong)

  /** Version of the live snapshot at `path` (1-based; None if the path
    * was never written, or predates versioning). Merge-on-read commits
    * count: the live version is the newest MOR commit when sidecars
    * are present, else the base marker. */
  def currentVersion(path: String): Option[Long] =
    markerVersion(path).map(b => (b +: morVersions(path)).max)

  /** (live version, MOR-commit count) in ONE directory listing — the
    * polling shape freshness gates and cache signatures share
    * ([[graft.catalog.MaterializedReadRewrite]] consults both per
    * source on every analysis; two separate calls would pay the
    * listing twice). */
  def versionState(path: String): (Option[Long], Int) = {
    val mv = morVersions(path)
    (markerVersion(path).map(b => (b +: mv).max), mv.size)
  }

  /** Retained HISTORICAL versions of `path` (ascending, not counting
    * the live version — see [[currentVersion]] for that). */
  def historicalVersions(path: String): Seq[Long] = {
    val live = Paths.get(path)
    val parent = live.getParent
    val prefix = live.getFileName.toString + ".v"
    if (parent == null || !Files.exists(parent)) Seq.empty
    else {
      import scala.jdk.CollectionConverters._
      val s = Files.list(parent)
      try s.iterator().asScala
        .map(_.getFileName.toString)
        .filter(_.startsWith(prefix))
        .flatMap(n => n.stripPrefix(prefix).toLongOption)
        .toSeq.sorted
      finally s.close()
    }
  }

  // -------------------------------------------------------------------
  // MERGE-ON-READ sidecars — Iceberg 1.8's `write.{delete,update,merge}
  // .mode = merge-on-read` re-expressed over the versioned-dir layout
  // (`/root/reference/docker-compose.yml:125` ships that Iceberg; the
  // reference's whole workload is frequent small MERGEs,
  // `merge_orders_silver.py:135-147`, which copy-on-write prices at a
  // full-table rewrite each). A MOR commit writes ONLY the delta under
  // `<dir>/_mor/v<N>/`:
  //
  //   _mor/v<N>/deletes/   parquet of the DISTINCT full rows removed —
  //                        an equality-delete file (Iceberg's
  //                        equality deletes identify rows by value;
  //                        this layout's "position" is the row itself)
  //   _mor/v<N>/pos_deletes/  parquet of (file_path, pos) pairs —
  //                        Iceberg's position-delete files: file ids
  //                        RELATIVE to the table dir (see relFileId)
  //   _mor/v<N>/appends/   parquet of the rows added (an UPDATE is
  //                        delete-old + append-new, Iceberg's MOR
  //                        update decomposition)
  //   _mor/v<N>/_commit    marker: `operation=<delete|update|merge>`;
  //                        its mtime is the commit instant
  //
  // [[morCommits]] is the ONE reader of this layout: every read,
  // metadata listing, census, compaction, erase and window pricer
  // takes its sidecar dirs from it, and [[morCommitDir]] is the one
  // place a `_mor/v<N>` path is built.
  //
  // The `_mor` dir is underscore-prefixed, so plain parquet scans of
  // the table dir never see it (same convention as `_SUCCESS` and the
  // version marker). Reads apply sidecars in version order: consecutive
  // delete files merge into ONE null-safe anti-join (legal because a
  // later delete can only reference rows already visible earlier), each
  // append is a unionByName; a delete therefore never touches rows
  // appended AFTER it — exactly sequence-number scoping in Iceberg.
  // Delete frames are typically tiny → AQE broadcasts the anti-join
  // build side; the read amplification is the documented MOR trade, and
  // `CALL rewrite_position_delete_files` (Iceberg's own procedure)
  // compacts back to copy-on-write. Sidecars live INSIDE the snapshot
  // dir, so the atomic dir renames that move snapshots into history
  // carry them along, and time travel into the middle of a MOR run
  // keeps working from the historical dir.
  // -------------------------------------------------------------------

  private def morRoot(dir: String): Path = Paths.get(dir, "_mor")

  /** Merge-on-read commit versions layered on `dir`'s base files
    * (ascending; empty when the dir is pure copy-on-write). */
  def morVersions(dir: String): Seq[Long] = {
    val root = morRoot(dir)
    if (!Files.isDirectory(root)) Seq.empty
    else {
      import scala.jdk.CollectionConverters._
      val s = Files.list(root)
      try s.iterator().asScala
        .map(_.getFileName.toString)
        .filter(_.startsWith("v"))
        .flatMap(_.stripPrefix("v").toLongOption)
        .toSeq.sorted
      finally s.close()
    }
  }

  // the sidecar kinds and the commit marker inside a `_mor/v<N>` dir
  private val Appends = "appends"
  private val Deletes = "deletes"
  private val PosDeletes = "pos_deletes"
  private val CommitMarker = "_commit"

  /** The dir of MOR commit `v` on table dir `dir` (which may be a
    * staging dir a rewrite is filling). */
  private def morCommitDir(dir: String, v: Long): Path =
    morRoot(dir).resolve(s"v$v")

  /** One merge-on-read commit: each sidecar kind's dir iff the commit
    * CARRIES rows of that kind — the dir exists AND holds a parquet
    * file (a zero-row sidecar contributes nothing and would fail
    * schema inference) — and its `_commit` marker. */
  private[graft] final case class MorCommit(version: Long, appends: Option[String],
                             deletes: Option[String],
                             posDeletes: Option[String], marker: Path)

  /** `dir`'s MOR commits with version in `(since, upTo]`, ascending —
    * the one reader of the sidecar layout. Lists `_mor/` once and each
    * `v<N>` once (plus each present kind dir, for the parquet test). */
  private[graft] def morCommits(dir: String, since: Long = Long.MinValue,
                                upTo: Long = Long.MaxValue)
      : Seq[MorCommit] =
    morVersions(dir).filter(v => v > since && v <= upTo).map { v =>
      val d = morCommitDir(dir, v)
      val kinds = listNames(d)
      def carried(kind: String): Option[String] =
        Option.when(kinds(kind) && parquetFiles(d.resolve(kind)).nonEmpty)(
          d.resolve(kind).toString)
      MorCommit(v, carried(Appends), carried(Deletes), carried(PosDeletes),
        d.resolve(CommitMarker))
    }

  private def listNames(d: Path): Set[String] =
    if (!Files.isDirectory(d)) Set.empty
    else {
      import scala.jdk.CollectionConverters._
      val s = Files.list(d)
      try s.iterator().asScala.map(_.getFileName.toString).toSet
      finally s.close()
    }

  private def parquetFiles(d: Path): Seq[Path] = {
    import scala.jdk.CollectionConverters._
    val s = Files.list(d)
    try s.iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
    finally s.close()
  }

  /** The auto-compaction trigger every maintenance loop shares (DML
    * `write.mor.compact-after-commits`, index and rollup refresh,
    * streaming silver): once `threshold > 0` MOR commits are stacked
    * on `dir`, compact it through [[rewritePositionDeletes]] —
    * BEST-EFFORT: the triggering commit is already durable, so a
    * failure (e.g. an optimistic conflict with a concurrent writer)
    * is logged, never raised, and the next threshold crossing retries.
    * @return whether it compacted */
  private[graft] def compactIfStacked(spark: SparkSession, dir: String,
                                      threshold: Int,
                                      keepVersions: => Int = 0): Boolean =
    threshold > 0 && morVersions(dir).size >= threshold && {
      try { rewritePositionDeletes(spark, dir, keepVersions); true }
      catch {
        case scala.util.control.NonFatal(e) =>
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"auto-compaction of $dir failed (the commit is durable; " +
              s"retries at the next threshold crossing): $e")
          false
      }
    }

  /** Versions a single snapshot dir can serve: its base marker plus
    * every MOR commit stacked on it. */
  private def coveredVersions(dir: String): Seq[Long] =
    markerVersion(dir).toSeq ++ morVersions(dir)

  /** Every retained version with the dir that serves it — the live dir
    * plus each historical `.vN` dir, any of which may cover several
    * versions when MOR commits are stacked on its base. Ascending. */
  def retainedVersionDirs(path: String): Seq[(Long, String)] = {
    val hist = historicalVersions(path)
      .flatMap { n =>
        val d = s"$path.v$n"
        val covered = coveredVersions(d)
        // markerless pre-versioning dirs (retained as .v0) serve their
        // dir-name version — they must not vanish from version lists
        if (covered.isEmpty) Seq(n -> d) else covered.map(_ -> d)
      }
    (hist ++ coveredVersions(path).map(_ -> path)).sortBy(_._1)
  }

  /** All retained versions (ascending), MOR commits included — the
    * version list `.history`/`.snapshots`/timestamp travel iterate. */
  def retainedVersions(path: String): Seq[Long] =
    retainedVersionDirs(path).map(_._1)

  /** Lineage column names a position-delete read threads through the
    * merge: the RELATIVE file id and the row position within it. */
  val LineageFile = "_graft_lineage_file"
  val LineagePos = "_graft_lineage_pos"

  /** Rename-stable file id for position deletes: the file's path
    * RELATIVE to the serving dir (scheme and dir prefix stripped at
    * plan-build time, when the current dir location is known on both
    * the write and the read side). The suffix inside the dir —
    * `part-….parquet`, `l_returnflag=A/part-….parquet`,
    * `_mor/v3/appends/part-….parquet` — is invariant under the atomic
    * rename that rolls a live dir into history, which absolute URIs
    * are not (Iceberg can store absolute paths because its files never
    * move). The full relative path matters: Spark's partitioned writes
    * REUSE part-file names across Hive fragment dirs (same task id +
    * job UUID), so a bare basename would conflate files. */
  private def relFileId(dir: String): Column = {
    val abs = Paths.get(dir).toAbsolutePath.normalize.toString
    val noScheme =
      regexp_replace(col("_metadata.file_path"), "^file:/+", "/")
    regexp_replace(noScheme,
      "^" + java.util.regex.Pattern.quote(abs) + "/", "")
  }

  private def withLineageCols(df: DataFrame, dir: String): DataFrame =
    df.withColumn(LineageFile, relFileId(dir))
      .withColumn(LineagePos, col("_metadata.row_index"))

  /** The ONE sidecar-merge pipeline, shared by the plain read
    * ([[morApply]]) and the stats-pruned read ([[prunedRead]]) so the
    * two can never drift: onto `base` (the caller's base-file scan,
    * hidden fields already dropped), apply `dir`'s sidecars of version
    * <= `upTo` in commit order — consecutive equality-delete files
    * collapse into one null-safe anti-join over VALUE columns; each
    * appends dir loads through `appendFrame` (the pruned path prunes
    * per component; None = fully pruned away) and unions by name;
    * position deletes apply ONCE at the end (a (file, pos) pair names
    * rows of exactly one immutable file, so cross-commit scoping is
    * carried by the file id itself, and removal is idempotent against
    * the equality arm). Lineage columns thread automatically whenever
    * a position sidecar is visible; `withLineage = true` keeps them on
    * the way out. */
  private def applySidecars(spark: SparkSession, dir: String, upTo: Long,
                            base: DataFrame, withLineage: Boolean,
                            appendFrame: String => Option[DataFrame])
      : DataFrame = {
    val commits = morCommits(dir, upTo = upTo)
    val posDirs = commits.flatMap(_.posDeletes)
    val lineage = withLineage || posDirs.nonEmpty
    var df = if (lineage) withLineageCols(base, dir) else base
    var pendingDeletes = List.empty[String]
    def flush(): Unit = if (pendingDeletes.nonEmpty) {
      // an equality-delete file's OWN columns are its equality ids
      // (Iceberg's equality_ids): a full-row file removes identical
      // instances (a deterministic DELETE/UPDATE predicate matched
      // every one when the delta was written); a file projected to
      // the table's IDENTIFIER FIELDS removes every row carrying a
      // deleted key — Iceberg's key-scoped semantics, valid exactly
      // because SET IDENTIFIER FIELDS asserts the key identifies the
      // row. Files are grouped by schema (a table whose identifier
      // fields changed mid-history stacks both kinds); anti-join
      // removals commute, so group order is free.
      pendingDeletes.map(PruningBridge.scan(spark, _))
        .groupBy(_.columns.sorted.toSeq).values.foreach { group =>
          val del = group.reduce(_ unionByName _)
          val cond = del.columns.toSeq
            .filterNot(Seq(LineageFile, LineagePos).contains(_))
            .map(c => df(c) <=> del(c)).reduce(_ && _)
          df = df.join(del, cond, "left_anti")
        }
      pendingDeletes = Nil
    }
    commits.foreach { c =>
      c.deletes.foreach(pendingDeletes ::= _)
      c.appends.foreach { a =>
        flush() // a delete never touches rows appended after it
        appendFrame(a).foreach { app =>
          df = df.unionByName(
            if (lineage) withLineageCols(app, dir) else app)
        }
      }
    }
    flush()
    if (posDirs.nonEmpty) {
      val pos = posDirs.map(PruningBridge.scan(spark, _))
        .reduce(_ unionByName _)
      df = df.join(pos,
        df(LineageFile) === pos("file_path") &&
          df(LineagePos) === pos("pos"), "left_anti")
    }
    if (lineage && !withLineage) df = df.drop(LineageFile, LineagePos)
    df
  }

  /** r19 — ANALYZED-READ CACHE: a lifecycle operation (refresh, DML,
    * metadata table, MV pricing) re-derives the same merge-on-read
    * composition of the same immutable snapshot state many times, and
    * each derivation pays directory listing + parquet footer schema +
    * Catalyst analysis (~tens of ms on the driver, per read, hundreds
    * of times per maintenance run). Snapshot state is immutable per
    * (version marker, MOR-commit set, purge epoch, scan-manifest
    * signature): every live-dir mutation is a [[swapIn]] (new marker)
    * or a [[morCommit]] (new sidecar version), erase/expire rewrites
    * bump [[purgeEpoch]], and [[publishOrderManifest]] lands as the
    * manifest file whose mtime the key carries — so a plan cached
    * under that signature can never serve stale bytes; a changed
    * signature simply misses. PLAN cache, not a result cache: every
    * action still executes from the parquet files. Dirs WITHOUT a
    * version marker (plain append sinks — files land with no marker
    * change) are never cached. Weak per-session keying lets stopped
    * sessions collect. Each session's cache holds at most
    * [[MaxCachedPlans]] plans and evicts the least recently used. */
  private val readPlanCache =
    new java.util.WeakHashMap[SparkSession, PlanCache]()

  private val MaxCachedPlans = 512

  /** Access-ordered, so the eldest entry is the least recently used;
    * guarded by its own monitor. */
  private final class PlanCache
      extends java.util.LinkedHashMap[String, DataFrame](16, 0.75f, true) {
    override def removeEldestEntry(
        e: java.util.Map.Entry[String, DataFrame]): Boolean =
      size() > MaxCachedPlans
  }

  private def readCacheFor(spark: SparkSession): PlanCache =
    readPlanCache.synchronized {
      var m = readPlanCache.get(spark)
      if (m == null) {
        m = new PlanCache
        readPlanCache.put(spark, m)
      }
      m
    }

  /** 64-bit signature of `dir`'s committed state: every regular file
    * under it — data, markers, manifests, MOR sidecars — folded as
    * (relative path, size, mtime). Dot-prefixed segments (staging,
    * commit-in-flight) are excluded, so the signature only moves when
    * a commit lands. Any mutation changes it: [[swapIn]] replaces the
    * data files and marker, a plain [[append]] adds part files (Spark
    * part names carry a per-job UUID, so delete+recreate of the same
    * path can never reproduce a signature even within one mtime
    * tick), [[morCommit]] adds a sidecar version, erase/expire
    * rewrites produce fresh file names, manifest publication touches
    * the manifest. One driver-side listing per read — the same
    * metadata walk the uncached path's InMemoryFileIndex pays anyway. */
  private def commitSignature(dir: String): Long = {
    import scala.jdk.CollectionConverters._
    val root = Paths.get(dir)
    val s = Files.walk(root)
    val entries =
      try s.iterator().asScala.filter { p =>
        Files.isRegularFile(p) &&
        !root.relativize(p).iterator().asScala
          .exists(_.toString.startsWith("."))
      }.map { p =>
        s"${root.relativize(p)}|${Files.size(p)}|" +
          s"${Files.getLastModifiedTime(p).toMillis}"
      }.toArray
      finally s.close()
    java.util.Arrays.sort(entries.asInstanceOf[Array[Object]])
    entries.foldLeft(entries.length.toLong) { (h, e) =>
      h * 1000003L + scala.util.hashing.MurmurHash3.stringHash(e)
    }
  }

  private def morApplyCached(spark: SparkSession, dir: String,
                             upTo: Long,
                             withLineage: Boolean = false): DataFrame =
    markerVersion(dir) match {
      case None => morApply(spark, dir, upTo, withLineage)
      case Some(_) =>
        // the signature covers marker, manifest, MOR versions and the
        // data files themselves; purgeEpoch is in-JVM state (GDPR
        // rewrites also rename files, but keep the explicit component
        // so an epoch bump invalidates even a same-signature state)
        val key = s"$dir|$upTo|$withLineage|${purgeEpoch(dir)}|" +
          s"${commitSignature(dir)}"
        val cache = readCacheFor(spark)
        val hit = cache.synchronized(cache.get(key))
        if (hit != null) hit
        else {
          // plan outside the monitor: concurrent reads of other keys
          // must not queue behind this analysis
          val df = morApply(spark, dir, upTo, withLineage)
          cache.synchronized {
            val prev = cache.putIfAbsent(key, df)
            if (prev == null) df else prev
          }
        }
    }

  /** Read `dir`'s state AS OF `upTo`: base files with every MOR
    * sidecar of version <= `upTo` applied in commit order.
    * `withLineage = true` keeps the ([[LineageFile]], [[LineagePos]])
    * columns on the way out — the position-delete WRITE path reads
    * through this to learn which (file, pos) pairs a predicate hits. */
  private def morApply(spark: SparkSession, dir: String, upTo: Long,
                       withLineage: Boolean = false): DataFrame = {
    // the base scan plans through (a) the bucket-layout relation when
    // the dir was written under a bucket(n,c) spec — the scan then
    // REPORTS HashPartitioning(c, n), so joins/aggregations keyed on c
    // plan with zero exchanges on this side (storage-partitioned
    // join); else (b) the stats-skipping FileIndex when the dir
    // carries a valid scan manifest — a filter pushed onto ANY read of
    // this table (API or SQL) then schedules O(matching files) tasks;
    // without either this IS spark.read.parquet
    var df = bucketLayout(dir) match {
      case Some((n, cols)) =>
        org.apache.spark.sql.graft.BucketedBridge.read(spark, dir, n, cols)
      case None =>
        PruningBridge.read(spark, dir)
    }
    // hidden partitioning: derived transform fields (c_bucket, ts_day)
    // exist only as directory fragments — reads drop them so the
    // logical schema never carries them (and MOR sidecars, written in
    // the logical schema, stay union-compatible)
    val hidden = hiddenFieldNames(dir).filter(df.columns.contains)
    if (hidden.nonEmpty) df = df.drop(hidden: _*)
    applySidecars(spark, dir, upTo, df, withLineage,
      a => Some(PruningBridge.scan(spark, a)))
  }

  /** The live state with ([[LineageFile]], [[LineagePos]]) columns —
    * what a position-delete writer filters to learn which rows of
    * which physical files its predicate hits. */
  def readLineage(spark: SparkSession, path: String): DataFrame =
    morApplyCached(spark, path, Long.MaxValue, withLineage = true)

  /** Sidecar census for a merge-on-read table — the X6 metrics shape
    * feeding the compaction-cadence rule (compact when read-tax ×
    * reads-between-writes crosses the rewrite cost; BASELINE.md's MOR
    * soak): stacked commit count, per-kind sidecar file and row
    * counts. Row counts come from parquet footers (no data read). */
  def morStats(path: String): Seq[(String, Long)] = {
    val cs = morCommits(path)
    def census(kind: MorCommit => Option[String]): (Long, Long) = {
      val files = cs.flatMap(kind).flatMap(d => parquetFiles(Paths.get(d)))
      (files.size.toLong, files.map(footerRows).sum)
    }
    val (edF, edR) = census(_.deletes)
    val (pdF, pdR) = census(_.posDeletes)
    val (apF, apR) = census(_.appends)
    Seq(
      "mor_commits" -> cs.size.toLong,
      "equality_delete_files" -> edF, "equality_delete_rows" -> edR,
      "position_delete_files" -> pdF, "position_delete_pairs" -> pdR,
      "append_files" -> apF, "append_rows" -> apR)
  }

  /** (total bytes, total footer row count) of the data files visible
    * at the LIVE version — the metadata-only footprint `ANALYZE TABLE`
    * records (no data read; parquet footers only, like Iceberg's
    * manifest row counts). Hidden dirs (`_mor`, markers) excluded. */
  def dataFileStats(path: String): (Long, Long) =
    currentVersion(path) match {
      case None => (0L, 0L)
      case Some(live) =>
        dataDirsAsOf(path, live).map(d => dirFileStats(Paths.get(d)))
          .foldLeft((0L, 0L)) { case ((b, r), (b2, r2)) =>
            (b + b2, r + r2)
          }
    }

  /** (bytes, footer rows) of the visible parquet files under `root` —
    * the one walk both the live ([[dataFileStats]]) and branch
    * ([[branchDataFileStats]]) footprints use, so the
    * hidden-segment/footer conventions cannot drift between them. */
  private def dirFileStats(root: Path): (Long, Long) = {
    import scala.jdk.CollectionConverters._
    val s = Files.walk(root)
    try s.iterator().asScala
      .filter { p =>
        Files.isRegularFile(p) &&
        p.getFileName.toString.endsWith(".parquet") &&
        // no hidden segments under the data dir (the base dir
        // contains _mor; fragment dirs are col=val and pass)
        !root.relativize(p).iterator().asScala.exists { seg =>
          val n = seg.toString
          n.startsWith("_") || n.startsWith(".")
        }
      }
      .map(p => (Files.size(p), footerRows(p)))
      .foldLeft((0L, 0L)) { case ((b, r), (b2, r2)) =>
        (b + b2, r + r2)
      }
    finally s.close()
  }

  private def footerRows(f: Path): Long = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(f.toUri),
      new org.apache.hadoop.conf.Configuration())
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try r.getRecordCount finally r.close()
  }

  /** The parquet DATA dirs visible at `version` of `path`: the serving
    * dir's base files plus each appends sidecar of version <= it.
    * Delete sidecars are excluded — per-file stats report a data file's
    * own row count, like Iceberg's files/manifests tables. */
  def dataDirsAsOf(path: String, version: Long): Seq[String] =
    dataDirsIn(serveDir(path, version), version)

  /** [[dataDirsAsOf]] with the serving dir already resolved. */
  def dataDirsIn(dir: String, version: Long): Seq[String] =
    dir +: morCommits(dir, upTo = version).flatMap(_.appends)

  /** (data dir, committing version) pairs visible at `version` of
    * `path`: the serving dir's base files at the dir's own base marker
    * version, plus each appends sidecar at its commit version — the
    * `.entries` metadata table's listing unit (which commit ADDED each
    * file). A markerless pre-versioning dir reports version 0. */
  def dataDirVersionsAsOf(path: String,
                          version: Long): Seq[(String, Long)] = {
    val dir = serveDir(path, version)
    (dir, markerVersion(dir).getOrElse(0L)) +:
      morCommits(dir, upTo = version)
        .flatMap(c => c.appends.map(_ -> c.version))
  }

  /** The equality-delete sidecar dirs visible at `version` of `path` —
    * the `.delete_files` metadata table's listing unit (content 2). */
  def deleteDirsAsOf(path: String, version: Long): Seq[String] =
    morCommits(serveDir(path, version), upTo = version).flatMap(_.deletes)

  /** The position-delete sidecar dirs visible at `version` of `path`
    * (Iceberg's content 1 delete files). */
  def posDeleteDirsAsOf(path: String, version: Long): Seq[String] =
    morCommits(serveDir(path, version), upTo = version)
      .flatMap(_.posDeletes)

  /** The dir that serves `version` of `path` (live or historical),
    * raising the standard no-such-version error otherwise. */
  private def serveDir(path: String, version: Long): String =
    retainedVersionDirs(path).collectFirst {
      case (v, d) if v == version => d
    }.getOrElse(throw new java.util.NoSuchElementException(
      s"no snapshot version $version at $path " +
        s"(live=${currentVersion(path).getOrElse("-")}, " +
        s"retained=${retainedVersions(path).mkString(",")})"))

  /** Stage + atomically publish one merge-on-read commit: the deltas
    * are written eagerly (a DML statement's effect must not lazily
    * recompute), then promoted under the same per-path lock and
    * optimistic base-version check as every copy-on-write commit.
    * `deletes` rows should be DISTINCT full rows of the current state;
    * `appends` keeps multiplicity. `posDeletes` rows are
    * ([[LineageFile]], [[LineagePos]]) pairs from [[readLineage]] and
    * MUST derive from a deterministic predicate over the visible state
    * (address every identical instance or none) — [[erase]] relies on
    * that to convert them to equality rows when a GDPR rewrite moves
    * the underlying files. @return the new version */
  def morCommit(spark: SparkSession, path: String,
                deletes: Option[DataFrame], appends: Option[DataFrame],
                operation: String,
                posDeletes: Option[DataFrame] = None): Long = {
    val base = currentVersion(path).getOrElse(
      throw new IllegalStateException(
        s"merge-on-read commit requires an existing snapshot at $path"))
    val next = base + 1
    val token = java.util.UUID.randomUUID().toString.take(8)
    // dot-prefixed staging INSIDE _mor: invisible to scans, carried by
    // dir renames, cleaned by removeOrphans if a committer crashes
    val stage = morRoot(path).resolve(s".tmp-$token")
    try {
      Files.createDirectories(stage)
      // the up-to-three sidecar writes are INDEPENDENT jobs into
      // disjoint staging subdirs — run them concurrently (guide
      // §2.6); the commit's atomicity lives in the rename below, not
      // in the staging order
      val writes = Seq.newBuilder[() => Unit]
      deletes.foreach(d => writes += (() =>
        writeParquetTiny(d, stage.resolve(Deletes))))
      // position deletes: (file_path, pos) pairs in Iceberg's
      // position-delete schema, file ids RELATIVE to the serving dir
      // (see relFileId — rename-stable by construction). Relativity is
      // ASSERTED at write time: _metadata.file_path from a non-local
      // filesystem (hdfs://, s3a://) would not match the stripped
      // local-dir prefix and leave an absolute URI that silently stops
      // resolving after a dir rename — fail loudly here instead.
      posDeletes.foreach { pd =>
        import org.apache.spark.sql.functions.{concat, raise_error, when}
        val fp = col(LineageFile)
        val relOrRaise = when(
          fp.rlike("^(/|[A-Za-z][A-Za-z0-9+.-]*://)"),
          raise_error(concat(
            lit("position-delete file id is not relative to the " +
              "table dir (unsupported filesystem for MOR position " +
              "deletes?): "), fp)).cast("string"))
          .otherwise(fp)
        writes += (() =>
          writeParquetTiny(
            pd.select(relOrRaise.as("file_path"),
              col(LineagePos).cast("long").as("pos")),
            stage.resolve(PosDeletes)))
      }
      appends.foreach(a => writes += (() =>
        writeParquetTiny(a, stage.resolve(Appends))))
      Par.all(writes.result())
      Files.write(stage.resolve(CommitMarker),
        s"operation=$operation\n"
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      FsCommit.locked(path) {
        checkBase(path, Some(base))
        FsCommit.rename(stage, morCommitDir(path, next))
      }
      next
    } finally deleteRecursively(stage)
  }

  /** Iceberg's `rewrite_position_delete_files`, taken to its endpoint
    * on this layout: materialize the MOR-applied live state as one
    * copy-on-write commit (the sidecar-laden dir rolls into history
    * intact, so time travel into the MOR run still works) — after it,
    * reads pay zero merge cost again.
    * @return (collapsed delete-file count, new live version) */
  def rewritePositionDeletes(spark: SparkSession, path: String,
                             keepVersions: Int = 0): (Long, Long) = {
    val commits = morCommits(path)
    if (commits.isEmpty)
      return (0L, currentVersion(path).getOrElse(0L))
    val collapsed = commits.flatMap(c => c.deletes ++ c.posDeletes)
      .map(d => parquetFiles(Paths.get(d)).size.toLong).sum
    val base = currentVersion(path)
    val applied = read(spark, path).localCheckpoint()
    // spec-aware write: a partitioned/write-ordered table's compaction
    // lays the merged state back down under its layout
    swapIn(path, keepVersions, Some(base), operation = "replace") { tmp =>
      writeUnderCurrentSpec(applied, path, tmp)
      preserveCommitMeta(path, tmp)
    }
    publishOrderManifest(spark, path)
    (collapsed, currentVersion(path).get)
  }

  /** Atomic create-or-replace of a parquet table directory — the same
    * commit shape as an Iceberg snapshot commit, minus the catalog.
    *
    * Snapshot history (the Iceberg capability implicit in the
    * reference's storage layer — `docker-compose.yml:125`): with
    * `keepVersions > 0` the replaced live directory is MOVED (atomic
    * rename, no copy) to the sibling `<path>.v<N>` instead of deleted,
    * and only the newest `keepVersions` historical dirs are retained.
    * [[readAsOf]] reads any retained version. Versions are 1-based and
    * monotonically increasing; the live dir carries its own version in
    * [[VersionFile]]. History is per-table directory state — cheap
    * (renames + a bounded number of old snapshot dirs), which is
    * exactly the append-only-bronze + rebuildable-silver story this
    * pipeline already tells. */
  def createOrReplace(df: DataFrame, path: String,
                      keepVersions: Int = 0,
                      options: Map[String, String] = Map.empty,
                      operation: String = "overwrite"): Unit =
    swapIn(path, keepVersions, operation = operation) { tmp =>
      // `options` reach the parquet writer — e.g.
      // [[ScanPruning.bloomWriteOptions]] to index a column for
      // point-lookup file pruning
      df.write.mode(SaveMode.Overwrite).options(options)
        .parquet(tmp.toString)
    }

  /** Operation marker inside a snapshot dir (Iceberg's snapshot
    * `operation` field: append / replace / overwrite / delete) —
    * written by [[swapIn]], surfaced by `.snapshots`. */
  private val OperationFile = "_graft_operation"

  /** The operation that produced `version` (None for pre-marker
    * commits; MOR commits read their sidecar marker). */
  def operationOf(path: String, version: Long): Option[String] =
    operationOfIn(resolveDir(path, version), version)

  /** [[operationOf]] with the serving dir already resolved. */
  def operationOfIn(dir: String, version: Long): Option[String] =
    if (markerVersion(dir).contains(version))
      FsCommit.read(Paths.get(dir, OperationFile)).map(_.trim)
    else
      FsCommit.read(morCommitDir(dir, version).resolve(CommitMarker))
        .flatMap(_.linesIterator.collectFirst {
          case l if l.startsWith("operation=") =>
            l.stripPrefix("operation=")
        })

  /** [[createOrReplace]] that atomically carries a small named metadata
    * file with the commit (underscore-prefixed → invisible to parquet
    * scans) — the foreachBatch idempotence marker: a streaming sink
    * records the micro-batch id IN the same atomic swap as the data,
    * so an at-least-once replay after a crash can recognize an
    * already-committed batch (there is no window in which the data
    * landed but the marker did not). */
  def createOrReplaceWithMeta(df: DataFrame, path: String,
                              keepVersions: Int, metaName: String,
                              metaContent: String): Unit = {
    require(metaName.startsWith("_"),
      s"meta file must be scan-invisible (underscore-prefixed): $metaName")
    swapIn(path, keepVersions) { tmp =>
      writeParquetTiny(df, tmp)
      Files.write(tmp.resolve(metaName),
        metaContent.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
  }

  /** `df.write.parquet(dir)`, except a provably-tiny frame (index
    * stats, maintenance sidecars, checkpoints — the fixed-cost class
    * the r19/r20 microbenches price at ~260-310 ms PER WRITE JOB) is
    * written as one parquet file straight from the driver through
    * Spark's own ParquetFileFormat writer: identical bytes-on-disk
    * semantics, no job. Scale-guarded in
    * [[org.apache.spark.sql.graft.LocalParquet]]: the plan-size
    * estimate gates one unbounded collect, and the row and byte caps
    * are checked after it; a frame that fails the gate or a cap takes
    * the distributed write below, unchanged. */
  private[graft] def writeParquetTiny(df: DataFrame, dir: Path): Unit =
    if (!org.apache.spark.sql.graft.LocalParquet.tryWrite(df, dir))
      df.write.mode(SaveMode.Overwrite).parquet(dir.toString)

  /** The metadata file a [[createOrReplaceWithMeta]] commit carried,
    * if present on the live dir. */
  def commitMeta(path: String, metaName: String): Option[String] =
    FsCommit.read(Paths.get(path, metaName))

  /** Carry the COMMIT-META marker files of `path`'s live dir (the
    * underscore files a [[createOrReplaceWithMeta]] commit wrote —
    * a streaming replay marker, an index build token) into a
    * LAYOUT-ONLY rewrite's staging dir. Compaction and its siblings
    * preserve content, so the marker describing the last CONTENT
    * commit must survive them: dropping an index build token would
    * leave one component token-less beside its still-tokened siblings
    * (a permanent false MID-REBUILD), and dropping a streaming batch
    * marker would let a crash-replayed batch re-apply. Content
    * rewrites (rollback, cherry-pick, plain replace) deliberately do
    * NOT call this — their markers describe state that no longer
    * exists. The engine-managed files ([[VersionFile]],
    * [[OperationFile]], [[BucketMarker]], `_SUCCESS`) are excluded:
    * each is re-derived by the rewrite itself. */
  private def preserveCommitMeta(path: String, tmp: Path): Unit = {
    val live = Paths.get(path)
    if (!Files.isDirectory(live)) return
    val managed =
      Set(VersionFile, OperationFile, BucketMarker, "_SUCCESS")
    val s = Files.list(live)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala
        .filter(p => Files.isRegularFile(p) && {
          val n = p.getFileName.toString
          n.startsWith("_") && !managed.contains(n)
        })
        .foreach { p =>
          val dst = tmp.resolve(p.getFileName.toString)
          if (!Files.exists(dst)) Files.copy(p, dst)
        }
    } finally s.close()
  }

  /** Shared commit protocol (OPTIMISTIC, like an Iceberg commit): note
    * the base version, write to a WRITER-UNIQUE tmp dir (concurrent
    * stagings never clobber each other), stamp the version marker,
    * then — serialized per path — re-check the base version and
    * atomically promote ([[FsCommit.promote]]). A base that moved
    * while this writer was staging raises
    * `ConcurrentModificationException` with the staged dir cleaned up;
    * the caller re-runs its statement against the new live state (no
    * blind retry here: a DML/MERGE result depends on the base it
    * read). */
  private def swapIn(path: String, keepVersions: Int,
                     expectedBase: Option[Option[Long]] = None,
                     operation: String = "overwrite")
                    (write: Path => Unit): Unit = {
    // maintenance rewrites (compact/rollback/cherry-pick) MATERIALIZE
    // the live state before staging; they pass the version they read as
    // expectedBase so a commit landing between that read and this swap
    // raises the optimistic conflict instead of being silently absorbed
    val cur = expectedBase.getOrElse(currentVersion(path))
    val next = cur.getOrElse(0L) + 1
    // a live dir that predates versioning (e.g. an append-only table
    // being compacted for the first time) retains as v0
    val retain = Option.when(keepVersions > 0)(
      Paths.get(s"$path.v${cur.getOrElse(0L)}"))
    FsCommit.promote(Paths.get(path), path, retain) { tmp =>
      write(tmp)
      Files.write(tmp.resolve(VersionFile),
        next.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      Files.write(tmp.resolve(OperationFile),
        operation.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } { _ => checkBase(path, cur) }
    // prune beyond the newest keepVersions historical snapshots —
    // except tagged ones, which a ref keeps reachable
    historicalVersions(path).dropRight(keepVersions)
      .filterNot(dirProtected(path))
      .foreach(v => deleteRecursively(Paths.get(s"$path.v$v")))
  }

  /** The optimistic base check every commit to `path` makes under its
    * commit lock: the live version must still be the `base` this
    * writer staged against. */
  private def checkBase(path: String, base: Option[Long]): Unit = {
    val now = currentVersion(path)
    if (now != base)
      throw new java.util.ConcurrentModificationException(
        s"commit conflict at $path: base version " +
          s"${base.getOrElse(0L)} was replaced by " +
          s"${now.getOrElse(0L)} while this writer staged; " +
          "re-run the statement against the new live state")
  }

  /** Time travel: read snapshot `version` of `path` — the live version
    * or any retained historical one, including versions in the MIDDLE
    * of a merge-on-read run (served from whichever dir covers them,
    * with only the sidecars up to `version` applied). */
  def readAsOf(spark: SparkSession, path: String, version: Long): DataFrame = {
    // resolveDir's final fallback is the exact-name dir, which also
    // serves markerless pre-versioning `.v0` retentions
    val dir = resolveDir(path, version)
    if (!Files.exists(Paths.get(dir)))
      throw new java.util.NoSuchElementException(
        s"no snapshot version $version at $path " +
          s"(live=${currentVersion(path).getOrElse("-")}, " +
          s"retained=${retainedVersions(path).mkString(",")})")
    morApplyCached(spark, dir, version)
  }

  /** Commit timestamp of a retained version (epoch MICROS, the
    * engine's timestamp unit): the mtime of the version marker file —
    * written at commit time inside the staging dir and preserved by
    * the atomic directory renames that later move the snapshot around
    * (rename never touches file mtimes). */
  def committedAt(path: String, version: Long): Option[Long] =
    committedAtIn(resolveDir(path, version), version)

  /** O(1)-ish serving-dir resolution for a SINGLE version: the
    * exact-name historical dir or the live dir serve almost every
    * version; only a MOR commit buried mid-history needs the full
    * retention scan. Keeps per-version metadata reads constant-time
    * (the SoakVersions contract — a V-version sweep must be O(V),
    * not O(V²)). */
  private def resolveDir(path: String, version: Long): String = {
    val exact = s"$path.v$version"
    if (coveredVersions(exact).contains(version)) exact
    else if (coveredVersions(path).contains(version)) path
    else retainedVersionDirs(path)
      .collectFirst { case (v, d) if v == version => d }
      .getOrElse(exact)
  }

  /** [[committedAt]] with the serving dir already resolved — the
    * metadata tables resolve the version→dir map ONCE and use these
    * `…In` variants, so a V-version listing does O(V) filesystem
    * work, not O(V²) re-resolution. */
  def committedAtIn(dir: String, version: Long): Option[Long] = {
    // a MOR commit's instant is its sidecar marker; the base version's
    // is the dir's version marker (both survive the dir renames that
    // move snapshots around — rename never touches file mtimes)
    val m =
      if (markerVersion(dir).contains(version))
        Paths.get(dir, VersionFile)
      else morCommitDir(dir, version).resolve(CommitMarker)
    if (!Files.exists(m)) None
    else {
      val i = Files.getLastModifiedTime(m).toInstant
      Some(i.getEpochSecond * 1000000L + i.getNano / 1000L)
    }
  }

  /** Iceberg's `TIMESTAMP AS OF` semantics: the snapshot that was
    * CURRENT at `tsMicros` — the newest retained version committed at
    * or before it. A timestamp that predates the oldest retained
    * commit raises (Iceberg: "cannot find a snapshot older than"). */
  def readAsOfTimestamp(spark: SparkSession, path: String,
                        tsMicros: Long): DataFrame = {
    val versions = retainedVersions(path)
    val atOrBefore = versions
      .filter(v => committedAt(path, v).exists(_ <= tsMicros))
    if (atOrBefore.isEmpty)
      throw new java.util.NoSuchElementException(
        s"no snapshot of $path committed at or before " +
          s"timestamp_micros($tsMicros) (retained commits: " +
          versions.map(v => s"v$v@${committedAt(path, v)
            .getOrElse("-")}").mkString(", ") + ")")
    readAsOf(spark, path, atOrBefore.max)
  }

  /** Hive-style partitioned variant: one subdirectory per value of
    * `partitionCols`, so a filter on those columns prunes whole
    * directories at planning time (PartitionFilters on the scan,
    * asserted in SnapshotSpec) — the layout a 100-TB event table uses
    * for its date/hour columns. Same atomic commit protocol and
    * optional snapshot history as [[createOrReplace]]. The explicit
    * column list becomes the table's CURRENT partition spec (recorded
    * in the sidecar spec file), so later spec-aware commits and
    * [[addPartitionField]]/[[dropPartitionField]] evolve from it. */
  def createOrReplacePartitioned(df: DataFrame, path: String,
                                 partitionCols: Seq[String],
                                 keepVersions: Int = 0,
                                 metaName: Option[String] = None,
                                 metaContent: String = ""): Unit = {
    metaName.foreach(n => require(n.startsWith("_"),
      s"meta file must be scan-invisible (underscore-prefixed): $n"))
    swapIn(path, keepVersions) { tmp =>
      // same empty-state guard as the spec-aware write: a partitionBy
      // write of zero rows emits NO files and leaves the dir
      // unreadable — write one flat schema-bearing empty file instead
      if (df.isEmpty)
        df.coalesce(1).write.mode(SaveMode.Overwrite)
          .parquet(tmp.toString)
      else df.write.mode(SaveMode.Overwrite)
        .partitionBy(partitionCols: _*).parquet(tmp.toString)
      // the [[createOrReplaceWithMeta]] capability for partitioned
      // writes: a small named metadata file rides the same atomic swap
      metaName.foreach(n => Files.write(tmp.resolve(n),
        metaContent.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    }
    setPartitionSpec(path, partitionCols)
  }

  // -------------------------------------------------------------------
  // Partition-spec evolution — Iceberg's `ALTER TABLE … ADD/DROP
  // PARTITION FIELD` (identity transforms; this layout's spec IS the
  // Hive directory chain, so a field is a column). The spec lives in
  // the sidecar `<path>.pspec` file BESIDE the table, like tags: the
  // ALTER is metadata-only (nothing is rewritten, the live snapshot
  // keeps its layout), the NEXT spec-aware commit writes the new
  // layout, and every RETAINED version keeps the layout it was written
  // with — old files keep the old spec, readable via time travel, and
  // `.all_files`/`.all_manifests` surface the union of layouts across
  // versions (their `partition` fragments differ per version).
  // -------------------------------------------------------------------

  private def specFile(path: String) = Paths.get(path + ".pspec")

  // Hidden-partitioning TRANSFORMS (Iceberg's spec language beyond
  // identity): a spec entry is either a plain column or one of
  //   bucket(N,col)    -> field `col_bucket`  = md5-derived hash % N
  //   truncate(W,col)  -> field `col_trunc`   = substring / W-multiple
  //   days(col)        -> field `col_day`     = the date
  //   months(col)      -> field `col_month`   = 'yyyy-MM'
  //   years(col)       -> field `col_year`    = the year
  //   hours(col)       -> field `col_hour`    = 'yyyy-MM-dd-HH'
  // The DERIVED field becomes the Hive fragment (`c_bucket=3/`), so
  // pruning composes exactly like identity partitioning; the derived
  // column is dropped again on every read (hidden — the logical schema
  // never carries it). bucket() hashes through md5 so an external
  // engine can recompute the fragment (('0x'||md5(c))::BIGINT % N),
  // the same cross-engine discipline as the dedup family.

  /** `bucket(n, c)` — or the COMPOSITE `bucket(n, c1, c2, …)`
    * extension: multiple bucket columns give the storage-partitioned-
    * join layout a multi-column `HashPartitioning`, so a MERGE/join
    * keyed on the full composite key zero-exchanges the stored side
    * (Spark's own v1 `BucketSpec` takes a column LIST; Iceberg's
    * transform grammar is single-column, this lifts that limit). */
  private val BucketRe =
    """(?i)bucket\(\s*(\d+)\s*,\s*(\w+(?:\s*,\s*\w+)*)\s*\)""".r
  private val TruncRe = """(?i)truncate\(\s*(\d+)\s*,\s*(\w+)\s*\)""".r
  private val TimeRe = """(?i)(days|months|years|hours)\(\s*(\w+)\s*\)""".r

  /** One parsed spec entry: the canonical raw form, the partition
    * FIELD name it writes, and the source column it reads (`sources`
    * lists all of them — more than one only for a composite bucket). */
  final case class SpecField(raw: String, name: String, source: String) {
    def isIdentity: Boolean = raw == name
    def sources: Seq[String] = raw match {
      case BucketRe(_, cs) => cs.split(",").map(_.trim).toSeq
      case _ => Seq(source)
    }
  }

  /** Parse + canonicalize a spec entry ("bucket(4, C)", the composite
    * "bucket(4, C1, C2)", or a plain column). Unknown transform
    * spellings raise. */
  def parseSpecField(entry: String): SpecField = entry.trim match {
    case BucketRe(n, cs) =>
      val cols = cs.split(",").map(_.trim).toSeq
      // composite field names join with '-' (invalid inside a \w+
      // column name) so bucket(n,a,b) → a-b_bucket can never collide
      // with a column literally named a_b; the single-column form
      // keeps its established c_bucket spelling
      SpecField(s"bucket($n,${cols.mkString(",")})",
        s"${cols.mkString("-")}_bucket", cols.head)
    case TruncRe(w, c) =>
      SpecField(s"truncate($w,$c)", s"${c}_trunc", c)
    case TimeRe(unit, c) =>
      val u = unit.toLowerCase(java.util.Locale.ROOT)
      SpecField(s"$u($c)", s"${c}_${u.stripSuffix("s")}", c)
    case id if id.matches("""[\w]+""") => SpecField(id, id, id)
    case other => throw new UnsupportedOperationException(
      s"unsupported partition transform: '$other' (supported: " +
        "identity columns, bucket(n,col), truncate(w,col), " +
        "days/months/years/hours(col))")
  }

  /** The derived Column a transform entry writes (None for identity —
    * the source column IS the field). Needs the frame's schema to pick
    * the numeric-vs-string truncate arm. */
  private def deriveColumn(f: SpecField,
                           df: DataFrame): Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions._
    f.raw match {
      case BucketRe(n, cs) =>
        // md5-derived bucket (cross-engine recomputable):
        // first 8 md5 hex digits of the string form, mod N; a
        // composite key hashes the '|'-joined string forms
        val cols = cs.split(",").map(_.trim)
        val key =
          if (cols.length == 1) col(cols.head).cast("string")
          else concat_ws("|", cols.map(c => col(c).cast("string")): _*)
        Some(pmod(conv(substring(md5(key), 1, 8),
          16, 10).cast("long"), lit(n.toInt)))
      case TruncRe(w, c) =>
        val width = w.toInt
        df.schema(c).dataType match {
          case org.apache.spark.sql.types.StringType =>
            Some(substring(col(c), 1, width))
          case _ => // Iceberg's numeric truncate: v - (v floor-mod W)
            Some((col(c) - pmod(col(c), lit(width))).cast("long"))
        }
      case TimeRe(unit, c) =>
        unit.toLowerCase(java.util.Locale.ROOT) match {
          case "days"   => Some(to_date(col(c)))
          case "months" => Some(date_format(col(c), "yyyy-MM"))
          case "years"  => Some(year(col(c)))
          case "hours"  => Some(date_format(col(c), "yyyy-MM-dd-HH"))
        }
      case _ => None
    }
  }

  /** Derived (non-identity) partition FIELD names reads must hide for
    * `dir`: the CURRENT spec's, plus every transform field the table
    * EVER wrote (the `.pspec.hidden` tombstone file, appended by
    * [[setPartitionSpec]]) — a `DROP PARTITION FIELD bucket(4,c)` is
    * metadata-only, so `c_bucket` fragments remain physically present
    * in old files and must stay hidden, or reads would leak the
    * derived column and MOR sidecars (written in the logical schema)
    * would stop union-matching. A historical `.vN` dir shares its
    * table's sidecars. */
  private def hiddenFieldNames(dir: String): Seq[String] = {
    val tablePath = dir.replaceAll("""\.v\d+$""", "")
    (partitionSpec(tablePath).map(parseSpecField)
      .filterNot(_.isIdentity).map(_.name) ++
      tombstonedFields(tablePath)).distinct
  }

  private def tombstoneFile(path: String) =
    Paths.get(path + ".pspec.hidden")

  /** Transform fields retired from the spec but physically present in
    * retained files (appended, never removed — expiry of the files
    * does not un-write history). */
  private def tombstonedFields(path: String): Seq[String] =
    sidecarLines(tombstoneFile(path))

  private def addTombstones(path: String, fields: Seq[String]): Unit =
    if (fields.nonEmpty) {
      val merged = (tombstonedFields(path) ++ fields).distinct
      FsCommit.replace(tombstoneFile(path), merged.mkString("", "\n", "\n"))
    }

  /** Trimmed non-empty lines of a sidecar file (empty when absent). */
  private def sidecarLines(f: Path): Seq[String] =
    FsCommit.read(f).toSeq
      .flatMap(_.linesIterator.map(_.trim).filter(_.nonEmpty))

  /** The CURRENT partition spec of `path` (ordered identity columns;
    * empty = unpartitioned). */
  def partitionSpec(path: String): Seq[String] =
    sidecarLines(specFile(path))

  /** Replace the current spec ([[FsCommit.replace]]; empty clears).
    * Entries are canonicalized transform strings or identity columns;
    * duplicate FIELD names (e.g. two bucket(_, c) entries) raise. */
  def setPartitionSpec(path: String, cols: Seq[String]): Unit = {
    val names = cols.map(parseSpecField(_).name)
    require(names.distinct == names,
      s"duplicate partition fields: ${cols.mkString(", ")}")
    // transform fields leaving the spec become tombstones: their
    // fragments live on in already-written files and must stay hidden
    addTombstones(path, partitionSpec(path).map(parseSpecField)
      .filterNot(_.isIdentity).map(_.name).filterNot(names.contains))
    val f = specFile(path)
    if (cols.isEmpty) Files.deleteIfExists(f)
    else FsCommit.replace(f, cols.mkString("", "\n", "\n"))
  }

  /** `ALTER TABLE … ADD PARTITION FIELD field` — metadata-only append
    * to the spec; `field` may be an identity column or a transform
    * (`bucket(4,c)`, `days(ts)`, …), canonicalized before storage.
    * @return the new spec */
  def addPartitionField(path: String, field: String): Seq[String] = {
    val canon = parseSpecField(field)
    val cur = partitionSpec(path)
    if (cur.map(parseSpecField(_).name).contains(canon.name))
      throw new IllegalArgumentException(
        s"partition field already exists: ${canon.name} " +
          s"(spec=${cur.mkString(",")})")
    setPartitionSpec(path, cur :+ canon.raw)
    partitionSpec(path)
  }

  /** `ALTER TABLE … DROP PARTITION FIELD field` — metadata-only
    * removal, matched on the canonical form. @return the new spec */
  def dropPartitionField(path: String, field: String): Seq[String] = {
    val canon = parseSpecField(field)
    val cur = partitionSpec(path)
    if (!cur.exists(parseSpecField(_).name == canon.name))
      throw new java.util.NoSuchElementException(
        s"no such partition field: $field (spec=${cur.mkString(",")})")
    setPartitionSpec(path,
      cur.filterNot(parseSpecField(_).name == canon.name))
    partitionSpec(path)
  }

  /** Commit under the CURRENT spec — the write every spec-evolved
    * table uses from the ALTER onward: partitioned iff the sidecar
    * spec is non-empty, and range-clustered + locally sorted iff a
    * WRITE ORDERED BY sort order is set ([[setSortOrder]] — Iceberg's
    * write-order metadata: each commit's files cover disjoint sort-key
    * ranges so parquet min/max stats prune, the same layout
    * `rewrite_data_files(strategy => 'sort')` produces on demand).
    * Same atomic protocol as [[createOrReplace]]. */
  def createOrReplaceCurrentSpec(df: DataFrame, path: String,
                                 keepVersions: Int = 0): Unit = {
    swapIn(path, keepVersions) { tmp =>
      writeUnderCurrentSpec(df, path, tmp)
    }
    publishOrderManifest(df.sparkSession, path)
  }

  /** After a spec-aware commit: when WRITE ORDERED BY is set and the
    * layout is unpartitioned (a partitionBy write repeats part-file
    * basenames across fragment dirs, which the manifest refuses),
    * publish the scan manifest for the plain order columns — ongoing
    * ordered commits then feed the same plan-time file skipping as an
    * explicit sort rewrite. */
  private def publishOrderManifest(spark: SparkSession,
                                   path: String): Unit = {
    val cols = sortOrderColumns(path)
    if (cols.nonEmpty && partitionSpec(path).isEmpty)
      ScanPruning.writeStatsManifest(spark, path, cols)
  }

  /** The WRITE ORDERED BY columns that are plain identifiers — the
    * stats-column set the manifest publishers derive from. */
  def sortOrderColumns(path: String): Seq[String] =
    sortOrder(path).map(_._1)
      .filter(_.matches("[A-Za-z_][A-Za-z0-9_]*"))

  /** The spec-aware staged write shared by [[createOrReplaceCurrentSpec]]
    * and the MOR compaction ([[rewritePositionDeletes]]): derived
    * transform columns materialized, partition layout applied, the
    * WRITE ORDERED BY range-clustering composed — and, when the spec
    * carries a `bucket(n,c)` entry, the STORAGE-PARTITIONED-JOIN
    * layout: rows shuffle by Spark's own murmur3 `HashPartitioning(c,
    * n)` so every output file holds exactly one hash bucket, files are
    * renamed to Spark's `_NNNNN` bucket convention, and the
    * `_graft_buckets` marker makes every later read of the snapshot
    * report that partitioning (see
    * [[org.apache.spark.sql.graft.BucketedBridge]]) — a join or MERGE
    * keyed on `c` then plans with ZERO exchanges on this table's side.
    * The md5-derived `c_bucket` FRAGMENT dirs are unchanged (they
    * serve cross-engine-recomputable pruning); the two bucket layers
    * compose because the murmur3 file naming is global across
    * fragment dirs. */
  private def writeUnderCurrentSpec(df: DataFrame, path: String,
                                    tmp: Path,
                                    fileBudget: Option[Int] = None)
      : Unit = {
    val fields = partitionSpec(path).map(parseSpecField)
    val order = sortOrder(path)
    // transform entries materialize their derived field for the write
    // (dropped again by every read — hidden partitioning)
    def derive(in: DataFrame): DataFrame = fields
      .filterNot(_.isIdentity)
      .foldLeft(in)((acc, f) => deriveColumn(f, df)
        .map(c => acc.withColumn(f.name, c)).getOrElse(acc))
    val withDerived = derive(df)
    // the FIRST bucket entry drives the file-level join layout (a
    // file can only be one hash bucket; further bucket entries still
    // write their md5 fragments)
    val joinBucket = fields.map(_.raw)
      .collectFirst { case BucketRe(n, cs) =>
        (n.toInt, cs.split(",").map(_.trim).toSeq) }
    // the spec columns PREFIX the sort: FileFormatWriter requires
    // its input ordered by the partition columns and injects its
    // own (order-destroying) sort when it is not — sorting by
    // (spec ++ order) satisfies that requirement as a prefix, so
    // the write keeps the within-partition sort (SnapshotSpec pins
    // the composition)
    val exprs = fields.map(f =>
      org.apache.spark.sql.functions.col(f.name).asc) ++
      order.map { case (c, asc) =>
        val col = org.apache.spark.sql.functions.col(c)
        if (asc) col.asc else col.desc
      }
    val ordered = joinBucket match {
      case Some((n, cols)) =>
        // the bucket layout OWNS the shuffle (one murmur3 bucket per
        // output task — the explicit partition count also keeps AQE
        // from coalescing, which would merge buckets); any WRITE
        // ORDERED BY order degrades gracefully to within-file sort.
        // The murmur3 keys are RAW columns, so the md5 fragment
        // derivation runs AFTER the exchange (r20, guide §2.3
        // project-before-the-exchange): the map side ships only the
        // raw rows (no 32-char md5 strings across the wire) and the
        // per-row hashing runs on the n reduce tasks instead of the
        // scan's 1-3 input splits
        derive(df.repartition(n,
            cols.map(org.apache.spark.sql.functions.col): _*))
          .sortWithinPartitions(exprs: _*)
      case None if order.isEmpty => withDerived
      case None =>
        // a compaction passes its target file count through — the
        // range shuffle would otherwise fan back out to the default
        // partition count and undo the binpack
        fileBudget
          .map(n => withDerived.repartitionByRange(n, exprs: _*))
          .getOrElse(withDerived.repartitionByRange(exprs: _*))
          .sortWithinPartitions(exprs: _*)
    }
    if (fields.isEmpty)
      ordered.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    else if (withDerived.isEmpty) { // pre-shuffle probe: limit(1)
      // against the input, not the repartitioned frame (whose isEmpty
      // would execute the whole map stage)
      // EMPTY partitioned state (TRUNCATE, a DELETE matching every
      // row): a partitionBy write of zero rows emits NO data files at
      // all and every later read fails schema inference — write one
      // flat schema-bearing empty file instead (derived fields ride
      // along as 0-row data columns; reads hide them by name exactly
      // as they hide the dir-encoded form). The fragment/bucket layout
      // returns at the next non-empty commit.
      ordered.coalesce(1).write.mode(SaveMode.Overwrite)
        .parquet(tmp.toString)
    } else {
      ordered.write.mode(SaveMode.Overwrite)
        .partitionBy(fields.map(_.name): _*).parquet(tmp.toString)
      joinBucket.foreach { case (n, cols) =>
        stampBucketLayout(tmp, n, cols) }
    }
  }

  // -------------------------------------------------------------------
  // Bucket-layout plumbing (storage-partitioned joins). The write task
  // index IS the murmur3 bucket id (repartition(n, c) routes rows by
  // pmod(murmur3(c), n), and FileFormatWriter names each task's files
  // `part-<taskIdx>-…`), so renaming every data file to carry Spark's
  // `_NNNNN` bucket suffix makes the dir readable as a Spark bucketed
  // table — BucketingUtils.getBucketId parses the suffix back at scan
  // planning. The marker records (n, c) the way a metastore would.
  // -------------------------------------------------------------------

  private val BucketMarker = "_graft_buckets"
  private val PartFileRe = """part-(\d+)-.*""".r

  /** The (numBuckets, columns) join layout a snapshot dir was written
    * under, if any (several columns for a composite bucket spec). */
  def bucketLayout(dir: String): Option[(Int, Seq[String])] =
    FsCommit.read(Paths.get(dir, BucketMarker)).map { m =>
      val parts = m.trim.split("\\s+")
      (parts(0).toInt, parts.drop(1).toSeq)
    }

  /** Rename the staged dir's data files to Spark's bucket convention
    * and stamp the layout marker. Runs on the staging dir BEFORE the
    * atomic promote, so readers only ever see a fully-bucket-named
    * table. A data file whose name does not carry the writer's task
    * index would break the claim — fail loudly, never half-stamp. */
  private def stampBucketLayout(tmp: Path, n: Int,
                                cols: Seq[String]): Unit = {
    val s = Files.walk(tmp)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala
        .filter(p => Files.isRegularFile(p) &&
          p.getFileName.toString.endsWith(".parquet"))
        .foreach { p =>
          val name = p.getFileName.toString
          name match {
            case PartFileRe(idx) =>
              val id = idx.toInt
              require(id < n, s"write task index $id >= $n buckets " +
                s"for $name — bucket layout invariant broken")
              val dot = name.indexOf('.')
              val at = if (dot < 0) name.length else dot
              val renamed = name.substring(0, at) + f"_$id%05d" +
                name.substring(at)
              FsCommit.rename(p, p.resolveSibling(renamed))
            case _ => throw new IllegalStateException(
              s"unexpected data file name in a bucket-spec write: " +
                s"$name (cannot derive its bucket id)")
          }
        }
    } finally s.close()
    Files.write(tmp.resolve(BucketMarker),
      s"$n ${cols.mkString(" ")}\n"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  // WRITE ORDERED BY metadata — Iceberg's table sort order, stored in
  // the sidecar `<path>.sortorder` (one `col asc|desc` line each,
  // replaced atomically like the spec file). Metadata-only: set it and
  // every later spec-aware commit writes range-clustered, locally
  // sorted files; WRITE UNORDERED clears it.

  private def sortOrderFile(path: String) = Paths.get(path + ".sortorder")

  /** Current write sort order: (column, ascending) pairs, empty = none. */
  def sortOrder(path: String): Seq[(String, Boolean)] =
    sidecarLines(sortOrderFile(path)).map { line =>
      val p = line.split("\\s+")
      (p(0), p.length < 2 || !p(1).equalsIgnoreCase("desc"))
    }

  def setSortOrder(path: String, order: Seq[(String, Boolean)]): Unit = {
    val f = sortOrderFile(path)
    if (order.isEmpty) Files.deleteIfExists(f)
    else FsCommit.replace(f, order.map { case (c, asc) =>
      s"$c ${if (asc) "asc" else "desc"}" }.mkString("", "\n", "\n"))
  }

  def read(spark: SparkSession, path: String): DataFrame =
    // morApply also on a sidecar-free dir: it is a plain scan then,
    // plus the hidden-partitioning field drop every read owes
    morApplyCached(spark, path, Long.MaxValue)

  /** Stats-pruned scan of the live snapshot (Iceberg scan planning,
    * [[ScanPruning]]): whole data files whose footer min/max cannot
    * match `ranges` are dropped at PLAN time — no task, no footer
    * re-read, no scheduling cost — and the exact range filter is
    * applied on top, so the result equals `read(...).filter(ranges)`
    * bit-for-bit on any table; on a sort-clustered one
    * ([[rewriteSorted]]) it plans O(matching files) tasks instead of
    * O(all files). Merge-on-read composes: append sidecars are pruned
    * per component, delete sidecars always apply whole (an anti-join
    * can only remove rows — never resurrect pruned ones — and a
    * delete aimed at a pruned-away file is a no-op on this frame).
    * The kept/total file counts are exposed via
    * [[ScanPruning.pruneDir]] for audits.
    *
    * Bounds are inclusive; `basePath` keeps Hive-partition columns on
    * the explicit-file scans. */
  def prunedRead(spark: SparkSession, path: String,
                 ranges: Seq[ScanPruning.ColumnRange]): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val basePlan = ScanPruning.pruneDir(spark, path, ranges)
    var base =
      if (basePlan.kept.isEmpty) PruningBridge.scan(spark, path).limit(0)
      else spark.read.option("basePath", path)
        .parquet(basePlan.kept: _*)
    val hidden = hiddenFieldNames(path).filter(base.columns.contains)
    if (hidden.nonEmpty) base = base.drop(hidden: _*)
    // the shared sidecar pipeline (delete sidecars — both arms — apply
    // whole: an anti-join only removes rows, and a delete aimed at a
    // pruned-away file is a no-op on this frame); appends prune per
    // component
    val df = applySidecars(spark, path, Long.MaxValue, base,
      withLineage = false, a => {
        val ap = ScanPruning.pruneDir(spark, a, ranges)
        if (ap.kept.isEmpty) None
        else Some(spark.read
          .option("basePath", a).parquet(ap.kept: _*))
      })
    ranges.foldLeft(df) { (acc, r) =>
      val c = col(r.column)
      val lo = r.lower.map(l => acc.filter(c >= lit(l))).getOrElse(acc)
      r.upper.map(u => lo.filter(c <= lit(u))).getOrElse(lo)
    }
  }

  /** Table maintenance — small-file compaction (Iceberg's
    * `rewrite_data_files` capability over plain parquet): rewrite the
    * live snapshot into `targetFiles` files through the SAME atomic
    * commit protocol as [[createOrReplace]], so readers never see a
    * half-compacted table and, with `keepVersions > 0`, the
    * pre-compaction snapshot stays time-travelable. CDC bronze appends
    * produce one file per micro-batch — at 100 TB that is millions of
    * small files whose per-file open/footer cost dominates scans;
    * periodic compaction is the standard fix. Data is unchanged
    * (row-identical, spec-proven); only the layout changes.
    *
    * `coalesce` (not `repartition`) — merging files needs no shuffle,
    * only fewer output tasks; each task concatenates whole input
    * splits.
    *
    * SPEC-AWARE: a table with a partition spec, a bucket join layout,
    * or a WRITE ORDERED BY sidecar rewrites through
    * [[writeUnderCurrentSpec]] (the same staged write the MOR
    * compaction uses), so compaction preserves the fragment dirs, the
    * `_graft_buckets` storage-partitioned-join marker, and the sort
    * clustering instead of silently flattening them; `targetFiles`
    * then bounds the tasks FEEDING the layout (per-fragment file
    * count), while a bucket layout keeps its own one-file-per-bucket
    * file count (the layout's invariant). */
  def compact(spark: SparkSession, path: String, targetFiles: Int,
              keepVersions: Int = 0): Unit = {
    require(targetFiles > 0, s"targetFiles must be positive: $targetFiles")
    // materialize BEFORE the swap: the rewrite reads the directory the
    // swap is about to replace. The version read is pinned as the
    // commit's expected base — a commit landing mid-materialization
    // conflicts instead of being overwritten by stale compacted data.
    val base = currentVersion(path)
    val specAware = partitionSpec(path).nonEmpty ||
      bucketLayout(path).isDefined || sortOrder(path).nonEmpty
    // bucket/order layouts re-shuffle inside the spec-aware write, so
    // pre-coalescing would only strangle the materialization to
    // targetFiles tasks for nothing; flat and identity-partitioned
    // tables rely on the coalesce for their output file count
    val reshuffles = bucketLayout(path).isDefined ||
      sortOrder(path).nonEmpty
    val compacted =
      (if (reshuffles) read(spark, path)
       else read(spark, path).coalesce(targetFiles))
        .localCheckpoint()
    swapIn(path, keepVersions, Some(base), operation = "replace") { tmp =>
      if (specAware)
        writeUnderCurrentSpec(compacted, path, tmp, Some(targetFiles))
      else compacted.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
      preserveCommitMeta(path, tmp)
    }
    if (specAware) publishOrderManifest(spark, path)
  }

  /** PARTITION-SCOPED compaction — Iceberg's `rewrite_data_files(where
    * => …)` arm: only the Hive fragments matching the predicate are
    * rewritten (each coalesced to `targetFiles`); every other
    * fragment's files are carried into the new version BYTE-IDENTICAL
    * (copies, verified by CallSqlSpec checksums). At 100 TB you
    * compact the one hot partition a CDC stream peppered with small
    * files, not the table — the rewrite cost is O(matched partition),
    * not O(table).
    *
    * `where` maps partition FIELD name → allowed values (a conjunction
    * of equality / IN constraints, the form Iceberg's own arm
    * supports); values compare against the raw fragment spelling plus
    * Hive's `__HIVE_DEFAULT_PARTITION__` for null. Constraints must
    * name fields of the CURRENT spec — a predicate on a data column
    * cannot scope directories and raises. Tables with merge-on-read
    * sidecars must compact them first (`rewrite_position_delete_files`)
    * — a sidecar row is not fragment-addressable; bucket-layout tables
    * refuse too (coalescing would merge murmur3 bucket files and break
    * the storage-partitioned-join claim).
    * @return (rewritten file count, added file count) */
  def compactWhere(spark: SparkSession, path: String,
                   where: Map[String, Seq[String]], targetFiles: Int,
                   keepVersions: Int = 0): (Long, Long) = {
    require(targetFiles > 0, s"targetFiles must be positive: $targetFiles")
    require(where.nonEmpty, "compactWhere requires a predicate " +
      "(use compact for a whole-table rewrite)")
    val specFields = partitionSpec(path).map(parseSpecField(_).name)
    require(specFields.nonEmpty,
      s"compactWhere needs a partitioned table (no spec at $path)")
    val unknown = where.keys.filterNot(k =>
      specFields.exists(_.equalsIgnoreCase(k)))
    if (unknown.nonEmpty) throw new IllegalArgumentException(
      s"rewrite_data_files where => … may only constrain partition " +
        s"fields (${specFields.mkString(", ")}); not: " +
        unknown.mkString(", "))
    if (morVersions(path).nonEmpty)
      throw new UnsupportedOperationException(
        "compactWhere on a table with merge-on-read sidecars — run " +
          "rewrite_position_delete_files first (a sidecar row is not " +
          "fragment-addressable)")
    if (bucketLayout(path).isDefined)
      throw new UnsupportedOperationException(
        "compactWhere would merge murmur3 bucket files and break the " +
          "storage-partitioned-join layout; use rewrite_data_files " +
          "without a predicate (the spec-aware rewrite re-buckets)")
    // leaf fragment dirs with their (field -> value) chains
    def leaves(dir: Path, chain: Map[String, String])
        : Seq[(Path, Map[String, String])] = {
      import scala.jdk.CollectionConverters._
      val s = Files.list(dir)
      val subs = try s.iterator().asScala.filter(p =>
        Files.isDirectory(p) && p.getFileName.toString.contains("=") &&
          !p.getFileName.toString.startsWith("_") &&
          !p.getFileName.toString.startsWith(".")).toSeq
      finally s.close()
      if (subs.isEmpty) Seq((dir, chain))
      else subs.flatMap { p =>
        val Array(f, v) = p.getFileName.toString.split("=", 2)
        leaves(p, chain + (f -> v))
      }
    }
    val base = currentVersion(path)
    val frags = leaves(Paths.get(path), Map.empty)
      .filter(_._2.nonEmpty) // the root itself is not a fragment
    val (matched, untouched) = frags.partition { case (_, chain) =>
      where.forall { case (f, allowed) =>
        chain.exists { case (cf, cv) =>
          cf.equalsIgnoreCase(f) && allowed.contains(cv)
        }
      }
    }
    if (matched.isEmpty) throw new java.util.NoSuchElementException(
      s"rewrite_data_files where => … matched no partition of $path " +
        s"(fragments: ${frags.map(_._2).mkString("; ")})")
    def parquetFiles(d: Path): Seq[Path] = {
      import scala.jdk.CollectionConverters._
      val s = Files.list(d)
      try s.iterator().asScala.filter(p => Files.isRegularFile(p) &&
        p.getFileName.toString.endsWith(".parquet") &&
        !p.getFileName.toString.startsWith(".")).toSeq
      finally s.close()
    }
    val rewritten = matched.map(m => parquetFiles(m._1).size.toLong).sum
    // matched fragments COALESCE (read before the swap moves the dir);
    // each leaf holds constant fragment values, so reading it plain
    // and writing back to the same relative path preserves the layout
    val root = Paths.get(path)
    val staged = matched.map { case (d, _) =>
      (root.relativize(d).toString,
        PruningBridge.scan(spark, d.toString).coalesce(targetFiles)
          .localCheckpoint())
    }
    swapIn(path, keepVersions, Some(base), operation = "replace") { tmp =>
      untouched.foreach { case (d, _) =>
        val dst = tmp.resolve(root.relativize(d).toString)
        Files.createDirectories(dst)
        parquetFiles(d).foreach(f =>
          Files.copy(f, dst.resolve(f.getFileName.toString)))
      }
      staged.foreach { case (rel, df) =>
        df.write.mode(SaveMode.Overwrite)
          .parquet(tmp.resolve(rel).toString)
      }
      preserveCommitMeta(path, tmp)
    }
    val added = matched.map { case (d, _) =>
      parquetFiles(Paths.get(path).resolve(root.relativize(d).toString))
        .size.toLong
    }.sum
    (rewritten, added)
  }

  /** Sort-clustering rewrite (Iceberg's `rewrite_data_files(strategy
    * => 'sort')`): range-partition the live snapshot into `targetFiles`
    * by the sort key and sort within each partition, so every data
    * file covers a disjoint key range and parquet row-group min/max
    * statistics prune point/range queries on that key. Same commit
    * protocol as [[compact]]; row content is unchanged. */
  def rewriteSorted(spark: SparkSession, path: String, targetFiles: Int,
                    sortExprs: Seq[org.apache.spark.sql.Column],
                    keepVersions: Int = 0): Unit = {
    require(targetFiles > 0, s"targetFiles must be positive: $targetFiles")
    require(sortExprs.nonEmpty, "sort rewrite requires a sort order")
    val base = currentVersion(path)
    val sorted = read(spark, path)
      .repartitionByRange(targetFiles, sortExprs: _*)
      .sortWithinPartitions(sortExprs: _*)
      .localCheckpoint()
    swapIn(path, keepVersions, Some(base), operation = "replace") { tmp =>
      sorted.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
      preserveCommitMeta(path, tmp)
    }
    // the sort-clustered layout is exactly the one whose per-file
    // stats pay at plan time: publish the scan manifest for the
    // plain-attribute sort columns so pruneDir plans from ONE sidecar
    // read instead of O(files) footer opens (Iceberg's manifest role;
    // validation-by-file-names makes a stale one harmless)
    val simpleCols = sortExprs.map(_.toString)
      .filter(_.matches("[A-Za-z_][A-Za-z0-9_]*"))
    if (simpleCols.nonEmpty)
      ScanPruning.writeStatsManifest(spark, path, simpleCols)
  }

  /** GDPR erasure (right-to-be-forgotten) over a versioned snapshot
    * table: rewrite the LIVE snapshot and EVERY retained historical
    * version without the rows matching `predicate`, each swap atomic.
    * Deliberately NOT a new version: erasure rewrites history in
    * place, because a retained snapshot that still carries the
    * subject's rows is not erasure — the one operation where time
    * travel must lie about the past. Version numbers and markers are
    * preserved, so `readAsOf` keeps working on the purged history.
    *
    * Scale: one filtered rewrite per retained version (bounded by
    * `keepVersions`), each a scan + write with the predicate pushed
    * to the parquet reader; rows, not files, are the unit — no
    * shuffle. */
  def erase(spark: SparkSession, path: String,
            predicate: org.apache.spark.sql.Column): Unit = {
    val keep = org.apache.spark.sql.functions.not(predicate)
    def copyPreservingMtime(src: Path, dst: Path): Unit = {
      val t = Files.getLastModifiedTime(src)
      Files.copy(src, dst, StandardCopyOption.REPLACE_EXISTING)
      Files.setLastModifiedTime(dst, t)
    }
    def stage(dir: String, underSpec: Boolean, tmp: Path): Unit = {
      // the LIVE dir rewrites under the table's current spec (fragment
      // layout, bucket marker, write order all preserved — erasure
      // must not demote a storage-partitioned table to exchanges);
      // historical and branch dirs rewrite flat (their content is
      // what matters; the one op allowed to lie about the past)
      if (underSpec)
        writeUnderCurrentSpec(
          PruningBridge.scan(spark, dir).filter(keep), dir, tmp)
      else
        PruningBridge.scan(spark, dir).filter(keep)
          .write.mode(SaveMode.Overwrite).parquet(tmp.toString)
      // EVERY top-level marker file is COPIED with its mtime (the
      // commit instants TIMESTAMP AS OF travel reads) — version and
      // operation markers, streaming batch-idempotence markers
      // (createOrReplaceWithMeta payloads: dropping one would make a
      // crash replay re-apply an already-committed batch), index
      // build tokens (dropping one reads as a permanent false
      // MID-REBUILD), branch ids. `_SUCCESS` is the fresh write's
      // own; the bucket marker is regenerated by the spec-aware
      // write (copying the old one onto a flat rewrite would claim a
      // layout the files no longer have).
      locally {
        import scala.jdk.CollectionConverters._
        val ls = Files.list(Paths.get(dir))
        try ls.iterator().asScala
          .filter(p => Files.isRegularFile(p))
          .filter(_.getFileName.toString.startsWith("_"))
          .filterNot(p => Seq("_SUCCESS", BucketMarker)
            .contains(p.getFileName.toString))
          .foreach(p =>
            copyPreservingMtime(p, tmp.resolve(p.getFileName.toString)))
        finally ls.close()
      }
      // merge-on-read sidecars hold ROW CONTENT (equality-delete rows
      // and appended rows) — erasure must purge the subject there too,
      // or a deletes file would retain what the base no longer has.
      // POSITION sidecars are the inverse hazard: they hold no content,
      // but the rewrite renames files and shifts row positions, which
      // would orphan every (file, pos) pair — so they are CONVERTED to
      // equality rows first (resolved against the pre-rewrite files).
      // Semantics-preserving under the engine's contract that position
      // pairs derive from deterministic predicates (a predicate matches
      // every identical instance, exactly what equality deletes remove).
      val commits = morCommits(dir)
      lazy val rawLineage: DataFrame = {
        var base = PruningBridge.scan(spark, dir)
        // derived hidden-partitioning fields would otherwise leak into
        // the converted equality rows and break the sidecar schema
        val hidden = hiddenFieldNames(dir).filter(base.columns.contains)
        if (hidden.nonEmpty) base = base.drop(hidden: _*)
        commits.flatMap(_.appends).foldLeft(withLineageCols(base, dir)) {
          (df, a) =>
            df.unionByName(
              withLineageCols(PruningBridge.scan(spark, a), dir))
        }
      }
      commits.foreach { c =>
        val dstV = morCommitDir(tmp.toString, c.version)
        Files.createDirectories(dstV)
        val converted = c.posDeletes.map { d =>
          val pos = PruningBridge.scan(spark, d)
          rawLineage.join(pos,
            col(LineageFile) === pos("file_path") &&
              col(LineagePos) === pos("pos"), "left_semi")
            .drop(LineageFile, LineagePos).distinct()
        }
        val eq = c.deletes.map(PruningBridge.scan(spark, _))
        // an equality file projected to IDENTIFIER FIELDS has fewer
        // columns than the converted full rows — project converted
        // rows down to ITS schema (valid under the same key-identity
        // contract that produced the key-only file; one dir must hold
        // one schema), and apply the erasure predicate only where it
        // RESOLVES: a key-only file without the predicate's columns
        // keeps its key tombstones (they carry no subject attribute
        // beyond the key — erase by the key column itself to purge
        // them too)
        val combined = (eq, converted) match {
          case (Some(e), Some(c)) => Some(e.unionByName(
            c.select(e.columns.toSeq.map(col): _*).distinct()))
          case (e, c) => e.orElse(c)
        }
        combined.foreach { d =>
          val purged =
            try {
              val f = d.filter(keep)
              f.queryExecution.analyzed // resolve NOW, not at write
              f
            } catch {
              case _: org.apache.spark.sql.AnalysisException => d
            }
          purged.write.mode(SaveMode.Overwrite)
            .parquet(dstV.resolve(Deletes).toString)
        }
        c.appends.foreach(a =>
          PruningBridge.scan(spark, a).filter(keep)
            .write.mode(SaveMode.Overwrite)
            .parquet(dstV.resolve(Appends).toString))
        if (Files.exists(c.marker))
          copyPreservingMtime(c.marker, dstV.resolve(CommitMarker))
      }
    }
    // the version each rewrite reads: a commit (or a prune) landing
    // while it stages fails the check, instead of being replaced by
    // the erased OLD state
    def rewrite(dir: String, underSpec: Boolean): Unit = {
      val base = currentVersion(dir)
      FsCommit.promote(Paths.get(dir), path)(
        stage(dir, underSpec, _)) { _ =>
        if (!Files.isDirectory(Paths.get(dir)))
          throw new java.nio.file.NoSuchFileException(dir)
        checkBase(dir, base)
      }
    }
    rewrite(path, underSpec = true)
    historicalVersions(path).foreach(v =>
      rewrite(s"$path.v$v", underSpec = false))
    // staged BRANCH dirs are full snapshot copies — a WAP branch that
    // kept the subject's rows would serve them via readBranch and
    // publish them back to live on fast_forward, defeating the
    // erasure; purge them with the same predicate
    branches(path).foreach(b =>
      rewrite(branchDirPath(path, b), underSpec = false))
    bumpPurgeEpoch(path)
  }

  /** Per-path PURGE EPOCH (r19): erase and snapshot expiry change the
    * on-disk FILE LAYOUT while deliberately preserving version
    * numbers and markers — the two maintenance ops a version-keyed
    * plan-cache signature cannot see. Any cache holding analyzed
    * plans (pinned file listings) over a snapshot table must fold
    * this counter into its key, or a cached plan races the purge into
    * reading deleted/renamed files ([[graft.catalog.RollupRewrite]]'s
    * base and compensation caches do). In-JVM only, matching the
    * caches it guards — a single-driver deployment's maintenance runs
    * in the JVM whose caches need invalidating. */
  private val purgeEpochs =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]
  def purgeEpoch(path: String): Long = {
    val v = purgeEpochs.get(path)
    if (v == null) 0L else v.longValue()
  }
  private def bumpPurgeEpoch(path: String): Unit =
    purgeEpochs.merge(path, java.lang.Long.valueOf(1L),
      (a, b) => java.lang.Long.valueOf(a.longValue() + b.longValue()))

  /** CDC between snapshots — the MERGE sink's inverse: row-level diff
    * of two retained versions as (key…, op) with op ∈ insert / delete /
    * update (non-key columns compared null-safely; unchanged rows are
    * dropped). The "what changed between last night's table and
    * today's" question every lakehouse asks after time travel.
    *
    * Keys must be non-null (standard CDC contract — a null key cannot
    * be matched across versions). Scale: one full-outer equi-join on
    * the key, both sides shuffled once — the honest row-level cost;
    * the scan reads only the key and compared columns (column
    * pruning), and version dirs are plain parquet so the join inherits
    * AQE/skew handling like any other. */
  def diff(spark: SparkSession, path: String, fromVersion: Long,
           toVersion: Long, keyCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    val before = readAsOf(spark, path, fromVersion).as("b")
    val after = readAsOf(spark, path, toVersion).as("a")
    val nonKey = readAsOf(spark, path, fromVersion)
      .columns.filterNot(keyCols.contains).toSeq
    val joinCond = keyCols.map(k => col(s"b.$k") === col(s"a.$k"))
      .reduce(_ && _)
    val changed = nonKey.map(c => !(col(s"b.$c") <=> col(s"a.$c")))
      .reduceOption(_ || _).getOrElse(lit(false))
    before.join(after, joinCond, "full_outer")
      .select(
        keyCols.map(k =>
          coalesce(col(s"a.$k"), col(s"b.$k")).as(k)) :+
          when(col(s"b.${keyCols.head}").isNull, "insert")
            .when(col(s"a.${keyCols.head}").isNull, "delete")
            .when(changed, "update").as("op"): _*)
      .filter(col("op").isNotNull)
  }

  /** Classification of the commits in `(sinceVersion, live]` of a
    * table — the O(metadata) delta-discovery primitive incremental
    * consumers (persisted-index refresh, ST9 streaming maintenance)
    * use instead of re-deriving "what's new" from a full-corpus
    * anti-join. Fast-append MOR commits carry their delta as sidecar
    * files, so when every commit in the window is one, the delta IS
    * the union of those append dirs — zero base-table reads. */
  sealed trait CommitWindow
  object CommitWindow {
    /** Every commit in the window is a fast-append MOR sidecar;
      * `appendDirs` lists their parquet dirs in commit order (a
      * commit that appended nothing contributes no dir). Reading
      * them is O(appended rows). */
    final case class FastAppends(appendDirs: Seq[String])
        extends CommitWindow
    /** At least one commit in the window carries equality- or
      * position-delete sidecars — rows were REMOVED or UPDATED;
      * an append-only consumer must rebuild, not refresh. */
    final case class CarriesDeletes(versions: Seq[Long])
        extends CommitWindow
    /** A copy-on-write commit (replace/compact/overwrite) re-based
      * the table inside the window — the per-commit deltas are gone;
      * recover row-level changes via [[Snapshot.diff]] against a
      * retained version, or rebuild. */
    final case class Rebased(baseVersion: Long) extends CommitWindow
  }

  /** Classify the commits in `(sinceVersion, live]` of `path` — pure
    * filesystem metadata (the [[morCommits]] listing), no data read.
    * `sinceVersion == live` yields `FastAppends(Nil)`.
    *
    * `untilVersion` BOUNDS the window for a consumer that captured a
    * version before classifying: a concurrent commit landing between
    * the capture and this call must not leak into the window, or the
    * consumer would process rows beyond the version it stamps and
    * re-process them (duplicates) on its next refresh. Defaults to
    * the live version. */
  def commitsSince(path: String, sinceVersion: Long,
                   untilVersion: Option[Long] = None): CommitWindow =
    listWindow(path, sinceVersion, untilVersion).kind

  /** The commits of `(since, until]` of `path`, listed ONCE by
    * [[morCommits]], with the copy-on-write rebase the window may have
    * suffered — what [[commitsSince]] classifies and the window
    * pricers price, so a consumer doing both lists the window once. */
  private[graft] final case class MorWindow(path: String, since: Long,
      rebasedTo: Option[Long], commits: Seq[MorCommit]) {
    // morCommits' carries-rows rule is the one rule: a bare isDirectory
    // would classify a zero-row DELETE's empty sidecar as
    // delete-carrying while every pricer sees no deletes, needlessly
    // abandoning the O(appended rows) fast path
    def kind: CommitWindow = rebasedTo match {
      case Some(base) => CommitWindow.Rebased(base)
      case None =>
        val withDeletes = commits
          .filter(c => c.deletes.isDefined || c.posDeletes.isDefined)
        if (withDeletes.nonEmpty)
          CommitWindow.CarriesDeletes(withDeletes.map(_.version))
        else CommitWindow.FastAppends(commits.flatMap(_.appends))
    }
  }

  private def morWindow(path: String, since: Long,
                        until: Long): MorWindow =
    MorWindow(path, since, rebasedPast(path, since),
      morCommits(path, since, until))

  /** [[commitsSince]]'s window, unclassified. */
  private[graft] def listWindow(path: String, since: Long,
                                until: Option[Long]): MorWindow = {
    val live = currentVersion(path).getOrElse(
      throw new IllegalStateException(
        s"commitsSince needs a versioned snapshot at $path"))
    val end = until.getOrElse(live)
    require(since <= end,
      s"sinceVersion $since is ahead of the window end $end at $path")
    morWindow(path, since, end)
  }

  /** REBASE GUARD: the base version, when a copy-on-write commit
    * (replace/compact/overwrite) re-based `path` past `since` — the
    * window's per-commit deltas are then gone. */
  private def rebasedPast(path: String, since: Long): Option[Long] =
    Some(markerVersion(path).getOrElse(0L)).filter(_ > since)

  /** Commit-version tag the pricers put on sidecar rows. */
  private val VersionTag = "_graft_v"

  /** A [[MorWindow]] opened for pricing — the one opening step of the
    * five window pricers. The REBASE GUARD is re-checked at pricing
    * time: a copy-on-write commit landing after the caller classified
    * the window (e.g. a concurrent compaction) collapses its sidecars
    * into the base — pricing would silently return an empty delta and
    * the consumer would stamp the window applied, permanent drift;
    * raise to its rebuild fallback instead. Then ONE empty read for
    * every schema question (each read() replans the full merged
    * base-plus-sidecar tree, nontrivial on a long MOR run). */
  private final class Pricing(spark: SparkSession, w: MorWindow,
                              what: String) {
    import w.{path, since}
    val commits: Seq[MorCommit] = w.commits
    if (rebasedPast(path, since).isDefined) throw unpriceable(
      s"the table was re-based past v$since (a copy-on-write commit " +
        "landed)")
    val empty: DataFrame = read(spark, path).limit(0)
    val tableCols: Seq[String] = empty.columns.toSeq

    def unpriceable(why: String): UnpriceableWindowException =
      new UnpriceableWindowException(s"$what over $path cannot price " +
        s"the window exactly: $why — rebuild/recompute instead")

    /** `df` projected to `cols`; raises when `whose` rows lack any. */
    def project(df: DataFrame, cols: Seq[String],
                whose: String): DataFrame = {
      val missing = cols.filterNot(df.columns.contains)
      if (missing.nonEmpty) throw unpriceable(
        s"$whose: missing column(s) ${missing.mkString(", ")}")
      df.select(cols.map(col): _*)
    }

    /** Each window commit's sidecar of `kind`, read, in commit order:
      * (version, dir, rows). */
    def sidecars(kind: MorCommit => Option[String])
        : Seq[(Long, String, DataFrame)] =
      commits.flatMap(c =>
        kind(c).map(d =>
          (c.version, d, PruningBridge.scan(spark, d))))

    /** The window's position pairs, each tagged with its commit
      * ([[VersionTag]]) — every commit's pairs resolve in ONE pass
      * (a 200-micro-batch window otherwise re-scans the same hot base
      * files 200 times with a driver collect each). */
    lazy val taggedPairs: Option[DataFrame] = sidecars(_.posDeletes)
      .map { case (v, _, df) =>
        df.select(col("file_path"), col("pos"))
          .withColumn(VersionTag, lit(v))
      }.reduceOption(_ unionByName _)

    /** The window's distinct untagged position pairs — a (file, pos)
      * pair addresses one immutable row, so a re-delete in a later
      * commit must not count twice. */
    def pairs: Option[DataFrame] =
      taggedPairs.map(_.drop(VersionTag).distinct())

    /** THE position-delete resolver: `pairs` (file_path relative to
      * the live dir, pos, extra columns…) to the FULL row images they
      * address, carrying the extra columns — an inner join on the
      * distinct pairs, so a pair two commits deleted resolves once per
      * tag. Reads ONLY the referenced data files: the file list is
      * collected driver-side, bounded by the files the delete
      * predicates touched (the bound Iceberg's delete-file manifests
      * carry), never the table. */
    def resolve(pairs: DataFrame): DataFrame = {
      val dir = Paths.get(path).toAbsolutePath.normalize.toString
      val files = pairs.select("file_path").distinct()
        .collect().map(_.getString(0)).toSeq
      val extra = pairs.columns.toSeq
        .filterNot(Seq("file_path", "pos").contains)
      if (files.isEmpty) extra.foldLeft(empty)((df, c) =>
        df.withColumn(c, lit(null).cast(pairs.schema(c).dataType)))
      else {
        val rows =
          PruningBridge.scan(spark, files.map(f => s"$dir/$f"): _*)
        val pc = pairs.distinct()
        withLineageCols(rows, dir)
          .join(pc, col(LineageFile) === pc("file_path") &&
            col(LineagePos) === pc("pos"))
          .drop(LineageFile, LineagePos, "file_path", "pos")
      }
    }
  }

  /** [[diff]] with an O(window delta) fast path: when every commit in
    * `(fromVersion, toVersion]` is a MOR sidecar commit whose delete
    * files carry FULL row images (full-row equality deletes and/or
    * position deletes), the row-level diff derives from the sidecars
    * alone — delete files are read as-is, position pairs resolve
    * against only the files they reference, appends against their own
    * dirs — so NEITHER version is scanned; at 100 TB the nightly
    * "what changed" question stops reading the table. Anything the
    * sidecars cannot price exactly — a re-based window, key-scoped
    * equality deletes (no values to compare for the no-op-update
    * filter), referenced files missing columns — falls back to the
    * exact two-version [[diff]], so the result is ALWAYS
    * diff-identical. Requires `keyCols` to uniquely identify rows
    * (the identifier-columns contract the changelog CALL surface
    * already demands; Iceberg's identifier fields assert the same). */
  def diffIncremental(spark: SparkSession, path: String,
                      fromVersion: Long, toVersion: Long,
                      keyCols: Seq[String]): DataFrame =
    try windowOpDelta(spark, path, fromVersion, toVersion, keyCols)
    catch {
      case _: UnpriceableWindowException =>
        diff(spark, path, fromVersion, toVersion, keyCols)
    }

  /** The sidecar-derived diff of `(from, to]`; raises
    * [[UnpriceableWindowException]] when the window cannot be priced
    * exactly from sidecars (see [[diffIncremental]]). Per-key op
    * classification under the unique-key contract: a key's FIRST
    * in-window delete at or before its first in-window append means
    * it existed at `from` (a second live instance would violate
    * uniqueness); its LAST append surviving every later delete means
    * it is present at `to`; (existed, present) maps to delete /
    * insert / update, and an update whose old and new non-key values
    * are null-safe-equal is dropped — exactly [[diff]]'s net-state
    * semantics. */
  private def windowOpDelta(spark: SparkSession, path: String,
                            from: Long, to: Long,
                            keyCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.{max_by, min, min_by, struct,
      when}
    // a reversed range (or one past the live version) is not a window
    // this fast path can price — [[diff]] serves it, keeping the
    // ALWAYS-diff-identical contract instead of silently returning an
    // empty changelog
    if (from > to || currentVersion(path).forall(_ < to))
      throw new UnpriceableWindowException(
        s"no sidecar window ($from, $to] at $path")
    val p = new Pricing(spark, morWindow(path, from, to), "diff")
    val tableCols = p.tableCols
    val emptyOut = p.project(p.empty, keyCols, "the table")
      .withColumn("op", lit("insert"))
    // delete events must carry full row images; a pre-schema-evolution
    // append sidecar lacks later columns — both unpriceable against
    // the live schema
    def tagged(kind: MorCommit => Option[String]): Seq[DataFrame] =
      p.sidecars(kind).map { case (v, d, df) =>
        p.project(df, tableCols, s"the sidecar $d")
          .withColumn(VersionTag, lit(v))
      }
    val delFrames = tagged(_.deletes) ++ p.taggedPairs.map(pp =>
      p.project(p.resolve(pp), tableCols :+ VersionTag,
        "position-deleted rows"))
    val appFrames = tagged(_.appends)
    val nonKey = tableCols.filterNot(keyCols.contains)
    def valOf = if (nonKey.isEmpty) lit(0) else
      struct(nonKey.map(col): _*)
    val valType = p.empty.select(valOf.as("v")).schema.head.dataType
    val dAgg = delFrames.reduceOption(_ unionByName _).map(
      _.groupBy(keyCols.map(col): _*).agg(
        min(VersionTag).as("_first_del"),
        max(VersionTag).as("_last_del"),
        min_by(valOf, col(VersionTag)).as("_old_val")))
    val aAgg = appFrames.reduceOption(_ unionByName _).map(
      _.groupBy(keyCols.map(col): _*).agg(
        min(VersionTag).as("_first_app"),
        max(VersionTag).as("_last_app"),
        max_by(valOf, col(VersionTag)).as("_new_val")))
    val joined = (dAgg, aAgg) match {
      case (Some(d), Some(a)) => d.join(a, keyCols, "full_outer")
      case (Some(d), None) => d
        .withColumn("_first_app", lit(null).cast("long"))
        .withColumn("_last_app", lit(null).cast("long"))
        .withColumn("_new_val", lit(null).cast(valType))
      case (None, Some(a)) => a
        .withColumn("_first_del", lit(null).cast("long"))
        .withColumn("_last_del", lit(null).cast("long"))
        .withColumn("_old_val", lit(null).cast(valType))
      case (None, None) => return emptyOut
    }
    val existedStart = col("_first_del").isNotNull &&
      (col("_first_app").isNull ||
        col("_first_del") <= col("_first_app"))
    val presentEnd = col("_last_app").isNotNull &&
      (col("_last_del").isNull ||
        col("_last_del") <= col("_last_app"))
    val changed =
      if (nonKey.isEmpty) lit(false)
      else !(col("_old_val") <=> col("_new_val"))
    joined
      .select(keyCols.map(col) :+
        when(existedStart && !presentEnd, "delete")
          .when(!existedStart && presentEnd, "insert")
          .when(existedStart && presentEnd && changed, "update")
          .as("op"): _*)
      .filter(col("op").isNotNull)
  }

  /** EXACT value-level row delta of the MOR commits in `(since,
    * until]` of `path` — the O(window) changelog an incremental
    * aggregate maintainer consumes: `plus` rows entered the table in
    * the window and are still present at `until`; `minus` rows were
    * present at `since` and left inside the window. Multiplicity is
    * per-instance on both sides, which is why delete commits must be
    * POSITION deletes (`write.mor.deletes = position`): an
    * equality-delete commit removes ALL instances identical to a row
    * image, a count the sidecar alone cannot price — such windows
    * raise (recompute instead). Appends read from their sidecars;
    * position pairs resolve against ONLY the files they reference;
    * pairs into the window's own append sidecars cancel against
    * `plus` instead of appearing in `minus`.
    * @return (plus rows, minus rows) */
  def windowRowDelta(spark: SparkSession, path: String, since: Long,
                     until: Long, what: String)
      : (DataFrame, DataFrame) = {
    val p = new Pricing(spark, morWindow(path, since, until), what)
    val eq = p.commits.filter(_.deletes.isDefined).map(_.version)
    if (eq.nonEmpty) throw p.unpriceable(
      s"commit(s) ${eq.map(v => s"v$v").mkString(", ")} carry " +
        "EQUALITY deletes (each removes every identical row instance " +
        "— per-instance accounting needs position deletes; set " +
        "'write.mor.deletes'='position' on the source)")
    val dir = Paths.get(path).toAbsolutePath.normalize.toString
    val plusRaw = p.sidecars(_.appends)
      .map { case (_, _, df) => withLineageCols(df, dir) }
      .reduceOption(_ unionByName _)
    p.pairs.map(_.localCheckpoint()) match {
      case None =>
        (plusRaw.map(_.drop(LineageFile, LineagePos))
          .getOrElse(p.empty), p.empty)
      case Some(pc) =>
        val plus = plusRaw.map { r =>
          r.join(pc, r(LineageFile) === pc("file_path") &&
              r(LineagePos) === pc("pos"), "left_anti")
            .drop(LineageFile, LineagePos)
        }.getOrElse(p.empty)
        // pairs into the window's OWN append sidecars already
        // cancelled against plus; everything else — base files and
        // pre-window sidecars — was present at `since`
        val root = Paths.get(path)
        val inWindow = p.commits.flatMap(_.appends)
          .map(a => col("file_path")
            .startsWith(root.relativize(Paths.get(a)).toString + "/"))
          .foldLeft(lit(false))(_ || _)
        // a partitioned base stores partition columns only in its
        // directory names — explicit-leaf-file reads drop them, and a
        // silently narrower minus side breaks the EXACT-delta contract
        (plus, p.project(p.resolve(pc.filter(!inWindow)), p.tableCols,
          "position-deleted base rows (partition columns?)"))
    }
  }

  /** Row-level change set of the MOR commits in `(sinceVersion,
    * untilVersion]` of `path`, for a keyed incremental consumer
    * (persisted-index refresh): the NET appended rows (window appends
    * minus rows a LATER window delete removed again — a commit's own
    * deletes never touch its appends, matching [[applySidecars]]'s
    * flush order) and the DISTINCT keys any window commit deleted.
    * The delete-key set may include keys that were appended-then-
    * removed inside the window (their net-append rows are already
    * filtered out, so deleting the key from the derived table is a
    * no-op) and keys whose rows were REPLACED (their new rows are in
    * the net appends — delete-then-append upserts them): for a
    * consumer keyed by `keyCols`, applying (deleted keys, net
    * appends) as one delete-first commit reproduces the window
    * exactly.
    *
    * Cost: O(window sidecar rows) plus the data files position
    * deletes reference — never a base-table scan. Requires `keyCols`
    * to identify rows (the derived-table contract) and every
    * equality-delete sidecar in the window to CARRY the key columns
    * (full-row deletes always do; identifier-scoped deletes iff the
    * identifier fields cover `keyCols`) — raises otherwise.
    * @return (net appended rows, distinct deleted keys) */
  def windowChanges(spark: SparkSession, path: String,
                    sinceVersion: Long, untilVersion: Long,
                    keyCols: Seq[String], what: String)
      : (DataFrame, DataFrame) =
    windowChanges(spark, morWindow(path, sinceVersion, untilVersion),
      keyCols, what)

  /** [[windowChanges]] of an already listed window. */
  private[graft] def windowChanges(spark: SparkSession, w: MorWindow,
                                   keyCols: Seq[String], what: String)
      : (DataFrame, DataFrame) = {
    val p = new Pricing(spark, w, what)
    val delFrames = p.sidecars(_.deletes).map { case (v, _, df) =>
      p.project(df, keyCols, s"the equality-delete sidecar of commit " +
          s"v$v (identifier fields do not cover the key)")
        .withColumn(VersionTag, lit(v))
    } ++ p.taggedPairs.map(pp => p.project(p.resolve(pp),
      keyCols :+ VersionTag, "position-deleted rows (partition " +
        "columns transformed away?)"))
    val appended0 = p.sidecars(_.appends)
      .map { case (v, _, df) => df.withColumn("_graft_app_v", lit(v)) }
      .reduceOption(_ unionByName _)
    if (delFrames.isEmpty)
      return (appended0.map(_.drop("_graft_app_v")).getOrElse(p.empty),
        p.empty.select(keyCols.map(col): _*))
    val delKeys = delFrames.reduce(_ unionByName _)
    val lastDel = delKeys.groupBy(keyCols.map(col): _*)
      .agg(max(VersionTag).as("_graft_last_del_v"))
    val net = appended0 match {
      case None => p.empty
      case Some(apps) => apps
        .join(lastDel, keyCols, "left")
        .filter(col("_graft_last_del_v").isNull ||
          col("_graft_last_del_v") <= col("_graft_app_v"))
        .drop("_graft_app_v", "_graft_last_del_v")
    }
    (net, delKeys.select(keyCols.map(col): _*).distinct())
  }

  /** Does any commit in `(since, until]` carry an EQUALITY-delete
    * sidecar? The dispatch question for incremental aggregate
    * maintainers: [[windowRowDelta]] prices position-delete windows
    * per-instance, but an equality window routes to the
    * affected-group re-derive ([[windowDeleteImages]]) instead. Pure
    * metadata, no data read. */
  def windowHasEqualityDeletes(path: String, since: Long,
                               until: Long): Boolean =
    morWindow(path, since, until).commits.exists(_.deletes.isDefined)

  /** The RAW appended rows of every commit in `(since, until]` —
    * including rows a later window commit deleted again (callers
    * doing affected-GROUP discovery want the superset: a group that
    * gained-then-lost a row recomputes to the same value). O(window
    * sidecar rows), never a base read. */
  def windowAppendRows(spark: SparkSession, path: String, since: Long,
                       until: Long, what: String): DataFrame = {
    val p = new Pricing(spark, morWindow(path, since, until), what)
    p.sidecars(_.appends)
      .map { case (_, d, df) => p.project(df, p.tableCols,
        s"the append sidecar $d (schema evolved mid-window)") }
      .reduceOption(_ unionByName _).getOrElse(p.empty)
  }

  /** FULL row images of (a superset of) the rows the window's DELETE
    * commits removed — the affected-group discovery input for an
    * incremental aggregate maintainer facing EQUALITY deletes, the
    * case [[windowRowDelta]]'s per-instance accounting cannot price
    * (the engine's DEFAULT `write.mor.deletes = equality` mode):
    *
    *  - a FULL-ROW equality sidecar (no identifier fields set) IS the
    *    images — its rows carry every column, zero base reads (a
    *    sidecar row that matched nothing contributes a harmless extra
    *    group);
    *  - an IDENTIFIER-SCOPED sidecar carries only the key columns, so
    *    its matches resolve against the table AS OF the window start
    *    — null-safe on the sidecar's own columns (exactly the rows
    *    the equality delete removed), with the scan IN-pruned by the
    *    first key column's values when they fit the literal budget
    *    (row-group footer pruning on an id-clustered layout);
    *  - position pairs resolve against only the files they reference.
    *
    * Raises [[UnpriceableWindowException]] when the `since` version
    * is no longer retained or resolved rows lack table columns
    * (partition-directory-only columns) — the rebuild fallback. */
  def windowDeleteImages(spark: SparkSession, path: String,
                         since: Long, until: Long,
                         what: String): DataFrame = {
    val p = new Pricing(spark, morWindow(path, since, until), what)
    val tableCols = p.tableCols
    val parts = Seq.newBuilder[DataFrame]
    // id-scoped sidecars resolve against ONE as-of read per distinct
    // column set (in practice one — the table's identifier fields)
    val scoped = scala.collection.mutable.Map
      .empty[Seq[String], List[DataFrame]]
    p.sidecars(_.deletes).foreach { case (_, _, df) =>
      if (tableCols.forall(df.columns.contains))
        parts += df.select(tableCols.map(col): _*)
      else {
        val cols = df.columns.toSeq.sorted
        scoped(cols) = df :: scoped.getOrElse(cols, Nil)
      }
    }
    if (scoped.nonEmpty) {
      val asOfSince =
        try readAsOf(spark, path, since)
        catch {
          case e: NoSuchElementException => throw p.unpriceable(
            s"identifier-scoped equality deletes need version $since, " +
              s"no longer retained (${e.getMessage})")
        }
      scoped.foreach { case (cols, dfs) =>
        // schema drift across the window (identifier column added
        // after `since`, or a current column the as-of read lacks)
        // must take the caller's recompute fallback, not explode as
        // an AnalysisException out of the condition/select below
        val atSince = p.project(asOfSince, (cols ++ tableCols).distinct,
          s"the v$since rows (columns changed mid-window)")
        val keys = dfs.reduce(_ unionByName _)
          .select(cols.map(col): _*).distinct().localCheckpoint()
        val first = cols.head
        val vals = keys.select(col(first)).distinct()
          .limit(MaxInPruneKeys + 1).collect().map(_.get(0))
        val pruned =
          if (vals.length <= MaxInPruneKeys && !vals.contains(null))
            atSince.filter(col(first).isin(vals.toIndexedSeq: _*))
          else atSince
        // null-safe per-column match: exactly applySidecars'
        // every-identical-instance semantics
        val cond = cols.map(c =>
          pruned(c) <=> keys(c)).reduce(_ && _)
        parts += pruned.join(broadcast(keys), cond, "left_semi")
          .select(tableCols.map(col): _*)
      }
    }
    p.pairs.foreach(pp => parts += p.project(p.resolve(pp), tableCols,
      "position-deleted base rows (partition columns?)"))
    parts.result().reduceOption(_ unionByName _).getOrElse(p.empty)
  }

  /** Literal budget for pushed IN filters on resolution scans —
    * above this the plan bloats past codegen comfort and the plain
    * scan takes over (same budget class as Rollup's dim-delta
    * pruning). */
  private val MaxInPruneKeys = 4096

  /** Table maintenance — Iceberg's `expire_snapshots` over the
    * versioned-dir history: delete the OLDEST historical versions
    * beyond `retainLast` (the live snapshot is never expired).
    * @return the expired version numbers (ascending) */
  def expireSnapshots(path: String, retainLast: Int): Seq[Long] = {
    require(retainLast >= 0, s"retainLast must be >= 0: $retainLast")
    val victims = historicalVersions(path).dropRight(retainLast)
      .filterNot(dirProtected(path)) // refs keep versions reachable
    victims.foreach(v => deleteRecursively(Paths.get(s"$path.v$v")))
    if (victims.nonEmpty) bumpPurgeEpoch(path)
    victims
  }

  /** Iceberg's primary expire form: drop historical versions whose
    * commit instant is strictly before `olderThanMicros` (the live
    * version is never a victim; tagged versions stay reachable).
    * `retainLastFloor` is Iceberg's combined-form semantics: even
    * past the cutoff, the newest `retainLastFloor` snapshots (live +
    * newest historical) survive — `retain_last` is a FLOOR limiting
    * `older_than` expiry, never widened by it. */
  def expireSnapshotsOlderThan(path: String, olderThanMicros: Long,
                               retainLastFloor: Int = 1): Seq[Long] = {
    // the live version always counts toward the floor (Iceberg keeps
    // current + retain_last-1 ancestors at minimum)
    val protectedNewest = historicalVersions(path)
      .sorted.takeRight(math.max(retainLastFloor - 1, 0)).toSet
    val victims = historicalVersions(path)
      .filter(v => committedAt(path, v).exists(_ < olderThanMicros))
      .filterNot(protectedNewest)
      .filterNot(dirProtected(path))
    victims.foreach(v => deleteRecursively(Paths.get(s"$path.v$v")))
    if (victims.nonEmpty) bumpPurgeEpoch(path)
    victims
  }

  /** Table maintenance — Iceberg's `rollback_to_snapshot`: make a
    * retained historical version the LIVE state again. Like Iceberg,
    * rollback is itself a new commit (history is preserved, the
    * rolled-back-over state stays time-travelable); unlike [[erase]],
    * nothing is rewritten in place.
    * @return the new live version number */
  def rollbackTo(spark: SparkSession, path: String, version: Long): Long = {
    // materialize BEFORE the swap: the source dir may be the one the
    // swap is about to roll into history
    val base = currentVersion(path)
    val restored = readAsOf(spark, path, version).localCheckpoint()
    swapIn(path, historicalVersions(path).size + 1, Some(base)) { tmp =>
      // spec-aware: a partitioned/bucketed/write-ordered table's
      // rollback is a commit like any other — writing it flat would
      // silently drop fragment pruning and the storage-partitioned
      // join layout
      writeUnderCurrentSpec(restored, path, tmp)
    }
    publishOrderManifest(spark, path)
    currentVersion(path).get
  }

  /** Table maintenance — `remove_orphan_files`: delete the staging
    * and displaced dirs ([[FsCommit.promote]]'s `.tmp-swap-<token>` /
    * `.old-swap-<token>`, and the untokenized and `-erase` names older
    * writers used) that a crashed commit could strand beside the live
    * table, a historical `.v<N>` version or a `.branch-<b>` branch.
    * @return the number of orphan dirs removed */
  def removeOrphans(path: String): Int = {
    val live = Paths.get(path)
    val parent = live.getParent
    val staged =
      if (parent == null || !Files.exists(parent)) Seq.empty[Path]
      else {
        import scala.jdk.CollectionConverters._
        val name = (java.util.regex.Pattern.quote(
          live.getFileName.toString) + """(\.v\d+|\.branch-.+)?""" +
          FsCommit.StagingSuffix).r
        val s = Files.list(parent)
        try s.iterator().asScala
          .filter(p => name.matches(p.getFileName.toString)).toSeq
        finally s.close()
      }
    // merge-on-read stagings stranded inside _mor (dot-prefixed)
    val morTmp = {
      val root = morRoot(path)
      if (!Files.isDirectory(root)) Seq.empty[Path]
      else {
        import scala.jdk.CollectionConverters._
        val s = Files.list(root)
        try s.iterator().asScala
          .filter(_.getFileName.toString.startsWith(".tmp-")).toSeq
        finally s.close()
      }
    }
    val orphans = staged ++ morTmp
    orphans.foreach(deleteRecursively)
    orphans.size
  }

  /** Snapshot refs — Iceberg's TAGS over the versioned-dir history: a
    * named, immutable pointer to a retained version, stored in the
    * sibling `<path>.tags` file (one `name=version` line each, written
    * via [[FsCommit.replace]] like every other sidecar here). Tags
    * survive [[createOrReplace]] swaps because they live BESIDE the
    * table, not inside a version dir; [[expireSnapshots]] and pruning
    * refuse to drop a tagged version (a ref makes it reachable —
    * Iceberg's retention contract), so `VERSION AS OF '<tag>'` (the
    * string arm of the time-travel hook) stays readable. This is the
    * audit/WAP story: tag the validated snapshot, point jobs at the
    * tag. */
  private def tagsFile(path: String) = Paths.get(path + ".tags")

  /** All tags of `path` (empty if none). */
  def tags(path: String): Map[String, Long] =
    FsCommit.read(tagsFile(path)).toSeq
      .flatMap(_.linesIterator.filter(_.nonEmpty)).map { line =>
        val i = line.lastIndexOf('=')
        line.substring(0, i) -> line.substring(i + 1).toLong
      }.toMap

  private def writeTags(path: String, t: Map[String, Long]): Unit =
    FsCommit.replace(tagsFile(path), t.toSeq.sortBy(_._1)
      .map { case (n, v) => s"$n=$v" }.mkString("", "\n", "\n"))

  /** Create (or with `replace` re-point) a tag at a RETAINED version. */
  def createTag(path: String, name: String, version: Long,
                replace: Boolean = false): Unit = {
    require(name.nonEmpty && !name.contains('=') && !name.contains('\n'),
      s"invalid tag name: '$name'")
    // MOR commits are taggable too; markerless pre-versioning dirs
    // keep their dir-name handle
    val retained =
      (retainedVersions(path) ++ historicalVersions(path)).distinct
    if (!retained.contains(version))
      throw new java.util.NoSuchElementException(
        s"cannot tag unretained version $version at $path " +
          s"(retained=${retained.sorted.mkString(",")})")
    val cur = tags(path)
    if (!replace && cur.contains(name))
      throw new IllegalArgumentException(
        s"tag already exists: '$name' -> ${cur(name)} at $path")
    writeTags(path, cur + (name -> version))
  }

  def dropTag(path: String, name: String): Unit = {
    val cur = tags(path)
    if (!cur.contains(name))
      throw new java.util.NoSuchElementException(
        s"no such tag: '$name' at $path")
    writeTags(path, cur - name)
  }

  /** Time travel by ref: read the version a tag points at. */
  def readAsOfTag(spark: SparkSession, path: String,
                  name: String): DataFrame =
    readAsOf(spark, path, tags(path).getOrElse(name,
      throw new java.util.NoSuchElementException(
        s"no such tag: '$name' at $path " +
          s"(tags=${tags(path).keys.toSeq.sorted.mkString(",")})")))

  /** Versions a ref makes reachable — protected from expiry. BOTH ref
    * kinds protect (Iceberg's refs-keep-snapshots-reachable): a TAG's
    * target stays readable via `VERSION AS OF`, and a staged BRANCH's
    * FORK version stays retained so [[cherrypickBranch]] can still
    * compute its delta when the branch finally publishes. */
  private def taggedVersions(path: String): Set[Long] =
    tags(path).values.toSet ++
      branches(path).flatMap(branchForkVersion(path, _))

  /** Is the historical dir `<path>.v<dirVersion>` protected from
    * expiry? Protected when ANY version it covers is ref-reachable — a
    * MOR-laden dir serves its base and every stacked commit, so a tag
    * on an intermediate version must keep the whole dir. Markerless
    * pre-versioning dirs fall back to the dir-name version. */
  private def dirProtected(path: String)(dirVersion: Long): Boolean = {
    val covered = coveredVersions(s"$path.v$dirVersion")
    val tagged = taggedVersions(path)
    if (covered.isEmpty) tagged(dirVersion)
    else covered.exists(tagged)
  }

  // -------------------------------------------------------------------
  // Branches — the WRITE-AUDIT-PUBLISH story over the same layout. A
  // branch is a fully-written staging snapshot in the sibling dir
  // `<path>.branch-<name>`: jobs write it in isolation (the live table
  // never sees a half-built state), auditors read it by name (API or
  // `VERSION AS OF '<branch>'`), and publishing promotes it to live
  // through the SAME atomic swap as every other commit — Iceberg's
  // fast_forward, after which the branch is consumed. The branch dir
  // carries its fork version (the live version when it was written)
  // until publish stamps the real next version.
  // -------------------------------------------------------------------

  private def branchDir(path: String, name: String): Path = {
    require(name.nonEmpty && !name.contains('/') && !name.contains('='),
      s"invalid branch name: '$name'")
    Paths.get(s"$path.branch-$name")
  }

  /** Marker carrying a staged branch's SNAPSHOT ID — the numeric
    * handle `cherrypick_snapshot` takes (Iceberg identifies staged WAP
    * snapshots by id; this layout's branches are named, so each gets a
    * per-table id stamped at staging time). Ids start above 1000 so
    * they never read like the small monotone version numbers. */
  private val BranchIdFile = "_graft_branch_id"

  /** Per-staging nonce — the collision-free token branch-scoped stats
    * gate on (an mtime would alias two stagings within one clock tick
    * on coarse-granularity filesystems). */
  private val BranchStagingFile = "_graft_branch_staging"

  /** Write (or rewrite) branch `name` as a complete staged snapshot —
    * atomic against concurrent branch readers via [[FsCommit.promote]]. */
  def writeBranch(df: DataFrame, path: String, name: String): Unit =
    FsCommit.promote(branchDir(path, name), path) { tmp =>
      df.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
      currentVersion(path).foreach(v =>
        Files.write(tmp.resolve(VersionFile),
          v.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
      Files.write(tmp.resolve(BranchStagingFile),
        java.util.UUID.randomUUID().toString
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } { tmp =>
      // a restaged branch keeps its id; a new one gets the next id from
      // the per-table high-water-mark sidecar (serialized with commits
      // on this path so two stagings never share an id). The HWM — not
      // max(live branches)+1 — means a dropped branch's id is NEVER
      // reissued to a later staging (Iceberg snapshot ids are never
      // reused): a caller holding a stale id gets "no staged snapshot",
      // not another branch's content.
      val id = branchSnapshotId(path, name).getOrElse {
        val next = math.max(branchIdHighWaterMark(path),
          (branches(path).flatMap(branchSnapshotId(path, _)) :+ 1000L).max) + 1
        FsCommit.replace(branchIdFile(path), next.toString)
        next
      }
      Files.write(tmp.resolve(BranchIdFile),
        id.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }

  private def branchIdFile(path: String) = Paths.get(path + ".branchid")

  /** Highest branch snapshot id ever issued for `path` — persisted in
    * the sidecar `<path>.branchid` so ids survive branch drops and are
    * never reissued (bumped only under the per-path commit lock). */
  private def branchIdHighWaterMark(path: String): Long =
    FsCommit.read(branchIdFile(path)).map(_.trim.toLong).getOrElse(1000L)

  /** Snapshot id stamped on a staged branch (None for a branch staged
    * by a pre-id writer). */
  def branchSnapshotId(path: String, name: String): Option[Long] =
    FsCommit.read(branchDir(path, name).resolve(BranchIdFile))
      .map(_.trim.toLong)

  /** The staged branch carrying snapshot id `id`, if any. */
  def branchBySnapshotId(path: String, id: Long): Option[String] =
    branches(path).find(b => branchSnapshotId(path, b).contains(id))

  /** Branch names staged beside `path` (sorted). */
  def branches(path: String): Seq[String] = {
    val live = Paths.get(path)
    val parent = live.getParent
    val prefix = live.getFileName.toString + ".branch-"
    if (parent == null || !Files.exists(parent)) Seq.empty
    else {
      import scala.jdk.CollectionConverters._
      val s = Files.list(parent)
      try s.iterator().asScala
        .map(_.getFileName.toString)
        .filter(n => n.startsWith(prefix) && !FsCommit.isStaging(n))
        .map(_.stripPrefix(prefix)).toSeq.sorted
      finally s.close()
    }
  }

  /** The audit read: branch content by name. */
  def readBranch(spark: SparkSession, path: String,
                 name: String): DataFrame = {
    val dir = branchDir(path, name)
    if (!Files.exists(dir))
      throw new java.util.NoSuchElementException(
        s"no such branch: '$name' at $path " +
          s"(branches=${branches(path).mkString(",")})")
    PruningBridge.scan(spark, dir.toString)
  }

  /** The staged branch's directory (for plan matching — e.g.
    * attaching branch-scoped ANALYZE stats to the branch scan). */
  def branchDirPath(path: String, name: String): String =
    branchDir(path, name).toString

  /** Staleness token for BRANCH-scoped stats: the per-staging NONCE
    * [[writeBranch]] writes into the staged dir (collision-free —
    * two stagings in the same clock tick on a coarse-timestamp
    * filesystem still get distinct tokens). Pre-nonce stagings fall
    * back to the id marker's commit instant in micros. Stats
    * recorded against an older staging stop serving, the same
    * no-stale-stats discipline as the live version gate. */
  def branchStatsToken(path: String, name: String): Option[String] = {
    val nonce =
      FsCommit.read(branchDir(path, name).resolve(BranchStagingFile))
    if (nonce.isDefined) return nonce.map(_.trim)
    val m = Seq(branchDir(path, name).resolve(BranchIdFile),
      branchDir(path, name).resolve(VersionFile))
      .find(Files.exists(_))
    m.map { f =>
      val i = Files.getLastModifiedTime(f).toInstant
      (i.getEpochSecond * 1000000L + i.getNano / 1000L).toString
    }
  }

  /** (bytes, footer rows) of a staged branch's data files — the
    * branch twin of [[dataFileStats]]. */
  def branchDataFileStats(path: String, name: String): (Long, Long) = {
    val root = branchDir(path, name)
    if (!Files.isDirectory(root)) return (0L, 0L)
    dirFileStats(root)
  }

  /** Fork version recorded at [[writeBranch]] time (None if the table
    * had no live version then). */
  def branchForkVersion(path: String, name: String): Option[Long] =
    markerVersion(branchDir(path, name).toString)

  /** PUBLISH: promote the audited branch to live — one atomic swap
    * (the previous live rolls into history under `keepVersions` like
    * any commit), consuming the branch. Iceberg's `fast_forward`.
    * @return the new live version */
  def publishBranch(spark: SparkSession, path: String, name: String,
                    keepVersions: Int = 0): Long = {
    val dir = branchDir(path, name)
    if (!Files.exists(dir))
      throw new java.util.NoSuchElementException(
        s"no such branch: '$name' at $path")
    swapIn(path, keepVersions)(FsCommit.rename(dir, _))
    currentVersion(path).get
  }

  def dropBranch(path: String, name: String): Unit = {
    val dir = branchDir(path, name)
    if (!Files.exists(dir))
      throw new java.util.NoSuchElementException(
        s"no such branch: '$name' at $path")
    deleteRecursively(dir)
  }

  /** Iceberg's `CREATE BRANCH`: stage a branch at the CURRENT live
    * state — the fork a WAP session then writes onto. (In Iceberg a
    * branch is a metadata pointer; this layout's branch is a staged
    * dir, so creation copies the live snapshot into it.) */
  def createBranch(spark: SparkSession, path: String,
                   name: String): Unit = {
    if (branches(path).contains(name))
      throw new IllegalArgumentException(
        s"branch already exists: '$name' at $path")
    writeBranch(read(spark, path), path, name)
  }

  /** CHERRY-PICK: apply the CHANGES a staged branch introduced —
    * relative to the version it forked from — onto the CURRENT live
    * state, as one new commit, consuming the branch. This is Iceberg's
    * `cherrypick_snapshot`/`publish_changes` semantics, distinct from
    * [[publishBranch]] (fast_forward REPLACES live with the branch
    * content; cherry-pick re-applies the branch's delta onto a live
    * that may have moved since the fork). Like Iceberg, only
    * APPEND-shaped changes can be cherry-picked: a branch that removed
    * or rewrote fork rows raises rather than guessing a merge.
    *
    * Conflict surface (all raise, nothing half-commits):
    *  - fork version no longer retained → the delta is uncomputable
    *  - branch removed/changed fork rows → not append-shaped
    *  - live moved between the delta read and the swap → the
    *    optimistic-commit conflict from [[swapIn]]
    *
    * Scale: the delta is `exceptAll` on the branch vs fork frames —
    * one hash-partitioned anti-semantics pass each way, the honest
    * row-level cost of validating append shape without file-level
    * lineage metadata.
    * @return the new live version */
  def cherrypickBranch(spark: SparkSession, path: String, name: String,
                       keepVersions: Int = 0): Long = {
    val dir = branchDir(path, name)
    if (!Files.exists(dir))
      throw new java.util.NoSuchElementException(
        s"no such branch: '$name' at $path " +
          s"(branches=${branches(path).mkString(",")})")
    val fork = branchForkVersion(path, name).getOrElse(0L)
    val retained = currentVersion(path).toSeq ++ historicalVersions(path)
    if (fork > 0 && !retained.contains(fork))
      throw new IllegalStateException(
        s"cannot cherry-pick '$name': its fork version $fork is no " +
          s"longer retained at $path (retained=" +
          s"${retained.sorted.mkString(",")})")
    val branchDf = readBranch(spark, path, name)
    val forkDf =
      if (fork == 0) spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        branchDf.schema)
      else readAsOf(spark, path, fork)
    if (forkDf.exceptAll(branchDf).limit(1).count() > 0)
      throw new IllegalStateException(
        s"cannot cherry-pick '$name': the branch removed or rewrote " +
          "rows of its fork version — only append-shaped changes " +
          "cherry-pick (Iceberg's same constraint); use fast_forward " +
          "to replace live wholesale")
    // materialize the applied state BEFORE the swap (it reads the live
    // dir the swap replaces), pinning the live version it read as the
    // commit's expected base — a concurrent commit landing between the
    // delta read and the swap raises the optimistic conflict rather
    // than having its rows silently dropped by the stale applied frame
    val base = currentVersion(path)
    val applied = read(spark, path)
      .unionByName(branchDf.exceptAll(forkDf)).localCheckpoint()
    swapIn(path, keepVersions, Some(base), operation = "append") { tmp =>
      applied.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    }
    deleteRecursively(dir)
    currentVersion(path).get
  }

  /** Live-snapshot parquet file count (maintenance signal: schedule
    * [[compact]] when it exceeds the table's file-size budget). Data
    * files of the serving dir, RECURSIVE — a partitioned table's
    * parquet files live inside `k=v` fragment dirs, so a top-level
    * listing would report 0 for every partitioned table (the
    * rewrite_data_files before/after counts read this). MOR sidecar
    * files under `_mor` are bookkeeping, not base data — excluded. */
  def fileCount(path: String): Int = {
    val dir = Paths.get(path)
    if (!Files.exists(dir)) 0
    else {
      val s = Files.walk(dir)
      try s.filter(p => p.getFileName.toString.endsWith(".parquet"))
        .filter(p => !dir.relativize(p).toString.startsWith("_mor"))
        .count().toInt
      finally s.close()
    }
  }
}
