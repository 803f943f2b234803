package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, SubqueryAlias}

/** Iceberg-style METADATA TABLES over a snapshot-backed registration —
  * the read half of the maintenance surface ([[GraftCallCommand]] is
  * the write half). Iceberg spells these exactly this way
  * (`SELECT * FROM db.t.history`):
  *
  *  - `ns.t.history` — one row per retained version:
  *    (version, is_current, made_current_at) — the commit instant is
  *    [[graft.pipeline.Snapshot.committedAt]] (Iceberg's
  *    made_current_at)
  *  - `ns.t.snapshots` — adds record_count, as a LAZY per-version
  *    count plan unioned over the retained versions (bounded by the
  *    retention limit), not a driver-side action
  *  - `ns.t.files` — one row per data file of the CURRENT snapshot
  *    (Iceberg's files-table scope): (file_path, file_format,
  *    partition, record_count, file_size_in_bytes). `partition` is the
  *    Hive-style `k=v[/k=v…]` path fragment ('' for unpartitioned
  *    layouts) — a string where Iceberg has a struct, since the
  *    partition spec here IS the directory layout. file_path and
  *    file_size come from the scan's `_metadata` hidden column;
  *    record_count groups the same scan by file, reading zero data
  *    columns.
  *  - `ns.t.partitions` — `files` rolled up one level: (partition,
  *    record_count, file_count) for the current snapshot.
  *  - `ns.t.all_files` — `files` across EVERY retained version, with a
  *    leading `version` column (Iceberg's all_files), bounded by the
  *    retention limit like `snapshots`.
  *  - `ns.t.manifests` — one row per partition directory of the
  *    current snapshot (this layout's manifest unit, where Iceberg's
  *    is an avro manifest file): (path, length,
  *    added_data_files_count, added_rows_count).
  *  - `ns.t.all_manifests` — `manifests` across every retained
  *    version with a leading `version` column, like `all_files`.
  *  - `ns.t.metadata_log_entries` — one row per retained commit:
  *    (timestamp, file, latest_snapshot_id) — the "metadata file" of
  *    this layout is the version marker, its mtime the commit instant.
  *  - `ns.t.refs` — named refs (Iceberg's refs table): the implicit
  *    `main` BRANCH at the live version, one BRANCH row per staged
  *    [[graft.pipeline.Snapshot.writeBranch]] branch (at its fork
  *    version), and one TAG row per
  *    [[graft.pipeline.Snapshot.createTag]] ref — (name, type,
  *    version).
  *
  * The `iceberg.`/`demo.` prefix works too (4-part). Resolution happens
  * at PARSE time ([[GraftSqlParser]]) for the same reason the catalog
  * prefix is stripped there: Spark's built-in relation resolver throws
  * `REQUIRES_SINGLE_PART_NAMESPACE` on an unknown 3-part name before
  * any analyzer extension could claim it. A `spark.sql` statement is
  * parsed immediately before it runs, so the snapshot state read here
  * is current (same currency argument as bare-name SHOW TABLES). */
object GraftMetaTables {

  private val MetaNames =
    Set("history", "snapshots", "files", "partitions", "all_files",
      "refs", "manifests", "all_manifests", "metadata_log_entries",
      "delete_files", "entries", "position_deletes")

  def lookup(session: SparkSession,
             parts: Seq[String]): Option[LogicalPlan] = {
    import org.apache.spark.sql.functions._
    val norm = parts.map(_.toLowerCase(java.util.Locale.ROOT))
    val target = norm match {
      case Seq(cat, ns, t, m) if GraftCatalogs.isGraft(cat) =>
        Some((Seq(ns, t), m))
      case Seq(ns, t, m) => Some((Seq(ns, t), m))
      case _ => None
    }
    target.filter(t => MetaNames.contains(t._2))
      .flatMap { case (key, meta) =>
        TableStore.state(session).snapshotPaths.get(key).map { path =>
          val live = graft.pipeline.Snapshot.currentVersion(path)
          // merge-on-read commits included: a dir serves every version
          // stacked on its base, and each is a real commit row. The
          // version→dir map is resolved ONCE; the per-version reads
          // below use the `…In` variants so a V-version listing does
          // O(V) filesystem work, not O(V²) re-resolution.
          val verDirs =
            graft.pipeline.Snapshot.retainedVersionDirs(path)
          val versions = verDirs.map(_._1)
          val plan: DataFrame = meta match {
            case "history" =>
              // every column is driver-known (version, currency, the
              // marker mtime), so build LOCAL rows — a per-version
              // unionAll of 1-row plans reads the same but its Catalyst
              // analysis cost is super-linear in the version count
              // (measured: 87 s at 1,000 retained versions vs 0.1 s
              // for this shape — the SoakVersions finding)
              val rows = verDirs.map { case (v, d) =>
                // Iceberg's made_current_at: the commit instant from
                // the version marker (null for a pre-versioning dir)
                val at = graft.pipeline.Snapshot.committedAtIn(d, v)
                  .map(us => java.sql.Timestamp.from(
                    java.time.Instant.ofEpochSecond(us / 1000000L,
                      (us % 1000000L) * 1000L))).orNull
                (v, live.contains(v), at)
              }
              import session.implicits._
              rows.toDF("version", "is_current", "made_current_at")
            case "snapshots" =>
              // record_count comes from the parquet FOOTERS (row-group
              // metadata, no data pages) — the exact analog of Iceberg
              // reading record counts from manifests. Driver-side like
              // the rest of this table: linear in file count, no
              // Catalyst plan growing with the retention limit (the
              // previous per-version count-plan union hit the same
              // super-linear analysis cost the SoakVersions run caught
              // on history)
              val rows = verDirs.map { case (v, d) =>
                val at = graft.pipeline.Snapshot.committedAtIn(d, v)
                  .map(us => java.sql.Timestamp.from(
                    java.time.Instant.ofEpochSecond(us / 1000000L,
                      (us % 1000000L) * 1000L))).orNull
                // DATA-file records as of v (base + appends sidecars;
                // equality deletes tracked as files, not subtracted —
                // Iceberg's total-records reads the same way from
                // manifests). One walk per component dir yields file
                // count AND footer records together.
                val stats = graft.pipeline.Snapshot.dataDirsIn(d, v)
                  .map(footerStats(session, _))
                val cnt = stats.map(_._1).sum
                val files = stats.map(_._2).sum
                // Iceberg's snapshot operation + summary map
                // (operation / total-records / total-data-files —
                // driver-known, no data read beyond the footers above)
                val op = graft.pipeline.Snapshot.operationOfIn(d, v)
                  .getOrElse("overwrite")
                (v, live.contains(v), at, cnt, op,
                  s"total-records=$cnt,total-data-files=$files")
              }
              import session.implicits._
              rows.toDF("version", "is_current", "made_current_at",
                "record_count", "operation", "summary")
            case "files" =>
              filesOf(session, path, live.getOrElse(
                throw new java.util.NoSuchElementException(
                  s"${key.mkString(".")} has no live snapshot version")))
            case "partitions" =>
              filesOf(session, path, live.getOrElse(
                throw new java.util.NoSuchElementException(
                  s"${key.mkString(".")} has no live snapshot version")))
                .groupBy("partition")
                .agg(sum("record_count").as("record_count"),
                  count(lit(1)).as("file_count"))
            case "all_files" =>
              verDirs.map { case (v, d) =>
                filesOfDirs(session,
                  graft.pipeline.Snapshot.dataDirsIn(d, v))
                  .select(lit(v).as("version") +: Seq("file_path",
                    "file_format", "partition", "record_count",
                    "file_size_in_bytes").map(col): _*)
              }.reduce(_ unionAll _)
            case "manifests" =>
              // This layout's manifest unit is the partition DIRECTORY
              // (Iceberg's is an avro manifest file): one row per
              // partition dir of the current snapshot with the
              // file/row/byte totals a manifest header carries.
              filesOf(session, path, live.getOrElse(
                throw new java.util.NoSuchElementException(
                  s"${key.mkString(".")} has no live snapshot version")))
                .groupBy(col("partition").as("path"))
                .agg(sum("file_size_in_bytes").as("length"),
                  count(lit(1)).as("added_data_files_count"),
                  sum("record_count").as("added_rows_count"))
            case "all_manifests" =>
              // manifests across EVERY retained version (Iceberg's
              // all_manifests), leading version column like all_files
              verDirs.map { case (v, d) =>
                filesOfDirs(session,
                  graft.pipeline.Snapshot.dataDirsIn(d, v))
                  .groupBy(lit(v).as("version"),
                    col("partition").as("path"))
                  .agg(sum("file_size_in_bytes").as("length"),
                    count(lit(1)).as("added_data_files_count"),
                    sum("record_count").as("added_rows_count"))
              }.reduce(_ unionAll _)
            case "metadata_log_entries" =>
              // Iceberg's metadata-log: one row per retained commit —
              // (timestamp, file, latest_snapshot_id). The "metadata
              // file" of this layout is the version marker inside each
              // snapshot dir (a MOR commit's is its sidecar marker);
              // the commit instant is its mtime.
              val markers = verDirs.map(_._2).distinct.flatMap(d =>
                graft.pipeline.Snapshot.morCommits(d)
                  .map(c => (d, c.version) -> c.marker.toString)).toMap
              val rows = verDirs.map { case (v, d) =>
                val at = graft.pipeline.Snapshot.committedAtIn(d, v)
                  .map(us => java.sql.Timestamp.from(
                    java.time.Instant.ofEpochSecond(us / 1000000L,
                      (us % 1000000L) * 1000L))).orNull
                (at, markers.getOrElse((d, v), s"$d/_graft_version"), v)
              }
              import session.implicits._
              rows.toDF("timestamp", "file", "latest_snapshot_id")
            case "delete_files" =>
              // Iceberg's delete_files table: one row per DELETE file
              // of the current snapshot — content 2 = equality deletes
              // (this layout's only delete-file kind; positions are
              // the rows themselves). Same per-component `_metadata`
              // stats shape as `files`.
              val v = live.getOrElse(
                throw new java.util.NoSuchElementException(
                  s"${key.mkString(".")} has no live snapshot version"))
              // content 1 = position deletes, 2 = equality deletes —
              // Iceberg's v2 delete-file kinds, both sidecar arms here
              val dirs =
                graft.pipeline.Snapshot.posDeleteDirsAsOf(path, v)
                  .map(_ -> 1) ++
                graft.pipeline.Snapshot.deleteDirsAsOf(path, v)
                  .map(_ -> 2)
              if (dirs.isEmpty) {
                import session.implicits._
                Seq.empty[(Int, String, String, Long, Long)]
                  .toDF("content", "file_path", "file_format",
                    "record_count", "file_size_in_bytes")
              } else dirs.map { case (dir, content) =>
                session.read.parquet(dir)
                  .select(col("_metadata.file_path").as("file_path"),
                    col("_metadata.file_size")
                      .as("file_size_in_bytes"))
                  .groupBy("file_path", "file_size_in_bytes")
                  .agg(count(lit(1)).as("record_count"))
                  .select(lit(content).as("content"), col("file_path"),
                    lit("parquet").as("file_format"),
                    col("record_count"), col("file_size_in_bytes"))
              }.reduce(_ unionAll _)
            case "position_deletes" =>
              // Iceberg's position_deletes metadata table: one row per
              // live (file, pos) delete pair with the delete file that
              // carries it — the introspection surface for the
              // content-1 sidecars
              val v = live.getOrElse(
                throw new java.util.NoSuchElementException(
                  s"${key.mkString(".")} has no live snapshot version"))
              val dirs =
                graft.pipeline.Snapshot.posDeleteDirsAsOf(path, v)
              if (dirs.isEmpty) {
                import session.implicits._
                Seq.empty[(String, Long, String)]
                  .toDF("file_path", "pos", "delete_file_path")
              } else dirs.map { dir =>
                session.read.parquet(dir)
                  .select(col("file_path"), col("pos"),
                    col("_metadata.file_path").as("delete_file_path"))
              }.reduce(_ unionAll _)
            case "entries" =>
              // Iceberg's entries table (flattened data_file struct):
              // one row per data file of the CURRENT snapshot with the
              // manifest-entry status — 1 = added by the live commit,
              // 0 = existing from an earlier one — and snapshot_id =
              // the commit that added the file (the dir's base marker
              // for base files, the sidecar's own version for MOR
              // fast-appends). Deleted entries (status 2) don't occur:
              // this layout drops a file only when its whole version
              // expires.
              val v = live.getOrElse(
                throw new java.util.NoSuchElementException(
                  s"${key.mkString(".")} has no live snapshot version"))
              graft.pipeline.Snapshot.dataDirVersionsAsOf(path, v)
                .map { case (dataDir, addedAt) =>
                  filesOfDirs(session, Seq(dataDir))
                    .select(
                      lit(if (addedAt == v) 1 else 0).as("status"),
                      lit(addedAt).as("snapshot_id"),
                      col("file_path"), col("file_format"),
                      col("partition"), col("record_count"),
                      col("file_size_in_bytes"))
                }.reduce(_ unionAll _)
            case "refs" =>
              // staged branches report their FORK version (the live
              // version they were written against) until publish
              val rows =
                live.map(v => ("main", "BRANCH", v)).toSeq ++
                  graft.pipeline.Snapshot.branches(path).map(b =>
                    (b, "BRANCH", graft.pipeline.Snapshot
                      .branchForkVersion(path, b).getOrElse(0L))) ++
                  graft.pipeline.Snapshot.tags(path).toSeq.sortBy(_._1)
                    .map { case (n, v) => (n, "TAG", v) }
              import session.implicits._
              rows.toDF("name", "type", "version")
          }
          SubqueryAlias(parts.last, plan.queryExecution.analyzed)
        }
      }
  }

  /** (footer record total, data-file count) of ONE component dir in a
    * SINGLE recursive walk — parquet FOOTER metadata only (row-group
    * headers; data pages never read), the driver-side twin of
    * Iceberg's manifest record counts. */
  private def footerStats(session: SparkSession,
                          dir: String): (Long, Long) = {
    // list through the Hadoop FileSystem API with the SAME conf the
    // footers are opened with (java.nio walking only resolves local
    // paths — the two schemes disagree for any non-local filesystem),
    // and tolerate a version dir expired concurrently (count 0; the
    // caller's version list was a snapshot of a moving table)
    val conf = session.sessionState.newHadoopConf()
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(conf)
    // merge-on-read sidecars under _mor are separate components —
    // counted (or not) by the caller via dataDirsIn, never by
    // recursing from a BASE dir (a root that is itself a sidecar dir
    // contains _mor in its own path and is counted as-is)
    val rootInMor = dir.contains("/_mor/")
    try {
      val it = fs.listFiles(root, /* recursive = */ true)
      var records = 0L
      var files = 0L
      while (it.hasNext) {
        val f = it.next()
        val n = f.getPath.getName
        if (n.endsWith(".parquet") && !n.startsWith(".") &&
            (rootInMor || !f.getPath.toString.contains("/_mor/"))) {
          files += 1
          val in = org.apache.parquet.hadoop.util.HadoopInputFile
            .fromPath(f.getPath, conf)
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          try records += r.getRecordCount finally r.close()
        }
      }
      (records, files)
    } catch {
      case _: java.io.FileNotFoundException => (0L, 0L)
    }
  }

  /** Per-file stats of one snapshot version, from the scan's
    * `_metadata` struct — no filesystem listing of our own, and the
    * count projects zero data columns (footer-driven row iteration
    * only). `partition` keeps the `k=v` path components of the file's
    * directory — exactly the Hive-partition fragments
    * [[graft.pipeline.Snapshot.createOrReplacePartitioned]] lays down
    * (work dirs never contain '=', so the filter is exact). */
  private def filesOf(session: SparkSession, path: String,
                      ver: Long): DataFrame =
    filesOfDirs(session,
      graft.pipeline.Snapshot.dataDirsAsOf(path, ver))

  private def filesOfDirs(session: SparkSession,
                          dataDirs: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    // per-component scans: `_metadata` only resolves directly on a file
    // scan, so each data dir (base + MOR appends sidecars) gets its own
    // stats plan, unioned after aggregation — files are disjoint across
    // components. Record counts are each file's OWN rows (Iceberg's
    // files table reads the same from manifests); equality-delete
    // sidecars are not data files and are not listed.
    dataDirs.map { dir =>
      session.read.parquet(dir)
        .select(col("_metadata.file_path").as("file_path"),
          col("_metadata.file_size").as("file_size_in_bytes"))
        .groupBy("file_path", "file_size_in_bytes")
        .agg(count(lit(1)).as("record_count"))
        .select(col("file_path"), lit("parquet").as("file_format"),
          array_join(filter(split(col("file_path"), "/"),
            s => s.rlike("^[^=]+=[^=]*$")), "/").as("partition"),
          col("record_count"), col("file_size_in_bytes"))
    }.reduce(_ unionAll _)
  }
}
