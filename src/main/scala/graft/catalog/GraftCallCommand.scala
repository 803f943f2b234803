package graft.catalog

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression, NamedArgumentExpression}
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.LongType

/** Iceberg's stored-procedure maintenance surface, VERBATIM:
  * `CALL iceberg.system.<proc>(…)` — the operational statements a
  * lakehouse operator runs daily against the reference's storage layer
  * (`/root/reference/docker-compose.yml:125`; Iceberg's Spark
  * procedures run through exactly this `CALL cat.system.p` syntax).
  * Spark 4 parses `CALL` natively into a `Call` plan but has no
  * procedure catalog to execute it — same shadowing argument as MERGE.
  *
  * Supported procedures (each maps to the [[graft.pipeline.Snapshot]]
  * maintenance op of the same Iceberg name):
  *
  *  - `rewrite_data_files(table, target_file_count => n,
  *    strategy => 'binpack'|'sort', sort_order => 'c1 DESC, c2' |
  *    'zorder(a, b)')` — small-file compaction (binpack, default) or
  *    sort-clustering (Iceberg's sort strategy: range-partition by the
  *    sort key so each file covers a disjoint range and parquet
  *    min/max stats prune; `zorder(a, b)` maps onto the Morton
  *    expression in [[graft.ext.Layout]]); returns
  *    (rewritten_files_count, added_files_count)
  *  - `expire_snapshots(table, retain_last => n | older_than => ts)`
  *    — drop the oldest historical versions by count floor or commit-
  *    instant cutoff (Iceberg's primary spelling); returns
  *    (deleted_snapshots_count)
  *  - `rollback_to_snapshot(table, version)` /
  *    `rollback_to_timestamp(table, timestamp)` — restore a retained
  *    version (by id, or the one current at the instant) as the live
  *    state (itself a new commit, like Iceberg); both return
  *    (previous_version, current_version)
  *  - `remove_orphan_files(table)` — delete stranded commit work dirs;
  *    returns (orphan_file_count)
  *  - `create_tag(table, tag, version => n, replace => b)` /
  *    `drop_tag(table, tag)` — snapshot refs (Iceberg manages tags via
  *    its `ALTER TABLE … CREATE TAG` grammar extension, which plain
  *    Spark cannot parse; the procedural spelling is this library's
  *    equivalent surface). `version` defaults to the live version.
  *    Tagged versions are protected from expiry, and readable via
  *    `VERSION AS OF '<tag>'`. Both return (version).
  *  - `fast_forward(table, branch, keep_versions => n)` — PUBLISH of
  *    the write-audit-publish flow, Iceberg's procedure of the same
  *    name: promote the staged branch ([[graft.pipeline.Snapshot
  *    .writeBranch]]) to live in one atomic swap, the previous live
  *    rolling into history; the branch is consumed. Returns
  *    (previous_version, current_version). `drop_branch(table,
  *    branch)` discards a staged branch (returns its fork version).
  *  - `publish_changes(table, wap_id)` / `cherrypick_snapshot(table,
  *    snapshot_id)` — the OTHER half of the WAP surface beside
  *    fast_forward: apply the staged branch's DELTA (vs its fork
  *    version) onto a live that may have moved since, as one new
  *    commit, consuming the branch. Addressed by wap id (= the staged
  *    branch name, `spark.wap.branch`) or by the numeric snapshot id
  *    stamped at staging. Append-shaped changes only, like Iceberg;
  *    both return (source_snapshot_id, current_version).
  *  - `create_changelog_view(table, identifier_columns,
  *    start_version => a, end_version => b, changelog_view => name)` —
  *    Iceberg's CDC procedure adapted to this layout: registers a temp
  *    view over [[graft.pipeline.Snapshot.diff]] between two retained
  *    versions (defaults: oldest retained → live; view `<t>_changes`).
  *    `identifier_columns` is required because Iceberg reads its
  *    identifier fields from table metadata this layout doesn't carry.
  *    Returns (changelog_view).
  *  - `ancestors_of(table)` — Iceberg's lineage procedure: one row per
  *    retained version, NEWEST first, as (snapshot_id, timestamp) —
  *    the commit instant is the version marker's
  *    [[graft.pipeline.Snapshot.committedAt]].
  *  - `register_table(table, metadata_file)` — point a catalog name at
  *    an EXISTING versioned snapshot directory (Iceberg's procedure
  *    for adopting a layout already on storage); returns
  *    (current_snapshot_id, total_records_count,
  *    total_data_files_count).
  *  - `add_files(table, source_table)` — import an external parquet
  *    layout (the `` `parquet`.`/dir` `` spelling or a plain path)
  *    into the table as one new commit, schema aligned by name;
  *    returns (added_files_count, added_records_count).
  *
  * The `table` argument accepts `ns.t` or the full `iceberg.ns.t` /
  * `demo.ns.t` spelling and must name a SNAPSHOT-BACKED registration
  * ([[TableStore.registerSnapshot]]) — registry-only tables have no
  * file layout to maintain, and raise.
  *
  * Arguments may be positional or named (`name => value`), like
  * Iceberg's procedures. All are driver-side metadata/layout
  * operations; the data work (the compaction rewrite, the rollback
  * copy) runs as ordinary Spark jobs inside the Snapshot ops.
  */
case class GraftCallCommand(proc: String, args: Seq[Expression])
    extends LeafRunnableCommand {
  import GraftCallCommand._

  override val output: Seq[Attribute] = outputFor(proc)

  override def run(spark: SparkSession): Seq[Row] = {
    val (pos, named) = split(args)
    def arg(name: String, at: Int): Option[Any] =
      named.get(name).orElse(pos.lift(at))
    def required(name: String, at: Int): Any =
      arg(name, at).getOrElse(throw new IllegalArgumentException(
        s"$proc requires argument '$name'"))
    // register_table names a NOT-YET-REGISTERED table — every other
    // procedure resolves its target eagerly
    lazy val path = snapshotPathOf(spark, required("table", 0).toString)
    proc match {
      case "register_table" =>
        // Iceberg's register_table: point a catalog name at an
        // EXISTING table layout (here: a versioned snapshot dir —
        // `metadata_file` keeps Iceberg's argument name). The
        // procedural spelling of TableStore.registerSnapshot.
        val dir = required("metadata_file", 1).toString
        if (!java.nio.file.Files.isDirectory(java.nio.file.Paths.get(dir)))
          throw new IllegalArgumentException(
            s"register_table: no table directory at $dir")
        val Seq(ns, t) = tableParts(required("table", 0).toString)
        new TableStore(spark).registerSnapshot(ns, t, dir)
        val ver = graft.pipeline.Snapshot.currentVersion(dir)
          .getOrElse(0L)
        // the LIVE state count: an adopted MOR-laden dir applies its
        // sidecars (a raw parquet read would count deleted rows and
        // miss appended ones)
        Seq(Row(ver,
          graft.pipeline.Snapshot.read(spark, dir).count(),
          graft.pipeline.Snapshot.fileCount(dir).toLong))
      case "add_files" =>
        // Iceberg's add_files: import an external parquet layout into
        // the table as ONE new commit (live ∪ source, by-name schema
        // alignment) — the files are read once and rewritten through
        // the same atomic snapshot protocol, so time travel sees a
        // clean before/after boundary.
        val src = required("source_table", 1).toString
        val srcDir = {
          val P = """(?i)`?parquet`?\s*\.\s*`([^`]+)`""".r
          src match { case P(d) => d; case d => d }
        }
        val added = spark.read.parquet(srcDir)
        val keep =
          graft.pipeline.Snapshot.historicalVersions(path).size + 1
        val live = graft.pipeline.Snapshot.read(spark, path)
        // spec-aware: importing into a partitioned/bucketed table must
        // lay the merged state down under its layout, not flatten it
        graft.pipeline.Snapshot.createOrReplaceCurrentSpec(
          live.unionByName(added.select(live.columns.map(
            org.apache.spark.sql.functions.col).toSeq: _*)),
          path, keepVersions = keep)
        Seq(Row(added.inputFiles.length.toLong, added.count()))
      case "rewrite_data_files" =>
        val target = arg("target_file_count", 1)
          .map(_.toString.toInt).getOrElse(4)
        val before = graft.pipeline.Snapshot.fileCount(path)
        val keep =
          graft.pipeline.Snapshot.historicalVersions(path).size + 1
        // Iceberg's strategy arm: binpack (default) coalesces;
        // 'sort' range-clusters by sort_order — either a column list
        // ('c1 DESC, c2') or Iceberg's 'zorder(a, b)' spelling, which
        // maps onto the Morton expression in graft.ext.Layout.
        named.get("strategy").map(_.toString.toLowerCase(
          java.util.Locale.ROOT)).getOrElse("binpack") match {
          case "binpack" if named.contains("where") =>
            // Iceberg's partition-scoped arm: only fragments matching
            // the predicate rewrite; the rest carry forward
            // byte-identical (Snapshot.compactWhere)
            val (rw, add) = graft.pipeline.Snapshot.compactWhere(
              spark, path, parseWhere(named("where").toString), target,
              keepVersions = keep)
            return Seq(Row(rw, add))
          case "binpack" =>
            graft.pipeline.Snapshot.compact(spark, path, target,
              keepVersions = keep)
          case "sort" =>
            // silently dropping the predicate would rewrite the WHOLE
            // table (O(table) instead of O(matched partition)) with
            // no sign the scope was ignored — refuse until the sort
            // arm is partition-scoped too
            if (named.contains("where"))
              throw new IllegalArgumentException(
                "rewrite_data_files: where => is supported with the " +
                  "binpack strategy only; strategy => 'sort' " +
                  "re-clusters the whole table — drop the predicate " +
                  "or use binpack for the partition-scoped rewrite")
            val order = named.getOrElse("sort_order",
              throw new IllegalArgumentException(
                "rewrite_data_files(strategy => 'sort') requires " +
                  "sort_order")).toString.trim
            val ZOrder = """(?i)zorder\s*\(\s*(\w+)\s*,\s*(\w+)\s*\)""".r
            val sortExprs = order match {
              case ZOrder(a, b) =>
                Seq(graft.ext.Layout.zValue(
                  org.apache.spark.sql.functions.col(a),
                  org.apache.spark.sql.functions.col(b)))
              case cols => cols.split(",").map(_.trim).toSeq.map { c =>
                val p = c.split("\\s+")
                val base = org.apache.spark.sql.functions.col(p.head)
                if (p.length > 1 &&
                    p(1).equalsIgnoreCase("desc")) base.desc
                else base.asc
              }
            }
            graft.pipeline.Snapshot.rewriteSorted(spark, path, target,
              sortExprs, keepVersions = keep)
            // a z-ordered file covers a quadrant-shaped region, so its
            // per-file min/max on BOTH source dimensions is tight —
            // publish them and 2-D box filters skip files through the
            // same manifest index (the zValue expression itself is not
            // a plain column, so rewriteSorted could not)
            order match {
              case ZOrder(a, b) => graft.pipeline.ScanPruning
                .writeStatsManifest(spark, path, Seq(a, b))
              case _ => ()
            }
          case other => throw new IllegalArgumentException(
            s"unknown rewrite_data_files strategy: '$other' " +
              "(binpack, sort)")
        }
        Seq(Row(before.toLong,
          graft.pipeline.Snapshot.fileCount(path).toLong))
      case "expire_snapshots" =>
        // Iceberg's two forms: older_than (a timestamp cutoff, the
        // primary spelling) and/or retain_last (a count floor). With
        // only retain_last the count form runs; with older_than the
        // cutoff form runs (micros from a TIMESTAMP literal, or a
        // 'yyyy-MM-dd HH:mm:ss[.S]' string in the session's UTC zone).
        val dropped = named.get("older_than") match {
          case Some(cutoff) =>
            // retain_last beside older_than is a FLOOR limiting the
            // cutoff expiry (Iceberg's combined form) — ignoring it
            // would destroy the very rollback window the caller asked
            // to keep
            graft.pipeline.Snapshot.expireSnapshotsOlderThan(path,
              cutoffMicros(cutoff),
              retainLastFloor = named.get("retain_last")
                .map(_.toString.toInt).getOrElse(1))
          case None =>
            val retain = required("retain_last", 1).toString.toInt
            graft.pipeline.Snapshot.expireSnapshots(path, retain)
        }
        Seq(Row(dropped.size.toLong))
      case "rollback_to_timestamp" =>
        // Iceberg's companion to rollback_to_snapshot: restore the
        // snapshot that was current at the instant (same resolution as
        // TIMESTAMP AS OF travel), as a new commit.
        val micros = cutoffMicros(required("timestamp", 1))
        // MOR commits included — any retained version can be current
        // at the instant
        val versions = graft.pipeline.Snapshot.retainedVersions(path)
        val target = versions.filter(v => graft.pipeline.Snapshot
          .committedAt(path, v).exists(_ <= micros))
        if (target.isEmpty)
          throw new IllegalArgumentException(
            s"rollback_to_timestamp: no snapshot committed at or " +
              s"before timestamp_micros($micros)")
        val prev = graft.pipeline.Snapshot.currentVersion(path)
          .getOrElse(0L)
        val cur = graft.pipeline.Snapshot
          .rollbackTo(spark, path, target.max)
        Seq(Row(prev, cur))
      case "rollback_to_snapshot" =>
        val version = required("version", 1).toString.toLong
        val prev = graft.pipeline.Snapshot.currentVersion(path)
          .getOrElse(0L)
        val cur = graft.pipeline.Snapshot.rollbackTo(spark, path, version)
        Seq(Row(prev, cur))
      case "remove_orphan_files" =>
        Seq(Row(graft.pipeline.Snapshot.removeOrphans(path).toLong))
      case "set_current_snapshot" =>
        // Iceberg's set_current_snapshot: point live at ANY retained
        // snapshot — rollback's direction-free sibling (forward after
        // a rollback included). Itself a new commit, like Iceberg.
        val version = named.getOrElse("snapshot_id",
          required("snapshot_id", 1)).toString.toLong
        val prev = graft.pipeline.Snapshot.currentVersion(path)
          .getOrElse(0L)
        val cur = graft.pipeline.Snapshot.rollbackTo(spark, path, version)
        Seq(Row(prev, cur))
      case "rewrite_manifests" =>
        // Iceberg's rewrite_manifests mapped onto this layout's
        // manifest role: rebuild the scan-manifest sidecar (per-file
        // min/max stats) from the CURRENT files, for the stats columns
        // given (`columns => 'a,b'`) or the table's WRITE ORDERED BY
        // columns. Returns (rewritten, added) manifest counts.
        val cols = named.get("columns")
          .map(_.toString.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
          .getOrElse(graft.pipeline.Snapshot.sortOrderColumns(path))
        if (cols.isEmpty)
          throw new IllegalArgumentException(
            "rewrite_manifests needs columns => 'a,b' or a table " +
              "WRITE ORDERED BY to derive the stats columns from")
        // same guard as the automatic publisher: the manifest keys by
        // basename, which partitioned writes repeat across fragment
        // dirs — refuse with the capability message, not the writer's
        // internal invariant error
        if (graft.pipeline.Snapshot.partitionSpec(path).nonEmpty)
          throw new UnsupportedOperationException(
            "rewrite_manifests is unsupported on partitioned tables " +
              "(the scan manifest keys data files by basename, which " +
              "partitioned writes repeat across fragment dirs)")
        val had =
          if (graft.pipeline.ScanPruning.hasManifest(path)) 1L else 0L
        graft.pipeline.ScanPruning.writeStatsManifest(spark, path, cols)
        Seq(Row(had, 1L))
      case "rewrite_position_delete_files" =>
        // Iceberg's MOR compaction procedure, taken to its endpoint on
        // this layout: materialize the sidecar-merged live state as one
        // copy-on-write commit (the sidecar-laden dir rolls into
        // history, so time travel into the MOR run keeps working);
        // reads pay zero merge cost afterwards.
        val keep =
          graft.pipeline.Snapshot.historicalVersions(path).size + 1
        val (collapsed, _) = graft.pipeline.Snapshot
          .rewritePositionDeletes(spark, path, keepVersions = keep)
        Seq(Row(collapsed, 0L))
      case "create_tag" =>
        val tag = required("tag", 1).toString
        val version = arg("version", 2).map(_.toString.toLong)
          .orElse(graft.pipeline.Snapshot.currentVersion(path))
          .getOrElse(throw new IllegalArgumentException(
            s"create_tag: no live version to tag at $path"))
        val replace = arg("replace", 3).exists(_.toString.toBoolean)
        graft.pipeline.Snapshot.createTag(path, tag, version, replace)
        Seq(Row(version))
      case "drop_tag" =>
        val tag = required("tag", 1).toString
        val version = graft.pipeline.Snapshot.tags(path).getOrElse(tag,
          throw new java.util.NoSuchElementException(
            s"no such tag: '$tag'"))
        graft.pipeline.Snapshot.dropTag(path, tag)
        Seq(Row(version))
      case "fast_forward" =>
        val branch = required("branch", 1).toString
        val keep = arg("keep_versions", 2).map(_.toString.toInt)
          .getOrElse(graft.pipeline.Snapshot
            .historicalVersions(path).size + 1)
        val prev = graft.pipeline.Snapshot.currentVersion(path)
          .getOrElse(0L)
        // capture BEFORE the publish consumes the branch dir (the
        // token must still be checkable): branch-scoped ANALYZE stats
        // promote to live with the publish — the content becomes live
        // verbatim, so the measurements carry over exactly
        val Seq(ns, t) = tableParts(required("table", 0).toString)
        val promote = GraftStats.branchStatsIfCurrent(spark, ns, t,
          path, branch)
        val cur = graft.pipeline.Snapshot
          .publishBranch(spark, path, branch, keep)
        GraftStats.dropBranchStats(spark, ns, t, branch)
        GraftStats.promoteBranchStats(spark, ns, t, promote, cur)
        Seq(Row(prev, cur))
      case "drop_branch" =>
        val branch = required("branch", 1).toString
        val fork = graft.pipeline.Snapshot
          .branchForkVersion(path, branch).getOrElse(0L)
        graft.pipeline.Snapshot.dropBranch(path, branch)
        val Seq(ns, t) = tableParts(required("table", 0).toString)
        GraftStats.dropBranchStats(spark, ns, t, branch)
        Seq(Row(fork))
      case "publish_changes" =>
        // Iceberg's WAP publish-by-id: cherry-pick the snapshot staged
        // under `wap_id` (this layout stages WAP writes as a branch of
        // that name — spark.wap.branch session mode) onto live. Unlike
        // fast_forward, the branch's DELTA is applied, so a live that
        // moved since the fork keeps its own commits.
        val wapId = required("wap_id", 1).toString
        val src = graft.pipeline.Snapshot
          .branchSnapshotId(path, wapId).getOrElse(0L)
        val keep = arg("keep_versions", 2).map(_.toString.toInt)
          .getOrElse(graft.pipeline.Snapshot
            .historicalVersions(path).size + 1)
        val cur = graft.pipeline.Snapshot
          .cherrypickBranch(spark, path, wapId, keep)
        // unlike fast_forward, the DELTA was applied onto a possibly
        // moved live — the branch's measurements do not describe the
        // result, so its scoped stats just drop
        val Seq(pns, pt) = tableParts(required("table", 0).toString)
        GraftStats.dropBranchStats(spark, pns, pt, wapId)
        Seq(Row(src, cur))
      case "cherrypick_snapshot" =>
        // the same apply, addressed by the staged snapshot's numeric
        // id (Iceberg's primary cherrypick spelling)
        val id = required("snapshot_id", 1).toString.toLong
        val branch = graft.pipeline.Snapshot
          .branchBySnapshotId(path, id).getOrElse(
            throw new java.util.NoSuchElementException(
              s"no staged snapshot with id $id at $path"))
        val keep = arg("keep_versions", 2).map(_.toString.toInt)
          .getOrElse(graft.pipeline.Snapshot
            .historicalVersions(path).size + 1)
        val cur = graft.pipeline.Snapshot
          .cherrypickBranch(spark, path, branch, keep)
        // the consumed branch's scoped ANALYZE stats drop like
        // publish_changes' (delta-applied, measurements do not
        // describe the result)
        val Seq(cns, ct) = tableParts(required("table", 0).toString)
        GraftStats.dropBranchStats(spark, cns, ct, branch)
        Seq(Row(id, cur))
      case "create_changelog_view" =>
        // Iceberg's changelog procedure adapted to the versioned-dir
        // layout: registers a temp view over Snapshot.diff between two
        // retained versions. The one extra required argument is
        // identifier_columns (Iceberg reads identifier fields from
        // table metadata this layout does not carry).
        // identifier_columns per call, or the table's SET IDENTIFIER
        // FIELDS metadata (Iceberg stores this once on the table; so
        // does this catalog since r12)
        val Seq(cns, ct) = tableParts(required("table", 0).toString)
        val keys = arg("identifier_columns", 1)
          .map(_.toString.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
          .filter(_.nonEmpty)
          .getOrElse(GraftIdentifierFieldsCommand
            .fieldsOf(spark, cns, ct))
        require(keys.nonEmpty,
          "create_changelog_view needs identifier_columns, or " +
            "identifier fields set on the table (ALTER TABLE … SET " +
            "IDENTIFIER FIELDS …)")
        // default start = OLDEST RETAINED version, which on a purely
        // merge-on-read history is a sidecar commit, not a .vN dir —
        // historicalVersions alone would wrongly raise on a table
        // whose whole history is MOR commits (fully priceable)
        val startV = arg("start_version", 2).map(_.toString.toLong)
          .orElse(graft.pipeline.Snapshot.retainedVersions(path)
            .sorted.headOption.filterNot(v => graft.pipeline.Snapshot
              .currentVersion(path).contains(v)))
          .getOrElse(throw new IllegalArgumentException(
            "create_changelog_view: no retained version to diff " +
              s"from at $path"))
        val endV = arg("end_version", 3).map(_.toString.toLong)
          .orElse(graft.pipeline.Snapshot.currentVersion(path))
          .getOrElse(throw new IllegalArgumentException(
            s"create_changelog_view: no live version at $path"))
        val viewName = arg("changelog_view", 4).map(_.toString)
          .getOrElse(required("table", 0).toString
            .split("\\.").last + "_changes")
        // O(window delta) when the window is sidecar-priced (full-row
        // equality / position deletes), exact diff fallback otherwise
        graft.pipeline.Snapshot.diffIncremental(spark, path, startV,
            endV, keys)
          .createOrReplaceTempView(viewName)
        Seq(Row(viewName))
      case "rebalance_index" =>
        // Drift maintenance for the persisted ANN indexes: appends
        // assign to FROZEN centroids, so a drifted corpus skews a few
        // cells and recall decays there. Re-clusters (IvfIndex /
        // IvfPqIndex .rebalance — detected from the index meta) when
        // max/median cell rows >= threshold (argument, else the
        // `graft.index.rebalance-threshold` table property, else 2).
        val idxDir = required("index_dir", 1).toString
        val threshold = arg("threshold", 2).map(_.toString.toDouble)
          .orElse {
            val Seq(ns, t) = tableParts(required("table", 0).toString)
            (try new TableStore(spark).properties(ns, t)
             catch { case _: NoSuchElementException =>
               Map.empty[String, String] })
              .get("graft.index.rebalance-threshold").map(_.toDouble)
          }
          .getOrElse(2.0)
        val (fired, mx, med) =
          if (graft.ext.IvfPqIndex.meta(idxDir).isDefined)
            graft.ext.IvfPqIndex.rebalance(spark, path, idxDir, threshold)
          else if (graft.ext.IvfIndex.meta(idxDir).isDefined)
            graft.ext.IvfIndex.rebalance(spark, path, idxDir, threshold)
          else throw new IllegalArgumentException(
            s"rebalance_index: no IVF or IVF-PQ index at $idxDir")
        Seq(Row(if (fired) 1L else 0L, mx, med))
      case "create_rollup" =>
        // The S19 incremental aggregate as a CALL: build the rollup
        // beside the source snapshot and register the maintained
        // GROUP-BY table under a catalog name; the linkage (rollup
        // root + source path) rides the gold table's properties so
        // refresh_rollup needs only the name. Sums accumulate in
        // exact DECIMAL; read the registered table for the raw state
        // or Rollup.read for the double-cast surface.
        val Seq(gns, gt) = tableParts(required("name", 1).toString)
        val groupBy = required("group_by", 2).toString
          .split(",").map(_.trim).filter(_.nonEmpty).toSeq
        val sums = required("sum_cols", 3).toString
          .split(",").map(_.trim).filter(_.nonEmpty).toSeq
        val ruDir = arg("rollup_dir", 4).map(_.toString)
          .getOrElse(s"$path.rollup-$gt")
        val minMax = arg("min_max_cols", 5).map(_.toString
            .split(",").map(_.trim).filter(_.nonEmpty).toSeq)
          .getOrElse(Nil)
        val ndv = arg("ndv_cols", 6).map(_.toString
            .split(",").map(_.trim).filter(_.nonEmpty).toSeq)
          .getOrElse(Nil)
        // where => '<predicate>' builds a PARTIAL rollup: only
        // matching rows aggregate and every refresh window filters
        // the same way (deterministic, subquery-free — build checks)
        val where = arg("where", 7).map(_.toString).filter(_.nonEmpty)
        // joins => 'ns.dim:fact_key=dim_key[+k2=k2][;ns.dim2:…]'
        // builds a STAR rollup: the fact inner-joins each dimension
        // (pinned at its live version) before aggregating; group and
        // measure columns may come from either side. Refresh stays
        // O(fact window) while dims hold; a moved dim raises
        // (rebuild), the Trino full-recompute case.
        val dims = arg("joins", 8).map(_.toString).filter(_.nonEmpty)
          .map(_.split(";").toSeq.map { spec =>
            val Array(dimName, keys) = spec.split(":", 2)
            val Seq(dns, dt) = tableParts(dimName.trim)
            val dimPath = new TableStore(spark).snapshotPath(dns, dt)
              .getOrElse(throw new IllegalArgumentException(
                s"create_rollup joins: $dns.$dt is not a snapshot " +
                  "table"))
            graft.pipeline.Rollup.DimSpec(dimPath,
              keys.split("\\+").toSeq.map { kp =>
                val Array(fk, dk) = kp.split("=", 2)
                (fk.trim, dk.trim)
              })
          }).getOrElse(Nil)
        // group_exprs => 'day:=date_trunc(''day'', ts)[;alias2:=…]'
        // adds EXPRESSION columns (deterministic, row-local): an
        // alias listed in group_by becomes a derived KEY (the
        // time-bucketed dashboard shape), one listed in sum_cols /
        // min_max_cols a derived MEASURE (revenue:=price*(1-disc),
        // the TPC-H Q1 shape); the rewrite matches queries using the
        // same expression
        val groupExprs = arg("group_exprs", 9).map(_.toString)
          .filter(_.nonEmpty)
          .map(_.split(";").toSeq.map { spec =>
            val Array(alias, e) = spec.split(":=", 2)
            (alias.trim, e.trim)
          }).getOrElse(Nil)
        val n = graft.pipeline.Rollup.build(spark, path, ruDir,
          groupBy, sums, minMax, ndv, filter = where, dims = dims,
          exprCols = groupExprs)
        val ts = new TableStore(spark)
        ts.registerSnapshot(gns, gt,
          graft.pipeline.Rollup.tableDir(ruDir))
        ts.setProperties(gns, gt, Map(
          "graft.rollup.dir" -> ruDir,
          "graft.rollup.source" -> path))
        Seq(Row(n))
      case "refresh_rollup" =>
        // table => the REGISTERED gold table; its properties carry
        // the rollup root and source — O(window delta) maintenance
        // (see Rollup.refresh for the exactness contract).
        val Seq(gns, gt) = tableParts(required("table", 0).toString)
        val props = new TableStore(spark).properties(gns, gt)
        val ruDir = props.getOrElse("graft.rollup.dir",
          throw new IllegalArgumentException(
            s"refresh_rollup: $gns.$gt is not a rollup table " +
              "(create it with CALL system.create_rollup)"))
        val srcPath = props("graft.rollup.source")
        Seq(Row(graft.pipeline.Rollup.refresh(spark, srcPath, ruDir)))
      case "ancestors_of" =>
        // Iceberg returns the current snapshot's ancestor chain newest
        // first; in this linear-history layout that is every retained
        // version (merge-on-read commits included), descending. The
        // version→dir map resolves ONCE — per-version commit instants
        // then read O(1) each (O(V) total, the SoakVersions contract).
        graft.pipeline.Snapshot.retainedVersionDirs(path)
          .reverse.map { case (v, d) =>
            val ts = graft.pipeline.Snapshot.committedAtIn(d, v)
              .map(us => java.sql.Timestamp.from(
                java.time.Instant.ofEpochSecond(us / 1000000L,
                  (us % 1000000L) * 1000L)))
              .orNull
            Row(v, ts)
          }
      case other => throw new UnsupportedOperationException(
        s"unknown graft procedure: system.$other (supported: " +
          "rewrite_data_files, expire_snapshots, rollback_to_snapshot, " +
          "remove_orphan_files, create_tag, drop_tag, fast_forward, " +
          "drop_branch, create_changelog_view, ancestors_of, " +
          "register_table, add_files, rollback_to_timestamp, " +
          "cherrypick_snapshot, publish_changes, " +
          "rewrite_position_delete_files, set_current_snapshot, " +
          "rewrite_manifests, rebalance_index, create_rollup, " +
          "refresh_rollup)")
    }
  }
}

object GraftCallCommand {

  def outputFor(proc: String): Seq[Attribute] = proc match {
    case "create_changelog_view" =>
      Seq(AttributeReference("changelog_view",
        org.apache.spark.sql.types.StringType, nullable = false)())
    case "ancestors_of" =>
      Seq(AttributeReference("snapshot_id", LongType,
        nullable = false)(),
        AttributeReference("timestamp",
          org.apache.spark.sql.types.TimestampType, nullable = true)())
    case "register_table" =>
      Seq("current_snapshot_id", "total_records_count",
        "total_data_files_count")
        .map(AttributeReference(_, LongType, nullable = false)())
    case "add_files" =>
      Seq("added_files_count", "added_records_count")
        .map(AttributeReference(_, LongType, nullable = false)())
    case other => (other match {
      case "rewrite_data_files" =>
        Seq("rewritten_files_count", "added_files_count")
      case "rewrite_position_delete_files" =>
        Seq("rewritten_delete_files_count", "added_delete_files_count")
      case "expire_snapshots" => Seq("deleted_snapshots_count")
      case "rollback_to_snapshot" | "rollback_to_timestamp" =>
        Seq("previous_version", "current_version")
      case "set_current_snapshot" =>
        Seq("previous_snapshot_id", "current_snapshot_id")
      case "rewrite_manifests" =>
        Seq("rewritten_manifests_count", "added_manifests_count")
      case "create_tag" | "drop_tag" | "drop_branch" => Seq("version")
      case "fast_forward" => Seq("previous_version", "current_version")
      case "rebalance_index" =>
        Seq("rebalanced", "max_cell_rows", "median_cell_rows")
      case "create_rollup" => Seq("group_rows")
      case "refresh_rollup" => Seq("touched_groups")
      case "cherrypick_snapshot" | "publish_changes" =>
        Seq("source_snapshot_id", "current_version")
      case _ => Seq("orphan_file_count")
    }).map(AttributeReference(_, LongType, nullable = false)())
  }

  /** Positional values + lowercased named values, literals evaluated. */
  private def split(args: Seq[Expression]): (Seq[Any], Map[String, Any]) = {
    def value(e: Expression): Any = e.eval() match {
      case s: org.apache.spark.unsafe.types.UTF8String => s.toString
      case other => other
    }
    val named = args.collect { case NamedArgumentExpression(n, v) =>
      n.toLowerCase(java.util.Locale.ROOT) -> value(v)
    }.toMap
    val pos = args.takeWhile(!_.isInstanceOf[NamedArgumentExpression])
      .map(value)
    // a positional AFTER a named argument would be silently dropped
    // by the takeWhile — `create_tag('t', tag => 'x', 7)` falling
    // back to a default instead of using 7 is a wrong-but-plausible
    // result; reject the form loudly (Spark's own CALL contract)
    if (pos.size + named.size != args.size)
      throw new IllegalArgumentException(
        "CALL: positional arguments must precede named arguments " +
          s"(got ${args.size} arguments, ${named.size} named, with a " +
          "positional after the first named one)")
    (pos, named)
  }

  /** `where => "f = 'v' AND g IN (1, 2)"` → field → allowed raw
    * fragment values. The conjunctive equality/IN grammar is the shape
    * Iceberg's own partition-scoped rewrite takes; anything else (OR,
    * ranges, functions) raises with the supported form. A field named
    * in several conjuncts keeps the INTERSECTION of its allowed sets
    * (`f = 'a' AND f IN ('b')` allows nothing — conjunction
    * semantics), and the AND split is quote-aware, so a quoted value
    * containing the word AND stays one value. */
  private[catalog] def parseWhere(
      where: String): Map[String, Seq[String]] = {
    val Eq = """(?i)^\s*([\w]+)\s*=\s*(?:'([^']*)'|([\w.+-]+))\s*$""".r
    val In =
      """(?i)^\s*([\w]+)\s+IN\s*\(\s*(.+?)\s*\)\s*$""".r
    val Item = """(?:'([^']*)'|([\w.+-]+))""".r
    splitAndOutsideQuotes(where).map(_.trim).map {
      case Eq(f, q, bare) => f -> Seq(Option(q).getOrElse(bare))
      case In(f, items) => f -> Item.findAllMatchIn(items).map(m =>
        Option(m.group(1)).getOrElse(m.group(2))).toSeq
      case other => throw new IllegalArgumentException(
        s"rewrite_data_files where supports conjunctions of " +
          s"`field = value` and `field IN (…)` only; got: '$other'")
    }.groupBy(_._1).view
      .mapValues { conjuncts =>
        // conjunction over one field = set intersection of its allowed
        // values (first-conjunct order kept for determinism)
        conjuncts.map(_._2.distinct)
          .reduce((a, b) => a.filter(b.contains))
      }.toMap
  }

  /** Split on the keyword AND at word boundaries, but never inside a
    * single-quoted value. */
  private def splitAndOutsideQuotes(s: String): Seq[String] = {
    def wordChar(c: Char) = Character.isLetterOrDigit(c) || c == '_'
    val out = scala.collection.mutable.Buffer.empty[String]
    val cur = new StringBuilder
    var i = 0
    var inQuote = false
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\'') { inQuote = !inQuote; cur.append(c); i += 1 }
      else if (!inQuote && (c == 'A' || c == 'a') &&
          i + 3 <= s.length && s.regionMatches(true, i, "AND", 0, 3) &&
          (i == 0 || !wordChar(s.charAt(i - 1))) &&
          (i + 3 == s.length || !wordChar(s.charAt(i + 3)))) {
        out += cur.toString(); cur.clear(); i += 3
      } else { cur.append(c); i += 1 }
    }
    out += cur.toString()
    out.toSeq
  }

  /** Timestamp-cutoff argument → epoch micros: a TIMESTAMP literal
    * arrives pre-evaluated as Long micros; a string is parsed as
    * 'yyyy-MM-dd[ HH:mm:ss[.f…]]' in UTC EXPLICITLY (the session zone
    * this library pins everywhere), never the JVM default zone. */
  private def cutoffMicros(value: Any): Long = value match {
    case l: Long => l
    case other => other.toString.toLongOption.getOrElse {
      val raw = other.toString.trim
      val ldt =
        if (raw.contains(" ") || raw.contains("T"))
          java.time.LocalDateTime.parse(raw.replace(' ', 'T'))
        else java.time.LocalDate.parse(raw).atStartOfDay()
      val i = ldt.toInstant(java.time.ZoneOffset.UTC)
      i.getEpochSecond * 1000000L + i.getNano / 1000L
    }
  }

  /** `ns.t` (optionally graft-prefixed) → Seq(ns, t), lowercased. */
  private def tableParts(table: String): Seq[String] = {
    val parts = table.split("\\.").toSeq
      .map(_.toLowerCase(java.util.Locale.ROOT))
    parts match {
      case Seq(cat, ns0, t0) if GraftCatalogs.isGraft(cat) => Seq(ns0, t0)
      case Seq(_, _) => parts
      case _ => throw new IllegalArgumentException(
        s"procedure table must be <ns>.<table>: $table")
    }
  }

  /** Resolve a procedure's `table` argument to its snapshot dir. */
  private def snapshotPathOf(spark: SparkSession, table: String): String = {
    val Seq(ns, t) = tableParts(table)
    new TableStore(spark).snapshotPath(ns, t).getOrElse(
      throw new IllegalArgumentException(
        s"$ns.$t is not a snapshot-backed table — maintenance " +
          "procedures need a file layout (TableStore.registerSnapshot)"))
  }
}
