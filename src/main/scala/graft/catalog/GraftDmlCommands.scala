package graft.catalog

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.{Assignment, DeleteFromTable, InsertIntoStatement, LogicalPlan, SubqueryAlias, UpdateTable}
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlanBridge

/** Standalone row-level `UPDATE` / `DELETE FROM` — the other two
  * statements of Iceberg's DML trio beside MERGE
  * (the reference's storage layer supports all three;
  * `/root/reference/jobs/merge_orders_silver.py:135-147` exercises only
  * MERGE). Verbatim through `spark.sql`, same contract as
  * [[GraftMergeCommand]]: expressions stay unresolved until `run`,
  * where they resolve as `Column`s against the registered target; the
  * result replaces the registration (eager `localCheckpoint` — a DML
  * statement's effect must not lazily recompute).
  *
  * Scale shape: both are single-pass projections/filters over the
  * target — no join, no shuffle; the condition pushes down to the scan
  * like any filter. SQL three-valued logic: a NULL condition neither
  * deletes nor updates the row.
  */
private[catalog] object GraftDml {

  /** Target resolution shared by UPDATE and DELETE — the registered
    * table named by the statement (3-part graft prefix or bare
    * 2-part), plus the alias the condition may reference. */
  def resolveTarget(spark: SparkSession, plan: LogicalPlan,
                    statement: String): (Seq[String], String, DataFrame) = {
    val (aliasOpt, parts) = plan match {
      case SubqueryAlias(id, u: UnresolvedRelation) =>
        (Some(id.name), u.multipartIdentifier)
      case u: UnresolvedRelation => (None, u.multipartIdentifier)
      case other => throw new IllegalArgumentException(
        s"unsupported $statement target plan: ${other.nodeName}")
    }
    val norm = parts.map(_.toLowerCase(java.util.Locale.ROOT))
    val key = norm match {
      case Seq(cat, ns, t) if GraftCatalogs.isGraft(cat) => Seq(ns, t)
      case Seq(_, _)                                     => norm
      case _ => throw new IllegalArgumentException(
        s"$statement target must be a registered <ns>.<table>: " +
          parts.mkString("."))
    }
    val df = TableStore.registry(spark).getOrElse(key, {
      // snapshot-backed tables read the LIVE version (or the staged
      // WAP branch when spark.wap.branch is set); commit() writes the
      // statement's effect back the same way
      new TableStore(spark).snapshotPath(key.head, key(1))
        .map(p => snapshotRead(spark, p))
        .getOrElse(throw new java.util.NoSuchElementException(
          s"$statement target not registered: ${parts.mkString(".")}"))
    })
    if (new TableStore(spark).isView(key.head, key(1)))
      throw new UnsupportedOperationException(
        s"cannot $statement a view: ${key.mkString(".")}")
    (key, aliasOpt.getOrElse(parts.last), df)
  }

  /** CHECK-constraint enforcement (Delta Lake's
    * `ALTER TABLE … ADD CONSTRAINT` role, spelled as table properties
    * the way Delta stores them: `graft.constraints.<name> = <boolean
    * SQL expression>`): every constraint is evaluated over the WRITTEN
    * rows in ONE aggregation pass before the commit; returns the frame
    * the caller must write (materialized when constraints exist, so
    * the check and the write see the SAME rows even under a
    * nondeterministic source) — a violation
    * raises with the constraint name, expression, and row count, and
    * the table is left untouched (the statement never commits). SQL
    * CHECK null semantics: a NULL-valued expression passes. CoW
    * commits check the full post-state (everything is rewritten =
    * everything is written); MOR commits check only the appended rows
    * (delete sidecars cannot introduce violations) — Delta's own
    * written-files scoping. */
  /** The violation predicate of one CHECK expression — FALSE violates,
    * NULL passes (SQL CHECK semantics). ONE definition shared by the
    * DML gate and ADD CONSTRAINT's existing-data validation, so the
    * two can never drift. */
  def constraintViolation(e: String): Column =
    !coalesce(expr(e), lit(true))

  def checkConstraints(spark: SparkSession, key: Seq[String],
                       written: DataFrame): DataFrame = {
    // fail CLOSED: only "no such table" means "no constraints"; any
    // other store failure must not silently disable enforcement
    val props =
      try new TableStore(spark).properties(key.head, key(1))
      catch { case _: NoSuchElementException => Map.empty[String, String] }
    val prefix = "graft.constraints."
    val cs = props.toSeq.collect {
      case (k, v) if k.startsWith(prefix) => (k.stripPrefix(prefix), v)
    }.sortBy(_._1)
    if (cs.isEmpty) return written
    // materialize ONCE and both check and write the same rows — a
    // nondeterministic source otherwise passes the check on one
    // evaluation and commits different rows on the next
    val materialized = written.localCheckpoint()
    val aggs = cs.zipWithIndex.map { case ((n, e), i) =>
      // parse EAGERLY: Spark 4's Column API is lazy (expr() builds an
      // unparsed SqlExpression node), so without this probe an
      // unparseable constraint would only surface inside the agg job
      // below, rewrapped as the misleading missing-columns error
      try spark.sessionState.sqlParser.parseExpression(e)
      catch {
        case ex: org.apache.spark.sql.catalyst.parser.ParseException =>
          throw new IllegalArgumentException(
            s"CHECK constraint $prefix$n has an unparseable " +
              s"expression '$e': ${ex.getMessage}", ex)
      }
      count(when(constraintViolation(e), 1)).as(s"_c$i")
    }
    val row =
      try materialized.agg(aggs.head, aggs.tail: _*).collect()(0)
      catch {
        case ex: org.apache.spark.sql.AnalysisException =>
          throw new IllegalArgumentException(
            "a CHECK constraint references columns the written rows " +
              s"lack (${cs.map(c => s"${c._1}='${c._2}'").mkString(", ")})"
              + s": ${ex.getMessage}", ex)
      }
    val failed = cs.zipWithIndex.collect {
      case ((n, e), i) if row.getLong(i) > 0 =>
        s"$n ($e) violated by ${row.getLong(i)} row(s)"
    }
    if (failed.nonEmpty) throw new IllegalStateException(
      s"CHECK constraint blocks the write to ${key.mkString(".")}: " +
        failed.mkString("; "))
    materialized
  }

  /** Commit the statement's materialized effect. Registry tables
    * replace their in-memory registration (the commit tail
    * [[GraftMergeCommand]] shares); snapshot-backed tables write ONE
    * atomic versioned commit — row-level DML on a versioned table, the
    * Iceberg behavior (the previous state rolls into history and stays
    * time-travelable). Registry wins when a name has both, mirroring
    * [[ResolveGraftRelations]] lookup order. Enforces
    * [[checkConstraints]] first. */
  def commit(spark: SparkSession, key: Seq[String],
             next0: DataFrame): Unit = {
    // constrained tables write the SAME materialized rows the check saw
    val next = checkConstraints(spark, key, next0)
    val snapPath =
      if (TableStore.registry(spark).contains(key)) None
      else new TableStore(spark).snapshotPath(key.head, key(1))
    snapPath match {
      case Some(p) => wapBranch(spark) match {
        case Some(branch) =>
          // write-audit-publish session mode (Iceberg's
          // spark.wap.branch): the statement's effect STAGES on the
          // branch — live is untouched until CALL fast_forward
          graft.pipeline.Snapshot.writeBranch(
            next.localCheckpoint(), p, branch)
        case None =>
          // spec-aware: a partitioned/write-ordered table keeps its
          // layout across row-level DML (plain createOrReplace would
          // silently flatten the Hive fragments)
          graft.pipeline.Snapshot.createOrReplaceCurrentSpec(next, p,
            keepVersions =
              graft.pipeline.Snapshot.historicalVersions(p).size + 1)
          maybeRefreshStats(spark, key, p)
          maybeRefreshRollups(spark, p)
      }
      case None =>
        val result = next.localCheckpoint()
        TableStore.registry(spark).put(key, result)
        result.createOrReplaceTempView(s"${key.head}_${key(1)}")
    }
  }

  /** Iceberg's `spark.wap.branch` session conf: when set, writes to
    * snapshot-backed tables stage on that branch and reads resolve it
    * (falling back to live while the branch has no staged state). */
  def wapBranch(spark: SparkSession): Option[String] =
    Option(spark.conf.get("spark.wap.branch", null)).filter(_.nonEmpty)

  /** MERGE-ON-READ routing — Iceberg's `write.<op>.mode` table
    * property (`op` ∈ delete/update/merge): Some(snapshot dir) when
    * the target is snapshot-backed (not shadowed by a registry entry),
    * outside a WAP session (branch writes stage whole snapshots), and
    * the table sets `'write.<op>.mode'='merge-on-read'`. The statement
    * then commits an equality-delete/append sidecar via
    * [[graft.pipeline.Snapshot.morCommit]] — a 1-row DELETE writes
    * KBs, not the table — and reads merge the sidecars until
    * `CALL rewrite_position_delete_files` compacts back to
    * copy-on-write. Default (property unset) stays copy-on-write,
    * Iceberg's own default. */
  def morPath(spark: SparkSession, key: Seq[String],
              op: String): Option[String] = {
    if (TableStore.registry(spark).contains(key) ||
        wapBranch(spark).nonEmpty) None
    else new TableStore(spark).snapshotPath(key.head, key(1))
      .filter { p =>
        // a markerless dir (adopted via register_table over plain
        // parquet) has no version to stack sidecars on — fall back to
        // copy-on-write, which stamps the first marker
        graft.pipeline.Snapshot.currentVersion(p).isDefined &&
        // same fail-closed discipline as morPositionFormat: only "no
        // such table" means "no properties"
        (try Some(new TableStore(spark).properties(key.head, key(1)))
         catch { case _: NoSuchElementException => None })
          .flatMap(_.get(s"write.$op.mode"))
          .exists(_.equalsIgnoreCase("merge-on-read"))
      }
  }

  /** Delete-file FORMAT for MOR commits — Iceberg v2 defines two
    * delete-file kinds (position, content 1; equality, content 2) and
    * which one a writer emits is an engine choice (Spark writes
    * position deletes, Flink CDC writes equality). The graft knob is
    * the table property `write.mor.deletes` ∈ `equality` (default) |
    * `position`: position commits store rename-stable (file id, row
    * position) pairs captured through `_metadata` lineage instead of
    * full row images. MERGE always writes the equality arm (its delta
    * join reads the merged state, not raw file lineage) — the same
    * kind-per-statement freedom Iceberg grants writers. */
  def morPositionFormat(spark: SparkSession, key: Seq[String]): Boolean =
    // fail CLOSED like checkConstraints: only "no such table" means
    // "default format" — any other store failure propagates rather
    // than silently switching the commit to equality-delete format
    (try Some(new TableStore(spark).properties(key.head, key(1)))
     catch { case _: NoSuchElementException => None })
      .flatMap(_.get("write.mor.deletes"))
      .exists(_.equalsIgnoreCase("position"))

  /** Equality-delete file shape for a MOR commit: with IDENTIFIER
    * FIELDS set on the table, the delete file carries ONLY the
    * identifier columns (Iceberg's `equality_ids` — a fraction of the
    * row bytes, and the key-scoped removal Iceberg defines: every row
    * carrying a deleted key goes, valid exactly because SET IDENTIFIER
    * FIELDS asserts the key identifies the row). Without them — or if
    * a set field no longer resolves against the rows — full-row
    * images, the value-scoped contract `applySidecars` documents. */
  def equalityDeletes(spark: SparkSession, key: Seq[String],
                      matched: DataFrame): DataFrame = {
    val ids = GraftIdentifierFieldsCommand
      .fieldsOf(spark, key.head, key(1))
    val resolved = ids.flatMap(f =>
      matched.columns.find(_.equalsIgnoreCase(f)))
    if (ids.nonEmpty && resolved.size == ids.size)
      matched.select(resolved.map(org.apache.spark.sql.functions.col): _*)
        .distinct()
    else matched.distinct()
  }

  /** Post-commit AUTO-COMPACTION — the `write.mor.compact-after-
    * commits = N` table property (the operational rule BASELINE.md's
    * MOR soak measures: the sidecar read tax grows ~linearly in
    * stacked commit count, and a rewrite pays for itself every few
    * dozen small commits): after a MOR commit lands, when the stacked
    * commit count reaches N the table compacts back to copy-on-write
    * through `rewrite_position_delete_files`'s own path — same atomic
    * protocol, history intact, reads before/after identical
    * (MorSpec pins it). Unset = never (Iceberg's default: maintenance
    * is explicit). Runs AFTER the statement's commit, so the
    * statement's effect is never entangled with maintenance. */
  def maybeAutoCompact(spark: SparkSession, key: Seq[String],
                       path: String): Unit = {
    val threshold =
      (try Some(new TableStore(spark).properties(key.head, key(1)))
       catch { case _: NoSuchElementException => None })
        .flatMap(_.get("write.mor.compact-after-commits"))
        .map { v =>
          val n = v.toInt
          require(n >= 1,
            s"write.mor.compact-after-commits must be >= 1: $n")
          n
        }
    // BEST-EFFORT: the statement's own commit is already durable —
    // a maintenance failure must not fail the statement
    threshold.foreach(n =>
      graft.pipeline.Snapshot.compactIfStacked(spark, path, n,
        keepVersions =
          graft.pipeline.Snapshot.historicalVersions(path).size + 1))
  }

  /** Post-commit ROLLUP MAINTENANCE — `graft.rollup.auto-refresh =
    * true` on a gold/MV storage table: after a DML commit on its
    * SOURCE, apply the commit window ([[graft.pipeline.Rollup
    * .refresh]], O(window delta)) so the very next read serves from
    * the store without a manual REFRESH/CALL. Best-effort like
    * auto-compaction: a window the incremental maintenance cannot
    * price exactly (equality deletes, copy-on-write rebases) leaves
    * the rollup STALE — reads fall back to the base scan (never
    * wrong, only slower) and `REFRESH MATERIALIZED VIEW` brings it
    * current via its rebuild fallback. Skipped under a WAP session
    * (the live table did not move). Default off. */
  def maybeRefreshRollups(spark: SparkSession, path: String): Unit = {
    if (wapBranch(spark).nonEmpty) return
    if (graft.pipeline.Rollup.maintaining.get()) return
    new TableStore(spark).tablesWithProperty("graft.rollup.dir")
      .filter(_.get("graft.rollup.auto-refresh").exists(_.toBoolean))
      .filter { t =>
        // the committing table is this rollup's fact — or one of a
        // STAR rollup's joined dimensions (their windows price
        // incrementally too; Rollup.refresh reads the dims from meta)
        t.get("graft.rollup.source").contains(path) ||
          graft.pipeline.Rollup.meta(t("graft.rollup.dir"))
            .exists(_.dims.exists(_.path == path))
      }
      .foreach { t =>
        try graft.pipeline.Rollup.refresh(spark,
          t("graft.rollup.source"), t("graft.rollup.dir"))
        catch { case scala.util.control.NonFatal(_) => () }
      }
  }

  /** Post-commit STATS REFRESH — `graft.stats.auto-refresh = true`:
    * after a commit on a table that carries ANALYZE stats, re-stamp
    * rowCount/size/version from parquet FOOTERS (metadata-only, no
    * scan) so the broadcast lever survives routine DML instead of the
    * stats simply voiding — and MERGE the per-column stats forward
    * over a fast-append window instead of dropping them: the delta
    * (exactly the appended sidecar rows, [[graft.pipeline.Snapshot
    * .commitsSince]]) contributes nulls/min/max/avgLen by one
    * O(delta) pass and its KMV sketch merges against the persisted
    * one ([[graft.ext.Sketches.kmvMerge]]), so CBO keeps receiving
    * column stats whose NDV stays within KMV error of a fresh
    * ANALYZE across any number of appends. Honesty rules: a
    * copy-on-write rebase DROPS the column stats (per-commit deltas
    * are gone — run ANALYZE … FOR COLUMNS to restore), a column
    * whose stats predate sketching drops too, and a table with live
    * delete sidecars SKIPS the refresh entirely (footer rows
    * overstate the live state; the stale stats void naturally,
    * exactly as without the property). Default off, like
    * auto-compaction. */
  def maybeRefreshStats(spark: SparkSession, key: Seq[String],
                        path: String): Unit = {
    val store = new TableStore(spark)
    val props =
      try store.properties(key.head, key(1))
      catch { case _: NoSuchElementException => return }
    if (!props.get("graft.stats.auto-refresh").exists(_.toBoolean))
      return
    if (!props.contains(GraftStats.SizeKey)) return // never ANALYZEd
    val S = graft.pipeline.Snapshot
    val v = S.currentVersion(path).getOrElse(return)
    val hasDeletes = S.deleteDirsAsOf(path, v).nonEmpty ||
      S.posDeleteDirsAsOf(path, v).nonEmpty
    if (hasDeletes) return // footer counts would overstate live rows
    val (bytes, rows) = S.dataFileStats(path)
    val P = GraftStats.ColPrefix
    val colKeys = props.keys.filter(_.startsWith(P)).toSeq
    val merged = mergedColumnStats(spark, path, props, v)
    if (colKeys.nonEmpty && merged.isEmpty)
      store.unsetProperties(key.head, key(1), colKeys, ifExists = true)
    merged.foreach { m =>
      val gone = colKeys.filterNot(m.contains)
      if (gone.nonEmpty)
        store.unsetProperties(key.head, key(1), gone, ifExists = true)
    }
    store.setProperties(key.head, key(1), Map(
      GraftStats.RowsKey -> rows.toString,
      GraftStats.SizeKey -> math.max(1L, bytes).toString,
      GraftStats.VersionKey -> v.toString) ++
      merged.getOrElse(Map.empty))
  }

  /** The column-stat properties carried FORWARD across the commit
    * window since the stats' recorded version: None when nothing can
    * carry (no column stats, no sketches, or a re-based window —
    * caller drops), Some(updated key→value map) when the delta merged
    * cleanly (empty window = unchanged stats). */
  private def mergedColumnStats(spark: SparkSession, path: String,
                                props: Map[String, String],
                                untilVersion: Long)
      : Option[Map[String, String]] = {
    val S = graft.pipeline.Snapshot
    val P = GraftStats.ColPrefix
    val cols = props.keys.filter(_.startsWith(P))
      .map(_.stripPrefix(P).split("\\.", 2)(0)).toSeq.distinct
    if (cols.isEmpty) return None
    // every carried column needs its sketch (pre-sketch stats cannot
    // merge) and the old row count anchors the avgLen weights
    if (!cols.forall(c => props.contains(s"$P$c.kmv")) ||
        !props.contains(GraftStats.RowsKey)) return None
    val statsVersion = props.get(GraftStats.VersionKey)
      .flatMap(_.toLongOption).getOrElse(return None)
    // bounded by the version this refresh stamps: a concurrent commit
    // landing after the capture must wait for ITS OWN refresh, or its
    // rows would merge twice
    val appendDirs = S.commitsSince(path, statsVersion,
        Some(untilVersion)) match {
      case S.CommitWindow.FastAppends(dirs) => dirs
      case _ => return None // re-based (deletes already returned above)
    }
    if (appendDirs.isEmpty) // version-only commits: stats unchanged
      return Some(props.filter(_._1.startsWith(P)))
    val delta = appendDirs.map(spark.read.parquet(_))
      .reduce(_ unionByName _).localCheckpoint()
    val presentCols = cols.filter(delta.columns.contains)
    if (presentCols.size != cols.size) return None // schema drifted
    val deltaRows = delta.count()
    if (deltaRows == 0) // zero-row appends: stats unchanged
      return Some(props.filter(_._1.startsWith(P)))
    val oldRows = props(GraftStats.RowsKey).toLong
    val k = GraftStats.KmvK
    // one collection pass: counts/extremes + the delta KMV sketch
    // (columnStatsWithKmv) — ndv never collects, it derives from the
    // MERGED sketch below
    val deltaStats = graft.quality.Metrics
      .columnStatsWithKmv(delta, presentCols, k).collect()
      .map(r => r.getString(0) -> r).toMap
    val deltaKmv = deltaStats.collect {
      case (c, r) if !r.isNullAt(5) => c -> r.getSeq[Long](5)
    }
    val out = scala.collection.mutable.LinkedHashMap[String, String]()
    presentCols.foreach { c =>
      def old(s: String) = props.get(s"$P$c.$s")
      val d = deltaStats(c)
      val dNulls = if (d.isNullAt(1)) 0L else d.getLong(1)
      val oldNulls = old("nulls").map(_.toLong).getOrElse(0L)
      val nulls = Some(oldNulls + dNulls)
      val dMin = if (d.isNullAt(2)) None else Some(d.getDouble(2))
      val dMax = if (d.isNullAt(3)) None else Some(d.getDouble(3))
      val min = (old("min").map(_.toDouble), dMin) match {
        case (Some(a), Some(b)) => Some(math.min(a, b))
        case (a, b) => a.orElse(b)
      }
      val max = (old("max").map(_.toDouble), dMax) match {
        case (Some(a), Some(b)) => Some(math.max(a, b))
        case (a, b) => a.orElse(b)
      }
      // avgLen weights by NON-NULL counts on each side
      val oldNonNull = oldRows - oldNulls
      val dNonNull = deltaRows - dNulls
      val dAvg = if (d.isNullAt(4)) None else Some(d.getDouble(4))
      val avgLen = (old("avgLen").map(_.toDouble), dAvg) match {
        case (Some(a), Some(b)) if oldNonNull + dNonNull > 0 =>
          Some((a * oldNonNull + b * dNonNull) / (oldNonNull + dNonNull))
        case (a, b) => a.orElse(b)
      }
      val mergedKmv = graft.ext.Sketches.kmvMerge(k,
        props(s"$P$c.kmv").split(",").filter(_.nonEmpty)
          .map(_.toLong).toSeq,
        deltaKmv.getOrElse(c, Seq.empty))
      out += s"$P$c.ndv" ->
        graft.ext.Sketches.kmvEstimate(mergedKmv, k).toString
      out += s"$P$c.kmv" -> mergedKmv.mkString(",")
      nulls.foreach(n => out += s"$P$c.nulls" -> n.toString)
      min.foreach(m => out += s"$P$c.min" -> m.toString)
      max.foreach(m => out += s"$P$c.max" -> m.toString)
      avgLen.foreach(a => out += s"$P$c.avgLen" -> a.toString)
    }
    Some(out.toMap)
  }

  /** Branch-aware snapshot read: the staged WAP branch when the
    * session pins one AND it exists, else the live version. */
  def snapshotRead(spark: SparkSession, path: String): DataFrame =
    wapBranch(spark) match {
      case Some(b)
          if graft.pipeline.Snapshot.branches(path).contains(b) =>
        graft.pipeline.Snapshot.readBranch(spark, path, b)
      case _ => graft.pipeline.Snapshot.read(spark, path)
    }

  def nameOf(e: Expression): String = e match {
    case a: UnresolvedAttribute => a.nameParts.last
    case n: org.apache.spark.sql.catalyst.expressions.NamedExpression =>
      n.name
    case other => other.sql
  }
}

/** `DELETE FROM <t> [WHERE cond]` — keeps the rows where the condition
  * is not TRUE (NULL keeps, per SQL DELETE semantics). */
case class GraftDeleteCommand(delete: DeleteFromTable)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val (key, alias, df) =
      GraftDml.resolveTarget(spark, delete.table, "DELETE")
    val cond = coalesce(PlanBridge.column(delete.condition), lit(false))
    GraftDml.morPath(spark, key, "delete") match {
      case Some(p) if GraftDml.morPositionFormat(spark, key) =>
        // merge-on-read, POSITION format: the matched rows' (file id,
        // row position) pairs — captured by reading the live state
        // with `_metadata` lineage — become the sidecar; row content
        // is never rewritten OR copied. Write cost is O(matched).
        val S = graft.pipeline.Snapshot
        graft.pipeline.Snapshot.morCommit(spark, p,
          deletes = None, appends = None, operation = "delete",
          posDeletes = Some(S.readLineage(spark, p).as(alias)
            .filter(cond).select(S.LineageFile, S.LineagePos)))
        GraftDml.maybeAutoCompact(spark, key, p)
        GraftDml.maybeRefreshStats(spark, key, p)
        GraftDml.maybeRefreshRollups(spark, p)
      case Some(p) =>
        // merge-on-read: write ONLY the matched rows as an
        // equality-delete sidecar (distinct — the read-side anti-join
        // removes every identical instance, exactly what a
        // deterministic DELETE predicate matched). Write cost is
        // O(matched), not O(table).
        graft.pipeline.Snapshot.morCommit(spark, p,
          deletes = Some(GraftDml.equalityDeletes(spark, key,
            df.as(alias).filter(cond))),
          appends = None, operation = "delete")
        GraftDml.maybeAutoCompact(spark, key, p)
        GraftDml.maybeRefreshStats(spark, key, p)
        GraftDml.maybeRefreshRollups(spark, p)
      case None =>
        GraftDml.commit(spark, key, df.as(alias).filter(!cond))
    }
    Seq.empty
  }
}

/** `INSERT INTO / INSERT OVERWRITE <t> [(cols)] [BY NAME] <query>` —
  * the append half of the DML surface (Iceberg's
  * `INSERT INTO`; the README's runbook inserts rows Postgres-side,
  * `/root/reference/README.md:75-85`, and this is the lakehouse twin).
  * The source query stays unresolved until `run`, then resolves through
  * the session's full analyzer (so it may read other registered
  * tables). Alignment mirrors Spark's v2 insert resolution:
  *
  *  - positional (default): source column count must equal the target's;
  *    each value is cast to the target column type
  *  - `(col, …)` list: source columns map to the listed target columns
  *    in order; unlisted target columns are filled with typed NULLs
  *  - `BY NAME`: source columns match target columns case-insensitively;
  *    unmatched source columns raise, missing target columns NULL-fill
  *
  * `INSERT OVERWRITE` replaces the table contents instead of appending.
  * Static `PARTITION (…)` specs are rejected loudly — registrations
  * carry no partition metadata (SURVEY §2.1 S12 keeps partitioned
  * layout on the snapshot path, not the registry).
  *
  * Scale shape: append is a UNION of the existing plan with the new
  * rows — no shuffle of the existing data; the materialization is the
  * same eager commit every DML statement here pays.
  */
case class GraftInsertCommand(ns: String, name: String,
                              insert: InsertIntoStatement)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    if (insert.partitionSpec.nonEmpty || insert.ifPartitionNotExists)
      throw new UnsupportedOperationException(
        "graft INSERT does not support static PARTITION specs")
    val store = new TableStore(spark)
    if (store.isView(ns, name))
      throw new UnsupportedOperationException(
        s"cannot INSERT into a view: $ns.$name")
    // snapshot-backed tables take the versioned-commit path (or the
    // WAP branch when spark.wap.branch is set); registry tables keep
    // the in-memory commit — all through GraftDml.commit.
    // REGISTRY-FIRST, the same resolution order SELECT/UPDATE/DELETE
    // and GraftDml.commit use: a name that is both registered and
    // snapshot-backed must read the same state it will commit to, or
    // the INSERT would silently replace the registered contents with
    // snapshot contents plus the new rows
    val target = TableStore.registry(spark).get(Seq(ns, name))
      .orElse(store.snapshotPath(ns, name)
        .map(p => GraftDml.snapshotRead(spark, p)))
      .getOrElse(store.table(ns, name))
    val schema = target.schema
    val src = PlanBridge.ofRows(spark, insert.query)
    def fill(f: org.apache.spark.sql.types.StructField): Column =
      lit(null).cast(f.dataType).as(f.name)
    val aligned: Seq[Column] =
      if (insert.byName) {
        val unknown = src.columns.filterNot(c =>
          schema.fields.exists(_.name.equalsIgnoreCase(c)))
        if (unknown.nonEmpty) throw new IllegalArgumentException(
          s"INSERT BY NAME columns not in $ns.$name: ${unknown.mkString(", ")}")
        schema.fields.toSeq.map { f =>
          src.columns.find(_.equalsIgnoreCase(f.name))
            .map(c => src(c).cast(f.dataType).as(f.name))
            .getOrElse(fill(f))
        }
      } else if (insert.userSpecifiedCols.nonEmpty) {
        val cols = insert.userSpecifiedCols
        if (cols.length != src.columns.length)
          throw new IllegalArgumentException(
            s"INSERT column list has ${cols.length} columns but the " +
              s"query produces ${src.columns.length}")
        val unknown = cols.filterNot(c =>
          schema.fields.exists(_.name.equalsIgnoreCase(c)))
        if (unknown.nonEmpty) throw new IllegalArgumentException(
          s"INSERT columns not in $ns.$name: ${unknown.mkString(", ")}")
        // a duplicated target column would silently drop one source
        // value through the map — Spark's native insert rejects it
        val lowered = cols.map(_.toLowerCase(java.util.Locale.ROOT))
        val dups = lowered.diff(lowered.distinct).distinct
        if (dups.nonEmpty) throw new IllegalArgumentException(
          s"INSERT column list names a column twice: " +
            dups.mkString(", "))
        val bySpec = lowered.zip(src.columns).toMap
        schema.fields.toSeq.map { f =>
          bySpec.get(f.name.toLowerCase(java.util.Locale.ROOT))
            .map(c => src(c).cast(f.dataType).as(f.name))
            .getOrElse(fill(f))
        }
      } else {
        if (src.columns.length != schema.length)
          throw new IllegalArgumentException(
            s"INSERT query produces ${src.columns.length} columns; " +
              s"$ns.$name has ${schema.length}")
        schema.fields.toSeq.zip(src.columns.toSeq).map { case (f, c) =>
          src(c).cast(f.dataType).as(f.name)
        }
      }
    val rows = src.select(aligned: _*)
    // FAST APPEND: on a table opted into merge-on-read (any
    // write.<op>.mode), a plain INSERT INTO commits an append-only
    // sidecar — new data files beside the untouched base, Iceberg's
    // appends-never-rewrite behavior — instead of the union rewrite.
    // INSERT OVERWRITE replaces content and stays copy-on-write.
    val fastAppend =
      if (insert.overwrite) None
      else Seq("merge", "update", "delete").view
        .flatMap(op => GraftDml.morPath(spark, Seq(ns, name), op))
        .headOption
    fastAppend match {
      case Some(p) =>
        val checked = GraftDml.checkConstraints(spark, Seq(ns, name), rows)
        graft.pipeline.Snapshot.morCommit(spark, p,
          deletes = None, appends = Some(checked), operation = "append")
        GraftDml.maybeAutoCompact(spark, Seq(ns, name), p)
        GraftDml.maybeRefreshStats(spark, Seq(ns, name), p)
        GraftDml.maybeRefreshRollups(spark, p)
      case None =>
        GraftDml.commit(spark, Seq(ns, name),
          if (insert.overwrite) rows else target.union(rows))
    }
    Seq.empty
  }
}

/** `TRUNCATE TABLE <t>` — empties the table, schema preserved (the
  * registered plan becomes an empty relation of the same schema). */
case class GraftTruncateCommand(ns: String, name: String)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val store = new TableStore(spark)
    if (store.isView(ns, name))
      throw new UnsupportedOperationException(
        s"cannot TRUNCATE a view: $ns.$name")
    // empty-state commit; the pre-truncate version stays
    // time-travelable like any other replaced snapshot
    GraftDml.commit(spark, Seq(ns, name),
      store.snapshotPath(ns, name)
        .map(p => GraftDml.snapshotRead(spark, p))
        .getOrElse(store.table(ns, name)).limit(0))
    Seq.empty
  }
}

/** `UPDATE <t> SET c = v, … [WHERE cond]` — per-column conditional
  * projection; assignment values are cast to the target column type
  * (same hardening as MERGE's assignment path). Unknown assignment
  * columns raise. */
case class GraftUpdateCommand(update: UpdateTable)
    extends LeafRunnableCommand {
  private def assignments: Seq[Assignment] = update.assignments
  private def condition: Option[Expression] = update.condition
  override def run(spark: SparkSession): Seq[Row] = {
    val (key, alias, df) =
      GraftDml.resolveTarget(spark, update.table, "UPDATE")
    val schema = df.schema
    assignments.foreach { a =>
      val c = GraftDml.nameOf(a.key)
      if (!df.columns.exists(_.equalsIgnoreCase(c)))
        throw new IllegalArgumentException(
          s"UPDATE assigns unknown column: $c")
    }
    val cond = condition.map(c => coalesce(PlanBridge.column(c),
      lit(false))).getOrElse(lit(true))
    def outCol(c: String): Column =
      assignments.find(a => GraftDml.nameOf(a.key).equalsIgnoreCase(c))
        .map(a => when(cond, PlanBridge.column(a.value))
          .otherwise(col(s"$alias.$c"))
          .cast(schema(c).dataType))
        .getOrElse(col(s"$alias.$c"))
        .as(c)
    // the unconditional (matched-rows-only) assignment projection both
    // MOR arms append — ONE definition so the arms cannot drift
    def newCol(c: String): Column =
      assignments.find(a =>
        GraftDml.nameOf(a.key).equalsIgnoreCase(c))
        .map(a => PlanBridge.column(a.value)
          .cast(schema(c).dataType))
        .getOrElse(col(s"$alias.$c")).as(c)
    GraftDml.morPath(spark, key, "update") match {
      case Some(p) if GraftDml.morPositionFormat(spark, key) =>
        // merge-on-read UPDATE, POSITION format: the matched rows'
        // (file, pos) pairs delete the old images; the new images
        // append. Same O(matched) decomposition, no row copied into
        // the delete file.
        val S = graft.pipeline.Snapshot
        val matched = S.readLineage(spark, p).as(alias).filter(cond)
          .localCheckpoint()
        val posAppends = matched.as(alias)
          .select(df.columns.toSeq.map(newCol): _*)
        val checkedPos = GraftDml.checkConstraints(spark, key, posAppends)
        graft.pipeline.Snapshot.morCommit(spark, p,
          deletes = None,
          appends = Some(checkedPos),
          operation = "update",
          posDeletes = Some(matched.select(S.LineageFile, S.LineagePos)))
        GraftDml.maybeAutoCompact(spark, key, p)
        GraftDml.maybeRefreshStats(spark, key, p)
        GraftDml.maybeRefreshRollups(spark, p)
      case Some(p) =>
        // merge-on-read UPDATE = delete-old + append-new, scoped to the
        // MATCHED rows only (Iceberg's MOR update decomposition). The
        // matched set is materialized once (eager, O(matched)) and
        // feeds both sidecars; untouched rows are never rewritten.
        val matched = df.as(alias).filter(cond).localCheckpoint()
        // re-aliased: assignment values may reference the statement's
        // table alias, which localCheckpoint drops
        val eqAppends = matched.as(alias)
          .select(df.columns.toSeq.map(newCol): _*)
        val checkedEq = GraftDml.checkConstraints(spark, key, eqAppends)
        graft.pipeline.Snapshot.morCommit(spark, p,
          deletes = Some(GraftDml.equalityDeletes(spark, key, matched)),
          appends = Some(checkedEq),
          operation = "update")
        GraftDml.maybeAutoCompact(spark, key, p)
        GraftDml.maybeRefreshStats(spark, key, p)
        GraftDml.maybeRefreshRollups(spark, p)
      case None =>
        GraftDml.commit(spark, key,
          df.as(alias).select(df.columns.toSeq.map(outCol): _*))
    }
    Seq.empty
  }
}
