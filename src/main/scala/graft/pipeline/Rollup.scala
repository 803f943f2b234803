package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}
import java.nio.file.{Files, Paths}

/** INCREMENTAL AGGREGATE MAINTENANCE — the gold-layer twin of the
  * persisted-index lifecycle: materialize `GROUP BY groupCols →
  * (count(*), sum(measure)…)` over a snapshot table once, then keep
  * it exact under appends, deletes, and updates by consuming the
  * source's COMMIT WINDOW instead of recomputing — the reference
  * rebuilds its derived tables from scratch every run
  * (`/root/reference/jobs/build_orders_silver.py:95`); at 100 TB the
  * rebuild is the bill, and count/sum are the self-maintainable
  * aggregate class (Gupta & Mumick, incremental view maintenance), so
  * the delta IS the update:
  *
  * ```
  * <rollupDir>/table         (groupCols…, cnt, sum_<m>…)  snapshot
  * <rollupDir>/_rollup_meta  src version + spec (atomic)
  * ```
  *
  * Sums accumulate in DECIMAL(27,6) (exact, order-free — additions
  * and subtractions commute bit-identically, so the maintained value
  * equals a full recompute EXACTLY, not approximately; the
  * [[read]]-side casts back to double). Each measure also maintains
  * its NON-NULL count `cnt_<m>` (subtractable like `cnt`), so
  * `count(m)` is served directly and `avg(m)` derives as
  * `sum_<m>/cnt_<m>` — exact on nullable measures, where the row
  * count `cnt` would be the wrong denominator. MIN/MAX and per-group
  * KMV NDV sketches join the
  * maintained set as the NON-SUBTRACTABLE class: appends merge
  * arithmetically (min-of-mins; sketch = distinct-union keep-k), and
  * since a deleted row may have been the extremum or a sketch member,
  * every group the window removed rows from re-derives them from the
  * source AS OF the window end restricted to those groups —
  * O(affected groups' rows), the classic incremental-view bound for
  * non-distributive aggregates under deletes.
  *
  * Lifecycle contract (the persisted-index discipline):
  *  - [[build]] aggregates the live source and stamps its version.
  *  - [[refresh]] prices the window with [[Snapshot.windowRowDelta]]
  *    — O(window sidecar rows + position-referenced files), never a
  *    source scan. Appends add; POSITION deletes subtract exactly
  *    (per-instance); an EQUALITY-delete window (the engine's DEFAULT
  *    `write.mor.deletes` mode — every keyed CDC DELETE) routes to
  *    the affected-group re-derive ([[refreshRederive]]): touched
  *    groups recompute from the source as of the window end,
  *    O(affected groups' rows); a
  *    copy-on-write rebase raises (per-commit deltas are gone —
  *    rebuild). Touched groups upsert through ONE MOR commit on the
  *    rollup table: a key-scoped equality delete drops their old
  *    rows, the re-summed rows append; groups whose count reaches 0
  *    disappear; a count below 0 raises (corruption guard).
  *  - NULL group keys are in-contract (`groupBy` creates the null
  *    group like SQL does); every internal join on the group keys is
  *    null-safe ([[nsJoin]]) so the null group maintains exactly like
  *    any other.
  *  - Crash replay: each refresh commit carries the window's END
  *    version in its operation marker (`rollup-to-v<N>`), so a replay
  *    after a crash between the rollup commit and the meta write
  *    re-reads the marker, skips the already-applied prefix, and
  *    applies only the remainder — never double-counting (morCommit
  *    is atomic: a window is applied entirely or not at all).
  */
object Rollup {

  /** True while build/refresh aggregate the base table on this thread
    * — [[graft.catalog.RollupRewrite]] must not rewrite maintenance's
    * own aggregates to read the gold table they are rebuilding. */
  val maintaining: ThreadLocal[java.lang.Boolean] =
    ThreadLocal.withInitial(() => java.lang.Boolean.FALSE)

  private def suppressRewrite[T](body: => T): T = {
    val prev = maintaining.get()
    maintaining.set(true)
    try body finally maintaining.set(prev)
  }

  /** Run two independent Spark actions concurrently ([[Par.both]] —
    * guide §2.6), with the [[maintaining]] flag carried to the
    * worker thread. */
  private def inParallel[A, B](a: => A, b: => B): (A, B) =
    Par.both(a, b)

  /** A star-schema DIMENSION joined into the maintained aggregate:
    * `fact.<fk> = dim.<dk>` inner-joined per key pair, the dim PINNED
    * at `version`. Refresh prices BOTH sides incrementally — a fact
    * window joins to the dims as of the window start (O(fact
    * window)), and a dim window pays one bounded fact read joined to
    * the dim's (small) delta — the telescoped join-view identity in
    * [[refresh]]. A fact EQUALITY window re-derives affected groups
    * ([[refreshRederive]]), even combined with moved dims (fact-first
    * telescoping); a DIM equality window — the default-delete-mode
    * CDC MERGE shape on a dimension — re-derives the groups its
    * changed rows join ([[refreshDimRederive]]). Only the truly
    * unpriceable cases (copy-on-write rebases, a pruned as-of
    * version, mid-window schema drift) raise, routing the MV REFRESH
    * surface to its full-recompute fallback — Trino's always-rebuild,
    * paid only when the window truly cannot be priced. */
  final case class DimSpec(path: String, keys: Seq[(String, String)],
                           version: Long = -1L)

  final case class Meta(srcVersion: Long, rollupVersion: Long,
                        groupCols: Seq[String], measures: Seq[String],
                        minMax: Seq[String], ndv: Seq[String],
                        ndvK: Int, filter: Option[String] = None,
                        dims: Seq[DimSpec] = Nil,
                        exprCols: Seq[(String, String)] = Nil)

  /** Dim list ⇄ one meta line: per dim `urlenc(path),fk=dk+fk2=dk2,v`
    * tab-separated — URL-encoding keeps paths clear of the three
    * separators; [[build]] refuses key names that carry them. */
  private def encodeDims(dims: Seq[DimSpec]): String =
    dims.map { d =>
      val ks = d.keys.map { case (f, k) => s"$f=$k" }.mkString("+")
      java.net.URLEncoder.encode(d.path, "UTF-8") + s",$ks,${d.version}"
    }.mkString("\t")

  private def decodeDims(s: String): Seq[DimSpec] =
    s.split("\t").toSeq.filter(_.nonEmpty).map { e =>
      val Array(p, ks, v) = e.split(",", 3)
      DimSpec(java.net.URLDecoder.decode(p, "UTF-8"),
        ks.split("\\+").toSeq.map { kp =>
          val Array(f, k) = kp.split("=", 2)
          (f, k)
        }, v.toLong)
    }

  /** EXPRESSION group keys ⇄ one meta line: per key
    * `urlenc(alias),urlenc(exprSql)` tab-separated. */
  private def encodeExprs(es: Seq[(String, String)]): String =
    es.map { case (n, e) =>
      java.net.URLEncoder.encode(n, "UTF-8") + "," +
        java.net.URLEncoder.encode(e, "UTF-8")
    }.mkString("\t")

  private def decodeExprs(s: String): Seq[(String, String)] =
    s.split("\t").toSeq.filter(_.nonEmpty).map { kv =>
      val Array(n, e) = kv.split(",", 2)
      (java.net.URLDecoder.decode(n, "UTF-8"),
        java.net.URLDecoder.decode(e, "UTF-8"))
    }

  def tableDir(rollupDir: String): String = s"$rollupDir/table"

  /** Literal budget for the dim-term fact-scan IN filter — above
    * this the pushed filter would bloat the plan past codegen
    * comfort; a BLOOM prune takes over ([[bloomPruned]]) so even a
    * hot dimension (10⁵ churned keys per window) keeps the fact read
    * O(matching rows), never O(table). */
  private val MaxDimDeltaKeys = 4096
  private[pipeline] var maxDimDeltaKeysForTests: Option[Int] = None
  private def maxDimDeltaKeys: Int =
    maxDimDeltaKeysForTests.getOrElse(MaxDimDeltaKeys)

  /** The past-the-literal-budget fact prune: filter the fact on a
    * BLOOM of the (small) key frame's values — the
    * [[graft.ext.BloomJoin]] in-plan sketch (scalar-subquery
    * aggregate, no driver collect), evaluated scan-side so only a
    * false-positive fraction of non-matching fact rows survives the
    * scan. A SUPERSET by construction (exactly what every caller
    * needs — the exact restriction is the inner/semi join
    * downstream); nulls hash consistently on both sides, so the
    * null group rides along iff the key frame carries it. */
  private def bloomPruned(fact: DataFrame, factKey: String,
                          keys: DataFrame,
                          keyCol: String): DataFrame =
    fact.filter(graft.ext.BloomJoin.mightMatch(
      keys.select(org.apache.spark.sql.functions.col(keyCol)),
      keyCol, col(factKey), expectedItems = 1L << 22))
  private def metaFile(rollupDir: String) =
    Paths.get(rollupDir, "_rollup_meta")

  def meta(rollupDir: String): Option[Meta] = {
    val text = FsCommit.read(metaFile(rollupDir))
    if (text.isEmpty) None
    else {
      val lines = text.get.trim.split("\n").toSeq
      // 8 = pre-join, 9 = pre-expr-keys format (missing lines default
      // empty); 10 = current
      if (lines.length < 8 || lines.length > 10)
        throw new IllegalStateException(
          s"rollup meta at $rollupDir has ${lines.length} lines (this " +
            "version writes 10) — persisted by an older format; rebuild")
      Some(Meta(lines.head.toLong, lines(1).toLong,
        lines(2).split("\t").toSeq,
        // a count-only rollup (measures = Nil) writes an empty line;
        // "".split returns Seq("") — filter, or every refresh/read
        // would chase a phantom `sum_` column
        lines(3).split("\t").toSeq.filter(_.nonEmpty),
        lines(4).stripPrefix("mm:").split("\t").toSeq
          .filter(_.nonEmpty),
        lines(5).stripPrefix("nd:").split("\t").toSeq
          .filter(_.nonEmpty),
        lines(6).stripPrefix("k:").toInt,
        // the partial-rollup predicate rides as ONE line of SQL (the
        // parser never writes raw newlines into expression text)
        Some(lines(7).stripPrefix("w:")).filter(_.nonEmpty),
        if (lines.length > 8) decodeDims(lines(8).stripPrefix("d:"))
        else Nil,
        if (lines.length > 9) decodeExprs(lines(9).stripPrefix("e:"))
        else Nil))
    }
  }

  private def writeMeta(rollupDir: String, m: Meta): Unit = {
    Files.createDirectories(Paths.get(rollupDir))
    FsCommit.replace(metaFile(rollupDir),
      s"${m.srcVersion}\n${m.rollupVersion}\n" +
        s"${m.groupCols.mkString("\t")}\n${m.measures.mkString("\t")}\n" +
        s"mm:${m.minMax.mkString("\t")}\n" +
        s"nd:${m.ndv.mkString("\t")}\nk:${m.ndvK}\n" +
        s"w:${m.filter.getOrElse("")}\n" +
        s"d:${encodeDims(m.dims)}\n" +
        s"e:${encodeExprs(m.exprCols)}\n")
  }

  /** Null-safe multi-key join on the GROUP columns. `groupBy`
    * happily creates a null-key group (and multi-key rollups null
    * individual key columns), but a plain `usingColumns` equi-join
    * never matches null keys — the touched/old/recompute joins would
    * silently skip the null group while the commit's null-safe
    * equality delete still removes its stored row: data loss. This
    * renames the right side's keys, joins on `<=>`, and (for outer
    * shapes) coalesces the keys back. */
  private def nsJoin(left: DataFrame, right: DataFrame,
                     keys: Seq[String], joinType: String): DataFrame = {
    val r2 = keys.foldLeft(right)((df, k) =>
      df.withColumnRenamed(k, s"_nsk_$k"))
    val cond = keys.map(k => col(k) <=> col(s"_nsk_$k")).reduce(_ && _)
    val joined = left.join(r2, cond, joinType)
    if (joinType == "left_semi" || joinType == "left_anti") joined
    else {
      val patched =
        if (joinType.startsWith("full") || joinType.startsWith("right")
            || joinType == "outer")
          keys.foldLeft(joined)((df, k) =>
            df.withColumn(k, coalesce(col(k), col(s"_nsk_$k"))))
        else joined
      patched.drop(keys.map(k => s"_nsk_$k"): _*)
    }
  }

  /** The rollup's open step: its meta, or "build first"; and the
    * live source version it must be checked against. */
  private def open(rollupDir: String, srcPath: String): (Meta, Long) =
    (meta(rollupDir).getOrElse(throw new IllegalStateException(
      s"no rollup at $rollupDir (build first)")), srcVersionOf(srcPath))

  private def srcVersionOf(srcPath: String): Long =
    Snapshot.currentVersion(srcPath).getOrElse(
      throw new IllegalStateException(
        s"rollup requires a versioned snapshot source at $srcPath — " +
          "the staleness contract pins rollup to source version"))

  /** The join chain against EXPLICIT dim frames — refresh substitutes
    * window deltas and as-of reads per dimension (inner, ON-style —
    * both key columns survive, which is the shape a SQL `JOIN … ON`
    * query analyzes to, so the rewrite's plan match sees the same
    * tree; a SAME-NAMED key drops the dim copy, the only unambiguous
    * choice, and the two are equal under the join anyway). */
  private def joinWith(fact: DataFrame, dims: Seq[DimSpec],
                       dimFrames: Seq[DataFrame]): DataFrame =
    dims.zip(dimFrames).foldLeft(fact) { case (acc, (dim, d)) =>
      val cond = dim.keys.map { case (fk, dk) => acc(fk) === d(dk) }
        .reduce(_ && _)
      val joined = acc.join(d, cond, "inner")
      dim.keys.collect { case (fk, dk) if fk == dk => d(dk) }
        .foldLeft(joined)(_ drop _)
    }

  /** The maintained SOURCE FRAME: the fact rows joined to every
    * dimension at its LIVE version. Used by build and the rewrite's
    * base plan — ONE definition of what the gold table aggregates
    * (refresh joins the same chain against version-bounded frames). */
  private[graft] def joinSource(spark: SparkSession, fact: DataFrame,
                                dims: Seq[DimSpec]): DataFrame =
    joinWith(fact, dims, dims.map(d => Snapshot.read(spark, d.path)))

  /** True iff the gold table describes the LIVE fact version AND every
    * pinned dimension version — the one freshness predicate the
    * rewrite, `read`, and SHOW MATERIALIZED VIEWS share. */
  def isFresh(rollupDir: String, srcPath: String): Boolean =
    meta(rollupDir).exists(m =>
      Snapshot.currentVersion(srcPath).contains(m.srcVersion) &&
        m.dims.forall(d =>
          Snapshot.currentVersion(d.path).contains(d.version)))

  /** `read` refuses a moved dim the same way it refuses a moved fact
    * — the store describes pinned versions; refresh prices the dim
    * window incrementally, so staleness is a refresh away. */
  private def requireDimsPinned(rollupDir: String,
                                dims: Seq[DimSpec]): Unit =
    dims.foreach { d =>
      val live = Snapshot.currentVersion(d.path)
      if (!live.contains(d.version))
        throw new IllegalStateException(
          s"rollup at $rollupDir is STALE: it joins dimension " +
            s"${d.path} at v${d.version} but the dim moved to " +
            s"v${live.getOrElse(-1L)} — run Rollup.refresh or rebuild")
    }

  /** A version-bounded dim read for window pricing — raises (with the
    * MV-fallback "rebuild" hint) when the needed version was pruned. */
  private def dimAsOf(spark: SparkSession, rollupDir: String,
                      d: DimSpec, v: Long): DataFrame = {
    if (!Snapshot.retainedVersionDirs(d.path).exists(_._1 == v))
      throw new UnpriceableWindowException(
        s"rollup at $rollupDir needs dimension ${d.path} AS OF v$v to " +
          "price the window, but that version is no longer retained — " +
          "rebuild the rollup")
    Snapshot.readAsOf(spark, d.path, v)
  }

  /** One group's maintained columns: exact decimal sums + counts.
    * Sums pin to DECIMAL(27,6) (Spark widens sum(decimal) results —
    * the STORED type must stay fixed across build and every refresh
    * or the MOR union would coerce). Each measure also maintains its
    * NON-NULL count (`cnt_<m>`): `count(m)` and the denominator of
    * `avg(m)` are non-null counts in SQL, and on a nullable measure
    * they differ from `cnt` — a `cnt`-based avg rewrite would be
    * silently wrong, so the store carries the exact value. */
  private def aggExprs(measures: Seq[String],
                       minMax: Seq[String]): Seq[Column] =
    count(lit(1)).as("cnt") +:
      (measures.flatMap(m => Seq(
        sum(col(m).cast(DecimalType(27, 6)))
          .cast(DecimalType(27, 6)).as(s"sum_$m"),
        count(col(m)).as(s"cnt_$m"))) ++
        minMax.flatMap(mm => Seq(
          min(col(mm)).as(s"min_$mm"),
          max(col(mm)).as(s"max_$mm"))))

  private def aggOf(df: DataFrame, groupCols: Seq[String],
                    measures: Seq[String],
                    minMax: Seq[String]): DataFrame = {
    val es = aggExprs(measures, minMax)
    df.groupBy(groupCols.map(col): _*).agg(es.head, es.tail: _*)
  }

  /** Per-group KMV sketches of each `ndv` column: `ndvsk_<c>` is the
    * sorted array of the k smallest distinct 60-bit hashes of the
    * column's non-null values ([[graft.ext.Sketches.kmvTopK]]) — the
    * mergeable approximate-distinct state. Sketches UNION under
    * appends (merge = distinct ∪, keep k smallest) but cannot forget
    * under deletes — affected groups recompute, like min/max. */
  private def sketchFrame(df: DataFrame, groupCols: Seq[String],
                          ndv: Seq[String], k: Int,
                          prefix: String = "ndvsk_"): DataFrame =
    ndv.map { c =>
      graft.ext.Sketches.kmvTopK(
          df.filter(col(c).isNotNull), groupCols, c, k)
        .groupBy(groupCols.map(col): _*)
        .agg(sort_array(collect_list(col("_h"))).as(s"$prefix$c"))
    }.reduce((a, b) => nsJoin(a, b, groupCols, "full_outer"))

  /** Merge-aggregate for sketch columns: per group, the k smallest
    * distinct hashes across every contributing sketch array. */
  private def sketchMerge(c: String, k: Int): Column =
    slice(array_sort(array_distinct(flatten(
      collect_list(col(s"ndvsk_$c"))))), 1, k).as(s"ndvsk_$c")

  /** Attach sketch columns to an aggregated frame (left join — a
    * group whose ndv column is all-null carries a null sketch). */
  private def withSketches(agg: DataFrame, src: DataFrame,
                           groupCols: Seq[String], ndv: Seq[String],
                           k: Int): DataFrame =
    if (ndv.isEmpty) agg
    else nsJoin(agg, sketchFrame(src, groupCols, ndv, k), groupCols,
      "left")

  /** Attach the EXPRESSION columns — derived group keys (`GROUP BY
    * date_trunc('day', ts)`) and derived measures (`sum(price * (1 -
    * discount)) AS revenue`). Row-local and deterministic (build
    * validates), so a window row computes exactly the values it
    * computed at build: the signed-delta algebra is untouched.
    * Applied to every source frame — build, window deltas, the
    * affected-group recompute — AFTER the dim joins (an expr may use
    * dim columns) and BEFORE the filter (the predicate may reference
    * an alias). */
  private def prepare(df: DataFrame,
                      exprCols: Seq[(String, String)]): DataFrame =
    exprCols.foldLeft(df) { case (d, (n, e)) =>
      d.withColumn(n, expr(e)) }

  private def validateExprCols(df: DataFrame,
                               exprCols: Seq[(String, String)]): Unit =
    exprCols.foreach { case (n, e) =>
      // withColumn would silently REPLACE a same-named source column —
      // the store and the rewrite would then disagree on what n means
      if (df.columns.exists(_.equalsIgnoreCase(n)))
        throw new IllegalArgumentException(
          s"expression group key alias '$n' collides with a source " +
            "column — pick a fresh name")
      val proj = df.select(expr(e)).queryExecution.analyzed
      val bad = proj.expressions.exists(x => !x.deterministic ||
        x.exists(_.isInstanceOf[org.apache.spark.sql.catalyst
          .expressions.SubqueryExpression]))
      if (bad) throw new IllegalArgumentException(
        s"expression group key '$n' must be deterministic and " +
          s"subquery-free (window rows must derive exactly the key " +
          s"they derived at build): $e")
    }

  /** Collapse whitespace OUTSIDE quoted literals only — the meta file
    * stores the predicate on one line, but whitespace INSIDE a string
    * literal is semantic (`city = 'New  York'` must keep both
    * spaces). Handles single- and double-quoted SQL literals with the
    * doubled-quote escape; a literal containing a NEWLINE cannot ride
    * the line-based meta format and is refused loudly. */
  private[pipeline] def normalizePredicate(s: String): String = {
    val sb = new StringBuilder
    var i = 0
    var quote: Char = 0
    var pendingSpace = false
    while (i < s.length) {
      val c = s.charAt(i)
      if (quote != 0) {
        sb.append(c)
        if (c == quote) {
          if (i + 1 < s.length && s.charAt(i + 1) == quote) {
            sb.append(quote); i += 1  // doubled-quote escape
          } else quote = 0
        }
      } else if (c == '\'' || c == '"') {
        if (pendingSpace && sb.nonEmpty) sb.append(' ')
        pendingSpace = false
        quote = c
        sb.append(c)
      } else if (c.isWhitespace) pendingSpace = true
      else {
        if (pendingSpace && sb.nonEmpty) sb.append(' ')
        pendingSpace = false
        sb.append(c)
      }
      i += 1
    }
    val out = sb.toString
    if (out.exists(ch => ch == '\n' || ch == '\r'))
      throw new IllegalArgumentException(
        "a partial rollup's WHERE cannot carry a newline inside a " +
          s"string literal (the rollup meta stores it line-based): $s")
    out
  }

  /** Apply the partial-rollup predicate (and, at build time, validate
    * it: deterministic, subquery-free — a nondeterministic or
    * cross-table predicate breaks the maintenance algebra, because
    * the window rows must filter the same way the build did). */
  private def applyFilter(df: DataFrame, filter: Option[String],
                          validate: Boolean = false): DataFrame =
    filter.fold(df) { f =>
      val filtered = df.filter(expr(f))
      if (validate) {
        val cond = filtered.queryExecution.analyzed.collectFirst {
          case flt: org.apache.spark.sql.catalyst.plans.logical.Filter =>
            flt.condition
        }
        cond.foreach { c =>
          if (!c.deterministic || c.exists(
              _.isInstanceOf[org.apache.spark.sql.catalyst.expressions
                .SubqueryExpression]))
            throw new IllegalArgumentException(
              s"a partial rollup's WHERE must be deterministic and " +
                s"subquery-free (window deltas must filter exactly " +
                s"as the build did): $f")
        }
      }
      filtered
    }

  /** Build (or rebuild): one full aggregation pass over the live
    * source, stamped with its version. A `filter` makes it a PARTIAL
    * rollup: only matching rows aggregate, and every refresh window
    * filters the same way — exact for deterministic row-local
    * predicates. @return group rows */
  def build(spark: SparkSession, srcPath: String, rollupDir: String,
            groupCols: Seq[String], measures: Seq[String],
            minMax: Seq[String] = Nil, ndv: Seq[String] = Nil,
            ndvK: Int = 256, filter: Option[String] = None,
            dims: Seq[DimSpec] = Nil,
            exprCols: Seq[(String, String)] = Nil): Long =
    suppressRewrite {
    require(groupCols.nonEmpty, "rollup needs at least one group column")
    // an expression alias is either a derived GROUP KEY or a derived
    // MEASURE (sum(price * (1 - discount)) AS revenue — the TPC-H Q1
    // shape); either way it must be consumed somewhere
    require(exprCols.map(_._1).forall(n => groupCols.contains(n) ||
      measures.contains(n) || minMax.contains(n) || ndv.contains(n)),
      "every expression alias must appear among the group columns, " +
        "measures, min_max or ndv columns")
    val normFilter = filter.map(normalizePredicate).filter(_.nonEmpty)
    // dim key names ride the meta's separator alphabet — refuse the
    // three characters the encoding reserves (never real column names)
    dims.flatMap(d => d.keys.flatMap(k => Seq(k._1, k._2)))
      .find(k => k.exists(",+=".contains(_)))
      .foreach(k => throw new IllegalArgumentException(
        s"dim join key '$k' contains a reserved character (, + =)"))
    val version = srcVersionOf(srcPath)
    // pin every dim at ITS live version — refresh and the rewrite gate
    // on these, and a moved dim routes to the full-recompute fallback
    val pinned = dims.map(d => d.copy(version = Snapshot
      .currentVersion(d.path).getOrElse(throw new IllegalStateException(
        s"rollup dimension must be a versioned snapshot: ${d.path}"))))
    val joined = joinSource(spark, Snapshot.read(spark, srcPath), pinned)
    validateExprCols(joined, exprCols)
    val src = applyFilter(prepare(joined, exprCols), normFilter,
      validate = true)
    Snapshot.createOrReplace(
      withSketches(aggOf(src, groupCols, measures, minMax), src,
        groupCols, ndv, ndvK),
      tableDir(rollupDir), keepVersions = 1)
    writeMeta(rollupDir, Meta(version,
      Snapshot.currentVersion(tableDir(rollupDir)).getOrElse(0L),
      groupCols, measures, minMax, ndv, ndvK, normFilter, pinned,
      exprCols))
    recordPurgeBaseline(rollupDir, srcPath, pinned)
    // group-row count from the store's parquet footers (the dir was
    // just written flat — no sidecars): same number as
    // read(...).count(), no Spark job (guide §1.2: don't re-compute
    // what a metadata read already knows)
    Snapshot.parquetFooterRowCount(tableDir(rollupDir))
  }

  /** PURGE-RACE GUARD (r19): baseline [[Snapshot.purgeEpoch]] values
    * of the source and every dim, recorded when the store is built or
    * refreshed. `erase` and `expire_snapshots` change file content /
    * layout while deliberately preserving version numbers — invisible
    * to every version-keyed freshness check — so a compensation
    * window priced ACROSS one could mis-serve (the store aggregates
    * rows the erase purged) or chase deleted files. [[compensated]]
    * refuses to base when any epoch moved since the last
    * build/refresh; a refresh (which re-prices under the post-purge
    * state) or rebuild re-records and re-arms. In-JVM, matching the
    * epochs it mirrors — a missing record reads as epoch 0, so a
    * purge in this JVM refuses even stores built by an earlier one. */
  private val purgeBaselines =
    new scala.collection.concurrent.TrieMap[String, Map[String, Long]]
  private def recordPurgeBaseline(rollupDir: String, srcPath: String,
                                  dims: Seq[DimSpec]): Unit =
    purgeBaselines.put(rollupDir,
      (srcPath +: dims.map(_.path))
        .map(p => p -> Snapshot.purgeEpoch(p)).toMap)
  private def purgeRaced(rollupDir: String, srcPath: String,
                         dims: Seq[DimSpec]): Boolean = {
    val rec = purgeBaselines.getOrElse(rollupDir, Map.empty)
    (srcPath +: dims.map(_.path)).exists(p =>
      Snapshot.purgeEpoch(p) != rec.getOrElse(p, 0L))
  }

  /** Refresh commit marker: `rollup-to-v<factV>` for a plain rollup,
    * `rollup-to-v<factV>+d<v1>,<v2>,…` for a star one (one version
    * per joined dim, build order) — the crash-replay record of HOW
    * FAR every window was applied. */
  private def markerOf(factV: Long, dimVs: Seq[Long]): String =
    s"rollup-to-v$factV" +
      (if (dimVs.isEmpty) "" else s"+d${dimVs.mkString(",")}")

  /** The (fact, dims) versions the LATEST marker commit recorded —
    * the replay detector: commits on the rollup table past the meta's
    * `rollupVersion` that carry one were applied by a refresh that
    * died before its meta write (versions only advance, so the newest
    * commit's marker is the applied frontier). */
  private def appliedThrough(rollupDir: String,
                             m: Meta): (Long, Seq[Long]) = {
    val pinned = m.dims.map(_.version)
    Snapshot.morVersions(tableDir(rollupDir))
      .filter(_ > m.rollupVersion).sorted.reverse
      .flatMap(v => Snapshot.operationOf(tableDir(rollupDir), v))
      .collectFirst { case op if op.startsWith("rollup-to-v") =>
        val body = op.stripPrefix("rollup-to-v")
        val (f, ds) = body.split("\\+d", 2) match {
          case Array(fv, dvs) =>
            (fv.toLong, dvs.split(",").toSeq.map(_.toLong))
          case _ => (body.toLong, Seq.empty[Long])
        }
        (math.max(f, m.srcVersion),
          pinned.zipWithIndex.map { case (dv, i) =>
            if (i < ds.length) math.max(ds(i), dv) else dv })
      }
      .getOrElse((m.srcVersion, pinned))
  }

  /** Apply the source commits since the rollup last saw it — cost
    * O(window delta), never a source scan (see the object doc for the
    * exactness contract).
    *
    * READ-TAX BOUND: each refresh stacks one delete+append sidecar on
    * the rollup table; a per-batch maintenance loop (ST10) would grow
    * the read's merge cost without bound. When the stacked commit
    * count reaches `compactAfterCommits` the table auto-compacts
    * (best-effort, AFTER the meta stamp — the applied-window markers
    * it erases are only needed for crashes that predate the stamp),
    * the `write.mor.compact-after-commits` sawtooth contract.
    * @return touched group count */
  def refresh(spark: SparkSession, srcPath: String,
              rollupDir: String,
              compactAfterCommits: Int = 64): Long = {
    val n = refreshInner(spark, srcPath, rollupDir, compactAfterCommits)
    // the refresh priced (or confirmed empty) every window under the
    // CURRENT file layout — re-arm stale-serve compensation past any
    // prior erase/expire
    meta(rollupDir).foreach(mm =>
      recordPurgeBaseline(rollupDir, srcPath, mm.dims))
    n
  }

  private def refreshInner(spark: SparkSession, srcPath: String,
                           rollupDir: String,
                           compactAfterCommits: Int): Long =
    suppressRewrite {
    val (m, version) = open(rollupDir, srcPath)
    // every window is BOUNDED by the versions captured here — a
    // commit landing after the capture waits for the next refresh
    val dimUntil = m.dims.map(d =>
      Snapshot.currentVersion(d.path).getOrElse(
        throw new IllegalStateException(
          s"rollup dimension must be a versioned snapshot: ${d.path}")))
    if (version == m.srcVersion &&
        m.dims.zip(dimUntil).forall { case (d, u) => u == d.version })
      return 0L
    // a crashed refresh's commit carries its window ends in the
    // operation marker — resume AFTER them, never re-applying
    val (since, dimSince) = appliedThrough(rollupDir, m)
    if (since >= version &&
        m.dims.indices.forall(i => dimSince(i) >= dimUntil(i))) {
      writeMeta(rollupDir, m.copy(srcVersion = since,
        dims = m.dims.zip(dimSince).map { case (d, v) =>
          d.copy(version = v) },
        rollupVersion = Snapshot
          .currentVersion(tableDir(rollupDir)).getOrElse(0L)))
      return 0L
    }
    // a copy-on-write rebase on EITHER side voids the per-commit
    // deltas — the recompute is the honest path
    if (since < version)
      Snapshot.commitsSince(srcPath, since, Some(version)) match {
        case Snapshot.CommitWindow.Rebased(base) =>
          throw new UnpriceableWindowException(
            s"rollup over $srcPath cannot refresh: a copy-on-write " +
              s"commit re-based the source (base v$base) and the " +
              "per-commit deltas are gone — rebuild the rollup")
        case _ => ()
      }
    m.dims.zipWithIndex.foreach { case (d, i) =>
      if (dimSince(i) < dimUntil(i))
        Snapshot.commitsSince(d.path, dimSince(i),
            Some(dimUntil(i))) match {
          case Snapshot.CommitWindow.Rebased(base) =>
            throw new UnpriceableWindowException(
              s"rollup over $srcPath cannot refresh: dimension " +
                s"${d.path} was re-based (base v$base) and its " +
                "per-commit deltas are gone — rebuild the rollup")
          case _ => ()
        }
    }
    // EQUALITY-DELETE window: the engine's DEFAULT delete mode
    // (`write.mor.deletes = equality`) removes every identical row
    // instance, a count the signed-delta path below cannot price —
    // route to the affected-group re-derive instead of raising:
    // discover the touched groups from the window sidecars (plus the
    // as-of-start resolution for identifier-scoped sidecars) and
    // recompute exactly those groups from the source as of the
    // window end — the discipline min/max already uses under
    // deletes, extended to every maintained aggregate.
    //
    // A moved dim in the SAME window TELESCOPES fact-first instead of
    // recomputing: phase 1 re-derives the fact window against dims
    // pinned at their window STARTS (exact — the store then equals
    // Agg(F' ⋈ D_start); the touched-group discovery and the
    // re-derive read the SAME pinned dims, so the restriction is
    // consistent), phase 2 re-enters refresh with the fact now
    // static and only the dims behind, which is precisely the signed
    // path's Σi F' ⋈ ΔDi ⋈ … dim-term shape. Each phase's commit is
    // a valid durable state: the marker advances the fact window
    // first, so a crash between phases resumes at the dim phase.
    if (since < version &&
        Snapshot.windowHasEqualityDeletes(srcPath, since, version)) {
      val dimsMoved = m.dims.indices.exists(i =>
        dimSince(i) < dimUntil(i))
      val n1 = refreshRederive(spark, srcPath, rollupDir, m, since,
        version, dimSince,
        if (dimsMoved) 0 else compactAfterCommits)
      return if (!dimsMoved) n1
        else n1 + refresh(spark, srcPath, rollupDir,
          compactAfterCommits)
    }
    // DIM-side EQUALITY window (r17): a dimension maintained by keyed
    // CDC MERGE/DELETE under the engine's default delete mode carries
    // equality sidecars — the signed ΔDi term below cannot price them
    // per-instance (windowRowDelta would raise and the MV REFRESH
    // surface paid a full rebuild EVERY refresh interval, the most
    // common star-schema CDC pattern). Route to the dim-side
    // affected-group re-derive instead: groups whose fact rows join
    // any CHANGED dim row (appends ∪ delete images, a superset) —
    // under the OLD dim state or the NEW (a deleted dim row's groups
    // only surface via the start join; a new row's via the end join)
    // — recompute from the fact joined to dims at their window ENDS.
    // O(dim window delta + fact rows hitting changed dim keys +
    // affected groups' rows), never O(table).
    //
    // A fact window in the SAME refresh telescopes fact-first, same
    // discipline as above: phase 1 applies the signed fact term with
    // every dim pinned at its window START (`dimTarget = dimSince` —
    // the dim-term loop never fires and the marker advances the fact
    // window first, so a crash between phases resumes at the dim
    // phase), phase 2 re-enters with the fact static.
    val dimHasEq = m.dims.indices.map(i =>
      dimSince(i) < dimUntil(i) &&
        Snapshot.windowHasEqualityDeletes(m.dims(i).path, dimSince(i),
          dimUntil(i)))
    val anyDimEq = dimHasEq.exists(identity)
    if (anyDimEq && since >= version)
      return refreshDimRederive(spark, srcPath, rollupDir, m, version,
        dimSince, dimUntil, compactAfterCommits)
    val dimTarget = if (anyDimEq) dimSince else dimUntil
    // SIGNED ROW DELTAS of the joined view — the telescoped join-view
    // identity (Gupta & Mumick): with F' = F+ΔF and Di' = Di+ΔDi,
    //   F'⋈D1'⋈…⋈Dn' − F⋈D1⋈…⋈Dn
    //     = ΔF ⋈ D1 ⋈ … ⋈ Dn                (dims AS OF window START)
    //     + Σi F' ⋈ D1' ⋈ … ⋈ ΔDi ⋈ … ⋈ Dn  (dims before i at their
    //       window END, after i at their START — every joined row
    //       change counted exactly once)
    // The fact term is O(fact window); a dim term pays ONE bounded
    // fact read joined to the (small) dim delta — far from the full
    // rebuild (no full join, no full re-aggregation, no store
    // rewrite), and paid only when that dim actually moved. A plain
    // rollup (dims = Nil) reduces to the single fact term.
    val plusParts = Seq.newBuilder[DataFrame]
    val minusParts = Seq.newBuilder[DataFrame]
    if (since < version) {
      val (fp, fm) = Snapshot.windowRowDelta(spark, srcPath, since,
        version, "rollup")
      val startDims = m.dims.zip(dimSince).map { case (d, v) =>
        dimAsOf(spark, rollupDir, d, v) }
      plusParts += joinWith(fp, m.dims, startDims)
      minusParts += joinWith(fm, m.dims, startDims)
    }
    lazy val factLive = Snapshot.readAsOf(spark, srcPath, version)
    m.dims.zipWithIndex.foreach { case (d, i) =>
      if (dimSince(i) < dimTarget(i)) {
        val (dp, dm) = Snapshot.windowRowDelta(spark, d.path,
          dimSince(i), dimTarget(i), "rollup dimension")
        // scan-pruning lever for the fact read: only fact rows whose
        // join key HITS the (small) dim delta can contribute, so an
        // IN filter of the delta's first-key values pushes to the
        // parquet scan and prunes row groups by footer min/max — a
        // conservative superset for multi-key dims; an oversized key
        // set (a hot dimension) falls back to the in-plan BLOOM
        // prune (still O(matching rows) read, never O(table)), an
        // empty delta to a constant-folded empty read
        def prunedFact(delta: DataFrame): DataFrame = {
          val (fk, dk) = d.keys.head
          val vals = delta.select(col(dk)).distinct()
            .limit(maxDimDeltaKeys + 1).collect().map(_.get(0))
          if (vals.isEmpty) factLive.filter(lit(false))
          else if (vals.length > maxDimDeltaKeys)
            bloomPruned(factLive, fk, delta, dk)
          else factLive.filter(col(fk).isin(vals.toIndexedSeq: _*))
        }
        def chain(delta: DataFrame): DataFrame =
          joinWith(prunedFact(delta), m.dims, m.dims.indices.map { j =>
            if (j < i) dimAsOf(spark, rollupDir, m.dims(j), dimTarget(j))
            else if (j == i) delta
            else dimAsOf(spark, rollupDir, m.dims(j), dimSince(j))
          })
        plusParts += chain(dp)
        minusParts += chain(dm)
      }
    }
    // a PARTIAL rollup sees only matching rows — the window deltas
    // filter exactly as the build did (deterministic, row-local), so
    // out-of-predicate churn never touches the store; expression
    // group keys derive first (the predicate may reference them)
    // A window side checkpoints ONLY when it has several consumers
    // (uncheckpointed, the fact/dim window reads and join chains
    // would recompute per consumer, and per ndv column): `plus` also
    // feeds the per-group sketches when ndv columns exist; `minus`
    // also feeds the affected-group discovery when min/max or ndv
    // columns exist. A single-consumer side stays lazy — the signed
    // delta below materializes it exactly once inside its own
    // checkpoint, and the extra eager job (r19 profile: every such
    // job costs a full plan+schedule cycle) disappears. When both
    // sides checkpoint they do so CONCURRENTLY (guide §2.6) — the
    // two window subtrees are independent.
    val plusRaw = applyFilter(prepare(
      plusParts.result().reduce(_ unionByName _), m.exprCols), m.filter)
    val minusRaw = applyFilter(prepare(
      minusParts.result().reduce(_ unionByName _), m.exprCols), m.filter)
    val plusMulti = m.ndv.nonEmpty
    val minusMulti = m.minMax.nonEmpty || m.ndv.nonEmpty
    val (plus, minus) =
      if (plusMulti && minusMulti)
        inParallel(plusRaw.localCheckpoint(), minusRaw.localCheckpoint())
      else (if (plusMulti) plusRaw.localCheckpoint() else plusRaw,
            if (minusMulti) minusRaw.localCheckpoint() else minusRaw)
    val key = m.groupCols
    val sumCols = m.measures.map(mm => s"sum_$mm")
    val cntCols = m.measures.map(mm => s"cnt_$mm")
    // a store built by a pre-cnt_<m> version lacks the non-null
    // counts — maintenance cannot invent them; rebuild
    val storedCols = Snapshot.read(spark, tableDir(rollupDir)).columns
    cntCols.find(!storedCols.contains(_)).foreach(c =>
      throw new UnpriceableWindowException(
        s"rollup at $rollupDir predates per-measure non-null counts " +
          s"(missing $c) — rebuild the rollup"))
    // signed partial aggregates: appends count +1, deletes −1; the
    // merged group is old ⊎ (+delta) ⊎ (−delta) summed per column —
    // decimal addition/subtraction is exact and order-free. Min/max
    // are NOT subtractable: the minus side contributes nulls here,
    // and every group the window removed rows from recomputes its
    // min/max below.
    def signed(df: DataFrame, sign: Int): DataFrame = {
      var a = aggOf(df, key, m.measures, m.minMax)
      if (sign < 0) {
        a = a.withColumn("cnt", -col("cnt"))
        cntCols.foreach(c => a = a.withColumn(c, -col(c)))
        sumCols.foreach(c => a = a.withColumn(c, -col(c)))
        m.minMax.foreach { mm =>
          a = a.withColumn(s"min_$mm",
            lit(null).cast(a.schema(s"min_$mm").dataType))
          a = a.withColumn(s"max_$mm",
            lit(null).cast(a.schema(s"max_$mm").dataType))
        }
      }
      a
    }
    val dexprs = sum("cnt").as("cnt") +:
      (sumCols.map(c => sum(c).cast(DecimalType(27, 6)).as(c)) ++
        cntCols.map(c => sum(c).as(c)) ++
        m.minMax.flatMap(mm => Seq(
          min(col(s"min_$mm")).as(s"min_$mm"),
          max(col(s"max_$mm")).as(s"max_$mm"))))
    val delta0 = signed(plus, 1).unionByName(signed(minus, -1))
      .groupBy(key.map(col): _*)
      .agg(dexprs.head, dexprs.tail: _*)
    // plus-side sketches join the delta (the minus side contributes
    // none — sketches cannot forget; affected groups recompute below)
    val delta = withSketches(delta0, plus, key, m.ndv, m.ndvK)
      .localCheckpoint()
    // one key-projection row per delta row (delta is grouped by the
    // keys), so the touched-group count IS delta's count and the
    // projection re-reads delta's checkpointed blocks — no second
    // checkpoint, no second count job (r19)
    val touched = delta.select(key.map(col): _*)
    val n = delta.count()
    if (n > 0) {
      val old = nsJoin(Snapshot.read(spark, tableDir(rollupDir)),
        broadcast(touched), key, "left_semi")
      val mexprs = sum("cnt").cast("long").as("cnt") +:
        (sumCols.map(c =>
          sum(col(c)).cast(DecimalType(27, 6)).as(c)) ++
          cntCols.map(c => sum(col(c)).cast("long").as(c)) ++
          m.minMax.flatMap(mm => Seq(
            min(col(s"min_$mm")).as(s"min_$mm"),
            max(col(s"max_$mm")).as(s"max_$mm"))) ++
          m.ndv.map(c => sketchMerge(c, m.ndvK)))
      var merged = old.unionByName(delta)
        .groupBy(key.map(col): _*)
        .agg(mexprs.head, mexprs.tail: _*)
      // affected-group recompute for the NON-SUBTRACTABLE aggregates:
      // a deleted row may have BEEN the extremum (or a sketch member),
      // so every group the window removed rows from re-derives
      // min/max/sketches from the source AS OF the window end,
      // restricted to those groups — O(affected groups' rows) with
      // the filter pushed to the scan (the classic bound for
      // non-subtractable aggregates under deletes)
      if (m.minMax.nonEmpty || m.ndv.nonEmpty) {
        val minusG = minus.select(key.map(col): _*).distinct()
          .localCheckpoint()
        if (minusG.limit(1).count() > 0) {
          val recSrc = nsJoin(
            applyFilter(prepare(joinWith(
              pruneFactByGroups(
                Snapshot.readAsOf(spark, srcPath, version), minusG,
                key),
              m.dims,
              m.dims.zip(dimTarget).map { case (d, v) =>
                dimAsOf(spark, rollupDir, d, v) }), m.exprCols),
              m.filter),
            broadcast(minusG), key, "left_semi")
          // STRICT override for every minus-touched group — not a
          // coalesce: a touched group whose surviving values are all
          // null must surface null, not the stale merged value (which
          // may reflect deleted rows); an untouched group keeps its
          // arithmetic merge; a fully-deleted group's row is dropped
          // by the cnt filter regardless
          merged = nsJoin(merged,
            broadcast(minusG.withColumn("_r_touched", lit(true))),
            key, "left")
          if (m.minMax.nonEmpty) {
            val rexprs = m.minMax.flatMap(mm => Seq(
              min(col(mm)).as(s"_r_min_$mm"),
              max(col(mm)).as(s"_r_max_$mm")))
            val rec = recSrc.groupBy(key.map(col): _*)
              .agg(rexprs.head, rexprs.tail: _*)
            merged = nsJoin(merged, rec, key, "left")
            m.minMax.foreach { mm =>
              merged = merged
                .withColumn(s"min_$mm",
                  when(col("_r_touched"), col(s"_r_min_$mm"))
                    .otherwise(col(s"min_$mm")))
                .withColumn(s"max_$mm",
                  when(col("_r_touched"), col(s"_r_max_$mm"))
                    .otherwise(col(s"max_$mm")))
            }
            merged = merged.drop(m.minMax.flatMap(mm =>
              Seq(s"_r_min_$mm", s"_r_max_$mm")): _*)
          }
          if (m.ndv.nonEmpty) {
            val recSk = sketchFrame(recSrc, key, m.ndv, m.ndvK,
              prefix = "_r_ndvsk_")
            merged = nsJoin(merged, recSk, key, "left")
            m.ndv.foreach { c =>
              merged = merged.withColumn(s"ndvsk_$c",
                when(col("_r_touched"), col(s"_r_ndvsk_$c"))
                  .otherwise(col(s"ndvsk_$c")))
            }
            merged = merged.drop(m.ndv.map(c => s"_r_ndvsk_$c"): _*)
          }
          merged = merged.drop("_r_touched")
        }
      }
      merged = merged.localCheckpoint()
      val negative = (col("cnt") < 0) +:
        cntCols.map(c => col(c) < 0)
      if (merged.filter(negative.reduce(_ || _)).limit(1).count() > 0)
        throw new UnpriceableWindowException(
          s"rollup at $rollupDir went NEGATIVE on a group count — " +
            "the window subtracted rows the rollup never saw " +
            "(source history rewritten under the rollup?); rebuild")
      Snapshot.morCommit(spark, tableDir(rollupDir),
        deletes = Some(touched),
        appends = Some(merged.filter(col("cnt") > 0)),
        operation = markerOf(version, dimTarget))
    }
    writeMeta(rollupDir, m.copy(srcVersion = version,
      dims = m.dims.zip(dimTarget).map { case (d, v) =>
        d.copy(version = v) },
      rollupVersion =
        Snapshot.currentVersion(tableDir(rollupDir)).getOrElse(0L)))
    // phase 2 of the dim-eq telescoping: the fact term just landed
    // with dims pinned at their starts — re-enter for the dim windows
    // (its arm compacts; compacting between phases is wasted work)
    if (anyDimEq)
      return n + refresh(spark, srcPath, rollupDir, compactAfterCommits)
    if (Snapshot.compactIfStacked(spark, tableDir(rollupDir),
        compactAfterCommits))
      writeMeta(rollupDir, meta(rollupDir).get.copy(rollupVersion =
        Snapshot.currentVersion(tableDir(rollupDir)).getOrElse(0L)))
    n
  }

  /** Scan-pruning lever for an affected-group source read: push an
    * IN filter of the touched groups' values of the first group key
    * that IS a fact column (an expression or dim-side key cannot
    * prune the fact scan) — a conservative SUPERSET (the exact
    * restriction is the semi join downstream), but one that reaches
    * the parquet footers, so a fact CLUSTERED on the group key reads
    * O(affected groups' rows), not O(table). NULL group keys ride
    * along explicitly; an oversized value set falls back to the
    * in-plan BLOOM prune (same literal budget as the dim-delta
    * pruning; nulls hash consistently on both sides, so the null
    * group survives the bloom iff it was touched). */
  private def pruneFactByGroups(fact: DataFrame, groups: DataFrame,
                                groupCols: Seq[String]): DataFrame =
    groupCols.find(fact.columns.contains).fold(fact) { k =>
      val vals = groups.select(col(k)).distinct()
        .limit(maxDimDeltaKeys + 1).collect().map(_.get(0))
      if (vals.isEmpty) fact.filter(lit(false))
      else if (vals.length > maxDimDeltaKeys)
        bloomPruned(fact, k, groups, k)
      else {
        val nn = vals.filter(_ != null).toIndexedSeq
        if (nn.isEmpty) fact.filter(col(k).isNull)
        else {
          val in = col(k).isin(nn: _*)
          fact.filter(
            if (nn.length < vals.length) in || col(k).isNull else in)
        }
      }
    }

  /** The EQUALITY-window refresh arm — affected-group re-derive:
    * every group the window could have touched (groups of the raw
    * window appends ∪ groups of the deleted rows' images,
    * [[Snapshot.windowDeleteImages]]) is deleted from the store and
    * recomputed from the source AS OF the window end, restricted to
    * those groups — trivially exact (per touched group it IS the
    * full recompute), O(window delta) discovery + O(affected groups'
    * rows) re-derive, never an unrestricted source aggregation. The
    * reference's CDC workload deletes by key
    * (`merge_orders_silver.py:139` op='d'), which is exactly this
    * window shape on a default-configured (`write.mor.deletes =
    * equality`) table. Dims must be static across the window
    * (checked by the caller); the marker/meta/compaction discipline
    * is [[refresh]]'s. */
  private def refreshRederive(spark: SparkSession, srcPath: String,
                              rollupDir: String, m: Meta, since: Long,
                              version: Long, dimUntil: Seq[Long],
                              compactAfterCommits: Int): Long = {
    val key = m.groupCols
    requireCntCols(spark, rollupDir, m)
    val deleted = Snapshot.windowDeleteImages(spark, srcPath, since,
      version, "rollup")
    val appended = Snapshot.windowAppendRows(spark, srcPath, since,
      version, "rollup")
    val pinnedDims = m.dims.zip(dimUntil).map { case (d, v) =>
      dimAsOf(spark, rollupDir, d, v) }
    def groupsOf(rows: DataFrame): DataFrame =
      applyFilter(prepare(joinWith(rows, m.dims, pinnedDims),
        m.exprCols), m.filter).select(key.map(col): _*)
    val touched = groupsOf(deleted).unionByName(groupsOf(appended))
      .distinct().localCheckpoint()
    rederiveGroups(spark, srcPath, rollupDir, m, version, dimUntil,
      pinnedDims, touched, compactAfterCommits)
  }

  /** The DIM-side equality-window refresh arm (the fact is static —
    * [[refresh]] telescopes a moved fact first): a dimension
    * maintained by keyed CDC MERGE/DELETE under the engine's default
    * `write.mor.deletes = equality` writes sidecars the signed ΔDi
    * term cannot price per-instance; instead, re-derive the groups
    * its changes could have touched. Discovery: each moved dim's
    * CHANGED-ROW superset (raw window appends ∪ resolved delete
    * images, [[Snapshot.windowDeleteImages]]) keys a restriction of
    * the fact — only fact rows joining a changed dim row can change
    * their group's value — and those rows' groups are collected under
    * BOTH the start-pinned and end-pinned dim joins (a deleted dim
    * row's groups only surface via the start join; an appended row's
    * via the end join; a replaced row via both). The touched groups
    * then recompute from the fact joined to every dim at its window
    * END — per group it IS the full recompute, so exactness is by
    * construction. O(dim window delta + fact rows hitting changed
    * keys + affected groups' rows), with the fact scan IN-pruned by
    * the changed keys when they fit the literal budget. Handles ALL
    * moved dims uniformly (an eq-window dim alongside a
    * position-window dim re-derives both — exact either way). */
  private def refreshDimRederive(spark: SparkSession, srcPath: String,
                                 rollupDir: String, m: Meta,
                                 version: Long, dimSince: Seq[Long],
                                 dimUntil: Seq[Long],
                                 compactAfterCommits: Int): Long = {
    val key = m.groupCols
    requireCntCols(spark, rollupDir, m)
    val factLive = Snapshot.readAsOf(spark, srcPath, version)
    val startDims = m.dims.zip(dimSince).map { case (d, v) =>
      dimAsOf(spark, rollupDir, d, v) }
    val endDims = m.dims.zip(dimUntil).map { case (d, v) =>
      dimAsOf(spark, rollupDir, d, v) }
    val touchedFact =
      dimTouchedFact(spark, factLive, m, dimSince, dimUntil)
    def groupsOf(dimFrames: Seq[DataFrame]): DataFrame =
      applyFilter(prepare(joinWith(touchedFact, m.dims, dimFrames),
        m.exprCols), m.filter).select(key.map(col): _*)
    val touched = groupsOf(startDims).unionByName(groupsOf(endDims))
      .distinct().localCheckpoint()
    rederiveGroups(spark, srcPath, rollupDir, m, version, dimUntil,
      endDims, touched, compactAfterCommits)
  }

  /** Fact rows (as of the caller's fact version) whose join key HITS
    * any CHANGED row of a moved dimension — the dim-side
    * affected-group discovery restriction [[refreshDimRederive]] and
    * [[compensated]] share. Per moved dim: the changed-row superset
    * (raw window appends ∪ resolved delete images) keys the fact read
    * — footer-level IN prune on the first key when the key set fits
    * the literal budget, the in-plan bloom prune past it, the semi
    * join the exact restriction either way. O(dim window delta + fact
    * rows hitting changed keys), never O(fact). */
  private def dimTouchedFact(spark: SparkSession, factLive: DataFrame,
                             m: Meta, dimSince: Seq[Long],
                             dimUntil: Seq[Long]): DataFrame =
    m.dims.indices
      .filter(i => dimSince(i) < dimUntil(i)).map { i =>
        val d = m.dims(i)
        val changed = Snapshot.windowAppendRows(spark, d.path,
            dimSince(i), dimUntil(i), "rollup dimension")
          .unionByName(Snapshot.windowDeleteImages(spark, d.path,
            dimSince(i), dimUntil(i), "rollup dimension"))
        // a null join key never matches the inner join — it cannot
        // affect any group, so the key set drops nulls outright
        val keysDf = changed
          .select(d.keys.map { case (_, dk) => col(dk) }: _*)
          .na.drop("any").distinct().localCheckpoint()
        val (fk0, dk0) = d.keys.head
        val vals = keysDf.select(col(dk0)).distinct()
          .limit(maxDimDeltaKeys + 1).collect().map(_.get(0))
        // footer-level prune on the first key when it fits the
        // budget, the in-plan bloom prune past it; the semi below is
        // the exact restriction either way
        val pruned =
          if (vals.isEmpty) factLive.filter(lit(false))
          else if (vals.length > maxDimDeltaKeys)
            bloomPruned(factLive, fk0, keysDf, dk0)
          else factLive.filter(col(fk0).isin(vals.toIndexedSeq: _*))
        val semiKeys =
          if (vals.length <= maxDimDeltaKeys) broadcast(keysDf)
          else keysDf
        val cond = d.keys.map { case (fk, dk) =>
          pruned(fk) === semiKeys(dk) }.reduce(_ && _)
        pruned.join(semiKeys, cond, "left_semi")
      }
      .reduce(_ unionByName _).localCheckpoint()

  /** A store built by a pre-`cnt_<m>` engine version cannot take
    * re-derived rows carrying the non-null counts — rebuild. */
  private def requireCntCols(spark: SparkSession, rollupDir: String,
                             m: Meta): Unit = {
    val storedCols = Snapshot.read(spark, tableDir(rollupDir)).columns
    m.measures.map(mm => s"cnt_$mm")
      .find(!storedCols.contains(_)).foreach(c =>
        throw new UnpriceableWindowException(
          s"rollup at $rollupDir predates per-measure non-null " +
            s"counts (missing $c) — rebuild the rollup"))
  }

  /** Shared re-derive tail: recompute `touched` groups from the fact
    * AS OF `version` joined to `pinnedDims`, upsert them through ONE
    * MOR commit (delete the groups' old rows, append the re-summed
    * ones — a fully-vanished group appends nothing and its store row
    * dies with the delete arm), stamp the meta, compact past the
    * sawtooth threshold. Exact per touched group by construction. */
  private def rederiveGroups(spark: SparkSession, srcPath: String,
                             rollupDir: String, m: Meta, version: Long,
                             dimUntil: Seq[Long],
                             pinnedDims: Seq[DataFrame],
                             touched: DataFrame,
                             compactAfterCommits: Int): Long = {
    val key = m.groupCols
    val n = touched.count()
    if (n > 0) {
      val recSrc = nsJoin(
        applyFilter(prepare(joinWith(
          pruneFactByGroups(
            Snapshot.readAsOf(spark, srcPath, version), touched, key),
          m.dims, pinnedDims), m.exprCols), m.filter),
        broadcast(touched), key, "left_semi")
      val rec = withSketches(
        aggOf(recSrc, key, m.measures, m.minMax), recSrc, key,
        m.ndv, m.ndvK)
      Snapshot.morCommit(spark, tableDir(rollupDir),
        deletes = Some(touched), appends = Some(rec),
        operation = markerOf(version, dimUntil))
    }
    writeMeta(rollupDir, m.copy(srcVersion = version,
      dims = m.dims.zip(dimUntil).map { case (d, v) =>
        d.copy(version = v) },
      rollupVersion =
        Snapshot.currentVersion(tableDir(rollupDir)).getOrElse(0L)))
    if (Snapshot.compactIfStacked(spark, tableDir(rollupDir),
        compactAfterCommits))
      writeMeta(rollupDir, meta(rollupDir).get.copy(rollupVersion =
        Snapshot.currentVersion(tableDir(rollupDir)).getOrElse(0L)))
    n
  }

  /** STALE-SERVE COMPENSATION (r18, widened r19): the maintained
    * store ⊎ the signed window delta, as ONE LAZY PLAN equal to the
    * refreshed store — what the always-on MV rewrite serves when the
    * base (or, since r19, a joined DIMENSION) moved past the store's
    * stamp (DBToaster/Calcite's compensation move). Under a
    * continuous-CDC cadence (the reference commits a micro-batch
    * every run, `/root/reference/jobs/merge_orders_silver.py`) a
    * fresh-only rewrite is off almost always; this keeps it on
    * between refreshes with zero store mutation at plan time.
    *
    * Window → arm:
    *  - FACT APPEND-ONLY, dims pinned: `Σ(store ⊎ +Δ)` grouped by
    *    the keys with `cnt > 0` — exact for cnt/sum/cnt_<m> (decimal
    *    addition commutes), for min/max (merge = min-of-mins), and —
    *    with `withNdv` — for the KMV sketches (merge = distinct-∪
    *    keep-k, the same [[sketchMerge]] refresh applies, so the
    *    compensated sketch is BIT-IDENTICAL to the refreshed one).
    *    Reads the store + append sidecars only.
    *  - FACT POSITION-DELETE window, dims pinned, store carries no
    *    min/max (nor requested sketches): the signed form
    *    `Σ(store ⊎ +Δ ⊎ −Δ)` with `cnt > 0` — exact per-instance,
    *    reads the store + window sidecars + the files position
    *    pairs reference.
    *  - EVERYTHING ELSE that is priceable — EQUALITY-delete windows
    *    (the engine's DEFAULT delete mode, i.e. the reference's own
    *    CDC MERGE shape), position windows on min/max- or
    *    sketch-bearing stores (r19 — the extremum may have been
    *    deleted, so those groups re-derive), and MOVED DIMENSIONS
    *    (r19 — the reference's dim-MERGE cadence), alone or combined
    *    with a fact window — compensates by the AFFECTED-GROUP form:
    *    `store ∖ touched ⊎ Agg(live fact ⋈ live dims restricted to
    *    touched)`, the lazy twin of [[refreshRederive]] /
    *    [[refreshDimRederive]]. Touched groups = groups of the fact
    *    window's changed rows (delete images ∪ appends) plus groups
    *    of fact rows hitting any moved dim's changed keys
    *    ([[dimTouchedFact]]) — each collected under BOTH the pinned
    *    (window-start) and live dim joins, so a re-segmented row
    *    voids its OLD and its NEW group. Exact for EVERY maintained
    *    column (per touched group it IS the full recompute). Past
    *    the IN-literal budget the store subtraction and the fact
    *    prune switch to the r18 in-plan BLOOM pattern (superset
    *    prune + exact join confirm) instead of refusing — a hot
    *    window still serves, O(store + window + affected groups'
    *    rows).
    *
    * None — the caller falls back to the base plan — when the window
    * is not compensation-priceable: more than `maxCommits` commits
    * behind SUMMED across the fact and every moved dim, a
    * copy-on-write rebase on either side, a pruned as-of version, a
    * rolled-back dim, or a pre-`cnt_<m>` store. Crash-replay safe:
    * windows start at the APPLIED frontier ([[appliedThrough]]), not
    * the meta stamp, so a refresh that died before its meta write
    * never double-counts. `withNdv` asks for the `ndvsk_<c>` sketch
    * columns (the [[readServe]] surface); the MV rewrite never
    * consumes them, so it leaves the flag off and skips the sketch
    * joins. Delete-bearing windows CAN carry sketches here — the
    * affected-group arm recomputes them outright (sketches cannot
    * forget, but a full per-group re-derive does not need to). */
  def compensated(spark: SparkSession, srcPath: String,
                  rollupDir: String, maxCommits: Int,
                  withNdv: Boolean = false)
      : Option[DataFrame] = suppressRewrite {
    try compensated0(spark, srcPath, rollupDir, maxCommits, withNdv)
    catch { case _: UnpriceableWindowException => None }
  }

  private def compensated0(spark: SparkSession, srcPath: String,
                           rollupDir: String, maxCommits: Int,
                           withNdv: Boolean): Option[DataFrame] = {
    val m = meta(rollupDir).getOrElse(return None)
    // an erase/expire since the last build/refresh changed files
    // under versions the window pricing trusts — refuse to base
    // until a refresh re-prices under the post-purge layout
    if (purgeRaced(rollupDir, srcPath, m.dims)) return None
    val version = Snapshot.currentVersion(srcPath).getOrElse(
      return None)
    val (since, dimSince) = appliedThrough(rollupDir, m)
    val dimLive = m.dims.map(d =>
      Snapshot.currentVersion(d.path).getOrElse(return None))
    // a dim BEHIND the store's pin is a rollback under the store —
    // not a forward window; refuse to base
    if (m.dims.indices.exists(i => dimLive(i) < dimSince(i)))
      return None
    val store = Snapshot.read(spark, tableDir(rollupDir))
    val cntCols = m.measures.map(mm => s"cnt_$mm")
    if (cntCols.exists(c => !store.columns.contains(c))) return None
    if (withNdv &&
        m.ndv.exists(c => !store.columns.contains(s"ndvsk_$c")))
      return None
    val factMoved = since < version
    val dimsMoved =
      m.dims.indices.exists(i => dimSince(i) < dimLive(i))
    val (appendOnly, eqWindow) =
      if (!factMoved) (true, false)
      else Snapshot.commitsSince(srcPath, since, Some(version)) match {
        case Snapshot.CommitWindow.Rebased(_) => return None
        case Snapshot.CommitWindow.FastAppends(_) => (true, false)
        case Snapshot.CommitWindow.CarriesDeletes(_) =>
          (false, Snapshot.windowHasEqualityDeletes(srcPath, since,
            version))
      }
    m.dims.indices.foreach { i =>
      if (dimSince(i) < dimLive(i))
        Snapshot.commitsSince(m.dims(i).path, dimSince(i),
            Some(dimLive(i))) match {
          case Snapshot.CommitWindow.Rebased(_) => return None
          case _ => ()
        }
    }
    // ONE staleness budget across the fact and every moved dim
    val windowCommits =
      Snapshot.morVersions(srcPath)
        .count(v => v > since && v <= version) +
        m.dims.indices.map(i => Snapshot.morVersions(m.dims(i).path)
          .count(v => v > dimSince(i) && v <= dimLive(i))).sum
    if (windowCommits > maxCommits) return None
    val key = m.groupCols
    // the affected-group arm serves every maintained column; the
    // signed arms carry min/max (and requested sketches) only when
    // appends alone moved the window (merge = min-of-mins / ∪)
    val affected = dimsMoved || eqWindow ||
      (factMoved && !appendOnly &&
        (m.minMax.nonEmpty || (withNdv && m.ndv.nonEmpty)))
    val mmCols = if (affected || appendOnly) m.minMax else Nil
    val ndvCols =
      if (withNdv && (affected || appendOnly)) m.ndv else Nil
    val keep = key ++ Seq("cnt") ++
      m.measures.flatMap(mm => Seq(s"sum_$mm", s"cnt_$mm")) ++
      mmCols.flatMap(mm => Seq(s"min_$mm", s"max_$mm")) ++
      ndvCols.map(c => s"ndvsk_$c")
    val trimmed = store.select(keep.map(col): _*)
    // an applied frontier AT the live state (a refresh crashed
    // between its commit and its meta write) compensates with an
    // empty window: the store rows ARE current
    if (!factMoved && !dimsMoved) {
      trimmed.queryExecution.assertAnalyzed()
      return Some(trimmed)
    }
    val liveDims = m.dims.map(d => Snapshot.read(spark, d.path))
    if (affected) {
      // AFFECTED-GROUP compensation — the lazy refresh re-derive;
      // the touched groups are discovered ONCE here (the plan caches
      // per store+version signature, so a dashboard re-issuing
      // queries between refreshes pays the discovery once)
      val startDims = m.dims.zip(dimSince).map { case (d, v) =>
        dimAsOf(spark, rollupDir, d, v) }
      def groupsUnder(rows: DataFrame,
                      dims: Seq[DataFrame]): DataFrame =
        applyFilter(prepare(joinWith(rows, m.dims, dims), m.exprCols),
          m.filter).select(key.map(col): _*)
      val factLive = Snapshot.readAsOf(spark, srcPath, version)
      val parts = Seq.newBuilder[DataFrame]
      if (factMoved) {
        val changed = Snapshot.windowDeleteImages(spark, srcPath,
            since, version, "stale-serve compensation")
          .unionByName(Snapshot.windowAppendRows(spark, srcPath,
            since, version, "stale-serve compensation"))
        // a changed fact row's OLD group surfaces under the pinned
        // dims, its NEW group under the live ones (identical frames
        // when no dim moved — skip the duplicate pass then)
        parts += groupsUnder(changed, startDims)
        if (dimsMoved) parts += groupsUnder(changed, liveDims)
      }
      if (dimsMoved) {
        val touchedFact =
          dimTouchedFact(spark, factLive, m, dimSince, dimLive)
        parts += groupsUnder(touchedFact, startDims)
        parts += groupsUnder(touchedFact, liveDims)
      }
      val touched0 = parts.result().reduce(_ unionByName _).distinct()
      val touchedRows = touched0.limit(maxDimDeltaKeys + 1).collect()
      val overBudget = touchedRows.length > maxDimDeltaKeys
      val touched =
        if (!overBudget)
          spark.createDataFrame(
            java.util.Arrays.asList(touchedRows: _*),
            org.apache.spark.sql.types.StructType(
              touched0.schema.fields))
        else touched0.localCheckpoint()
      // store-side subtraction: broadcast anti within the literal
      // budget; past it (a HOT window — r19) the r18 BLOOM pattern
      // instead of refusing: rows missing the bloom are untouched by
      // construction (no false negatives), bloom hits take the exact
      // anti-join, so only the touched fraction of the store
      // shuffles
      val untouched =
        if (!overBudget)
          nsJoin(trimmed, broadcast(touched), key, "left_anti")
        else {
          val mightBe = graft.ext.BloomJoin.mightMatch(
            touched.select(col(key.head)), key.head, col(key.head),
            expectedItems = 1L << 22)
          trimmed.filter(!mightBe)
            .unionByName(nsJoin(trimmed.filter(mightBe), touched,
              key, "left_anti"))
        }
      val recSrc = nsJoin(
        applyFilter(prepare(joinWith(
          pruneFactByGroups(factLive, touched, key),
          m.dims, liveDims), m.exprCols), m.filter),
        if (overBudget) touched else broadcast(touched),
        key, "left_semi")
      val rec = withSketches(
          aggOf(recSrc, key, m.measures, mmCols), recSrc, key,
          ndvCols, m.ndvK)
        .select(keep.map(col): _*)
      val merged = untouched.unionByName(rec)
      merged.queryExecution.assertAnalyzed()
      return Some(merged)
    }
    // SIGNED arms — dims are PINNED-AND-LIVE here (a moved dim
    // routes to the affected arm above), so the window joins the
    // live dim frames: the same chain build aggregated
    def prep(df: DataFrame): DataFrame =
      applyFilter(prepare(joinWith(df, m.dims, liveDims),
        m.exprCols), m.filter)
    val (fp, fm) = Snapshot.windowRowDelta(spark, srcPath, since,
      version, "stale-serve compensation")
    def signed(df: DataFrame, sign: Int): DataFrame = {
      val src = prep(df)
      var a = withSketches(aggOf(src, key, m.measures, mmCols), src,
        key, ndvCols, m.ndvK)
      if (sign < 0) {
        a = a.withColumn("cnt", -col("cnt"))
        cntCols.foreach(c => a = a.withColumn(c, -col(c)))
        m.measures.foreach(mm => a = a.withColumn(s"sum_$mm",
          -col(s"sum_$mm")))
      }
      a.select(keep.map(col): _*)
    }
    val delta =
      if (appendOnly) signed(fp, 1)
      else signed(fp, 1).unionByName(signed(fm, -1))
    val cexprs = sum("cnt").cast("long").as("cnt") +:
      (m.measures.flatMap(mm => Seq(
        sum(col(s"sum_$mm")).cast(DecimalType(27, 6)).as(s"sum_$mm"),
        sum(col(s"cnt_$mm")).cast("long").as(s"cnt_$mm"))) ++
        mmCols.flatMap(mm => Seq(
          min(col(s"min_$mm")).as(s"min_$mm"),
          max(col(s"max_$mm")).as(s"max_$mm"))) ++
        ndvCols.map(c => sketchMerge(c, m.ndvK)))
    val merged = trimmed.unionByName(delta)
      .groupBy(key.map(col): _*)
      .agg(cexprs.head, cexprs.tail: _*)
      .filter(col("cnt") > 0)
    // force analysis HERE, under the rewrite suppression — the
    // caller reads `.queryExecution.analyzed` from inside the
    // rewrite rule itself
    merged.queryExecution.assertAnalyzed()
    Some(merged)
  }

  /** The maintained rollup, sums cast back to double (the storage is
    * exact DECIMAL so maintenance commutes; the read surface matches
    * the `CAST(SUM(CAST(… AS DECIMAL)) AS DOUBLE)` oracle idiom) and
    * each `ndvsk_<c>` sketch surfaced as the `ndv_<c>` KMV estimate
    * (m below k → exact m; else the unbiased (k−1)·2^60/h_k — the
    * same form [[graft.ext.Sketches.kmvDistinct]] serves). Raises
    * when the source moved past the maintained version — the
    * stats-serve-no-stale-plans discipline every derived artifact in
    * this engine follows. */
  def read(spark: SparkSession, srcPath: String,
           rollupDir: String): DataFrame = {
    val (m, version) = open(rollupDir, srcPath)
    if (version != m.srcVersion)
      throw new IllegalStateException(
        s"rollup at $rollupDir is STALE: it aggregates source version " +
          s"${m.srcVersion} but the live source is v$version — run " +
          "Rollup.refresh or rebuild")
    requireDimsPinned(rollupDir, m.dims)
    readSurface(Snapshot.read(spark, tableDir(rollupDir)), m)
  }

  /** The [[read]] column derivation over any store-shaped frame:
    * sums cast back to double, each `ndvsk_<c>` sketch surfaced as
    * the `ndv_<c>` KMV estimate and dropped. */
  private def readSurface(df: DataFrame, m: Meta): DataFrame = {
    val sums = m.measures.foldLeft(df) { (d, mm) =>
      d.withColumn(s"sum_$mm", col(s"sum_$mm").cast(DoubleType))
    }
    m.ndv.foldLeft(sums) { (d, c) =>
      val sk = col(s"ndvsk_$c")
      d.withColumn(s"ndv_$c",
          when(sk.isNull, lit(0.0))
            .when(size(sk) < m.ndvK, size(sk).cast("double"))
            .otherwise(lit((m.ndvK - 1).toDouble) *
              lit(graft.ext.Sketches.HashSpace) /
              element_at(sk, size(sk))))
        .drop(s"ndvsk_$c")
    }
  }

  /** The ALWAYS-LIVE read surface (r19): [[read]] when the store is
    * fresh, otherwise the stale-serve [[compensated]] plan — sketch
    * columns included (`withNdv`: KMV minima UNION exactly on append
    * windows, bit-identical to the refreshed store's merge, and the
    * affected-group arms recompute touched groups' sketches
    * outright) — surfaced through the same double-cast +
    * `ndv_<c>`-estimate derivation. A dashboard reading between CDC
    * micro-batches sees the LIVE answer at O(store + window) cost
    * with zero store mutation; an unpriceable or over-budget window
    * raises [[read]]'s staleness error (refresh or rebuild — never a
    * silently stale answer). */
  def readServe(spark: SparkSession, srcPath: String,
                rollupDir: String,
                maxStalenessCommits: Int = 16): DataFrame = {
    val (m, _) = open(rollupDir, srcPath)
    if (isFresh(rollupDir, srcPath))
      return read(spark, srcPath, rollupDir)
    compensated(spark, srcPath, rollupDir, maxStalenessCommits,
        withNdv = true) match {
      case Some(df)
          if m.minMax.forall(mm => df.columns.contains(s"min_$mm")) &&
            m.ndv.forall(c => df.columns.contains(s"ndvsk_$c")) =>
        readSurface(df, m)
      case _ => throw new IllegalStateException(
        s"rollup at $rollupDir is STALE (source " +
          s"${Snapshot.currentVersion(srcPath).getOrElse(-1L)} vs " +
          s"stamped ${m.srcVersion}) and the window is not " +
          "compensation-priceable — run Rollup.refresh or rebuild")
    }
  }
}
