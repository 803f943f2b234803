package graft.ext

import graft.pipeline.{FsCommit, Par, Snapshot}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.graft.PruningBridge
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** The persisted-index lifecycle, one definition for the four index
  * families ([[PqIndex]], [[IvfIndex]], [[IvfPqIndex]], [[TextIndex]])
  * and the streaming maintainer. Each family is a set of component
  * snapshot tables beside the corpus plus one atomic meta file, and
  * declares a [[Family]]; everything else is shared:
  *
  *  - **build** ([[Family.commitBuild]]): one build token rides every
  *    component commit and the meta, so a reader can tell a
  *    half-finished rebuild from a finished one.
  *  - **open** ([[Family.open]]): every refresh, rebalance, search and
  *    phrase count starts here — the meta or "build first", the live
  *    corpus version or "requires a versioned corpus snapshot"; a read
  *    also refuses a STALE index (the corpus moved past the version
  *    the meta stamps) and a MID-REBUILD one (a component carries a
  *    build token other than the meta's: a rebuild is in flight, or
  *    died between its swaps or before its meta write).
  *  - **refresh**: the row-level CHANGES to the corpus since the
  *    version the index last saw, WITHOUT re-scanning the corpus
  *    ([[changesSince]]), applied as ONE MOR commit per component
  *    table with an upsert crash replay ([[windowApply]]; the
  *    single-table families run the whole body,
  *    [[Family.refreshTable]]), then the meta re-stamp.
  *  - **shared ANN read steps**: the PQ-book decode ([[readBook]]),
  *    the exact rerank against the corpus ([[rerank]]), the
  *    fragment-pruned cell probe ([[probeCells]]) and the cell-size
  *    drift gate ([[driftRebalance]]).
  *
  * The change discovery is version-window driven
  * ([[Snapshot.commitsSince]]):
  *  - **fast-append window** (the normal append path, incl. every
  *    streaming micro-batch): the delta IS the union of the window's
  *    append-sidecar dirs — O(appended rows), zero base-table reads,
  *    at any corpus size.
  *  - **delete-carrying window**: rows were removed or updated; the
  *    change set comes from the window's DELETE SIDECARS
  *    ([[Snapshot.windowChanges]]) — equality-delete files carry the
  *    keys directly, position-delete pairs resolve against only the
  *    files they reference — so the index PROPAGATES the deletes as a
  *    key-scoped equality delete on its own MOR table, still
  *    O(window delta), never O(corpus). An updated vector is a
  *    delete-then-append in one index commit (the upsert shape
  *    [[Snapshot.applySidecars]]'s flush order guarantees).
  *  - **re-based window** (a copy-on-write replace/compaction landed):
  *    per-commit deltas are gone; recover the exact row-level diff via
  *    [[Snapshot.diff]] against the retained indexed version — the
  *    honest O(corpus) fallback, taken only when the corpus was
  *    rewritten. Deletes/updates in the diff propagate the same way.
  */
private[graft] object IndexDelta {

  /** Marker riding each component table's atomic commit: one build
    * writes the SAME token into every component and its meta, so a
    * reader can detect the window between two component swaps of a
    * rebuild (new centroids against old cells would return silently
    * wrong neighbors) and a rebuild that swapped everything but died
    * before its meta write (a new book sliced with the old geometry).
    * Layout-only rewrites (compaction) carry the token over. */
  private[graft] val BuildTokenFile = "_graft_index_build"

  private[graft] def newBuildToken(): String =
    java.util.UUID.randomUUID().toString

  /** The two fields the lifecycle reads off every family's meta. */
  trait Stamp {
    def corpusVersion: Long
    def buildToken: String
  }

  /** One write of a build's component table under the build token:
    * a plain snapshot swap, or Hive fragments when `partitionBy` is
    * given. `frame` is built inside the write, so a component may
    * read one an earlier wave of [[Family.commitBuild]] wrote. */
  def component(dir: String, partitionBy: String*)(frame: => DataFrame)
      : String => Unit = token =>
    if (partitionBy.isEmpty)
      Snapshot.createOrReplaceWithMeta(frame, dir, keepVersions = 1,
        BuildTokenFile, token)
    else
      Snapshot.createOrReplacePartitioned(frame, dir, partitionBy,
        keepVersions = 1, metaName = Some(BuildTokenFile),
        metaContent = token)

  /** One index family: its name in errors (`kind`), the object its
    * errors point to (`owner`), its meta file and field count, the
    * meta parser and the component dirs a read checks. */
  final class Family[M <: Product with Stamp](kind: String,
      owner: String, metaFile: String, fields: Int,
      parse: Array[String] => M, components: String => Seq[String]) {

    /** The meta; None when the index was never built. A field count
      * other than `fields` is an index persisted by an older format —
      * raise, asking for a rebuild. */
    def meta(indexDir: String): Option[M] =
      FsCommit.read(Paths.get(indexDir, metaFile)).map { text =>
        val p = text.trim.split("\\s+")
        if (p.length != fields) throw new IllegalStateException(
          s"$kind index meta at $indexDir has ${p.length} fields (this " +
            s"version writes $fields) — an index persisted by an older " +
            "format; rebuild it")
        parse(p)
      }

    /** Atomically write the meta: its fields in declaration order,
      * space-separated (booleans as 1/0). */
    def writeMeta(indexDir: String, m: M): Unit = {
      Files.createDirectories(Paths.get(indexDir))
      FsCommit.replace(Paths.get(indexDir, metaFile),
        m.productIterator.map {
          case b: Boolean => if (b) "1" else "0"
          case v => v.toString
        }.mkString("", " ", "\n"))
    }

    def corpusVersionOf(corpusPath: String): Long =
      Snapshot.currentVersion(corpusPath).getOrElse(
        throw new IllegalStateException(
          s"$kind index requires a versioned corpus snapshot at " +
            s"$corpusPath — the staleness contract pins index to " +
            "corpus version"))

    /** The open step of every refresh, rebalance and read. A read
      * (`read = true`) also refuses a STALE index and one whose
      * components do not all carry the meta's build token.
      * @return (meta, live corpus version) */
    def open(indexDir: String, corpusPath: String,
             read: Boolean): (M, Long) = {
      val m = meta(indexDir).getOrElse(throw new IllegalStateException(
        s"no $kind index at $indexDir (build first)"))
      val version = corpusVersionOf(corpusPath)
      if (read) {
        if (version != m.corpusVersion)
          throw new IllegalStateException(
            s"$kind index at $indexDir is STALE: it describes corpus " +
              s"version ${m.corpusVersion} but the live corpus is " +
              s"v$version — run $owner.refresh or rebuild")
        val foreign = components(indexDir).filterNot(d =>
          Snapshot.commitMeta(d, BuildTokenFile).contains(m.buildToken))
        if (foreign.nonEmpty)
          throw new IllegalStateException(
            s"$kind index at $indexDir is MID-REBUILD (a rebuild is in " +
              "flight, or died between its component swaps or before " +
              s"its meta write): $foreign do not carry the build token " +
              s"the meta records (${m.buildToken}) — retry once the " +
              "rebuild completes, or rebuild")
      }
      (m, version)
    }

    /** The build commit: draw one build token, write each wave's
      * components under [[Par.all]] (waves in order — a later wave
      * may read an earlier one), then write the meta `stamp` makes
      * of the token. */
    def commitBuild(indexDir: String, waves: Seq[String => Unit]*)
                   (stamp: String => M): Unit = {
      val token = IndexDelta.newBuildToken()
      waves.foreach(w => Par.all(w.map(write => () => write(token))))
      writeMeta(indexDir, stamp(token))
    }

    /** The refresh of a family whose corpus keys live in ONE MOR
      * component table (`tableDir`): open, return early when the
      * index already describes the live version, else discover the
      * changes of the window `(indexed, live]` and apply them to the
      * table as ONE commit — deleted corpus keys become a key-scoped
      * equality delete ([[Snapshot.applySidecars]] removes every index
      * row carrying the key), the net-appended rows land through
      * `encode` as the append arm; a window that both deletes and
      * appends a key upserts it (deletes flush before the same
      * commit's appends) — and re-stamp the meta with `restamp(meta,
      * live version, table version)`.
      *
      * Crash replay: when the table sits PAST the version the meta
      * recorded (`tableVersion` — a previous refresh committed, then
      * died before its meta write), the replay must not stack
      * duplicate entries — it self-heals as an UPSERT, deleting every
      * key this window touches (the crashed commit may have already
      * appended them) before re-appending. Still O(window delta); the
      * index table is never read.
      *
      * READ-TAX BOUND: every refresh stacks one MOR sidecar on the
      * index table; a long-running maintenance loop (ST9 streams a
      * refresh per micro-batch) would otherwise grow the read's merge
      * cost without bound. After the commit, when the stacked sidecar
      * count reaches `compactAfterCommits`, the table auto-compacts
      * through [[Snapshot.rewritePositionDeletes]] — spec-aware (cell
      * fragments and build tokens survive, the PqIndexSpec pin) and
      * best-effort (a concurrent writer losing the race never fails
      * the refresh), the same sawtooth contract as
      * `write.mor.compact-after-commits` on the DML arms.
      * @return net rows appended */
    def refreshTable(spark: SparkSession, corpusPath: String,
                     indexDir: String, tableDir: String,
                     compactAfterCommits: Int)
                    (tableVersion: M => Long,
                     restamp: (M, Long, Long) => M)
                    (encode: (M, DataFrame) => DataFrame): Long = {
      val (im, version) = open(indexDir, corpusPath, read = false)
      if (version == im.corpusVersion) return 0L
      val crashed =
        !Snapshot.currentVersion(tableDir).contains(tableVersion(im))
      val w = windowApply(spark, corpusPath, im.corpusVersion, version,
        s"$kind index", "vec_id", crashed)
      if (w.n > 0 || w.touched.isDefined)
        Snapshot.morCommit(spark, tableDir, deletes = w.touched,
          appends = if (w.n > 0) Some(encode(im, w.delta)) else None,
          operation = w.op)
      Snapshot.compactIfStacked(spark, tableDir, compactAfterCommits)
      writeMeta(indexDir, restamp(im, version,
        Snapshot.currentVersion(tableDir).getOrElse(0L)))
      w.n
    }
  }

  /** The corpus change set of the window `(sinceVersion, liveVersion]`:
    * `appended` are the NET new/replacement rows; `deletedKeys` (when
    * the window carried deletes) are the distinct `keyCol` values any
    * window commit removed — possibly including keys re-appearing in
    * `appended` (updates: the consumer deletes-then-appends in one
    * commit) or keys the index never held (appended-then-removed
    * inside the window: deleting them is a no-op). */
  final case class Changes(appended: DataFrame,
                           deletedKeys: Option[DataFrame])

  /** Discover [[Changes]] for `(sinceVersion, liveVersion]`.
    * `liveVersion` is the version the CALLER captured and will stamp —
    * it bounds the window, so a concurrent commit landing after the
    * capture stays out of this delta (it would otherwise be encoded
    * now but stamped as not-yet-seen, and re-encoded as duplicate
    * index entries by the next refresh).
    * @param what index family name for error messages */
  def changesSince(spark: SparkSession, corpusPath: String,
                   sinceVersion: Long, liveVersion: Long,
                   what: String, keyCol: String = "vec_id"): Changes = {
    // ONE listing serves both the classification and the pricing
    val window = Snapshot.listWindow(corpusPath, sinceVersion,
      Some(liveVersion))
    window.kind match {
      case Snapshot.CommitWindow.FastAppends(dirs) =>
        Changes(
          if (dirs.isEmpty) Snapshot.read(spark, corpusPath).limit(0)
          else dirs.map(PruningBridge.scan(spark, _))
            .reduce(_ unionByName _),
          None)
      case Snapshot.CommitWindow.CarriesDeletes(_) =>
        val (net, dels) =
          Snapshot.windowChanges(spark, window, Seq(keyCol), what)
        Changes(net, Some(dels))
      case Snapshot.CommitWindow.Rebased(_) =>
        if (!Snapshot.retainedVersions(corpusPath).contains(sinceVersion))
          throw new IllegalStateException(
            s"$what over $corpusPath cannot refresh: the corpus was " +
              s"rewritten and the indexed version v$sinceVersion is no " +
              "longer retained, so the row-level delta is unrecoverable " +
              "— rebuild the index")
        val d = Snapshot.diff(spark, corpusPath, sinceVersion,
          liveVersion, Seq(keyCol)).localCheckpoint()
        val appended = Snapshot.read(spark, corpusPath)
          .join(d.filter(col("op") =!= "delete").select(keyCol),
            Seq(keyCol), "left_semi")
        val deleted = d.filter(col("op") =!= "insert").select(keyCol)
        Changes(appended,
          if (deleted.limit(1).count() > 0) Some(deleted) else None)
    }
  }

  /** The materialized change set of one refresh window, plus the
    * upsert-replay resolution — the shared protocol core
    * [[Family.refreshTable]] (single-table ANN indexes) and
    * [[TextIndex.refresh]] (multi-table) both commit from, so the
    * crash-replay and op-naming rules cannot diverge between the
    * families. `touched` is the delete set to commit: the window's
    * deleted keys on the happy path; on a crash replay the union with
    * the delta's own keys (the crashed commit may have already
    * appended them — delete-then-reappend is idempotent whatever
    * state the table is in). */
  private[graft] final case class WindowApply(delta: DataFrame, n: Long,
      delKeys: Option[DataFrame], touched: Option[DataFrame],
      op: String)

  private[graft] def windowApply(spark: SparkSession,
      corpusPath: String, sinceVersion: Long, liveVersion: Long,
      what: String, keyCol: String, crashed: Boolean): WindowApply = {
    val ch = changesSince(spark, corpusPath, sinceVersion, liveVersion,
      what, keyCol)
    val delta = ch.appended.localCheckpoint()
    val n = delta.count()
    val delKeys = ch.deletedKeys
      .map(_.select(keyCol).distinct().localCheckpoint())
      .filter(_.count() > 0)
    val touched =
      if (!crashed) delKeys
      else {
        val t = delKeys.foldLeft(delta.select(keyCol))(_ unionByName _)
          .distinct().localCheckpoint()
        if (t.count() > 0) Some(t) else None
      }
    val op = if (touched.isDefined && n > 0) "overwrite"
             else if (touched.isDefined) "delete" else "append"
    WindowApply(delta, n, delKeys, touched, op)
  }

  // ---- shared ANN read steps ----

  /** The stored PQ codebook as the encoder's literal book, sorted by
    * (sub, code) — one m·ksub-row collect. */
  def readBook(spark: SparkSession,
               codebookDir: String): Seq[(Int, Int, Seq[Double])] =
    Snapshot.read(spark, codebookDir)
      .select("sub", "code", "c_sub").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toSeq))
      .toSeq.sortBy(t => (t._1, t._2))

  /** The exact second stage of a PQ read: join the shortlist `cand`
    * (query_id, neighbor_id) back to the corpus's full-precision
    * vectors (|queries|·shortlist rows, never a distance scan), score
    * the exact inner product in BIGINT micros and keep the top `k`
    * per query. @return (query_id, neighbor_id, rank, score_micros) */
  def rerank(spark: SparkSession, corpusPath: String, cand: DataFrame,
             queries: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("query_id")
      .orderBy(col("score_micros").desc, col("neighbor_id"))
    cand
      .join(Snapshot.read(spark, corpusPath)
        .select(col("vec_id").as("neighbor_id"), col("embedding")),
        "neighbor_id")
      .join(broadcast(queries), "query_id")
      .select(col("query_id"), col("neighbor_id"),
        round(SimilarityOps.dot(col("q_embedding"), col("embedding"))
          * lit(1000000.0)).cast("long").as("score_micros"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "score_micros")
  }

  /** A cell-clustered component table. Hive partition inference may
    * narrow `centroid_id` to INT; pin it back to the id type every
    * join side uses. */
  def cellsRead(spark: SparkSession, cellsDir: String): DataFrame =
    Snapshot.read(spark, cellsDir)
      .withColumn("centroid_id", col("centroid_id").cast("long"))

  /** Per-cell member counts — the skew probe [[driftRebalance]] gates
    * on. One column-pruned scan of `centroid_id`, partial-aggregated;
    * nlist rows out. */
  def cellSizes(spark: SparkSession, cellsDir: String): DataFrame =
    cellsRead(spark, cellsDir).groupBy("centroid_id")
      .agg(count(lit(1)).as("n"))

  /** Probe `nprobe` cells per query: the (query_id, q_embedding,
    * centroid_id) rows are ranked on the driver ([[nearestCells]]) and
    * widened by `extend`; their distinct cell ids — bounded by nlist
    * and known at plan time — turn the cells scan into a
    * fragment-pruned read: a `centroid_id IN (…)` filter that drops
    * whole cell fragments at plan time (IvfIndexSpec pins the
    * PartitionFilters).
    * @return (per-(query, probed cell) rows, pruned cells scan) */
  def probeCells(spark: SparkSession, cellsDir: String,
                 queries: DataFrame, centroids: DataFrame, nprobe: Int)
                (extend: DataFrame => DataFrame): (DataFrame, DataFrame) = {
    val (qcells, probes) = nearestCells(spark, queries, centroids, nprobe)
    (extend(qcells), cellsRead(spark, cellsDir)
      .filter(col("centroid_id").isin(probes: _*)))
  }

  /** [[SimilarityOps.assignCentroids]] of the queries, computed on the
    * driver: the queries and the nlist centroids are collected (a
    * local query frame costs no job), each query_id's (query,
    * centroid) pairs rank by `vec_dot`'s arithmetic (per-element
    * double casts, in-order sum; null past a length mismatch) as
    * (dot desc nulls last, centroid_id asc), and the first `nprobe`
    * survive.
    * @param queries (query_id, q_embedding)
    * @return (local (query_id, q_embedding, centroid_id) frame, its
    *         distinct centroid ids as LONG) */
  private[graft] def nearestCells(spark: SparkSession, queries: DataFrame,
                                  centroids: DataFrame, nprobe: Int)
      : (DataFrame, Seq[Long]) = {
    val q = queries.select("query_id", "q_embedding")
    val c = centroids.select("centroid_id", "c_embedding")
    def vec(v: Any): Array[Double] = v match {
      case null => null
      case s: scala.collection.Seq[_] => s.map {
        case null => 0.0
        case x => x.asInstanceOf[Number].doubleValue
      }.toArray
    }
    val cs = c.collect().map(r => (r.get(0), vec(r.get(1))))
    def dot(a: Array[Double], b: Array[Double]): Option[Double] =
      if (a == null || b == null || a.length != b.length) None
      else Some(a.indices.foldLeft(0.0)((acc, i) => acc + a(i) * b(i)))
    def id(v: Any): Long = v.asInstanceOf[Number].longValue
    def before(x: (Row, Any, Option[Double]),
               y: (Row, Any, Option[Double])): Boolean = {
      val byDot = (x._3, y._3) match {
        case (Some(a), Some(b)) => SQLOrderingUtil.compareDoubles(b, a)
        case (a, b) => a.isEmpty.compare(b.isEmpty)
      }
      byDot < 0 || (byDot == 0 && id(x._2) < id(y._2))
    }
    val picked = q.collect().groupBy(_.get(0)).values.toSeq.flatMap { g =>
      g.flatMap { r =>
        val e = vec(r.get(1))
        cs.map { case (cid, ce) => (r, cid, dot(e, ce)) }
      }.sortWith(before).take(nprobe)
    }
    (spark.createDataFrame(
      picked.map { case (r, cid, _) => Row(r.get(0), r.get(1), cid) }.asJava,
      q.schema.add(c.schema("centroid_id"))),
      picked.map(p => id(p._2)).distinct)
  }

  /** The drift gate both IVF-family rebalances share: measure the
    * max/median cell-size skew, and past `threshold` hand a
    * Lloyd-TRAINED replacement codebook to `rebuild` — one place for
    * the policy, so the two families cannot diverge.
    * @return (rebalanced?, max cell rows, median cell rows) — the
    *         PRE-rebalance skew measurements */
  def driftRebalance(spark: SparkSession, corpusPath: String,
                     sizes: DataFrame, threshold: Double, nlist: Int)
                    (rebuild: DataFrame => Unit): (Boolean, Long, Long) = {
    val (mx, med) = skewOf(sizes)
    val fire = med > 0 && mx.toDouble / med >= threshold
    if (fire) rebuild(
      SimilarityOps.kmeansTrain(Snapshot.read(spark, corpusPath), nlist)
        .select(col("centroid_id"), col("c_embedding")))
    (fire, mx, med)
  }

  /** (max, median) of the per-cell counts (nlist-bounded collect). */
  def skewOf(sizes: DataFrame): (Long, Long) = {
    val ns = sizes.select("n").collect().map(_.getLong(0)).sorted
    if (ns.isEmpty) (0L, 0L) else (ns.last, ns(ns.length / 2))
  }
}
