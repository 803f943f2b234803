package graft.ext

import graft.pipeline.{FsCommit, Snapshot}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared delta discovery for the persisted ANN indexes ([[PqIndex]],
  * [[IvfIndex]], [[IvfPqIndex]]) and the streaming maintainer: the
  * row-level CHANGES to a corpus snapshot since the version an index
  * last saw, WITHOUT re-scanning the corpus.
  *
  * The discovery is version-window driven ([[Snapshot.commitsSince]]):
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
    * writes the SAME token into every component, so a reader can
    * detect the mixed window between two component swaps of a
    * rebuild (new centroids against old cells would return silently
    * wrong neighbors). Indexes persisted before tokens carry none on
    * any component — equally coherent. */
  private[graft] val BuildTokenFile = "_graft_index_build"

  /** The whitespace-separated fields of an index's meta `file`; None
    * when the index was never built. A count other than `fields` is
    * an index persisted by an older format — raise, asking for a
    * rebuild. */
  def readMeta(indexDir: String, file: String, kind: String,
               fields: Int): Option[Array[String]] =
    FsCommit.read(Paths.get(indexDir, file)).map { text =>
      val p = text.trim.split("\\s+")
      if (p.length != fields) throw new IllegalStateException(
        s"$kind index meta at $indexDir has ${p.length} fields (this " +
          s"version writes $fields) — an index persisted by an older " +
          "format; rebuild it")
      p
    }

  /** Atomically write an index's meta `file`: the fields of `meta` in
    * declaration order, space-separated (booleans as 1/0). */
  def writeMeta(indexDir: String, file: String, meta: Product): Unit = {
    Files.createDirectories(Paths.get(indexDir))
    FsCommit.replace(Paths.get(indexDir, file), meta.productIterator.map {
      case b: Boolean => if (b) "1" else "0"
      case v => v.toString
    }.mkString("", " ", "\n"))
  }

  private[graft] def newBuildToken(): String =
    java.util.UUID.randomUUID().toString

  /** Raise when the index's component tables were not written by the
    * same build (a rebuild is in flight or died between its swaps). */
  private[graft] def requireCoherent(indexDir: String,
                                     componentDirs: Seq[String],
                                     what: String): Unit = {
    val tokens = componentDirs.map(Snapshot.commitMeta(_, BuildTokenFile))
    if (tokens.distinct.size > 1)
      throw new IllegalStateException(
        s"$what at $indexDir is MID-REBUILD (or a rebuild died " +
          "between its component swaps): the component tables carry " +
          s"different build tokens ($tokens) — retry once the rebuild " +
          "completes, or rebuild")
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
          else dirs.map(spark.read.parquet(_)).reduce(_ unionByName _),
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
    * [[applyRefresh]] (single-table ANN indexes) and
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

  /** The shared refresh body all three index families run: discover
    * the corpus changes of `(sinceVersion, liveVersion]`, apply them
    * to the index's own MOR table as ONE commit — deleted corpus keys
    * become a key-scoped equality delete ([[Snapshot.applySidecars]]
    * removes every index row carrying the key), the net-appended rows
    * land through `encode` as the append arm; a window that both
    * deletes and appends a key upserts it (deletes flush before the
    * same commit's appends).
    *
    * Crash replay: when `tableDir` sits PAST `recordedVersion` (a
    * previous refresh committed, then died before its meta write),
    * the replay must not stack duplicate entries — it self-heals as
    * an UPSERT, deleting every key this window touches (the crashed
    * commit may have already appended them) before re-appending.
    * Still O(window delta); the index table is never read.
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
    * @return net rows appended (the caller's refresh return value) */
  private[graft] def applyRefresh(spark: SparkSession,
      corpusPath: String, tableDir: String, recordedVersion: Long,
      sinceVersion: Long, liveVersion: Long, what: String,
      keyCol: String = "vec_id", compactAfterCommits: Int = 64)
      (encode: DataFrame => DataFrame): Long = {
    val crashed =
      !Snapshot.currentVersion(tableDir).contains(recordedVersion)
    val w = windowApply(spark, corpusPath, sinceVersion, liveVersion,
      what, keyCol, crashed)
    if (w.n > 0 || w.touched.isDefined)
      Snapshot.morCommit(spark, tableDir, deletes = w.touched,
        appends = if (w.n > 0) Some(encode(w.delta)) else None,
        operation = w.op)
    Snapshot.compactIfStacked(spark, tableDir, compactAfterCommits)
    w.n
  }
}
