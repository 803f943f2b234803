package graft.ext

import graft.pipeline.Snapshot
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** PERSISTED ANN index lifecycle over the PQ family — build once,
  * query many, re-encode only the delta. The r11 PQ operators derive
  * codebook + codes inside each query; at 100 TB you never re-encode
  * the corpus per query, so this materializes both as snapshot tables
  * beside the corpus:
  *
  * ```
  * <indexDir>/codebook       (sub, code, c_sub)    — m·ksub tiny rows
  * <indexDir>/codes          (vec_id, codes)       — 1 row per vector
  * <indexDir>/_pq_meta       corpus version + geometry (atomic)
  * ```
  *
  * Lifecycle contract:
  *  - [[build]] trains the codebook on the corpus AS OF the build and
  *    encodes everything; the meta records WHICH corpus snapshot
  *    version the codes describe.
  *  - [[refresh]] discovers the delta from the corpus's COMMIT WINDOW
  *    ([[IndexDelta.changesSince]]): fast-append commits carry their
  *    rows as sidecar files, so the delta read is O(appended rows) —
  *    the corpus is never re-scanned (SoakPq measures refresh FLAT
  *    while the corpus grows 128× at fixed delta). The new codes
  *    commit as a merge-on-read fast-append sidecar — base code files
  *    untouched. Content REMOVED from the corpus PROPAGATES: the
  *    window's delete sidecars resolve to keys (O(window delta)) and
  *    land as a key-scoped equality delete on the codes table, so the
  *    index stops serving deleted vectors without a rebuild; an
  *    UPDATE is the delete+append composition in one commit. The
  *    codebook is NOT retrained (standard PQ practice: codebooks
  *    drift slowly; retrain = rebuild).
  *  - [[search]] is the two-stage read (broad ADC shortlist from the
  *    codes, exact rerank of the shortlist against full-precision
  *    vectors) and REFUSES a stale index: the meta's corpus version
  *    must be the corpus's LIVE version, the same
  *    stats-serve-no-stale-plans discipline as ANALYZE.
  *
  * Scale shape: search moves (vec_id, sub, code) triples and the
  * shortlist only; the corpus's full vectors are touched for
  * |queries|·shortlist rows, never scanned for distance. Reference:
  * the reference's storage layer keeps derived tables beside base
  * tables the same way (`/root/reference/README.md` silver/gold).
  */
object PqIndex {

  /** `codesVersion` records the codes-table version the last
    * successful build/refresh left behind — the crash detector: when
    * the codes table sits exactly there, no partially-committed
    * refresh exists and the idempotence guard is skipped entirely
    * (zero index reads on the happy path). */
  final case class Meta(corpusVersion: Long, codesVersion: Long,
                        m: Int, dsub: Int, ksub: Int)

  def codebookDir(indexDir: String): String = s"$indexDir/codebook"
  def codesDir(indexDir: String): String = s"$indexDir/codes"
  private val MetaFile = "_pq_meta"

  def meta(indexDir: String): Option[Meta] =
    IndexDelta.readMeta(indexDir, MetaFile, "PQ", 5)
      .map(p => Meta(p(0).toLong, p(1).toLong, p(2).toInt, p(3).toInt,
        p(4).toInt))

  private def corpusVersionOf(corpusPath: String): Long =
    Snapshot.currentVersion(corpusPath).getOrElse(
      throw new IllegalStateException(
        s"PQ index requires a versioned corpus snapshot at " +
          s"$corpusPath — the staleness contract pins index to " +
          "corpus version"))

  /** Build (or rebuild) the index: train on the live corpus, encode
    * everything, stamp the corpus version. @return rows encoded */
  def build(spark: SparkSession, corpusPath: String, indexDir: String,
            m: Int, dsub: Int, ksub: Int): Long = {
    val version = corpusVersionOf(corpusPath)
    val corpus = Snapshot.read(spark, corpusPath)
    val book = SimilarityOps.pqCollectBook(corpus, m, dsub, ksub)
    // one token rides both component commits — mid-rebuild readers
    // raise instead of scoring old codes against a new book
    val token = IndexDelta.newBuildToken()
    // independent component writes — overlap (guide §2.6); a crash
    // between them was already a recoverable (token-guarded) state
    graft.pipeline.Par.both(
      Snapshot.createOrReplaceWithMeta(
        SimilarityOps.pqBookFrame(spark, book), codebookDir(indexDir),
        keepVersions = 1, IndexDelta.BuildTokenFile, token),
      Snapshot.createOrReplaceWithMeta(
        SimilarityOps.pqEncode(corpus, book, m, dsub),
        codesDir(indexDir), keepVersions = 1,
        IndexDelta.BuildTokenFile, token))
    IndexDelta.writeMeta(indexDir, MetaFile, Meta(version,
      Snapshot.currentVersion(codesDir(indexDir)).getOrElse(0L),
      m, dsub, ksub))
    // row count from the freshly written (sidecar-free) codes dir's
    // parquet footers — no read+count job (r19)
    Snapshot.parquetFooterRowCount(codesDir(indexDir))
  }

  /** Incrementally apply corpus changes since the index last saw it.
    * The change set comes from the corpus's COMMIT WINDOW
    * ([[IndexDelta.changesSince]]) — on the fast-append path the read
    * is O(appended rows) and the corpus base files are never touched;
    * a window that removed rows propagates them as a key-scoped
    * equality delete on the codes table (still O(window delta)); a
    * copy-on-write rebase falls back to the exact [[Snapshot.diff]].
    * The stored codebook encodes the delta scan-side and the new
    * codes land as a MOR sidecar commit. A refresh that crashed
    * between its codes commit and its meta write is detected from
    * `codesVersion` and replays as a self-healing upsert
    * ([[IndexDelta.applyRefresh]]) — the happy path never reads the
    * index. @return newly encoded vectors */
  def refresh(spark: SparkSession, corpusPath: String,
              indexDir: String, compactAfterCommits: Int = 64): Long = {
    val im = meta(indexDir).getOrElse(throw new IllegalStateException(
      s"no PQ index at $indexDir (build first)"))
    val version = corpusVersionOf(corpusPath)
    if (version == im.corpusVersion) return 0L
    val n = IndexDelta.applyRefresh(spark, corpusPath,
        codesDir(indexDir), im.codesVersion, im.corpusVersion, version,
        "PQ index", compactAfterCommits = compactAfterCommits) { delta =>
      val book = Snapshot.read(spark, codebookDir(indexDir))
        .select("sub", "code", "c_sub").collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toSeq))
        .toSeq.sortBy(t => (t._1, t._2))
      SimilarityOps.pqEncode(delta, book, im.m, im.dsub)
    }
    IndexDelta.writeMeta(indexDir, MetaFile,
      im.copy(corpusVersion = version, codesVersion =
        Snapshot.currentVersion(codesDir(indexDir)).getOrElse(0L)))
    n
  }

  /** Two-stage search from the PERSISTED index: ADC shortlist of
    * `shortlist` candidates per query, exact inner-product rerank to
    * the top `k`. Raises when the index is stale (the corpus moved
    * past the version the codes describe).
    * @param queries (query_id, q_embedding)
    * @return (query_id, neighbor_id, rank, score_micros) */
  def search(spark: SparkSession, corpusPath: String, indexDir: String,
             queries: DataFrame, k: Int, shortlist: Int,
             excludeSelf: Boolean = true): DataFrame = {
    val im = meta(indexDir).getOrElse(throw new IllegalStateException(
      s"no PQ index at $indexDir (build first)"))
    val version = corpusVersionOf(corpusPath)
    if (version != im.corpusVersion)
      throw new IllegalStateException(
        s"PQ index at $indexDir is STALE: it encodes corpus version " +
          s"${im.corpusVersion} but the live corpus is v$version — " +
          "run PqIndex.refresh or rebuild")
    IndexDelta.requireCoherent(indexDir,
      Seq(codebookDir(indexDir), codesDir(indexDir)), "PQ index")
    val codes = Snapshot.read(spark, codesDir(indexDir))
    val book = Snapshot.read(spark, codebookDir(indexDir))
    val cand = SimilarityOps.pqTopK(queries, codes, book, shortlist,
        im.dsub, excludeSelf)
      .select(col("query_id"), col("neighbor_id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
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
}
