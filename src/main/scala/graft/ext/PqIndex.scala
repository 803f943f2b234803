package graft.ext

import graft.pipeline.Snapshot
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

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
  * The lifecycle is [[IndexDelta]]'s:
  *  - [[build]] trains the codebook on the corpus AS OF the build and
  *    encodes everything; the meta records WHICH corpus snapshot
  *    version the codes describe.
  *  - [[refresh]] reads only the corpus's COMMIT WINDOW (SoakPq
  *    measures refresh FLAT while the corpus grows 128× at fixed
  *    delta). The new codes commit as a merge-on-read fast-append
  *    sidecar — base code files untouched; content REMOVED from the
  *    corpus lands as a key-scoped equality delete on the codes
  *    table, so the index stops serving deleted vectors without a
  *    rebuild. The codebook is NOT retrained (standard PQ practice:
  *    codebooks drift slowly; retrain = rebuild).
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
    * (zero index reads on the happy path). `buildToken` is the token
    * every component must carry ([[IndexDelta.Family.open]]). */
  final case class Meta(corpusVersion: Long, codesVersion: Long,
                        m: Int, dsub: Int, ksub: Int,
                        buildToken: String) extends IndexDelta.Stamp

  def codebookDir(indexDir: String): String = s"$indexDir/codebook"
  def codesDir(indexDir: String): String = s"$indexDir/codes"

  private val Family = new IndexDelta.Family[Meta]("PQ", "PqIndex",
    "_pq_meta", 6, p => Meta(p(0).toLong, p(1).toLong, p(2).toInt,
      p(3).toInt, p(4).toInt, p(5)),
    d => Seq(codebookDir(d), codesDir(d)))

  def meta(indexDir: String): Option[Meta] = Family.meta(indexDir)

  /** Build (or rebuild) the index: train on the live corpus, encode
    * everything, stamp the corpus version. @return rows encoded */
  def build(spark: SparkSession, corpusPath: String, indexDir: String,
            m: Int, dsub: Int, ksub: Int): Long = {
    val version = Family.corpusVersionOf(corpusPath)
    val corpus = Snapshot.read(spark, corpusPath)
    val book = SimilarityOps.pqCollectBook(corpus, m, dsub, ksub)
    Family.commitBuild(indexDir, Seq(
      IndexDelta.component(codebookDir(indexDir))(
        SimilarityOps.pqBookFrame(spark, book)),
      IndexDelta.component(codesDir(indexDir))(
        SimilarityOps.pqEncode(corpus, book, m, dsub))))(token =>
      Meta(version, Snapshot.currentVersion(codesDir(indexDir))
        .getOrElse(0L), m, dsub, ksub, token))
    // row count from the freshly written (sidecar-free) codes dir's
    // parquet footers — no read+count job (r19)
    Snapshot.parquetFooterRowCount(codesDir(indexDir))
  }

  /** Incrementally apply corpus changes since the index last saw it
    * ([[IndexDelta.Family.refreshTable]]): the stored codebook encodes
    * the window's net-appended vectors scan-side, the new codes land
    * as a MOR sidecar commit, deleted corpus keys as a key-scoped
    * equality delete. @return newly encoded vectors */
  def refresh(spark: SparkSession, corpusPath: String,
              indexDir: String, compactAfterCommits: Int = 64): Long =
    Family.refreshTable(spark, corpusPath, indexDir, codesDir(indexDir),
        compactAfterCommits)(_.codesVersion,
        (im, v, tv) => im.copy(corpusVersion = v, codesVersion = tv)) {
      (im, delta) => SimilarityOps.pqEncode(delta,
        IndexDelta.readBook(spark, codebookDir(indexDir)), im.m, im.dsub)
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
    val (im, _) = Family.open(indexDir, corpusPath, read = true)
    val codes = Snapshot.read(spark, codesDir(indexDir))
    val book = Snapshot.read(spark, codebookDir(indexDir))
    val cand = SimilarityOps.pqTopK(queries, codes, book, shortlist,
        im.dsub, excludeSelf)
      .select(col("query_id"), col("neighbor_id"))
    IndexDelta.rerank(spark, corpusPath, cand, queries, k)
  }
}
