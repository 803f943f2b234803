package graft.ext

import graft.pipeline.Snapshot
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** PERSISTED IVF index — the cell-clustered sibling of [[PqIndex]],
  * with the one property a derived-per-query IVF can never have: the
  * corpus is STORED clustered by cell (`<indexDir>/cells` is a
  * snapshot table Hive-partitioned on `centroid_id`), so a search
  * probing `nprobe` cells reads ONLY those fragments — partition
  * pruning at plan time, O(probed cells) bytes instead of O(corpus).
  * At 100 TB this is the difference between an index and a scan.
  *
  * ```
  * <indexDir>/centroids   (centroid_id, c_embedding)  — nlist rows
  * <indexDir>/cells       (vec_id, embedding, …) BY centroid_id
  * <indexDir>/_ivf_meta   corpus version + nlist (atomic)
  * ```
  *
  * The lifecycle (build token, open step, refresh, crash replay) is
  * [[IndexDelta]]'s. Refresh assigns the net-appended rows against
  * the broadcast centroids and commits them as a MOR sidecar — base
  * cell files untouched; reads stay correct because the sidecar merge
  * applies the probe filter to the (small) append frame too, and
  * `rewrite_position_delete_files`-style compaction re-fragments the
  * delta on the maintenance cadence. Corpus DELETES propagate as a
  * key-scoped equality delete on the cells table in the same commit —
  * the case IVF can least afford to miss: its cells store the
  * embeddings and search never joins back to the corpus, so a
  * lingering cell row WOULD be served as a neighbor. */
object IvfIndex {

  /** `cellsVersion`: crash detector for the idempotence guard — see
    * [[PqIndex.Meta]]. */
  final case class Meta(corpusVersion: Long, cellsVersion: Long,
                        nlist: Int, buildToken: String)
      extends IndexDelta.Stamp

  def centroidsDir(indexDir: String): String = s"$indexDir/centroids"
  def cellsDir(indexDir: String): String = s"$indexDir/cells"

  private val Family = new IndexDelta.Family[Meta]("IVF", "IvfIndex",
    "_ivf_meta", 4, p => Meta(p(0).toLong, p(1).toLong, p(2).toInt, p(3)),
    d => Seq(centroidsDir(d), cellsDir(d)))

  def meta(indexDir: String): Option[Meta] = Family.meta(indexDir)

  /** Build (or rebuild): sample the codebook, assign every vector to
    * its single nearest cell, store the corpus CLUSTERED BY CELL.
    * @return rows assigned */
  def build(spark: SparkSession, corpusPath: String, indexDir: String,
            nlist: Int): Long =
    buildWith(spark, corpusPath, indexDir,
      SimilarityOps.sampleCentroids(
        Snapshot.read(spark, corpusPath), nlist), nlist)

  /** The build body against an EXPLICIT codebook — `build` feeds it
    * the md5 sample, `rebalance` a Lloyd-trained one. */
  private def buildWith(spark: SparkSession, corpusPath: String,
                        indexDir: String, centroids0: DataFrame,
                        nlist: Int): Long = {
    val version = Family.corpusVersionOf(corpusPath)
    val corpus = Snapshot.read(spark, corpusPath)
    val centroids = centroids0.localCheckpoint()
    // the cells write consumes the already-checkpointed centroids
    Family.commitBuild(indexDir, Seq(
      IndexDelta.component(centroidsDir(indexDir))(centroids),
      IndexDelta.component(cellsDir(indexDir), "centroid_id")(
        SimilarityOps.assignCentroids(corpus, centroids, 1))))(token =>
      Meta(version, Snapshot.currentVersion(cellsDir(indexDir))
        .getOrElse(0L), nlist, token))
    // row count from the freshly written (sidecar-free) cells
    // fragments' parquet footers — no read+count job (r19)
    Snapshot.parquetFooterRowCount(cellsDir(indexDir))
  }

  /** Apply the commit-window change set
    * ([[IndexDelta.Family.refreshTable]]): net-appended vectors assign
    * against the frozen centroids and land as a MOR sidecar; deleted
    * corpus keys propagate as a key-scoped equality delete on the
    * cells table in the same commit. @return newly assigned vectors */
  def refresh(spark: SparkSession, corpusPath: String,
              indexDir: String, compactAfterCommits: Int = 64): Long =
    Family.refreshTable(spark, corpusPath, indexDir, cellsDir(indexDir),
        compactAfterCommits)(_.cellsVersion,
        (im, v, tv) => im.copy(corpusVersion = v, cellsVersion = tv)) {
      (_, delta) => SimilarityOps.assignCentroids(delta,
          Snapshot.read(spark, centroidsDir(indexDir)), 1)
        .withColumn("centroid_id", col("centroid_id").cast("long"))
    }

  /** Per-cell member counts of the stored index
    * ([[IndexDelta.cellSizes]]) — the skew probe `rebalance` gates
    * on. */
  def cellSizes(spark: SparkSession, indexDir: String): DataFrame =
    IndexDelta.cellSizes(spark, cellsDir(indexDir))

  /** Index maintenance under DRIFT: appends assign to FROZEN
    * centroids, so a corpus whose distribution moved scatters new
    * clusters across cells that no centroid owns — probes miss them
    * and recall decays for drifted queries, while the cell a drifted
    * region leans toward bloats (the skew signal). `rebalance`
    * measures the max/median cell-size ratio and, when it crosses
    * `threshold`, RE-CLUSTERS with a Lloyd-TRAINED codebook
    * ([[IndexDelta.driftRebalance]] — trained centroids converge onto
    * the drifted clusters, which a fresh random sample only hits by
    * luck; SoakDrift measures the recall restored), re-assigning
    * every vector through the same atomic snapshot swaps — a
    * concurrent reader serves the old cells until the promote and
    * the version gate keeps search consistent.
    * @return (rebalanced?, max cell rows, median cell rows) — the
    *         PRE-rebalance skew measurements */
  def rebalance(spark: SparkSession, corpusPath: String,
                indexDir: String,
                threshold: Double): (Boolean, Long, Long) = {
    val (im, _) = Family.open(indexDir, corpusPath, read = false)
    IndexDelta.driftRebalance(spark, corpusPath,
      cellSizes(spark, indexDir), threshold, im.nlist)(centroids =>
      buildWith(spark, corpusPath, indexDir, centroids, im.nlist))
  }

  /** Probe `nprobe` cells per query ([[IndexDelta.probeCells]] — the
    * cells scan prunes to the probed fragments at plan time) and
    * rescore exactly within them. Raises when the index is stale.
    * @param queries (query_id, q_embedding)
    * @return (query_id, neighbor_id, rank, score) */
  def search(spark: SparkSession, corpusPath: String, indexDir: String,
             queries: DataFrame, k: Int, nprobe: Int,
             excludeSelf: Boolean = true): DataFrame = {
    Family.open(indexDir, corpusPath, read = true)
    val (queryCells, cells) = IndexDelta.probeCells(spark,
      cellsDir(indexDir), queries,
      Snapshot.read(spark, centroidsDir(indexDir)), nprobe)(identity)
    val scored = cells.join(broadcast(queryCells), "centroid_id")
      .filter(if (excludeSelf) col("query_id") =!= col("vec_id")
              else lit(true))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        SimilarityOps.cosine(col("q_embedding"), col("embedding"))
          .as("score"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "score")
  }
}
