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
  * Same lifecycle contract as [[PqIndex]]: [[build]] stamps the corpus
  * snapshot version the cells describe; [[refresh]] discovers the
  * change set from the corpus's commit window
  * ([[IndexDelta.changesSince]] — O(window delta) except a
  * copy-on-write rebase, never a plain corpus re-scan), assigns the
  * net-appended rows against the broadcast centroids, and commits
  * them as a MOR sidecar — base cell files untouched; reads stay
  * correct because the sidecar merge applies the probe filter to the
  * (small) append frame too, and `rewrite_position_delete_files`-style
  * compaction re-fragments the delta on the maintenance cadence.
  * Corpus DELETES propagate as a key-scoped equality delete on the
  * cells table in the same commit — the case IVF can least afford to
  * miss: its cells store the embeddings and search never joins back
  * to the corpus, so a lingering cell row WOULD be served as a
  * neighbor. [[search]] refuses a stale index. */
object IvfIndex {

  /** `cellsVersion`: crash detector for the idempotence guard — see
    * [[PqIndex.Meta]]. */
  final case class Meta(corpusVersion: Long, cellsVersion: Long,
                        nlist: Int)

  def centroidsDir(indexDir: String): String = s"$indexDir/centroids"
  def cellsDir(indexDir: String): String = s"$indexDir/cells"
  private val MetaFile = "_ivf_meta"

  def meta(indexDir: String): Option[Meta] =
    IndexDelta.readMeta(indexDir, MetaFile, "IVF", 3)
      .map(p => Meta(p(0).toLong, p(1).toLong, p(2).toInt))

  private def corpusVersionOf(corpusPath: String): Long =
    Snapshot.currentVersion(corpusPath).getOrElse(
      throw new IllegalStateException(
        s"IVF index requires a versioned corpus snapshot at " +
          s"$corpusPath"))

  /** Hive partition inference may narrow `centroid_id` to INT; pin it
    * back to the id type every join side uses. */
  private def cellsRead(spark: SparkSession, indexDir: String): DataFrame =
    Snapshot.read(spark, cellsDir(indexDir))
      .withColumn("centroid_id", col("centroid_id").cast("long"))

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
    val version = corpusVersionOf(corpusPath)
    val corpus = Snapshot.read(spark, corpusPath)
    val centroids = centroids0.localCheckpoint()
    // one token rides BOTH component commits: a reader caught between
    // the two swaps of a rebuild sees mismatched tokens and raises
    // instead of probing new centroids against old cells
    val token = IndexDelta.newBuildToken()
    // independent component writes — overlap (guide §2.6); the cells
    // write consumes the already-checkpointed centroids frame
    graft.pipeline.Par.both(
      Snapshot.createOrReplaceWithMeta(centroids, centroidsDir(indexDir),
        keepVersions = 1, IndexDelta.BuildTokenFile, token),
      Snapshot.createOrReplacePartitioned(
        SimilarityOps.assignCentroids(corpus, centroids, 1),
        cellsDir(indexDir), Seq("centroid_id"), keepVersions = 1,
        metaName = Some(IndexDelta.BuildTokenFile), metaContent = token))
    IndexDelta.writeMeta(indexDir, MetaFile, Meta(version,
      Snapshot.currentVersion(cellsDir(indexDir)).getOrElse(0L), nlist))
    // row count from the freshly written (sidecar-free) cells
    // fragments' parquet footers — no read+count job (r19)
    Snapshot.parquetFooterRowCount(cellsDir(indexDir))
  }

  /** Apply the commit-window change set ([[IndexDelta.changesSince]] —
    * O(window delta), no corpus re-scan): net-appended vectors assign
    * against the frozen centroids and land as a MOR sidecar; deleted
    * corpus keys propagate as a key-scoped equality delete on the
    * cells table in the same commit. A crashed partial refresh
    * (detected from `cellsVersion`) replays as a self-healing upsert.
    * @return newly assigned vectors */
  def refresh(spark: SparkSession, corpusPath: String,
              indexDir: String, compactAfterCommits: Int = 64): Long = {
    val im = meta(indexDir).getOrElse(throw new IllegalStateException(
      s"no IVF index at $indexDir (build first)"))
    val version = corpusVersionOf(corpusPath)
    if (version == im.corpusVersion) return 0L
    val n = IndexDelta.applyRefresh(spark, corpusPath,
        cellsDir(indexDir), im.cellsVersion, im.corpusVersion, version,
        "IVF index", compactAfterCommits = compactAfterCommits) { delta =>
      val centroids = Snapshot.read(spark, centroidsDir(indexDir))
      SimilarityOps.assignCentroids(delta, centroids, 1)
        .withColumn("centroid_id", col("centroid_id").cast("long"))
    }
    IndexDelta.writeMeta(indexDir, MetaFile,
      im.copy(corpusVersion = version, cellsVersion =
        Snapshot.currentVersion(cellsDir(indexDir)).getOrElse(0L)))
    n
  }

  /** Per-cell member counts of the stored index — the skew probe
    * `rebalance` gates on. One column-pruned scan of `centroid_id`,
    * partial-aggregated; nlist rows out. */
  def cellSizes(spark: SparkSession, indexDir: String): DataFrame =
    cellsRead(spark, indexDir).groupBy("centroid_id")
      .agg(count(lit(1)).as("n"))

  /** Index maintenance under DRIFT: appends assign to FROZEN
    * centroids, so a corpus whose distribution moved scatters new
    * clusters across cells that no centroid owns — probes miss them
    * and recall decays for drifted queries, while the cell a drifted
    * region leans toward bloats (the skew signal). `rebalance`
    * measures the max/median cell-size ratio and, when it crosses
    * `threshold`, RE-CLUSTERS with a Lloyd-TRAINED codebook
    * ([[SimilarityOps.kmeansTrain]] — trained centroids converge onto
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
    val im = meta(indexDir).getOrElse(throw new IllegalStateException(
      s"no IVF index at $indexDir (build first)"))
    driftRebalance(spark, corpusPath, cellSizes(spark, indexDir),
      threshold, im.nlist)(centroids =>
      buildWith(spark, corpusPath, indexDir, centroids, im.nlist))
  }

  /** The drift gate both IVF-family rebalances share: measure the
    * max/median cell-size skew, and past `threshold` hand a
    * Lloyd-TRAINED replacement codebook to `rebuild` — one place for
    * the policy, so the two families cannot diverge.
    * @return (rebalanced?, max cell rows, median cell rows) — the
    *         PRE-rebalance skew measurements */
  private[ext] def driftRebalance(spark: SparkSession,
                                  corpusPath: String, sizes: DataFrame,
                                  threshold: Double, nlist: Int)
                                 (rebuild: DataFrame => Unit)
      : (Boolean, Long, Long) = {
    val (mx, med) = skewOf(sizes)
    val fire = med > 0 && mx.toDouble / med >= threshold
    if (fire) rebuild(
      SimilarityOps.kmeansTrain(Snapshot.read(spark, corpusPath), nlist)
        .select(col("centroid_id"), col("c_embedding")))
    (fire, mx, med)
  }

  /** (max, median) of the per-cell counts (nlist-bounded collect). */
  private[graft] def skewOf(sizes: DataFrame): (Long, Long) = {
    val ns = sizes.select("n").collect().map(_.getLong(0)).sorted
    if (ns.isEmpty) (0L, 0L) else (ns.last, ns(ns.length / 2))
  }

  /** Probe `nprobe` cells per query and rescore exactly within them —
    * the cells scan carries a `centroid_id IN (…)` filter that PRUNES
    * whole cell fragments at plan time (IvfIndexSpec pins the
    * PartitionFilters). Raises when the index is stale.
    * @param queries (query_id, q_embedding)
    * @return (query_id, neighbor_id, rank, score) */
  def search(spark: SparkSession, corpusPath: String, indexDir: String,
             queries: DataFrame, k: Int, nprobe: Int,
             excludeSelf: Boolean = true): DataFrame = {
    val im = meta(indexDir).getOrElse(throw new IllegalStateException(
      s"no IVF index at $indexDir (build first)"))
    val version = corpusVersionOf(corpusPath)
    if (version != im.corpusVersion)
      throw new IllegalStateException(
        s"IVF index at $indexDir is STALE: it clusters corpus version " +
          s"${im.corpusVersion} but the live corpus is v$version — " +
          "run IvfIndex.refresh or rebuild")
    IndexDelta.requireCoherent(indexDir,
      Seq(centroidsDir(indexDir), cellsDir(indexDir)), "IVF index")
    val centroids = Snapshot.read(spark, centroidsDir(indexDir))
    val queryCells = SimilarityOps.assignCentroids(
        queries.select(col("query_id").as("vec_id"),
          col("q_embedding").as("embedding")), centroids, nprobe)
      .select(col("vec_id").as("query_id"),
        col("embedding").as("q_embedding"), col("centroid_id"))
      .localCheckpoint()
    // the probed cell ids — bounded by nlist, one tiny driver read
    // that turns the cells scan into a fragment-pruned read; cast
    // first (centroid_id inherits the corpus vec_id's type, and an
    // INT-keyed corpus would ClassCastException the driver read)
    val probes = queryCells.select(col("centroid_id").cast("long"))
      .distinct().collect().map(_.getLong(0)).toSeq
    val cells = cellsRead(spark, indexDir)
      .filter(col("centroid_id").isin(probes: _*))
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
