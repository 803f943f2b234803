package graft.ext

import graft.pipeline.Snapshot
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF-PQ — the classic IVFADC composition [Jégou, Douze, Schmid,
  * TPAMI 2011] over BOTH persisted-index layers: the corpus clusters
  * into centroid cells ([[IvfIndex]]'s storage layout) and each
  * vector stores only its PQ codes ([[PqIndex]]'s 32× compression)
  * INSIDE its cell fragment:
  *
  * ```
  * <indexDir>/centroids   (centroid_id, c_embedding)      — nlist rows
  * <indexDir>/codebook    (sub, code, c_sub)              — m·ksub rows
  * <indexDir>/cells       (vec_id, codes) BY centroid_id  — 8 B/vector
  * <indexDir>/_ivfpq_meta corpus version + geometry
  * ```
  *
  * A search then pays THREE nested reductions: partition pruning
  * drops every unprobed cell fragment at plan time (O(nprobe/nlist)
  * of the index), ADC scores the probed cells from broadcast distance
  * tables without touching a single full-precision vector, and the
  * exact rerank reads only |queries|·shortlist embeddings back from
  * the corpus. This is the memory/IO shape FAISS's IVFADC runs at
  * billion-vector scale, expressed as three Catalyst joins.
  *
  * RESIDUAL ENCODING (the default, classic IVFADC): each vector PQ-
  * encodes its residual `x − centroid(cell)` — residuals cluster
  * tightly around zero, so the same `ksub` codes spend their
  * resolution on the within-cell structure instead of the coarse
  * position the centroid already captured, shrinking quantization
  * error per cell. The ADC score then decomposes exactly as Jégou's:
  * `q·x ≈ q·c_cell + Σ_s q_s·book(code_s)` — one extra per-
  * (query, probed-cell) inner product (nprobe broadcast-side terms
  * per query) plus the same m table lookups. At fixed recall this
  * buys a smaller shortlist/nprobe than the raw-vector single-book
  * variant (`residual = false`, kept for comparison — the recall
  * audit lays them side by side).
  *
  * Same lifecycle contract as the parents: build stamps the corpus
  * version; refresh assigns + encodes the commit-window change set
  * ([[IndexDelta.changesSince]] — O(window delta), no corpus
  * re-scan) as a MOR sidecar, propagating corpus deletes as a
  * key-scoped equality delete on the codes table; search refuses a
  * stale index. */
object IvfPqIndex {

  /** `cellsVersion`: crash detector for the idempotence guard — see
    * [[PqIndex.Meta]]. `residual`: whether the codes quantize
    * `x − centroid(cell)` (classic IVFADC) or raw vectors. */
  final case class Meta(corpusVersion: Long, cellsVersion: Long,
                        nlist: Int, m: Int, dsub: Int, ksub: Int,
                        residual: Boolean)

  def centroidsDir(indexDir: String): String = s"$indexDir/centroids"
  def codebookDir(indexDir: String): String = s"$indexDir/codebook"
  def cellsDir(indexDir: String): String = s"$indexDir/cells"
  private val MetaFile = "_ivfpq_meta"

  def meta(indexDir: String): Option[Meta] =
    IndexDelta.readMeta(indexDir, MetaFile, "IVF-PQ", 7)
      .map(p => Meta(p(0).toLong, p(1).toLong, p(2).toInt, p(3).toInt,
        p(4).toInt, p(5).toInt, p(6) == "1"))

  private def corpusVersionOf(corpusPath: String): Long =
    Snapshot.currentVersion(corpusPath).getOrElse(
      throw new IllegalStateException(
        s"IVF-PQ index requires a versioned corpus snapshot at " +
          s"$corpusPath"))

  private def cellsRead(spark: SparkSession, indexDir: String): DataFrame =
    Snapshot.read(spark, cellsDir(indexDir))
      .withColumn("centroid_id", col("centroid_id").cast("long"))

  /** Assign each vector to its cell and — in the residual arm —
    * replace `embedding` by `x − centroid(cell)` (exact float→double
    * casts, double subtraction: bit-replayable in SQL). One pass over
    * `vectors`: the assignment joins broadcast centroids, and the
    * residual is a scan-side `zip_with` against the same broadcast. */
  private def assignResidual(vectors: DataFrame, centroids: DataFrame,
                             residual: Boolean): DataFrame = {
    val assigned = SimilarityOps.assignCentroids(vectors, centroids, 1)
      .withColumn("centroid_id", col("centroid_id").cast("long"))
    if (!residual) assigned
    else assigned
      .join(broadcast(centroids.select(
        col("centroid_id").cast("long").as("centroid_id"),
        col("c_embedding"))), "centroid_id")
      .withColumn("embedding", zip_with(col("embedding"),
        col("c_embedding"),
        (x, c) => x.cast("double") - c.cast("double")))
      .drop("c_embedding")
  }

  /** Assign (+ residualize) and PQ-encode in ONE pass over `vectors`:
    * the encode is a scan-side projection (literal codebook) applied
    * directly onto the assignment's output — no second corpus scan,
    * no vec_id join/shuffle. */
  private def assignAndEncode(spark: SparkSession, vectors: DataFrame,
                              centroids: DataFrame,
                              book: Seq[(Int, Int, Seq[Double])],
                              m: Int, dsub: Int,
                              residual: Boolean): DataFrame =
    SimilarityOps.pqEncode(
      assignResidual(vectors, centroids, residual),
      book, m, dsub, keep = Seq("centroid_id"))

  /** Build: sample centroids, train the PQ book — in the residual arm
    * on the RESIDUALS of md5-sampled training rows DISJOINT from the
    * centroid sample (ranks (nlist, nlist+ksub] of the same md5
    * order; a centroid's own residual is zero, so an overlapping
    * sample would train a degenerate all-zero book) — and store codes
    * CLUSTERED BY CELL. O(ksub·nlist) training work: only the ksub
    * sampled vectors residualize for training.
    * @return vectors indexed */
  def build(spark: SparkSession, corpusPath: String, indexDir: String,
            nlist: Int, m: Int, dsub: Int, ksub: Int,
            residual: Boolean = true): Long =
    buildWith(spark, corpusPath, indexDir,
      SimilarityOps.sampleCentroids(
        Snapshot.read(spark, corpusPath), nlist),
      nlist, m, dsub, ksub, residual)

  /** The build body against an EXPLICIT coarse codebook — `build`
    * feeds it the md5 sample, `rebalance` a Lloyd-trained one. The
    * PQ book retrains too (residuals are relative to the new cells). */
  private def buildWith(spark: SparkSession, corpusPath: String,
                        indexDir: String, centroids0: DataFrame,
                        nlist: Int, m: Int, dsub: Int, ksub: Int,
                        residual: Boolean): Long = {
    val version = corpusVersionOf(corpusPath)
    val corpus = Snapshot.read(spark, corpusPath)
    val centroids = centroids0.localCheckpoint()
    // one token rides all THREE component commits — see
    // [[IndexDelta.requireCoherent]]
    val token = IndexDelta.newBuildToken()
    val trainSrc =
      if (!residual) corpus
      else assignResidual(
        corpus.orderBy(md5(col("vec_id").cast("string")))
          .offset(nlist).limit(ksub),
        centroids, residual = true)
    // the book collect must precede the cells write (the encoder
    // consumes the literal book); the three component WRITES are then
    // independent — overlap them (guide §2.6)
    val book = SimilarityOps.pqCollectBook(trainSrc, m, dsub, ksub)
    graft.pipeline.Par.all(Seq(
      () => Snapshot.createOrReplaceWithMeta(centroids,
        centroidsDir(indexDir), keepVersions = 1,
        IndexDelta.BuildTokenFile, token),
      () => Snapshot.createOrReplaceWithMeta(
        SimilarityOps.pqBookFrame(spark, book),
        codebookDir(indexDir), keepVersions = 1,
        IndexDelta.BuildTokenFile, token),
      () => Snapshot.createOrReplacePartitioned(
        assignAndEncode(spark, corpus, centroids, book, m, dsub,
          residual),
        cellsDir(indexDir), Seq("centroid_id"), keepVersions = 1,
        metaName = Some(IndexDelta.BuildTokenFile), metaContent = token)))
    IndexDelta.writeMeta(indexDir, MetaFile, Meta(version,
      Snapshot.currentVersion(cellsDir(indexDir)).getOrElse(0L),
      nlist, m, dsub, ksub, residual))
    // row count from the freshly written (sidecar-free) cells
    // fragments' parquet footers — no read+count job (r19)
    Snapshot.parquetFooterRowCount(cellsDir(indexDir))
  }

  /** Assign + encode the commit-window change set as a MOR sidecar —
    * O(window delta); deleted corpus keys propagate as a key-scoped
    * equality delete on the codes table in the same commit; a crashed
    * partial refresh replays as a self-healing upsert.
    * @return newly indexed vectors */
  def refresh(spark: SparkSession, corpusPath: String,
              indexDir: String, compactAfterCommits: Int = 64): Long = {
    val im = meta(indexDir).getOrElse(throw new IllegalStateException(
      s"no IVF-PQ index at $indexDir (build first)"))
    val version = corpusVersionOf(corpusPath)
    if (version == im.corpusVersion) return 0L
    val n = IndexDelta.applyRefresh(spark, corpusPath,
        cellsDir(indexDir), im.cellsVersion, im.corpusVersion, version,
        "IVF-PQ index", compactAfterCommits = compactAfterCommits) { delta =>
      val centroids = Snapshot.read(spark, centroidsDir(indexDir))
      val book = Snapshot.read(spark, codebookDir(indexDir))
        .select("sub", "code", "c_sub").collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toSeq))
        .toSeq.sortBy(t => (t._1, t._2))
      assignAndEncode(spark, delta, centroids, book,
        im.m, im.dsub, im.residual)
    }
    IndexDelta.writeMeta(indexDir, MetaFile,
      im.copy(corpusVersion = version, cellsVersion =
        Snapshot.currentVersion(cellsDir(indexDir)).getOrElse(0L)))
    n
  }

  /** Per-cell code counts — the drift/skew probe (see
    * [[IvfIndex.cellSizes]]). */
  def cellSizes(spark: SparkSession, indexDir: String): DataFrame =
    cellsRead(spark, indexDir).groupBy("centroid_id")
      .agg(count(lit(1)).as("n"))

  /** Drift maintenance — [[IvfIndex.rebalance]]'s IVFADC twin:
    * re-cluster AND retrain the PQ book against the live corpus when
    * the max/median cell-size ratio crosses `threshold`.
    * @return (rebalanced?, max cell rows, median cell rows) */
  def rebalance(spark: SparkSession, corpusPath: String,
                indexDir: String,
                threshold: Double): (Boolean, Long, Long) = {
    val im = meta(indexDir).getOrElse(throw new IllegalStateException(
      s"no IVF-PQ index at $indexDir (build first)"))
    IvfIndex.driftRebalance(spark, corpusPath,
      cellSizes(spark, indexDir), threshold, im.nlist)(centroids =>
      buildWith(spark, corpusPath, indexDir, centroids,
        im.nlist, im.m, im.dsub, im.ksub, im.residual))
  }

  /** The IVFADC read: probe `nprobe` cells per query (fragment-pruned
    * codes scan), ADC-score the probed cells against broadcast
    * distance tables, shortlist, exact-rerank against the corpus.
    * @param queries (query_id, q_embedding)
    * @return (query_id, neighbor_id, rank, score_micros) */
  def search(spark: SparkSession, corpusPath: String, indexDir: String,
             queries: DataFrame, k: Int, nprobe: Int, shortlist: Int,
             excludeSelf: Boolean = true): DataFrame = {
    val im = meta(indexDir).getOrElse(throw new IllegalStateException(
      s"no IVF-PQ index at $indexDir (build first)"))
    val version = corpusVersionOf(corpusPath)
    if (version != im.corpusVersion)
      throw new IllegalStateException(
        s"IVF-PQ index at $indexDir is STALE: it indexes corpus " +
          s"version ${im.corpusVersion} but the live corpus is " +
          s"v$version — run IvfPqIndex.refresh or rebuild")
    IndexDelta.requireCoherent(indexDir,
      Seq(centroidsDir(indexDir), codebookDir(indexDir),
        cellsDir(indexDir)), "IVF-PQ index")
    val centroids = Snapshot.read(spark, centroidsDir(indexDir))
      .localCheckpoint()
    // per-(query, probed cell) rows; the residual arm also carries the
    // q·c_cell partial inner product (Jégou's decomposition:
    // q·x ≈ q·c_cell + Σ_s q_s·book(code_s)) — nprobe broadcast-side
    // rows per query, quantized to the same exact BIGINT micros as the
    // table lookups so the sum stays order-free
    val qcells0 = SimilarityOps.assignCentroids(
        queries.select(col("query_id").as("vec_id"),
          col("q_embedding").as("embedding")), centroids, nprobe)
      .select(col("vec_id").as("query_id"),
        col("embedding").as("q_embedding"), col("centroid_id"))
    val qcells =
      (if (!im.residual) qcells0.withColumn("qc_micros", lit(0L))
       else qcells0
         .join(broadcast(centroids), "centroid_id")
         .withColumn("qc_micros",
           round(SimilarityOps.dot(col("q_embedding"),
             col("c_embedding")) * lit(1000000.0)).cast("long"))
         .drop("c_embedding"))
        .localCheckpoint()
    // centroid_id inherits the corpus vec_id's type — cast before the
    // driver read so an INT-keyed corpus cannot ClassCastException
    // (the cellsRead side already pins long for the same reason)
    val probes = qcells.select(col("centroid_id").cast("long"))
      .distinct().collect().map(_.getLong(0)).toSeq
    // per-query partial inner products against the broadcast codebook
    // (the full query slices in BOTH arms: for residual codes the
    // lookup approximates q_s·r_s, the residual's contribution)
    val dtab = queries.crossJoin(
        broadcast(Snapshot.read(spark, codebookDir(indexDir))))
      .select(col("query_id"), col("sub"), col("code"),
        round(SimilarityOps.dot(
          slice(col("q_embedding"), col("sub") * im.dsub + 1,
            lit(im.dsub)), col("c_sub")) * lit(1000000.0)).cast("long")
          .as("pdot_micros"))
    // fragment-pruned codes scan, scoped to each query's OWN probes
    val exploded = cellsRead(spark, indexDir)
      .filter(col("centroid_id").isin(probes: _*))
      .join(broadcast(qcells
          .select("query_id", "centroid_id", "qc_micros")),
        "centroid_id")
      .select(col("query_id"), col("vec_id"), col("qc_micros"),
        posexplode(col("codes")).as(Seq("sub", "code")))
    val cand = exploded.join(broadcast(dtab),
        Seq("query_id", "sub", "code"))
      .filter(if (excludeSelf) col("query_id") =!= col("vec_id")
              else lit(true))
      .groupBy("query_id", "vec_id")
      // a vector lives in exactly one cell, so qc_micros is constant
      // within the group — max() just carries it through the agg
      .agg((sum("pdot_micros") + max("qc_micros")).as("adc_micros"))
    val ws = Window.partitionBy("query_id")
      .orderBy(col("adc_micros").desc, col("vec_id"))
    val short = cand.withColumn("_rn", row_number().over(ws))
      .filter(col("_rn") <= shortlist)
      .select(col("query_id"), col("vec_id").as("neighbor_id"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score_micros").desc, col("neighbor_id"))
    short
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
