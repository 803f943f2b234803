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
  * The lifecycle is [[IndexDelta]]'s, and so are the read steps it
  * shares with the parents (the cell probe, the book decode, the
  * exact rerank): refresh assigns + encodes the commit-window change
  * set as a MOR sidecar, propagating corpus deletes as a key-scoped
  * equality delete on the codes table. */
object IvfPqIndex {

  /** `cellsVersion`: crash detector for the idempotence guard — see
    * [[PqIndex.Meta]]. `residual`: whether the codes quantize
    * `x − centroid(cell)` (classic IVFADC) or raw vectors. */
  final case class Meta(corpusVersion: Long, cellsVersion: Long,
                        nlist: Int, m: Int, dsub: Int, ksub: Int,
                        residual: Boolean, buildToken: String)
      extends IndexDelta.Stamp

  def centroidsDir(indexDir: String): String = s"$indexDir/centroids"
  def codebookDir(indexDir: String): String = s"$indexDir/codebook"
  def cellsDir(indexDir: String): String = s"$indexDir/cells"

  private val Family = new IndexDelta.Family[Meta]("IVF-PQ",
    "IvfPqIndex", "_ivfpq_meta", 8, p => Meta(p(0).toLong, p(1).toLong,
      p(2).toInt, p(3).toInt, p(4).toInt, p(5).toInt, p(6) == "1", p(7)),
    d => Seq(centroidsDir(d), codebookDir(d), cellsDir(d)))

  def meta(indexDir: String): Option[Meta] = Family.meta(indexDir)

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
    val version = Family.corpusVersionOf(corpusPath)
    val corpus = Snapshot.read(spark, corpusPath)
    val centroids = centroids0.localCheckpoint()
    val trainSrc =
      if (!residual) corpus
      else assignResidual(
        corpus.orderBy(md5(col("vec_id").cast("string")))
          .offset(nlist).limit(ksub),
        centroids, residual = true)
    // the book collect must precede the cells write (the encoder
    // consumes the literal book); the three component writes are then
    // independent
    val book = SimilarityOps.pqCollectBook(trainSrc, m, dsub, ksub)
    Family.commitBuild(indexDir, Seq(
      IndexDelta.component(centroidsDir(indexDir))(centroids),
      IndexDelta.component(codebookDir(indexDir))(
        SimilarityOps.pqBookFrame(spark, book)),
      IndexDelta.component(cellsDir(indexDir), "centroid_id")(
        assignAndEncode(spark, corpus, centroids, book, m, dsub,
          residual))))(token =>
      Meta(version, Snapshot.currentVersion(cellsDir(indexDir))
        .getOrElse(0L), nlist, m, dsub, ksub, residual, token))
    // row count from the freshly written (sidecar-free) cells
    // fragments' parquet footers — no read+count job (r19)
    Snapshot.parquetFooterRowCount(cellsDir(indexDir))
  }

  /** Assign + encode the commit-window change set as a MOR sidecar
    * ([[IndexDelta.Family.refreshTable]]) — O(window delta); deleted
    * corpus keys propagate as a key-scoped equality delete on the
    * codes table in the same commit. @return newly indexed vectors */
  def refresh(spark: SparkSession, corpusPath: String,
              indexDir: String, compactAfterCommits: Int = 64): Long =
    Family.refreshTable(spark, corpusPath, indexDir, cellsDir(indexDir),
        compactAfterCommits)(_.cellsVersion,
        (im, v, tv) => im.copy(corpusVersion = v, cellsVersion = tv)) {
      (im, delta) => assignAndEncode(spark, delta,
        Snapshot.read(spark, centroidsDir(indexDir)),
        IndexDelta.readBook(spark, codebookDir(indexDir)),
        im.m, im.dsub, im.residual)
    }

  /** Per-cell code counts — the drift/skew probe
    * ([[IndexDelta.cellSizes]]). */
  def cellSizes(spark: SparkSession, indexDir: String): DataFrame =
    IndexDelta.cellSizes(spark, cellsDir(indexDir))

  /** Drift maintenance — [[IvfIndex.rebalance]]'s IVFADC twin:
    * re-cluster AND retrain the PQ book against the live corpus when
    * the max/median cell-size ratio crosses `threshold`.
    * @return (rebalanced?, max cell rows, median cell rows) */
  def rebalance(spark: SparkSession, corpusPath: String,
                indexDir: String,
                threshold: Double): (Boolean, Long, Long) = {
    val (im, _) = Family.open(indexDir, corpusPath, read = false)
    IndexDelta.driftRebalance(spark, corpusPath,
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
    val (im, _) = Family.open(indexDir, corpusPath, read = true)
    val centroids = Snapshot.read(spark, centroidsDir(indexDir))
      .localCheckpoint()
    // per-(query, probed cell) rows; the residual arm also carries the
    // q·c_cell partial inner product (Jégou's decomposition:
    // q·x ≈ q·c_cell + Σ_s q_s·book(code_s)) — nprobe broadcast-side
    // rows per query, quantized to the same exact BIGINT micros as the
    // table lookups so the sum stays order-free
    val (qcells, cells) = IndexDelta.probeCells(spark,
        cellsDir(indexDir), queries, centroids, nprobe) { qcells0 =>
      if (!im.residual) qcells0.withColumn("qc_micros", lit(0L))
      else qcells0
        .join(broadcast(centroids), "centroid_id")
        .withColumn("qc_micros",
          round(SimilarityOps.dot(col("q_embedding"),
            col("c_embedding")) * lit(1000000.0)).cast("long"))
        .drop("c_embedding")
    }
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
    // the fragment-pruned codes scan, scoped to each query's OWN probes
    val exploded = cells
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
    IndexDelta.rerank(spark, corpusPath, short, queries, k)
  }
}
