package graft

import graft.ext.DedupOps
import org.apache.spark.sql.functions._

/** Scale-soak for the dedup family: replicate+mutate the sf0.1 twin
  * corpus N× and time exactDedup / nearDuplicates / ngramJaccardPairs /
  * decontaminate / simhashPairsMulti — the cheapest empirical probe for
  * the reducer-serialization skew class before a real cluster would hit
  * it (BASELINE.md records the 1×→10× wall-time scaling factors).
  *
  * The replication is deliberately adversarial for dedup:
  *  - EVEN replicas keep the text verbatim → exact-dup groups grow to
  *    mult/2 copies per document (stresses the survivor groupBy);
  *  - ODD replicas prepend a replica token → near-dups of the base
  *    (high shingle overlap), multiplying LSH bucket sizes and hence
  *    the candidate joins' Σ bucket² cost;
  *  - document frequency of every shingle grows ~mult× → the df-cap
  *    and heavy-shingle broadcast anti-join actually engage.
  *
  * Usage: `sbt "runMain graft.Soak <mult> [op,op,…]"` (default 10;
  * 1 = baseline; the optional second arg restricts to the named ops —
  * the 100× runs use it, the full list at 100× would take hours on the
  * quadratic-by-design entries like semantic_dedup).
  * Prints one JSON line; compare per-op seconds across mults.
  */
object Soak {
  def main(args: Array[String]): Unit = {
    val mult = args.headOption.map(_.toInt).getOrElse(10)
    val only: Set[String] = args.lift(1)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Bench.mkSession()

    val docs = Tables.documents(spark, sfDir)
    val twins = graft.queries.ExtQueries.corpusWithTwins(docs)
    val scaled =
      if (mult <= 1) twins
      else (0 until mult).map { k =>
        val shifted = twins
          .withColumn("doc_id", col("doc_id") + k * 10000000L)
        if (k % 2 == 0) shifted
        else shifted.withColumn("text", concat(lit(s"r$k "), col("text")))
      }.reduce(_ unionByName _)
    // materialize the input so corpus construction is not in any timing
    val corpus = scaled
      .repartition(spark.sparkContext.defaultParallelism)
      .localCheckpoint()
    val n = corpus.count()

    val block = docs.filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"), col("text"))
    // embeddings corpus scaled the same way (even replicas verbatim,
    // odd replicas perturbed) — shared by the semantic-dedup and
    // retrieval entries below; built OUTSIDE the timings and BEFORE
    // the baseline snapshot so timed()'s per-op block release never
    // unpersists these shared fixtures
    val ebase = graft.queries.ExtQueries
      .embTwins(Tables.embeddings(spark, sfDir))
    val escaled =
      if (mult <= 1) ebase
      else (0 until mult).map { k =>
        val shifted = ebase
          .withColumn("vec_id", col("vec_id") + k * 10000000L)
        if (k % 2 == 0) shifted
        else shifted.withColumn("embedding",
          transform(col("embedding"), x => x + lit(0.001) * (k % 5)))
      }.reduce(_ unionByName _)
    val ecorpus = escaled
      .repartition(spark.sparkContext.defaultParallelism)
      .localCheckpoint()
    ecorpus.count()
    // retrieval queries stay FIXED (base corpus only): the production
    // shape is a constant query set over a growing corpus, so the
    // factor isolates corpus-side scaling
    val equeries = ebase.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"),
        col("embedding").as("q_embedding"))
      .localCheckpoint()
    equeries.count()

    val baseline = spark.sparkContext.getPersistentRDDs.keySet
    // skipped-by-filter ops cost nothing: the body is by-name and the
    // filter check runs first
    def timed(name: String)(df: => org.apache.spark.sql.DataFrame)
        : Option[(String, Double, Long)] = {
      if (only.nonEmpty && !only.contains(name)) return None
      val t0 = System.nanoTime()
      val rows = df.count()
      val dt = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!baseline.contains(id)) rdd.unpersist(blocking = true)
      }
      System.gc()
      Some((name, dt, rows))
    }

    val results = Seq(
      timed("exact_dedup") { DedupOps.exactDedup(corpus) },
      timed("near_dup") { DedupOps.nearDuplicates(corpus, minJaccard = 0.4) },
      timed("ngram_jaccard") {
        DedupOps.ngramJaccardPairs(corpus, minJaccard = 0.4) },
      timed("decontaminate") {
        DedupOps.decontaminate(corpus, block, minJaccard = 0.4) },
      timed("simhash_multi") { DedupOps.simhashPairsMulti(corpus, 6) },
      // X2j under duplication: corpus shingle occurrences grow mult×
      // (linear probe volume); the blocklist side is unchanged
      timed("exact_contamination") {
        DedupOps.exactContamination(corpus, block) },
      // X13 under duplication: ~800k directed edges at 10× — still
      // under the 1M-row union-find threshold, so rowsPerPartition is
      // forced down to 64k to exercise the partitioned BSP path
      // (multi-partition rounds, narrow edge joins) that a >1M-edge
      // graph takes in production
      timed("dup_clusters_bsp") {
        graft.ext.Clusters.connectedComponents(
          DedupOps.nearDuplicates(corpus, minJaccard = 0.4),
          rowsPerPartition = 1L << 16) },
      // X2g under duplication: every verbatim replica shares ALL its
      // fingerprints with its base → posting-list pair enumeration is
      // Σ_fp df² — quadratic in TRUE duplication until df crosses the
      // maxDf cap (winnow fps are selective: df ≈ replicas ≈ 10 here,
      // well under 50, so the cap does NOT engage — unlike the 3-gram
      // shingles, whose df sits near the cap already at 1×)
      timed("span_dup") { DedupOps.spanDuplicates(corpus) },
      // X2i under duplication: candidates are near_dup's banded pairs
      // (quadratic in replica count), each paying a CONSTANT
      // prefixLen²-bounded Levenshtein — time should track the
      // candidate count, the bound that makes edit distance usable at
      // scale at all
      timed("edit_distance") { DedupOps.editDistancePairs(corpus) },
      // the mitigation a curation DAG gets for free: exact-dedup FIRST
      // collapses the verbatim replicas, so the remaining df is the
      // near-dup multiplicity only — the measured argument for stage
      // order, same as the semantic-dedup note
      timed("span_dup_deduped") {
        DedupOps.spanDuplicates(DedupOps.exactDedup(corpus)
          .drop("content_hash", "dup_count").localCheckpoint())
      },
      // the composed curation chain (gate → dedup → decontaminate →
      // quota → split) — proves the stage-boundary materialization
      // pattern holds under duplication, not just each op alone
      timed("packing") {
        graft.ext.Packing.chunkSpans(
          graft.ext.Packing.packingPlan(corpus, budget = 2048,
            shards = 64), budget = 2048)
      },
      // X2f under duplication: every replica of a vector lands in the
      // same IVF cell, so cell population grows mult× and the
      // within-cell pairwise step mult²× — the documented SemDeDup
      // quadratic, measured here (run exact dedup first in a real DAG;
      // this soak deliberately does not)
      timed("semantic_dedup") {
        graft.ext.SimilarityOps.semanticDedup(ecorpus,
          graft.ext.SimilarityOps.sampleCentroids(ecorpus, 64), 0.99)
      },
      // X2f' under duplication: the corpus side grows mult× but the
      // blocklist stays fixed, so per-cell work grows LINEARLY with
      // mult (corpus/nlist × blocklist/nlist per cell) — unlike
      // semantic_dedup's mult² self-join, decontamination should track
      // the corpus, which is the design claim to verify
      timed("semantic_decontaminate") {
        // blocklist FIXED at base scale (the production shape: a
        // constant benchmark set over a growing corpus)
        val block = ebase.filter(col("vec_id") % 25 === 0)
          .select((col("vec_id") + 500000).as("vec_id"),
            col("embedding"))
        graft.ext.SimilarityOps.semanticDecontaminate(ecorpus, block,
          graft.ext.SimilarityOps.sampleCentroids(ecorpus, 64), 0.99)
      },
      // X4e under duplication: postings grow mult× but the query-term
      // broadcast prunes them BEFORE scoring — time should track the
      // matched-posting volume (linear), not the corpus
      timed("bm25") {
        val qt = spark.createDataFrame(graft.queries.ExtQueries
          .Bm25Queries).toDF("query_id", "term")
        graft.ext.TextOps.bm25TopK(corpus, qt, k = 10)
      },
      // X4e'/X4i: the chunker fans each doc into ~n/48 chunks first, so
      // the posting table is chunk-sized — the factor proves the
      // composition stays linear too
      timed("chunk_retrieval") {
        val chunks = graft.ext.TextOps.chunkDocs(corpus)
          .select((col("doc_id") * 1000 + col("chunk_id"))
            .as("chunk_key"), col("chunk_text"))
        val qt = spark.createDataFrame(graft.queries.ExtQueries
          .Bm25Queries).toDF("query_id", "term")
        graft.ext.TextOps.bm25TopK(chunks, qt, k = 10,
          idCol = "chunk_key", textCol = "chunk_text")
      },
      // X2f retrieval arm: fixed queries, corpus mult× — IVF probes
      // nprobe cells so time should track cell population (~mult×),
      // not the brute-force corpus×queries product
      timed("topk_ivf") {
        graft.ext.SimilarityOps.ivfTopK(equeries, ecorpus,
          graft.ext.SimilarityOps.sampleCentroids(ecorpus, 32), 5, 2)
      },
      // X2f trainer arm: 2 Lloyd rounds — each round is one
      // partial-aggregated pass over the corpus plus a codebook-sized
      // exchange; the factor should sit near mult× (pass cost), with
      // the exchange constant
      timed("kmeans") {
        graft.ext.SimilarityOps.kmeansStats(ecorpus,
          graft.ext.SimilarityOps.sampleCentroids(ecorpus, 32), 2)
      },
      // X3g under duplication: encode is one scan-side literal-argmin
      // pass (should track mult×); the ADC search moves only
      // (vec, sub, code) triples against a FIXED query distance table,
      // so search time should track the corpus too — never the
      // corpus×queries embedding-dot product
      timed("pq_encode") {
        val book = graft.ext.SimilarityOps
          .pqCollectBook(ecorpus, 8, 8, 16)
        graft.ext.SimilarityOps.pqEncode(ecorpus, book, 8, 8)
      },
      timed("pq_adc") {
        val book = graft.ext.SimilarityOps
          .pqCollectBook(ecorpus, 8, 8, 16)
        val codes = graft.ext.SimilarityOps
          .pqEncode(ecorpus, book, 8, 8).localCheckpoint()
        graft.ext.SimilarityOps.pqTopK(equeries, codes,
          graft.ext.SimilarityOps.pqBookFrame(spark, book), 5, 8)
      },
      timed("curation") {
        val toks = split(col("text"), " ")
        val gated = corpus.filter(size(toks) >= 10 &&
            size(array_distinct(toks)).cast("double")
              / size(toks).cast("double") >= 0.3)
          .select(col("doc_id"), col("text"), col("source"))
        val deduped = DedupOps.exactDedup(gated)
          .drop("content_hash", "dup_count").localCheckpoint()
        val clean = DedupOps.decontaminate(deduped, block,
          minJaccard = 0.4).localCheckpoint()
        val capped = graft.ext.Sampling
          .quotaSample(clean, "doc_id", "source", n = 40)
        graft.ext.Sampling.trainTestSplit(capped, "doc_id", 10)
      })

    val js = results.flatten.map { case (k, s, r) =>
      s""""$k":{"sec":$s,"rows":$r}""" }.mkString(",")
    println(s"""{"soak_mult":$mult,"corpus_rows":$n,$js}""")
    spark.stop()
  }
}
