package graft

import org.apache.spark.sql.functions._

/** Persisted inverted-text-index lifecycle soak (the [[SoakPq]]
  * discipline for [[graft.ext.TextIndex]]): at each corpus scale,
  * time the full build against (a) an incremental refresh after a
  * FIXED 2k-doc fast-append commit, (b) a refresh after a FIXED
  * 1k-doc equality-delete commit, and (c) a BM25 search from the
  * persisted postings. The 100-TB claims under test: build is
  * O(corpus) (every doc tokenizes), BOTH refresh arms are O(window
  * delta) — append sidecars + bucket-pruned doclens lookups, never a
  * corpus or postings re-scan — so they must stay FLAT while the
  * corpus and build grow by orders of magnitude; search reads only
  * the queried terms' bucket fragments, so its growth must track the
  * queried posting lists (≤ linear in corpus with a fixed vocabulary,
  * never the tokenize-everything cost the derive-per-query
  * [[graft.ext.TextOps.bm25TopK]] pays — timed beside it as the
  * honest comparison).
  *
  * Usage: `sbt "runMain graft.SoakText [mult,mult,…] [phrase]"`
  * (default 1,4,16 over sf0.1 documents; the optional `phrase` arg
  * builds the index POSITIONAL and additionally times the
  * anchor-method phrase read against its derive-per-query scan).
  * Prints one JSON line. */
object SoakText {
  def main(args: Array[String]): Unit = {
    val mults = args.headOption
      .map(_.split(",").map(_.trim.toInt).toSeq)
      .getOrElse(Seq(1, 4, 16))
    val phrase = args.contains("phrase")
    val sfDir =
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Bench.mkSession()

    val base = Tables.documents(spark, sfDir).select("doc_id", "text")
    val deltaSize = 2000L
    val qt = spark.createDataFrame(queries.ExtQueries.Bm25Queries)
      .toDF("query_id", "term")

    val out = mults.map { mult =>
      val scaled =
        if (mult <= 1) base
        else (0 until mult).map(k => base.withColumn("doc_id",
          col("doc_id") + k * 100000000L)).reduce(_ unionByName _)
      val root = java.nio.file.Files.createTempDirectory(s"st$mult")
      val corpus = s"$root/corpus"
      val idx = s"$root/text"
      val ordered = scaled.orderBy("doc_id").localCheckpoint()
      val rows = ordered.count()
      val tail = ordered.orderBy(col("doc_id").desc)
        .limit(deltaSize.toInt).localCheckpoint()
      val v1 = ordered.join(tail.select("doc_id"), Seq("doc_id"),
        "left_anti").localCheckpoint()
      graft.pipeline.Snapshot.createOrReplace(v1, corpus,
        keepVersions = 2)
      val t0 = System.nanoTime()
      graft.ext.TextIndex.build(spark, corpus, idx, positional = phrase)
      val tBuild = (System.nanoTime() - t0) / 1e9
      graft.pipeline.Snapshot.morCommit(spark, corpus, deletes = None,
        appends = Some(tail), operation = "append")
      val t1 = System.nanoTime()
      val d = graft.ext.TextIndex.refresh(spark, corpus, idx)
      val tRefresh = (System.nanoTime() - t1) / 1e9
      require(d == deltaSize, s"delta must be $deltaSize, got $d")
      val victims = v1.limit(1000).localCheckpoint()
      graft.pipeline.Snapshot.morCommit(spark, corpus,
        deletes = Some(victims), appends = None, operation = "delete")
      val t2 = System.nanoTime()
      val d2 = graft.ext.TextIndex.refresh(spark, corpus, idx)
      val tDelRefresh = (System.nanoTime() - t2) / 1e9
      require(d2 == 0L, s"a delete-only window indexes nothing: $d2")
      // search from the persisted index vs the derive-per-query path
      // (same result by the shared formula; the COST gap is the point)
      val t3 = System.nanoTime()
      val nIdx = graft.ext.TextIndex.search(spark, corpus, idx, qt,
        k = 10).count()
      val tSearch = (System.nanoTime() - t3) / 1e9
      val t4 = System.nanoTime()
      val nDerive = graft.ext.TextOps.bm25TopK(
        graft.pipeline.Snapshot.read(spark, corpus), qt, k = 10).count()
      val tDerive = (System.nanoTime() - t4) / 1e9
      require(nIdx == nDerive,
        s"index and derive row counts must agree: $nIdx vs $nDerive")
      val phraseTimes =
        if (!phrase) ""
        else {
          val ph = queries.ExtQueries.PhraseQueries
          val t5 = System.nanoTime()
          val nP = graft.ext.TextIndex.phraseCount(spark, corpus, idx,
            ph).count()
          val tP = (System.nanoTime() - t5) / 1e9
          val t6 = System.nanoTime()
          val nPd = graft.ext.TextOps.phraseCounts(
            graft.pipeline.Snapshot.read(spark, corpus), ph).count()
          val tPd = (System.nanoTime() - t6) / 1e9
          require(nP == nPd,
            s"phrase counts must agree: $nP vs $nPd")
          s""","phrase_sec":$tP,"derive_phrase_sec":$tPd"""
        }
      s""""x$mult":{"rows":$rows,"build_sec":$tBuild,""" +
        s""""refresh_sec":$tRefresh,"del_refresh_sec":$tDelRefresh,""" +
        s""""search_sec":$tSearch,"derive_search_sec":$tDerive""" +
        phraseTimes + "}"
    }
    println(s"""{"soak":"text_index","delta_rows":$deltaSize,""" +
      out.mkString(",") + "}")
    spark.stop()
  }
}
