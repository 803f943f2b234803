package graft

import org.apache.spark.sql.functions._

/** ANN-index scale soak: at each corpus scale, time a search through
  * the persisted IVF-PQ index (fragment-pruned: reads nprobe/nlist of
  * the cells) against the plain persisted PQ index (ADC over the WHOLE
  * codes table) for the SAME query set. The 100-TB claim: IVFADC's
  * probed bytes grow as corpus·nprobe/nlist while plain ADC grows as
  * corpus — the factor between them should approach nlist/nprobe as
  * the corpus grows and per-query constants amortize.
  *
  * Build cost is reported too (both are one-time, O(corpus)).
  *
  * Usage: `sbt "runMain graft.SoakAnn [mult,mult,…]"` (default
  * 8,32,128 over sf0.1 embeddings = 16k/64k/256k vectors; nlist=32,
  * nprobe=2). Prints one JSON line.
  */
object SoakAnn {
  def main(args: Array[String]): Unit = {
    val mults = args.headOption
      .map(_.split(",").map(_.trim.toInt).toSeq)
      .getOrElse(Seq(8, 32, 128))
    val sfDir =
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Bench.mkSession()

    val base = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
    val (nlist, nprobe, m, dsub, ksub) = (32, 2, 8, 8, 16)

    val out = mults.map { mult =>
      val scaled =
        if (mult <= 1) base
        else (0 until mult).map(k => base.withColumn("vec_id",
          col("vec_id") + k * 100000000L)).reduce(_ unionByName _)
      val root = java.nio.file.Files.createTempDirectory(s"sa$mult")
      val corpus = s"$root/corpus"
      graft.pipeline.Snapshot.createOrReplace(
        scaled.localCheckpoint(), corpus, keepVersions = 2)
      val rows = graft.pipeline.Snapshot.read(spark, corpus).count()
      val queries = graft.pipeline.Snapshot.read(spark, corpus)
        .filter(col("vec_id") % 2000 === 0)
        .select(col("vec_id").as("query_id"),
          col("embedding").as("q_embedding"))
        .localCheckpoint()
      val tBuildIvfPq = Bench.secs(graft.ext.IvfPqIndex.build(spark, corpus,
        s"$root/ivfpq", nlist, m, dsub, ksub))
      val tBuildPq = Bench.secs(graft.ext.PqIndex.build(spark, corpus,
        s"$root/pq", m, dsub, ksub))
      val tIvfPq = Bench.secs(graft.ext.IvfPqIndex.search(spark, corpus,
        s"$root/ivfpq", queries, 5, nprobe, 40).count())
      val tPq = Bench.secs(graft.ext.PqIndex.search(spark, corpus,
        s"$root/pq", queries, 5, 40).count())
      s""""x$mult":{"rows":$rows,"ivfpq_search_sec":$tIvfPq,""" +
        s""""pq_search_sec":$tPq,"ivfpq_build_sec":$tBuildIvfPq,""" +
        s""""pq_build_sec":$tBuildPq}"""
    }
    println(s"""{"soak":"ann_index_search","nlist":$nlist,""" +
      s""""nprobe":$nprobe,${out.mkString(",")}}""")
    spark.stop()
  }
}
