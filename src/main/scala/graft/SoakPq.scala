package graft

import org.apache.spark.sql.functions._

/** Persisted-PQ-index lifecycle soak: at each corpus scale, time the
  * full [[graft.ext.PqIndex.build]] against an incremental
  * [[graft.ext.PqIndex.refresh]] after a FIXED 2k-vector FAST-APPEND
  * commit, and a second refresh after a FIXED 1k-vector EQUALITY-
  * DELETE commit. The 100-TB claim: build is O(corpus) (every vector
  * encodes), refresh is O(window delta) — appends come from the
  * window's append sidecars, deleted keys from its delete sidecars
  * (propagated as a key-scoped equality delete on the codes table) —
  * so the corpus is never re-scanned and BOTH refresh arms must stay
  * FLAT while the corpus (and build) grows by orders of magnitude.
  * (Positional deletes additionally read the files their pairs
  * reference — O(touched files), so a scattered positional delete is
  * priced by its scatter; the equality arm timed here is the
  * identifier-keyed DML/GDPR-erase shape that stays O(delta).)
  *
  * Usage: `sbt "runMain graft.SoakPq [mult,mult,…]"` (default
  * 2,16,128,256 over sf0.1 embeddings — the fixture has 2k vectors,
  * so the corpus spans 4k → 512k, a 128× growth, with a fixed
  * 2k-vector append and 1k-vector delete). Prints one JSON line. */
object SoakPq {
  def main(args: Array[String]): Unit = {
    val mults = args.headOption
      .map(_.split(",").map(_.trim.toInt).toSeq)
      .getOrElse(Seq(2, 16, 128, 256))
    val sfDir =
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Bench.mkSession()

    val base = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
    val deltaSize = 2000L

    val out = mults.map { mult =>
      val scaled =
        if (mult <= 1) base
        else (0 until mult).map(k => base.withColumn("vec_id",
          col("vec_id") + k * 100000000L)).reduce(_ unionByName _)
      val root = java.nio.file.Files.createTempDirectory(s"sp$mult")
      val corpus = s"$root/corpus"
      val idx = s"$root/pq"
      // v1 = everything but a fixed 2k tail; the tail fast-appends
      val ordered = scaled.orderBy("vec_id").localCheckpoint()
      val rows = ordered.count()
      val tail = ordered.orderBy(col("vec_id").desc).limit(
        deltaSize.toInt).localCheckpoint()
      val v1 = ordered.join(tail.select("vec_id"), Seq("vec_id"),
        "left_anti").localCheckpoint()
      graft.pipeline.Snapshot.createOrReplace(v1, corpus,
        keepVersions = 2)
      val t0 = System.nanoTime()
      graft.ext.PqIndex.build(spark, corpus, idx, 8, 8, 16)
      val tBuild = (System.nanoTime() - t0) / 1e9
      graft.pipeline.Snapshot.morCommit(spark, corpus, deletes = None,
        appends = Some(tail), operation = "append")
      val t1 = System.nanoTime()
      val d = graft.ext.PqIndex.refresh(spark, corpus, idx)
      val tRefresh = (System.nanoTime() - t1) / 1e9
      require(d == deltaSize, s"delta must be $deltaSize, got $d")
      // fixed-size equality delete (full rows — the DML shape), then
      // the delete-propagating refresh: discovery reads the delete
      // sidecar only, the codes table receives a key-scoped delete —
      // no corpus read, no index read; must stay flat with scale
      val victims = v1.limit(1000).localCheckpoint()
      graft.pipeline.Snapshot.morCommit(spark, corpus,
        deletes = Some(victims), appends = None, operation = "delete")
      val t2 = System.nanoTime()
      val d2 = graft.ext.PqIndex.refresh(spark, corpus, idx)
      val tDelRefresh = (System.nanoTime() - t2) / 1e9
      require(d2 == 0L, s"a delete-only window appends nothing: $d2")
      s""""x$mult":{"rows":$rows,"build_sec":$tBuild,""" +
        s""""refresh_sec":$tRefresh,"del_refresh_sec":$tDelRefresh}"""
    }
    println(s"""{"soak":"pq_index_refresh","delta_rows":$deltaSize,""" +
      out.mkString(",") + "}")
    spark.stop()
  }
}
