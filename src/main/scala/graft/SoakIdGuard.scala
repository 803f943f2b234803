package graft

import org.apache.spark.sql.functions._

/** Streaming overlap-guard soak: the commit-maintained bloom sidecar
  * ([[graft.ext.IdMembership]]) vs the naive full anti-join it
  * replaced, at fixed batch size while the corpus grows by orders of
  * magnitude. The 100-TB claim: the steady-state per-batch guard cost
  * is O(batch) — a distributed bloom probe plus the O(prev-batch)
  * commit-window catch-up — so `guard_batch_sec` must stay FLAT with
  * corpus growth while `naive_batch_sec` (the anti-join against the
  * column-pruned id column) shows its linear term. The suspect arm
  * (`overlap_batch_sec`) batches 50% true duplicates and pays the
  * exact id-column confirm — the documented O(corpus-column) term
  * that only suspect-carrying batches pay.
  *
  * Usage: `sbt "runMain graft.SoakIdGuard [mult,mult,…]"` (default
  * 1,8,64 over sf0.1 orders ids — 150k → 9.6M ids with a fixed
  * 5k-id batch). Prints one JSON line. */
object SoakIdGuard {
  def main(args: Array[String]): Unit = {
    val mults = args.headOption
      .map(_.split(",").map(_.trim.toInt).toSeq)
      .getOrElse(Seq(1, 8, 64))
    val sfDir =
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Bench.mkSession()

    val baseIds = Tables.orders(spark, sfDir)
      .select(col("o_orderkey").as("vec_id"),
        md5(col("o_orderkey").cast("string")).as("payload"))
    val batchSize = 5000

    val out = mults.map { mult =>
      // crossJoin scaling (NOT a mult-way union: a 1024-child union
      // plan chokes planning long before the data does)
      val scaled =
        if (mult <= 1) baseIds
        else baseIds.crossJoin(
            spark.range(mult).select(col("id").as("_k")))
          .withColumn("vec_id", col("vec_id") + col("_k") * 100000000L)
          .drop("_k")
      val root = java.nio.file.Files.createTempDirectory(s"sig$mult")
      val corpus = s"$root/corpus"
      val rows = scaled.count()
      graft.pipeline.Snapshot.createOrReplace(scaled, corpus,
        keepVersions = 2)
      // bootstrap the sidecar OUTSIDE the per-batch timing (the
      // one-time full id scan, amortized over the stream's life)
      val tb0 = System.nanoTime()
      graft.ext.IdMembership.ensureCurrent(spark, corpus, "vec_id")
      val tBoot = (System.nanoTime() - tb0) / 1e9
      def freshBatch(seed: Long) = spark.range(seed, seed + batchSize)
        .select(col("id").as("vec_id"),
          md5(col("id").cast("string")).as("payload"))
        .localCheckpoint()
      // batch 1: all-fresh probe, then its commit — so batch 2's
      // timing includes the steady-state window catch-up
      val b1 = freshBatch(800000000000L)
      val f1 = graft.ext.IdMembership
        .freshOnly(spark, corpus, b1, "vec_id").localCheckpoint()
      require(f1.count() == batchSize, "b1 must be all fresh")
      graft.pipeline.Snapshot.morCommit(spark, corpus, deletes = None,
        appends = Some(f1), operation = "append")
      // batch 2 — the STEADY-STATE reading: catch-up of the previous
      // commit (O(batch)) + bloom probe (O(batch)); must stay flat
      val b2 = freshBatch(810000000000L)
      val t0 = System.nanoTime()
      val n2 = graft.ext.IdMembership
        .freshOnly(spark, corpus, b2, "vec_id").count()
      val tGuard = (System.nanoTime() - t0) / 1e9
      require(n2 == batchSize, s"b2 must be all fresh, got $n2")
      // the naive guard this replaced: full id-column anti-join
      val t1 = System.nanoTime()
      val nNaive = b2.join(
        graft.pipeline.Snapshot.read(spark, corpus).select("vec_id"),
        Seq("vec_id"), "left_anti").count()
      val tNaive = (System.nanoTime() - t1) / 1e9
      require(nNaive == batchSize, "naive must agree")
      // the suspect arm: 50% true duplicates — pays the exact
      // id-column confirm (the documented O(corpus-column) term)
      val dups = graft.pipeline.Snapshot.read(spark, corpus)
        .orderBy("vec_id").limit(batchSize / 2)
        .select("vec_id", "payload").localCheckpoint()
      val b3 = freshBatch(820000000000L).limit(batchSize / 2)
        .unionByName(dups).localCheckpoint()
      val t2 = System.nanoTime()
      val n3 = graft.ext.IdMembership
        .freshOnly(spark, corpus, b3, "vec_id").count()
      val tOverlap = (System.nanoTime() - t2) / 1e9
      require(n3 == batchSize / 2, s"half of b3 must be fresh: $n3")
      s""""x$mult":{"rows":$rows,"bootstrap_sec":$tBoot,""" +
        s""""guard_batch_sec":$tGuard,"naive_batch_sec":$tNaive,""" +
        s""""overlap_batch_sec":$tOverlap}"""
    }
    println(s"""{"soak":"id_guard","batch_rows":$batchSize,""" +
      out.mkString(",") + "}")
    spark.stop()
  }
}
