package graft

import org.apache.spark.sql.functions._

/** Star-rollup (JOIN materialized view) lifecycle soak: at each fact
  * scale, time the full star [[graft.pipeline.Rollup.build]] (fact ⋈
  * customer dim, GROUP BY the DIM's segment) against (a) a refresh
  * after a FIXED 5k-row fast-append on the FACT and (b) a refresh
  * after a FIXED 100-key fan-out append on the DIM. The 100-TB
  * claims: the fact window joins only ΔF to the pinned dim — FLAT in
  * fact size; the dim window pays one bounded fact read joined to the
  * broadcast dim delta (the F' ⋈ ΔD term) — O(fact scan), honestly
  * linear but far below the full recompute the reference pays every
  * run (`/root/reference/jobs/build_orders_silver.py` rebuilds
  * derived tables from scratch).
  *
  * Usage: `sbt "runMain graft.SoakStar [mult,mult,…]"` (default
  * 1,8,32 over sf0.1 orders ⋈ customer — 150k joined rows at 1×,
  * 4.8M at 32×). Prints one JSON line. */
object SoakStar {
  def main(args: Array[String]): Unit = {
    val mults = args.headOption
      .map(_.split(",").map(_.trim.toInt).toSeq)
      .getOrElse(Seq(1, 8, 32))
    val sfDir =
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Bench.mkSession()
    val S = graft.pipeline.Snapshot
    val R = graft.pipeline.Rollup

    val baseFact = Tables.orders(spark, sfDir)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val dimDf = Tables.customer(spark, sfDir)
      .select("c_custkey", "c_mktsegment")

    val out = mults.map { mult =>
      val scaled =
        if (mult <= 1) baseFact
        else (0 until mult).map(k => baseFact.withColumn("o_orderkey",
          col("o_orderkey") + k * 1000000000L)).reduce(_ unionByName _)
      val root = java.nio.file.Files.createTempDirectory(s"ss$mult")
      val (fact, dim, ru) = (s"$root/fact", s"$root/dim", s"$root/ru")
      val appendWave = baseFact.orderBy("o_orderkey").limit(5000)
        .withColumn("o_orderkey", col("o_orderkey") + 900000000000L)
        .localCheckpoint()
      S.createOrReplace(scaled, fact, keepVersions = 2)
      S.createOrReplace(dimDf, dim, keepVersions = 2)
      val rows = S.read(spark, fact).count()
      val t0 = System.nanoTime()
      R.build(spark, fact, ru, Seq("c_mktsegment"),
        Seq("o_totalprice"),
        dims = Seq(R.DimSpec(dim, Seq(("o_custkey", "c_custkey")))))
      val tBuild = (System.nanoTime() - t0) / 1e9
      S.morCommit(spark, fact, deletes = None,
        appends = Some(appendWave), operation = "append")
      val t1 = System.nanoTime()
      require(R.refresh(spark, fact, ru) > 0L)
      val tApp = (System.nanoTime() - t1) / 1e9
      // DIM window: a fixed 100-key fan-out append on the dimension —
      // the F' ⋈ ΔD term pays one bounded fact read joined to the
      // broadcast dim delta, the honest O(fact-scan) dim-change cost
      // (vs the full rebuild's join + full re-aggregation + store
      // rewrite)
      val dimWave = dimDf.orderBy("c_custkey").limit(100)
        .localCheckpoint()
      S.morCommit(spark, dim, deletes = None,
        appends = Some(dimWave), operation = "append")
      val t2 = System.nanoTime()
      require(R.refresh(spark, fact, ru) > 0L)
      val tDim = (System.nanoTime() - t2) / 1e9
      // CLUSTERED twin: the same dim window against a fact
      // sort-clustered on the JOIN KEY (rewriteSorted publishes the
      // scan manifest) — the F' ⋈ ΔD fact read pushes an IN filter of
      // the dim-delta keys, and the any-of manifest skipping prunes
      // it to the FILES holding those keys: the dim-change refresh
      // stays O(matching files) while the unclustered twin above
      // shows its honest O(fact-scan) term
      val (fact2, dim2, ru2) = (s"$root/fact2", s"$root/dim2",
        s"$root/ru2")
      S.createOrReplace(scaled, fact2, keepVersions = 2)
      S.rewriteSorted(spark, fact2, 64, Seq(col("o_custkey")))
      S.createOrReplace(dimDf, dim2, keepVersions = 2)
      R.build(spark, fact2, ru2, Seq("c_mktsegment"),
        Seq("o_totalprice"),
        dims = Seq(R.DimSpec(dim2, Seq(("o_custkey", "c_custkey")))))
      S.morCommit(spark, dim2, deletes = None,
        appends = Some(dimWave), operation = "append")
      val t3 = System.nanoTime()
      require(R.refresh(spark, fact2, ru2) > 0L)
      val tDimClustered = (System.nanoTime() - t3) / 1e9
      // COMBINED window: a FIXED 1k-key equality delete on the FACT
      // plus another dim wave in ONE window — the telescoped
      // fact-first path (phase 1 affected-group re-derive against
      // start dims, phase 2 the ordinary dim term). The 100-TB
      // claim: O(window delta + affected groups + dim-term fact
      // read), never a recompute — flat-ish in fact size like the
      // eq arm of SoakRollup
      val eqWave = S.read(spark, fact).orderBy("o_orderkey")
        .limit(1000).select("o_orderkey").localCheckpoint()
      S.morCommit(spark, fact, deletes = Some(eqWave),
        appends = None, operation = "delete")
      S.morCommit(spark, dim, deletes = None,
        appends = Some(dimDf.orderBy(org.apache.spark.sql.functions
          .desc("c_custkey")).limit(100).localCheckpoint()),
        operation = "append")
      val t4 = System.nanoTime()
      require(R.refresh(spark, fact, ru) > 0L)
      val tCombined = (System.nanoTime() - t4) / 1e9
      // DIM-EQUALITY window (r17): a fixed 100-key CDC MERGE shape on
      // the DIM — full-row equality delete + re-segmenting re-append
      // — priced by the dim-side affected-group re-derive:
      // O(dim delta + fact rows hitting the changed keys + affected
      // groups' rows), where the pre-r17 behavior was the
      // full-recompute fallback on EVERY refresh interval
      val dimEqWave = S.read(spark, dim).orderBy("c_custkey")
        .limit(100).localCheckpoint()
      S.morCommit(spark, dim, deletes = Some(dimEqWave),
        appends = Some(dimEqWave.withColumn("c_mktsegment",
          lit("RESEG"))), operation = "overwrite")
      val t5 = System.nanoTime()
      require(R.refresh(spark, fact, ru) > 0L)
      val tDimEq = (System.nanoTime() - t5) / 1e9
      // HOT-DIM window (r18): a 50k-key dim churn — far past the
      // 4096 IN-literal budget — prices via the in-plan BLOOM prune
      // on the fact scan (through r17 the past-budget path read the
      // WHOLE fact). 45k of the churned keys are synthetic and match
      // no facts; 5k are live — the refresh must stay in the dim-eq
      // band (O(fact rows hitting changed keys + affected groups)),
      // not explode to O(table × keys).
      val (fact3, dim3, ru3) = (s"$root/fact3", s"$root/dim3",
        s"$root/ru3")
      S.createOrReplace(scaled, fact3, keepVersions = 2)
      val synth = spark.range(10000000L, 10085000L)
        .select(col("id").as("c_custkey"),
          lit("SYNT").as("c_mktsegment"))
      S.createOrReplace(dimDf.unionByName(synth), dim3,
        keepVersions = 2)
      R.build(spark, fact3, ru3, Seq("c_mktsegment"),
        Seq("o_totalprice"),
        dims = Seq(R.DimSpec(dim3, Seq(("o_custkey", "c_custkey")))))
      val hotWave = S.read(spark, dim3)
        .filter(col("c_custkey") < 5000 ||
          (col("c_custkey") >= 10000000L &&
            col("c_custkey") < 10045000L))
        .localCheckpoint()
      S.morCommit(spark, dim3, deletes = Some(hotWave),
        appends = Some(hotWave.withColumn("c_mktsegment",
          lit("HOT50K"))), operation = "overwrite")
      val t6 = System.nanoTime()
      require(R.refresh(spark, fact3, ru3) > 0L)
      val tDimHot = (System.nanoTime() - t6) / 1e9
      s""""x$mult":{"fact_rows":$rows,"star_build_sec":$tBuild,""" +
        s""""star_append_refresh_sec":$tApp,""" +
        s""""dim_append_refresh_sec":$tDim,""" +
        s""""dim_refresh_clustered_sec":$tDimClustered,""" +
        s""""eq_plus_dim_refresh_sec":$tCombined,""" +
        s""""dim_eq_refresh_sec":$tDimEq,""" +
        s""""dim_hot50k_refresh_sec":$tDimHot}"""
    }
    println(s"""{"soak":"star_rollup_refresh","append_rows":5000,""" +
      out.mkString(",") + "}")
    spark.stop()
  }
}
