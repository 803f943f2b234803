package graft

import org.apache.spark.sql.functions._

/** Incremental-rollup lifecycle soak: at each source scale, time the
  * full [[graft.pipeline.Rollup.build]] against a refresh after a
  * FIXED 5k-row FAST-APPEND and a refresh after a FIXED ~1k-row
  * POSITION-DELETE clustered in one file. The 100-TB claim: build is
  * O(source) — the recurring cost the reference pays every run
  * (`build_orders_silver.py` rebuilds from scratch) — while refresh
  * is O(window delta): appends read their own sidecars, position
  * deletes resolve against only the files they reference (clustered
  * here, as a compaction-ordered fact table clusters them; a
  * scattered delete is priced by its scatter), so BOTH refresh arms
  * must stay FLAT while the source and the build grow by orders of
  * magnitude.
  *
  * Usage: `sbt "runMain graft.SoakRollup [mult,mult,…]"` (default
  * 1,8,32,64 over sf0.1 orders — 150k rows at 1×, 9.6M at 64×).
  * Prints one JSON line. */
object SoakRollup {
  def main(args: Array[String]): Unit = {
    val mults = args.headOption
      .map(_.split(",").map(_.trim.toInt).toSeq)
      .getOrElse(Seq(1, 8, 32, 64))
    val sfDir =
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Bench.mkSession()
    val S = graft.pipeline.Snapshot
    val R = graft.pipeline.Rollup

    val base = Tables.orders(spark, sfDir)
      .select("o_orderkey", "o_orderpriority", "o_totalprice")

    val out = mults.map { mult =>
      val scaled0 =
        if (mult <= 1) base
        else (0 until mult).map(k => base.withColumn("o_orderkey",
          col("o_orderkey") + k * 1000000000L)).reduce(_ unionByName _)
      // o_grp (o_orderkey/100) is the equality arm's group key:
      // bounded ~100-row groups, clustered with the id layout, so
      // affected-group re-derives prune by footer min/max
      val scaled = scaled0.withColumn("o_grp",
        expr("o_orderkey div 100"))
      val root = java.nio.file.Files.createTempDirectory(s"sr$mult")
      val src = s"$root/src"
      val ru = s"$root/rollup"
      val appendWave = base.orderBy("o_orderkey").limit(5000)
        .withColumn("o_orderkey", col("o_orderkey") + 900000000000L)
        .withColumn("o_grp", expr("o_orderkey div 100"))
        .localCheckpoint()
      S.createOrReplace(scaled, src, keepVersions = 2)
      val rows = S.read(spark, src).count()
      val t0 = System.nanoTime()
      R.build(spark, src, ru, Seq("o_orderpriority"),
        Seq("o_totalprice"))
      val tBuild = (System.nanoTime() - t0) / 1e9
      // fixed fast-append wave
      S.morCommit(spark, src, deletes = None,
        appends = Some(appendWave), operation = "append")
      val t1 = System.nanoTime()
      require(R.refresh(spark, src, ru) > 0L)
      val tApp = (System.nanoTime() - t1) / 1e9
      // fixed position-delete wave, clustered in ONE base file (the
      // lineage scan below is soak setup, not refresh cost)
      val lin = S.readLineage(spark, src)
      val firstFile = lin.select(S.LineageFile).limit(1)
        .collect()(0).getString(0)
      val victims = lin.filter(col(S.LineageFile) === firstFile &&
        col(S.LineagePos) < 1000).localCheckpoint()
      val nVic = victims.count()
      S.morCommit(spark, src, deletes = None, appends = None,
        operation = "delete", posDeletes = Some(victims))
      val t2 = System.nanoTime()
      require(R.refresh(spark, src, ru) > 0L)
      val tDel = (System.nanoTime() - t2) / 1e9
      // EQUALITY-delete arm (r15): a fixed 1000-key keyed DELETE —
      // the engine's DEFAULT delete mode, priced by the
      // affected-group re-derive. The rollup groups on o_grp
      // (o_orderkey/100, a fact column with bounded 100-row groups),
      // so the 1000 consecutive keys touch a bounded group set and
      // BOTH scans prune by footer min/max on the id-clustered
      // layout: the as-of-start resolution of the id-scoped sidecar
      // (IN on o_orderkey) and the re-derive (IN on o_grp). Flat
      // while the source grows = the window is priced from its
      // delta, never the table.
      val ruEq = s"$root/rollup_eq"
      R.build(spark, src, ruEq, Seq("o_grp"), Seq("o_totalprice"))
      // the TOP unshifted keys — a region the position arm (first
      // file) never touched, so every key still resolves at as-of
      val eqKeys = base.orderBy(col("o_orderkey").desc).limit(1000)
        .select("o_orderkey").localCheckpoint()
      S.morCommit(spark, src, deletes = Some(eqKeys), appends = None,
        operation = "delete")
      val t3 = System.nanoTime()
      require(R.refresh(spark, src, ruEq) > 0L)
      val tEq = (System.nanoTime() - t3) / 1e9
      s""""x$mult":{"rows":$rows,"build_sec":$tBuild,""" +
        s""""append_refresh_sec":$tApp,"deleted":$nVic,""" +
        s""""delete_refresh_sec":$tDel,"eq_refresh_sec":$tEq}"""
    }
    println(s"""{"soak":"rollup_refresh","append_rows":5000,""" +
      s""""eq_deleted_keys":1000,""" + out.mkString(",") + "}")
    spark.stop()
  }
}
