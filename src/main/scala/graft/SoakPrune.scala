package graft

import org.apache.spark.sql.functions._

/** Scan-planning soak: at each table scale, time a selective range
  * query through [[graft.pipeline.Snapshot.prunedRead]] (footer-stats
  * file pruning) vs the plain read + filter, on a sort-clustered
  * layout — plus a bloom point lookup vs plain filter on an unsorted
  * high-cardinality key. The claim under test is the 100-TB one: a
  * selective scan's cost should track the MATCHING file count, not the
  * table's file count — pruning removes the per-file fixed costs
  * (listing, footer opens, task scheduling) that dominate at scale.
  *
  * Usage: `sbt "runMain graft.SoakPrune [mult,mult,…]"` (default
  * 1,4,16 over sf0.1 orders; files scale with the data so the
  * kept/total ratio stays ~constant while the un-pruned cost grows).
  * Prints one JSON line per soak.
  */
object SoakPrune {
  def main(args: Array[String]): Unit = {
    val mults = args.headOption
      .map(_.split(",").map(_.trim.toInt).toSeq)
      .getOrElse(Seq(1, 4, 16))
    val sfDir =
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Bench.mkSession()
    import graft.pipeline.{ScanPruning, Snapshot}

    val base = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))

    def timed(f: => Long): (Double, Long) = {
      var n = 0L
      (Bench.secs { n = f }, n)
    }

    val out = mults.map { mult =>
      val scaled =
        if (mult <= 1) base
        else (0 until mult).map(k => base.withColumn("o_orderkey",
          col("o_orderkey") + k * 100000000L)).reduce(_ unionByName _)
      val files = 8 * mult // files scale with data: fixed rows/file
      val dir = java.nio.file.Files.createTempDirectory(s"sp$mult")
        .toString + "/t"
      Snapshot.createOrReplace(scaled, dir)
      Snapshot.rewriteSorted(spark, dir, files, Seq(col("o_orderkey")))
      val ranges = Seq(ScanPruning.ColumnRange("o_orderkey",
        Some(1000L), Some(30000L)))
      val (tPlan, kept) = timed(
        ScanPruning.pruneDir(spark, dir, ranges).kept.size.toLong)
      val (tPruned, nP) = timed(
        Snapshot.prunedRead(spark, dir, ranges).count())
      val (tFull, nF) = timed(Snapshot.read(spark, dir)
        .filter(col("o_orderkey").between(1000L, 30000L)).count())
      require(nP == nF, s"pruned $nP != full $nF at x$mult")
      s""""x$mult":{"files":${8 * mult},"kept":$kept,""" +
        s""""rows":$nP,"plan_sec":$tPlan,"pruned_sec":$tPruned,""" +
        s""""full_sec":$tFull}"""
    }
    println(s"""{"soak":"stats_pruned_range",${out.mkString(",")}}""")

    // bloom point lookup at the largest scale: unsorted md5 key, one
    // matching row — stats keep everything, bloom keeps ~1 file
    val mult = mults.max
    val scaled =
      if (mult <= 1) base
      else (0 until mult).map(k => base.withColumn("o_orderkey",
        col("o_orderkey") + k * 100000000L)).reduce(_ unionByName _)
    val keyed = scaled.withColumn("sid",
      md5(col("o_orderkey").cast("string")))
    val files = 8 * mult
    val dir = java.nio.file.Files.createTempDirectory("spbloom")
      .toString + "/t"
    Snapshot.createOrReplace(keyed.repartition(files, col("sid")), dir,
      options = ScanPruning.bloomWriteOptions("sid",
        keyed.count() / files + 1))
    val target = keyed.filter(col("o_orderkey") === 4242L)
      .select("sid").head().getString(0)
    val point = Seq(ScanPruning.ColumnRange("sid",
      Some(target), Some(target)))
    val (tPlan, kept) = timed(
      ScanPruning.pruneDir(spark, dir, point).kept.size.toLong)
    val (tPruned, nP) = timed(
      Snapshot.prunedRead(spark, dir, point).count())
    val (tFull, nF) = timed(Snapshot.read(spark, dir)
      .filter(col("sid") === target).count())
    require(nP == nF && nP >= 1, s"bloom pruned $nP != full $nF")
    println(s"""{"soak":"bloom_point_lookup","files":$files,""" +
      s""""kept":$kept,"rows":$nP,"plan_sec":$tPlan,""" +
      s""""pruned_sec":$tPruned,"full_sec":$tFull}""")
    spark.stop()
  }
}
