package graft

import org.apache.spark.sql.functions._

/** O(delta) changelog soak: at each table scale, commit ONE fixed
  * window (5k-row fast-append + ~1k-row full-row equality delete) and
  * time `Snapshot.diffIncremental` (sidecar-priced) against the
  * two-version `Snapshot.diff` (full-outer join of both states) over
  * the SAME window. The claim: the incremental read is FLAT in table
  * size — it reads sidecars only — while the classic diff pays two
  * full scans and a key-shuffled join, growing linearly; at 100 TB
  * the nightly "what changed" question is the difference between
  * seconds and a table scan.
  *
  * Usage: `sbt "runMain graft.SoakChangelog [mult,…]"` (default
  * 1,16,64,256 over sf0.1 orders — 150k → 38.4M rows). One JSON
  * line. */
object SoakChangelog {
  def main(args: Array[String]): Unit = {
    val mults = args.headOption
      .map(_.split(",").map(_.trim.toInt).toSeq)
      .getOrElse(Seq(1, 16, 64, 256))
    val sfDir =
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Bench.mkSession()
    val S = graft.pipeline.Snapshot

    val base = Tables.orders(spark, sfDir)
      .select("o_orderkey", "o_orderpriority", "o_totalprice")
    // a fixed ~1k-victim key bound from the UNSHIFTED base keys
    val bound = base.orderBy("o_orderkey").limit(1000)
      .agg(max("o_orderkey")).collect()(0).getLong(0)

    val out = mults.map { mult =>
      val scaled =
        if (mult <= 1) base
        else (0 until mult).map(k => base.withColumn("o_orderkey",
          col("o_orderkey") + k * 1000000000L)).reduce(_ unionByName _)
      val root = java.nio.file.Files.createTempDirectory(s"sc$mult")
      val src = s"$root/src"
      S.createOrReplace(scaled, src, keepVersions = 2)
      val rows = S.read(spark, src).count()
      val from = S.currentVersion(src).get
      val wave = base.orderBy("o_orderkey").limit(5000)
        .withColumn("o_orderkey", col("o_orderkey") + 900000000000L)
        .localCheckpoint()
      S.morCommit(spark, src, deletes = None, appends = Some(wave),
        operation = "append")
      val victims = S.read(spark, src)
        .filter(col("o_orderkey") <= bound).localCheckpoint()
      val nVic = victims.count()
      S.morCommit(spark, src, deletes = Some(victims), appends = None,
        operation = "delete")
      val to = S.currentVersion(src).get
      val t0 = System.nanoTime()
      val nFast = S.diffIncremental(spark, src, from, to,
        Seq("o_orderkey")).count()
      val tFast = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val nSlow = S.diff(spark, src, from, to, Seq("o_orderkey"))
        .count()
      val tSlow = (System.nanoTime() - t1) / 1e9
      require(nFast == nSlow,
        s"fast/slow changelog row counts diverge: $nFast vs $nSlow")
      s""""x$mult":{"rows":$rows,"deleted":$nVic,""" +
        s""""incremental_sec":$tFast,"diff_sec":$tSlow}"""
    }
    println(s"""{"soak":"changelog_window","append_rows":5000,""" +
      out.mkString(",") + "}")
    spark.stop()
  }
}
