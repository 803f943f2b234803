package graft

import org.apache.spark.sql.functions._

/** Write-cost soak for merge-on-read DML: at each table scale, time a
  * 1-row DELETE through the MOR sidecar path vs the copy-on-write
  * rewrite on an identical twin. The claim under test is the 100-TB
  * one — MOR's statement cost is the predicate SCAN plus an O(matched)
  * sidecar write (flat-ish in table size; row-group pruning on the key
  * makes even the scan sublinear), while CoW pays scan + full-table
  * rewrite (linear, write-amplified) every time.
  *
  * Usage: `sbt "runMain graft.SoakMor [mult,mult,…]"` (default 1,4,16
  * over sf0.1 orders). Prints one JSON line with per-scale seconds.
  */
object SoakMor {
  def main(args: Array[String]): Unit = {
    val mults = args.headOption
      .map(_.split(",").map(_.trim.toInt).toSeq)
      .getOrElse(Seq(1, 4, 16))
    val sfDir =
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Bench.mkSession()
    val store = new graft.catalog.TableStore(spark)

    val base = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"))

    val out = mults.map { mult =>
      val scaled =
        if (mult <= 1) base
        else (0 until mult).map(k => base.withColumn("o_orderkey",
          col("o_orderkey") + k * 100000000L)).reduce(_ unionByName _)
      val root = java.nio.file.Files.createTempDirectory(s"sm$mult")
      val morDir = s"$root/mor"; val cowDir = s"$root/cow"
      graft.pipeline.Snapshot.createOrReplace(scaled, morDir,
        keepVersions = 2)
      graft.pipeline.Snapshot.createOrReplace(scaled, cowDir,
        keepVersions = 2)
      store.registerSnapshot("soakmor", s"m$mult", morDir)
      store.registerSnapshot("soakmor", s"c$mult", cowDir)
      spark.sql(s"""ALTER TABLE soakmor.m$mult SET TBLPROPERTIES(
        'write.delete.mode'='merge-on-read')""")
      val rows = scaled.count()
      val tMor = Bench.secs(
        spark.sql(s"DELETE FROM soakmor.m$mult WHERE o_orderkey = 42"))
      val tCow = Bench.secs(
        spark.sql(s"DELETE FROM soakmor.c$mult WHERE o_orderkey = 42"))
      // sanity: both tables agree after the delete
      require(spark.sql(s"SELECT count(*) FROM soakmor.m$mult")
        .head().getLong(0) ==
        spark.sql(s"SELECT count(*) FROM soakmor.c$mult")
          .head().getLong(0), "MOR and CoW deletes must agree")
      // MOR read-back cost after the sidecar commit (the merge tax)
      val tRead = Bench.secs(
        spark.sql(s"SELECT count(*) FROM soakmor.m$mult").collect())
      s""""x$mult":{"rows":$rows,"mor_delete_sec":$tMor,""" +
        s""""cow_delete_sec":$tCow,"mor_read_sec":$tRead}"""
    }
    println(s"""{"soak":"mor_delete",${out.mkString(",")}}""")

    // READ-AMPLIFICATION curve: stack N 1-row MOR deletes on one
    // table and read back at checkpoints — the merge tax grows with
    // sidecar count (each non-adjacent delete run is an anti-join),
    // and rewrite_position_delete_files resets it. The operational
    // rule this measures: compact when the read tax crosses the
    // rewrite's amortized cost.
    val root = java.nio.file.Files.createTempDirectory("smstack")
    val dir = s"$root/t"
    graft.pipeline.Snapshot.createOrReplace(base, dir, keepVersions = 2)
    store.registerSnapshot("soakmor", "stack", dir)
    spark.sql("""ALTER TABLE soakmor.stack SET TBLPROPERTIES(
      'write.delete.mode'='merge-on-read')""")
    val checkpoints = Set(1, 5, 10, 25, 50)
    val curve = (1 to 50).flatMap { i =>
      spark.sql(s"DELETE FROM soakmor.stack WHERE o_orderkey = $i")
      if (!checkpoints(i)) None
      else {
        val t = Bench.secs(
          spark.sql("SELECT count(*) FROM soakmor.stack").collect())
        Some(s""""d$i":$t""")
      }
    }
    val tCompact = Bench.secs(spark.sql(
      "CALL iceberg.system.rewrite_position_delete_files(" +
        "table => 'soakmor.stack')"))
    val tAfter = Bench.secs(
      spark.sql("SELECT count(*) FROM soakmor.stack").collect())
    println(s"""{"soak":"mor_read_amplification",""" +
      s"""${curve.mkString(",")},"compact_sec":$tCompact,""" +
      s""""read_after_compact_sec":$tAfter}""")

    // AUTO-COMPACTION BOUNDEDNESS (write.mor.compact-after-commits):
    // 200 stacked 1-row deletes with threshold 25 — the read tax must
    // SAWTOOTH (reset by each automatic rewrite) instead of growing
    // linearly as in the manual curve above. Reads are sampled just
    // BELOW each threshold crossing (the worst stack) and the max is
    // reported: bounded read tax under arbitrarily many small commits
    // is the operational claim of the property.
    val aroot = java.nio.file.Files.createTempDirectory("smauto")
    val adir = s"$aroot/t"
    graft.pipeline.Snapshot.createOrReplace(base, adir, keepVersions = 2)
    store.registerSnapshot("soakmor", "auto", adir)
    spark.sql("""ALTER TABLE soakmor.auto SET TBLPROPERTIES(
      'write.delete.mode'='merge-on-read',
      'write.mor.compact-after-commits'='25')""")
    var worstRead = 0.0
    var compactions = 0
    (1 to 200).foreach { i =>
      val stacked = graft.pipeline.Snapshot.morVersions(adir).size
      spark.sql(s"DELETE FROM soakmor.auto WHERE o_orderkey = $i")
      if (graft.pipeline.Snapshot.morVersions(adir).size < stacked)
        compactions += 1
      if (i % 25 == 24) { // 24 commits stacked: the worst read
        worstRead = math.max(worstRead, Bench.secs(
          spark.sql("SELECT count(*) FROM soakmor.auto").collect()))
      }
    }
    require(spark.sql("SELECT count(*) FROM soakmor.auto")
      .head().getLong(0) == base.count() - 200,
      "all 200 deletes must have applied across compaction cycles")
    println(s"""{"soak":"mor_auto_compaction","commits":200,""" +
      s""""threshold":25,"auto_compactions":$compactions,""" +
      s""""worst_read_sec":$worstRead,""" +
      s""""final_stacked":${graft.pipeline.Snapshot
        .morVersions(adir).size}}""")
    spark.stop()
  }
}
