package graft

import graft.cdc.Scd2
import org.apache.spark.sql.functions._

/** Scale soak for the SCD2 dimension paths, plus the position-delete
  * write arm. Claims under test:
  *
  *  1. `Scd2.merge` of a FIXED-size micro-batch costs the dimension a
  *     scan + broadcast-joined write — near-flat in dimension size —
  *     while the one-shot `Scd2.build` re-windows the whole event log
  *     (linear). The 100-TB consequence: a CDC pipeline keeps the
  *     history table current at micro-batch cost.
  *  2. A 1-row position-format DELETE costs a pruned predicate scan +
  *     an O(matched) (file, pos) sidecar — the same flat class as the
  *     equality arm SoakMor measured, with no row content copied.
  *
  * Usage: `sbt "runMain graft.SoakScd2 [mult,mult,…]"` (default
  * 1,4,16 over sf0.1 orders-derived events). One JSON line per claim.
  */
object SoakScd2 {
  def main(args: Array[String]): Unit = {
    val mults = args.headOption
      .map(_.split(",").map(_.trim.toInt).toSeq)
      .getOrElse(Seq(1, 4, 16))
    val sfDir =
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Bench.mkSession()
    val store = new graft.catalog.TableStore(spark)

    val keys = Seq("id")
    val ties = Seq("off")
    val vals = Seq("id", "v")
    // fixed micro-batch: 1000 keys, one update event each
    val batch = spark.range(1000)
      .select(col("id"), concat(lit("nv"), col("id")).as("v"),
        lit("u").as("op"), lit(9999999999L).as("ts"),
        col("id").as("off"))

    val out = mults.map { mult =>
      val n = 150000L * mult
      // dimension with one open version per key (worst case: every
      // row is_current, so the close-join touches the whole frame)
      val events = spark.range(n)
        .select(col("id"), concat(lit("v"), col("id")).as("v"),
          lit("c").as("op"), (col("id") % 1000000).as("ts"),
          col("id").as("off"))
      val dimDir = java.nio.file.Files
        .createTempDirectory(s"scd$mult").toString + "/dim"
      val t0 = System.nanoTime()
      val dim = Scd2.build(events, keys, "ts", ties, vals)
      graft.pipeline.Snapshot.createOrReplace(dim, dimDir)
      val tBuild = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val merged = Scd2.merge(
        graft.pipeline.Snapshot.read(spark, dimDir), batch,
        keys, "ts", ties, vals)
      graft.pipeline.Snapshot.createOrReplace(merged, dimDir)
      val tMerge = (System.nanoTime() - t1) / 1e9
      val rows = graft.pipeline.Snapshot.read(spark, dimDir).count()
      require(rows == n + 1000, s"expected ${n + 1000} rows, got $rows")
      // the MOR arm on a fresh twin of the pre-merge dimension: one
      // O(batch) sidecar commit instead of the full rewrite
      val morDir = java.nio.file.Files
        .createTempDirectory(s"scdm$mult").toString + "/dim"
      graft.pipeline.Snapshot.createOrReplace(
        Scd2.build(events, keys, "ts", ties, vals), morDir)
      val t2 = System.nanoTime()
      Scd2.mergeMor(spark, morDir, batch, keys, "ts", ties, vals)
      val tMor = (System.nanoTime() - t2) / 1e9
      require(graft.pipeline.Snapshot.read(spark, morDir).count()
        == n + 1000, "MOR merge must land the same row count")
      s""""x$mult":{"dim_rows":$n,"build_sec":$tBuild,""" +
        s""""merge_cow_sec":$tMerge,"merge_mor_sec":$tMor}"""
    }
    println(s"""{"soak":"scd2_merge",${out.mkString(",")}}""")

    // position-delete write cost vs table size (the SoakMor claim on
    // the position arm): 1-row DELETE = pruned lineage scan +
    // O(matched) pair write
    val base = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"))
    val pos = mults.map { mult =>
      val scaled =
        if (mult <= 1) base
        else (0 until mult).map(k => base.withColumn("o_orderkey",
          col("o_orderkey") + k * 100000000L)).reduce(_ unionByName _)
      val dir = java.nio.file.Files
        .createTempDirectory(s"sp$mult").toString + "/t"
      graft.pipeline.Snapshot.createOrReplace(scaled, dir,
        keepVersions = 2)
      store.registerSnapshot("soakpos", s"t$mult", dir)
      spark.sql(s"""ALTER TABLE soakpos.t$mult SET TBLPROPERTIES(
        'write.delete.mode'='merge-on-read',
        'write.mor.deletes'='position')""")
      val rows = scaled.count()
      val t0 = System.nanoTime()
      spark.sql(s"DELETE FROM soakpos.t$mult WHERE o_orderkey = 42")
      val tDel = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val after = spark.sql(s"SELECT count(*) FROM soakpos.t$mult")
        .head().getLong(0)
      val tRead = (System.nanoTime() - t1) / 1e9
      require(after == rows - 1, "the 1-row position delete must land")
      s""""x$mult":{"rows":$rows,"pos_delete_sec":$tDel,""" +
        s""""read_sec":$tRead}"""
    }
    println(s"""{"soak":"pos_delete",${pos.mkString(",")}}""")
    spark.stop()
  }
}
