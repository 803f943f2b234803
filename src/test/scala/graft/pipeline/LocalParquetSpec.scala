package graft.pipeline

import graft.SparkSpec
import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.LocalParquet

/** The driver-side tiny-write path (r20) must be indistinguishable
  * on disk from `df.write.parquet`: same rows, same read-back schema
  * (names, types, nullability), across the type zoo the maintenance
  * sidecars actually carry — and it must REFUSE frames over its
  * bounds so a real table write can never collapse to the driver. */
class LocalParquetSpec extends SparkSpec {
  import spark.implicits._

  private def roundTrip(df: org.apache.spark.sql.DataFrame): Unit = {
    val tiny = Files.createTempDirectory("lp-tiny")
    val dist = Files.createTempDirectory("lp-dist").toString + "/t"
    assert(LocalParquet.tryWrite(df, tiny), "tiny path must engage")
    df.write.parquet(dist)
    val a = spark.read.parquet(tiny.toString)
    val b = spark.read.parquet(dist)
    assert(a.schema == b.schema,
      s"schema drift:\n${a.schema}\nvs\n${b.schema}")
    // sort by the (orderable) first column only — maps don't order
    assert(a.sort(df.columns.head).collect().toSeq ==
      b.sort(df.columns.head).collect().toSeq)
  }

  test("tiny write round-trips the maintenance type zoo identically " +
    "to a distributed write") {
    roundTrip(Seq((1L, "a", 1.5, BigDecimal("12.340")),
        (2L, null.asInstanceOf[String], -0.25, BigDecimal("0.001")))
      .toDF("id", "s", "d", "dec"))
    roundTrip(Seq((1, java.sql.Timestamp.valueOf("2031-03-01 10:00:00"),
        java.sql.Date.valueOf("2031-03-01")))
      .toDF("id", "ts", "day"))
    roundTrip(Seq((1L, Seq("x", "y"), Map("k" -> 2L)),
        (2L, Seq.empty[String], Map.empty[String, Long]))
      .toDF("id", "arr", "m"))
    roundTrip(spark.range(1).select(lit(42L).as("n_docs"),
      lit(12345L).as("dl_sum")))
    // empty frame: one schema-bearing file either way
    val empty = Seq((1L, "a")).toDF("k", "v").limit(0)
    roundTrip(empty)
  }

  test("the row bound refuses an over-bound frame (fallback stays " +
    "with the caller)") {
    val dir = Files.createTempDirectory("lp-big")
    // 70,000 rows: over the 65,536-row cap, estimated far under the
    // 16 MB gate
    assert(!LocalParquet.tryWrite(spark.range(70000).toDF("id"), dir))
    // nothing was written by the refusals
    val s = Files.list(dir)
    try assert(!s.iterator().hasNext ||
      Files.list(dir).count() == 0)
    finally s.close()
  }

  test("a snapshot table written through the tiny path serves reads, " +
    "time travel and MOR commits like any other") {
    val root = Files.createTempDirectory("lp-snap").toString
    val dir = s"$root/t"
    Snapshot.createOrReplaceWithMeta(
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"), dir,
      keepVersions = 2, "_probe", "x")
    assert(Snapshot.read(spark, dir).count() == 2)
    Snapshot.morCommit(spark, dir,
      deletes = Some(Seq((1L, "a")).toDF("k", "v")),
      appends = Some(Seq((3L, "c")).toDF("k", "v")),
      operation = "overwrite")
    assert(Snapshot.read(spark, dir).as[(Long, String)].collect()
      .toSet == Set((2L, "b"), (3L, "c")))
    assert(Snapshot.commitMeta(dir, "_probe").contains("x"))
  }
}
