package graft.pipeline

import graft.SparkSpec
import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.LocalParquet
import scala.jdk.CollectionConverters._

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

  test("a frame whose estimate lies low is refused by the fetch's " +
    "bound in one job that holds at most the bound") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
    import org.apache.spark.sql.graft.{DriverFetch, JobCount}
    // one input row exploded to 10^6: the optimizer estimates the
    // frame at one row's bytes, far under the 16 MB gate
    val lying = spark.range(1)
      .select(explode(sequence(col("id"), col("id") + 999999L)).as("id"))
    assert(lying.queryExecution.optimizedPlan.stats.sizeInBytes < 1024)
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m => results.add(m.resultSize))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val dir = Files.createTempDirectory("lp-lying")
      val (wrote, jobs) = JobCount.of(spark)(LocalParquet.tryWrite(lying, dir))
      assert(!wrote && jobs == 1)
      assert(Files.list(dir).count() == 0)
      // the one task stopped one row past the bound: its result is the
      // bound's rows (16 bytes each, plus a 4-byte length) and the
      // task's metrics, not 10^6 rows (JobCount drained the listener bus)
      val held = results.asScala.max
      assert(held < (DriverFetch.MaxRows + 1) * 20L + 65536, s"$held bytes")
      // across partitions: the driver cancels once the sum passes the
      // bound, before every partition has run
      results.clear()
      val (rows, jobs2) = JobCount.of(spark)(DriverFetch.rows(
        spark.range(0, 100000, 1, 50).toDF("id"), maxRows = 5000))
      assert(rows.isEmpty && jobs2 == 1)
      assert(results.size < 50, s"${results.size} of 50 tasks ran")
      // under the bound, the rows come back whole
      assert(DriverFetch.rows(spark.range(0, 4000, 1, 7).toDF("id"),
        maxRows = 5000).get.map(_.getLong(0)).sorted.toSeq == (0L until 4000L))
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("the tiny write replaces what its directory held") {
    val dir = Files.createTempDirectory("lp-replace")
    Files.write(dir.resolve("part-stale.parquet"), Array[Byte](1, 2, 3))
    assert(LocalParquet.tryWrite(Seq((1L, "a")).toDF("k", "v"), dir))
    val names = Files.list(dir).iterator().asScala.map(_.getFileName.toString)
      .filterNot(_.startsWith(".")).toSeq
    assert(names.size == 1 && !names.contains("part-stale.parquet"), names)
    assert(spark.read.parquet(dir.toString).as[(Long, String)].collect()
      .toSeq == Seq((1L, "a")))
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
