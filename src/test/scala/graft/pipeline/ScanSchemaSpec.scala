package graft.pipeline

import graft.SparkSpec
import java.nio.file.Files
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.graft.{JobCount, PruningBridge}

/** The driver-side scan ([[PruningBridge.scan]]) plans with exactly the
  * schema Spark's own inference reads, on every dir shape the table
  * layer scans, and building a merge-on-read read launches no job. */
class ScanSchemaSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  /** A partitioned table with one sidecar of each kind stacked on it:
    * an append, a key-only equality delete, a position delete. */
  private def stackedTable(dir: String): Unit = {
    Snapshot.createOrReplacePartitioned(
      (1 to 40).map(i => (i.toLong, s"t$i", i % 4L, i % 3L))
        .toDF("doc_id", "term", "term_bucket", "centroid_id"),
      dir, Seq("term_bucket", "centroid_id"), keepVersions = 4)
    Snapshot.morCommit(spark, dir, None,
      Some(Seq((41L, "t41", 1L, 2L))
        .toDF("doc_id", "term", "term_bucket", "centroid_id")), "append")
    Snapshot.morCommit(spark, dir, Some(Seq(3L).toDF("doc_id")), None,
      "delete")
    Snapshot.morCommit(spark, dir, None, None, "delete",
      posDeletes = Some(Snapshot.readLineage(spark, dir)
        .filter($"doc_id" === 5L)
        .select(Snapshot.LineageFile, Snapshot.LineagePos)))
  }

  /** One file written outside Spark: no Spark schema key, INT64
    * timestamps in nanos (read as long under `nanosAsLong`) and
    * millis. */
  private def foreignFile(file: String): Unit = {
    val schema = MessageTypeParser.parseMessageType(
      """message m {
        |  required int64 id;
        |  optional int64 ts_ns (TIMESTAMP(NANOS,true));
        |  optional int64 ts_ms (TIMESTAMP(MILLIS,false));
        |  optional binary s (STRING);
        |}""".stripMargin)
    val w = ExampleParquetWriter.builder(new HPath(file))
      .withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("id", 1L).append("ts_ns", 1700000000000000001L)
      .append("ts_ms", 1700000000000L).append("s", "x"))
    finally w.close()
  }

  test("the footer-planned scan's schema equals spark.read.parquet's " +
    "for partitioned dirs, each sidecar kind, timestamps, files " +
    "written outside Spark, a stored partition column and schema " +
    "merging; a dir with no data file Spark reads raises Spark's own " +
    "error") {
    val root = Files.createTempDirectory("scanschema").toString
    val table = s"$root/table"
    stackedTable(table)
    val commits = Snapshot.morCommits(table)
    val sidecars = commits.flatMap(c => c.appends ++ c.deletes ++ c.posDeletes)
    assert(sidecars.size == 3)
    val stamped = s"$root/ts"
    Snapshot.createOrReplace(
      Seq((1L, ts("2024-01-02 03:04:05.123456"))).toDF("id", "at"),
      stamped)
    val foreign = s"$root/foreign/part-0.parquet"
    foreignFile(foreign)
    // a partition column also stored in the file: inference keeps its
    // file position, a given schema would move it last
    val stored = s"$root/stored"
    Seq((7, 1L)).toDF("k", "id").write.parquet(s"$stored/k=1")
    // two fragments of different columns, read under schema merging
    val merged = s"$root/merged"
    Seq(1L).toDF("id").write.parquet(s"$merged/p=a")
    Seq((2L, "x")).toDF("id", "tag").write.parquet(s"$merged/p=b")
    val cases = Seq(table, stamped, foreign, s"$root/foreign",
      s"$sf/events.parquet", s"$sf/orders.parquet", stored) ++ sidecars
    def same(d: String): Unit = assert(PruningBridge.scan(spark, d).schema ==
      spark.read.parquet(d).schema, d)
    cases.foreach(same)
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try same(merged) finally spark.conf.unset("spark.sql.parquet.mergeSchema")
    // partition inference still narrows the bucket columns to INT
    assert(PruningBridge.scan(spark, table).schema("term_bucket")
      .dataType.typeName == "integer")
    assert(spark.read.parquet(foreign).schema("ts_ns").dataType
      .typeName == "long", "the session reads nanos as long")

    // no data file Spark reads: an empty dir, and files only below a
    // plain (not k=v) directory
    val empty = Files.createTempDirectory("scanempty").toString
    val nested = s"$root/nested"
    Seq(1L).toDF("id").write.parquet(s"$nested/plain")
    Seq(empty, nested).foreach { d =>
      val ours = intercept[AnalysisException](PruningBridge.scan(spark, d))
      val theirs = intercept[AnalysisException](spark.read.parquet(d))
      assert(ours.getCondition == theirs.getCondition &&
        ours.getMessage == theirs.getMessage, d)
    }
  }

  test("building a read of a partitioned table with three stacked " +
    "sidecars launches no Spark job") {
    val dir = Files.createTempDirectory("scanjobs").toString + "/t"
    stackedTable(dir)
    val (df, jobs) = JobCount.of(spark)(Snapshot.read(spark, dir))
    assert(jobs == 0, s"$jobs jobs to plan the read")
    assert(df.select("doc_id").as[Long].collect().sorted.toSeq ==
      ((1L to 41L).toSet -- Set(3L, 5L)).toSeq.sorted)
  }
}
