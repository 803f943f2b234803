package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions.{col, udf}
import scala.jdk.CollectionConverters._

/** The measurement harness: the one session every main and suite runs
  * on, and the bench's pass never reporting a failure as a time. */
class HarnessSpec extends SparkSpec {

  test("the suite runs on the bench's session: no _SUCCESS, nanos as long") {
    val dir = Files.createTempDirectory("harness").toString + "/t"
    pipeline.Snapshot.createOrReplace(spark.range(10).toDF("id"), dir)
    val names = Files.list(Paths.get(dir)).iterator().asScala
      .map(_.getFileName.toString).toSeq
    assert(names.exists(_.endsWith(".parquet")))
    assert(!names.contains("_SUCCESS"))
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
  }

  test("a query that throws comes back from pass as failed, not as a time") {
    val queries: Map[String, Bench.Query] = Map(
      "q_ok" -> ((s, _) => s.range(3).toDF()),
      // fails while building the frame
      "q_throws" -> ((_, _) => throw new IllegalStateException("boom")),
      // builds fine, fails in the timed action's task
      "q_fails_at_count" -> ((s, _) => s.range(1).toDF().filter(udf { (x: Long) =>
        if (x >= 0) throw new IllegalStateException("boom"); true
      }.apply(col("id")))))
    val seen = Seq.newBuilder[(String, Option[Double])]
    val res = Bench.pass(spark, "unused",
      Seq("q_ok", "q_throws", "q_fails_at_count"), gcBetween = false,
      queries = queries, hooks = new Bench.Hooks {
        override def done(n: String, sec: Option[Double]): Unit =
          seen += n -> sec
      })
    assert(res.times.map(_._1) == Seq("q_ok"))
    assert(res.failed == Seq("q_throws", "q_fails_at_count"))
    assert(seen.result().collect { case (n, None) => n } == res.failed)
  }

  test("src/main has exactly one session builder, Bench.mkSession's") {
    val call = "SparkSession" + raw"\s*\.\s*builder\s*\("
    val hits = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        call.r.findAllIn(Files.readString(p)).map(_ => p.getFileName.toString)
      }.toSeq
    assert(hits == Seq("Bench.scala"), s"session builders in $hits")
  }
}
