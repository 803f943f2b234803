package graft

import java.nio.file.{Files, Paths}
import java.util.regex.Pattern
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

  test("src/main has exactly one file of atomic renames, FsCommit's") {
    val hits = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        Files.readString(p).contains("ATOMIC_MOVE"))
      .map(_.getFileName.toString).toSeq
    assert(hits == Seq("FsCommit.scala"), s"ATOMIC_MOVE in $hits")
  }

  test("src/main spells the merge-on-read sidecar layout in one file, " +
    "Snapshot's listing") {
    val layout = Seq("\"pos_deletes\"", "_mor/v", "resolve(s\"v$v\")")
    val files = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    val hits = files.flatMap { p =>
      val text = Files.readString(p)
      layout.filter(text.contains).map(l => s"${p.getFileName}: $l")
    }
    assert(hits.nonEmpty && hits.forall(_.startsWith("Snapshot.scala: ")),
      s"sidecar layout spelled in $hits")
    val regex = "_mor/v([0-9]+)"
    assert(!files.exists(p => Files.readString(p).contains(regex)),
      "sidecar paths are listed, never parsed back out of file ids")
    val snapshot = Files.readString(
      Paths.get("src/main/scala/graft/pipeline/Snapshot.scala"))
    def count(s: String) = snapshot.split(Pattern.quote(s), -1).length - 1
    assert(count("resolve(s\"v$v\")") == 1, "one commit-dir builder")
    assert(count("re-based past v") == 1, "one rebase-guard message")
  }

  test("src/main has one persisted-index lifecycle, IndexDelta's: one " +
    "open step, one build token, one corpus-version guard, and each " +
    "family's meta file spelled only in its own file") {
    val files = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .map(p => p.getFileName.toString -> Files.readString(p))
    def sites(s: String) = files.flatMap { case (name, text) =>
      Seq.fill(text.split(Pattern.quote(s), -1).length - 1)(name)
    }
    Seq("index at $indexDir (build first)", "IndexDelta.newBuildToken(",
      "def corpusVersionOf")
      .foreach(s => assert(sites(s) == Seq("IndexDelta.scala"),
        s"$s at ${sites(s)}"))
    val rollupOpen = "no rollup at $rollupDir (build first)"
    assert(sites(rollupOpen) == Seq("Rollup.scala"),
      s"$rollupOpen at ${sites(rollupOpen)}")
    Seq("\"_pq_meta\"" -> "PqIndex.scala",
      "\"_ivf_meta\"" -> "IvfIndex.scala",
      "\"_ivfpq_meta\"" -> "IvfPqIndex.scala",
      "\"_text_meta\"" -> "TextIndex.scala").foreach { case (s, own) =>
      assert(sites(s).distinct == Seq(own), s"$s spelled in ${sites(s)}")
    }
  }

  test("src/main fetches rows to the driver by executeCollect only " +
    "inside the bounded fetch") {
    val call = "executeCollect("
    val files = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .map(p => p.getFileName.toString -> Files.readString(p))
    def count(t: String) = t.split(Pattern.quote(call), -1).length - 1
    val hits = files.filter(f => count(f._2) > 0).map(_._1)
    assert(hits == Seq("DriverFetch.scala"), s"$call in $hits")
    val fetch = files.find(_._1 == "DriverFetch.scala").get._2
    val at = fetch.indexOf("def rows(")
    val body = fetch.slice(at, fetch.indexOf("\n  private def", at))
    assert(at >= 0 && count(body) == count(fetch),
      s"$call outside DriverFetch.rows")
  }

  test("the table layer and the index lifecycle scan parquet through " +
    "one driver-side helper: Spark's own inference only as its fallback") {
    val read = "spark.read.parquet("
    def text(f: String) = Files.readString(Paths.get(s"src/main/scala/$f"))
    def count(t: String) = t.split(Pattern.quote(read), -1).length - 1
    Seq("graft/pipeline/Snapshot.scala", "graft/ext/IndexDelta.scala")
      .foreach(f => assert(count(text(f)) == 0, s"$read in $f"))
    val bridge = text("org/apache/spark/sql/graft/PruningBridge.scala")
    val at = bridge.indexOf("def scan(")
    val helper = bridge.slice(at, bridge.indexOf("\n  /**", at))
    assert(at >= 0 && count(bridge) == 1 && count(helper) == 1,
      s"$read outside PruningBridge.scan's fallback")
  }
}
