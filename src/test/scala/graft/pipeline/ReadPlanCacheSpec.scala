package graft.pipeline

import graft.SparkSpec
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The per-session read-plan cache is bounded by least-recently-used
  * eviction: a table read between many others keeps its cached plan. */
class ReadPlanCacheSpec extends SparkSpec {

  private def copyDir(src: Path, dst: Path): Unit = {
    val s = Files.walk(src)
    try s.iterator().asScala.foreach { p =>
      val t = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t)
    } finally s.close()
  }

  test("a hot table's cached plan survives more than 512 other cached " +
    "reads: eviction is least-recently-used") {
    val root = Files.createTempDirectory("plancache")
    val hot = root.resolve("hot").toString
    Snapshot.createOrReplace(spark.range(10).toDF("id"), hot)
    // copies of one committed table: each is its own cache key
    val others = (1 to 520).map { i =>
      val d = root.resolve(s"t$i")
      copyDir(Paths.get(hot), d)
      d.toString
    }
    val first = Snapshot.read(spark, hot)
    others.zipWithIndex.foreach { case (d, i) =>
      Snapshot.read(spark, d)
      if (i % 100 == 99) assert(Snapshot.read(spark, hot) eq first)
    }
    assert(Snapshot.read(spark, hot) eq first,
      "the recently used plan must not be evicted")
  }
}
