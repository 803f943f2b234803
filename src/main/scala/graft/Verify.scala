package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // Optional trailing args: run only these queries (dev iteration);
    // the driver always passes exactly two args → full run.
    val only = args.drop(2).toSet
    val spark = Bench.mkSession()
    new java.io.File(outDir).mkdirs()
    // Materialize the shared bronze fixture BEFORE the baseline
    // snapshot, then release each query's own localCheckpoint blocks —
    // 50+ queries in one JVM would otherwise accumulate pinned blocks
    // and GC-thrash the late ones (same note as Bench). Only blocks
    // beyond the baseline are dropped, so the shared fixture survives.
    try { SparkEntry.queries("q_cdc_bronze")(spark, sfDir).count() }
    catch { case _: Throwable => () }
    val baseline = spark.sparkContext.getPersistentRDDs.keySet
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only.contains(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // Blocking, so block removal never races the next query's jobs
      // (same rationale as Bench.releaseLeaked).
      spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!baseline.contains(id)) rdd.unpersist(blocking = true)
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
