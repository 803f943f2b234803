package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
object Bench {

  /** Cores of the local master: `SPARK_GRAFT_CPUS`, else every core
    * the JVM sees. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The one session of the bench, `Verify`, the soak mains, `Profile`
    * and the test suite, so every dev number is taken under the conf
    * the bench runs. `conf` pairs are applied last: static confs a
    * caller needs (a warehouse dir, a join threshold) or an override
    * of a default here (the suite's smaller `spark.master`). */
  def mkSession(conf: (String, String)*): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet carries TIMESTAMP(NANOS); read as long nanos.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      // r19: _SUCCESS markers off — the snapshot layer's own commit
      // protocol (version markers + atomic renames) is the source of
      // truth, nothing reads _SUCCESS, and each marker costs an extra
      // FS round-trip per write job. (AQE coalescing stays at its
      // parallelism-first default: measured parallelismFirst=false
      // and it SERIALIZED mid-size local stages — 64 MB advisory
      // collapses a 50 MB shuffle to one task.)
      .config("spark.hadoop.mapreduce.fileoutputcommitter" +
        ".marksuccessfuljobs", "false")
    conf.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Wall seconds of `body` — the one clock of the bench, `Profile`
    * and the soak mains. */
  def secs(body: => Any): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  type Query = (SparkSession, String) => DataFrame

  /** A pass's outcome: seconds for every query that ran to the end,
    * and the queries that threw — a failure never reads as a time. */
  final case class Pass(times: Seq[(String, Double)], failed: Seq[String])

  /** Callbacks of [[pass]], for a profiler riding on the bench's loop:
    * `warmed` once the untimed warmup is done, `built` with each
    * query's frame inside its timing, `done` once the query's blocks
    * are released, outside it (`sec` is None for a failed query). */
  trait Hooks {
    def warmed(): Unit = ()
    def built(name: String, df: DataFrame): Unit = ()
    def done(name: String, sec: Option[Double]): Unit = ()
  }

  /** One timing pass over `names` in `spark`: untimed warmup first
    * (JIT/codegen + the shared bronze fixture), then per-query
    * count with a BLOCKING release of every localCheckpoint block the
    * query pinned — an async unpersist storm racing the next query's
    * jobs was the r03 bench's one measured pathology (q_fingerprints
    * 28-54s in-context vs 2-4s isolated), so each query starts from a
    * settled block manager and a fresh GC. A query that throws is
    * reported on stderr and returned in `failed`. */
  def pass(spark: SparkSession, sfDir: String, names: Seq[String],
           gcBetween: Boolean,
           queries: Map[String, Query] = SparkEntry.queries,
           hooks: Hooks = new Hooks {})
      : Pass = {
    queries.get("q_cdc_bronze").foreach { q =>
      try q(spark, sfDir).count()
      catch { case e: Throwable =>
        System.err.println(s"[bench] warmup failed: ${e.getMessage}") }
    }
    hooks.warmed()
    val baseline = spark.sparkContext.getPersistentRDDs.keySet
    val times = Seq.newBuilder[(String, Double)]
    val failed = Seq.newBuilder[String]
    names.foreach { n =>
      val sec =
        try Some(secs {
          val df = queries(n)(spark, sfDir)
          hooks.built(n, df)
          df.count()
        })
        catch { case e: Throwable =>
          System.err.println(s"[bench] $n failed: ${e.getMessage}")
          None
        }
      spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!baseline.contains(id)) rdd.unpersist(blocking = true)
      }
      if (gcBetween) System.gc()
      sec match {
        case Some(t) => times += n -> t
        case None => failed += n
      }
      hooks.done(n, sec)
    }
    Pass(times.result(), failed.result())
  }

  /** An UNTIMED warm pass of the queries themselves, then min-of-two
    * per query; a query that failed in either timed pass is failed.
    * The audit's JVM is deliberately fresh (no inherited aging), but a
    * fixture-heavy query must not bill full Spark init + cold codegen
    * + cold FS caches as plan cost — r15's audit read q_snapshot_refs
    * 19.99 s isolated vs 5.99 s in-context through exactly that, and
    * min-of-two inside one cold process doesn't absorb it (the first
    * timed pass IS the cold one). */
  private def minOfTwo(spark: SparkSession, sfDir: String,
                       names: Seq[String], gcBetween: Boolean): Pass = {
    pass(spark, sfDir, names, gcBetween)
    val once = pass(spark, sfDir, names, gcBetween)
    val twice = pass(spark, sfDir, names, gcBetween).times.toMap
    Pass(once.times.collect {
      case (n, t) if twice.contains(n) => n -> math.min(t, twice(n))
    }, (once.failed ++ names.filterNot(twice.contains)).distinct)
  }

  /** Min-of-two re-measurement of `names` in a FORKED fresh JVM — the
    * audit must not inherit the JVM it is auditing: a new
    * SparkSession in the same process still rides the aged code
    * cache, fragmented heap and accumulated metaspace of the 200-query
    * main pass (driver r14 recorded audit readings WORSE than
    * in-context through exactly that). The child reruns this main in
    * audit mode with the parent's own JVM flags (add-opens, heap) and
    * hands the numbers back through a temp file. None on any spawn
    * failure — the caller falls back to the in-process audit. */
  private def forkedAudit(names: Seq[String])
      : Option[Seq[(String, Double)]] = {
    try {
      val javaBin = java.nio.file.Paths
        .get(System.getProperty("java.home"), "bin", "java").toString
      val jvmArgs = java.lang.management.ManagementFactory
        .getRuntimeMXBean.getInputArguments
      val out = java.nio.file.Files.createTempFile("bench_audit", ".json")
      val cmd = new java.util.ArrayList[String]()
      cmd.add(javaBin)
      cmd.addAll(jvmArgs)
      cmd.add("-cp"); cmd.add(System.getProperty("java.class.path"))
      cmd.add("graft.Bench"); names.foreach(cmd.add)
      val pb = new ProcessBuilder(cmd)
      pb.environment().put("SPARK_GRAFT_BENCH_MODE", "audit")
      pb.environment().put("SPARK_GRAFT_BENCH_OUT", out.toString)
      pb.redirectOutput(ProcessBuilder.Redirect.DISCARD)
      pb.redirectError(ProcessBuilder.Redirect.DISCARD)
      val p = pb.start()
      if (!p.waitFor(45, java.util.concurrent.TimeUnit.MINUTES)) {
        p.destroyForcibly(); return None
      }
      if (p.exitValue() != 0) return None
      val json = new String(java.nio.file.Files.readAllBytes(out),
        java.nio.charset.StandardCharsets.UTF_8)
      val m = "\"([A-Za-z0-9_]+)\":([0-9.Ee+-]+)".r
        .findAllMatchIn(json)
        .map(x => x.group(1) -> x.group(2).toDouble).toMap
      val res = names.flatMap(n => m.get(n).map(n -> _))
      if (res.size == names.size) Some(res) else None
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val gcBetween = sys.env.getOrElse("SPARK_GRAFT_BENCH_GC", "1") == "1"
    // audit mode (the forked child): min-of-two over the named
    // queries in this genuinely fresh JVM, no recursive audit
    val auditMode =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_MODE", "full") == "audit"
    // Fixed (sorted) query order so cross-round per-query numbers are
    // comparable run-to-run regardless of Map iteration order.
    // Optional trailing args restrict the run (dev iteration only; the
    // driver passes none → full suite).
    val names0 = SparkEntry.queries.keys.toSeq.sorted
    val names =
      if (args.isEmpty) names0 else names0.filter(args.toSet.contains)

    val spark0 = mkSession()
    val Pass(results, failed) =
      if (!auditMode) pass(spark0, sfDir, names, gcBetween)
      else minOfTwo(spark0, sfDir, names, gcBetween)

    // Outlier audit: any query that cost >3x the run median (and >2s
    // absolute) gets a min-of-two re-measurement in a FORKED fresh
    // JVM — a 200+-query single-JVM run ages (accumulated broadcasts,
    // shuffle dirs, code cache, metaspace); r05/r06 showed in-context
    // spikes that collapsed under isolation, and driver r14 showed the
    // same-JVM audit reading WORSE than in-context (it inherited the
    // aging it was meant to price). min-of-two keeps one
    // host-contention blip from reading as a slow plan.
    val sortedTimes = results.map(_._2).sorted
    val median =
      if (sortedTimes.isEmpty) 0.0 else sortedTimes(sortedTimes.size / 2)
    val outliers =
      if (auditMode) Seq.empty[String]
      else results.collect {
        case (n, t) if median > 0 && t > 3 * median && t > 2.0 => n
      }
    spark0.stop()
    val isolated =
      if (outliers.isEmpty) Seq.empty[(String, Double)]
      else forkedAudit(outliers).getOrElse {
        // spawn failed (exotic classpath/env): the in-process
        // fresh-session audit is still better than nothing
        val spark1 = mkSession()
        val res = minOfTwo(spark1, sfDir, outliers, gcBetween).times
        spark1.stop()
        res
      }

    def jmap(kvs: Seq[(String, Double)]): String =
      kvs.map { case (k, v) => "\"" + k + "\":" + v }
        .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val failedJson = failed.map(n => "\"" + n + "\"").mkString("[", ",", "]")
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":${jmap(results)},"isolated":${jmap(isolated)},"sf":"$sfDir","failed":$failedJson}"""
    println(json)
    // Persist the full record too: the driver's captured stdout has
    // been tail-truncated two rounds running, losing per-query numbers
    // — the on-disk copy is the durable round-over-round record.
    val out = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json"))
    java.nio.file.Files.write(out,
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}
