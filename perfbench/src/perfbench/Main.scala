package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import java.lang.management.ManagementFactory
import java.nio.file.{Path, Paths}
import scala.jdk.CollectionConverters._

trait Workload {
  /** Builds inputs and tables from scratch under a fresh directory. */
  def prepare(rep: Int): Unit
  /** One untimed pass of the loop body on the prepared tables. */
  def warmup(): Unit
  /** The closed loop: one client thread until the deadline. */
  def run(deadlineNs: Long): Unit
  /** Final state checks and end-of-run notes. */
  def finish(): Unit
  /** Table dirs whose bytes count toward storage amplification. */
  def storageDirs: Seq[String]
  /** The live rows of the main table, for the write-once comparison. */
  def liveFrame: DataFrame
}

object Files {
  private def walk(dir: String): Seq[Path] = {
    val p = Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) Seq.empty
    else {
      val s = java.nio.file.Files.walk(p)
      try s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_)).toList
      finally s.close()
    }
  }

  def sizes(dir: String): Map[String, Long] =
    walk(dir).map(f => f.toString -> java.nio.file.Files.size(f)).toMap

  /** Bytes of a table: its dir plus the sibling version dirs and side
    * files the snapshot layer keeps beside it (`<dir>.v3`, `<dir>.pspec`). */
  def tableBytes(dir: String): Long = {
    val p = Paths.get(dir)
    val name = p.getFileName.toString
    val s = java.nio.file.Files.list(p.getParent)
    val family = try s.iterator().asScala
      .filter(f => f.getFileName.toString == name ||
        f.getFileName.toString.startsWith(name + ".")).toList
    finally s.close()
    family.map(f => sizes(f.toString).values.sum).sum
  }

  def count(dir: String): Long = walk(dir).size.toLong

  def deleteRecursively(dir: String): Unit = {
    val p = Paths.get(dir)
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.iterator().asScala.toList.reverse.foreach(java.nio.file.Files.delete)
      finally s.close()
    }
  }
}

/** Minimal JSON rendering for the run record. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def arr(vs: Iterable[String]): String = vs.mkString("[", ",", "]")
}

/** One benchmark run in a fresh JVM:
  * `perfbench.Main <workload> <seed> <seconds> <trace 0|1> <root> <out>`.
  * Writes the raw record (op samples, notes, spans, jobs) to `out`;
  * `run.py` turns it into metrics. */
object Main {
  val SetupReps = 3

  /** The driver bench's session (`graft.Bench.mkSession`), with the
    * scratch locations pointed into this run's root. */
  def session(cores: Int, root: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.mapreduce.fileoutputcommitter" +
        ".marksuccessfuljobs", "false")
      .config("spark.local.dir", s"$root/spark-local")
      .config("spark.sql.warehouse.dir", s"$root/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$root/hadoop-tmp")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1000.0

  def main(args: Array[String]): Unit = {
    val Array(name, seedS, secondsS, traceS, root, out) = args
    val seed = seedS.toLong
    val cores = Runtime.getRuntime.availableProcessors()
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(cores, root)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val listener = new JobListener
    val tracer = new Tracer(traceS == "1", spark.sparkContext)
    if (tracer.on) spark.sparkContext.addSparkListener(listener)
    val rec = new Recorder(tracer)
    val wl: Workload = name match {
      case "cdc_microbatch" => new CdcMicrobatch(spark, rec, s"$root/tables", seed)
      case "cdc_backfill" => new CdcBackfill(spark, rec, s"$root/tables", seed)
      case "llm_curation" => new Curation(spark, rec, s"$root/tables", seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // inputs and tables are prepared SetupReps times from scratch and the
    // last preparation is measured; the warm-up runs once on it. What they
    // record is discarded.
    def timed(body: => Unit): Double = {
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    }
    val prepareS = (1 to SetupReps).map { rep =>
      if (rep > 1) Files.deleteRecursively(s"$root/tables/rep${rep - 1}")
      timed(wl.prepare(rep))
    }
    val warmupS = timed(wl.warmup())
    if (tracer.on) org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    rec.reset()
    listener.synchronized { listener.jobs.clear(); listener.stages.clear(); listener.taskMs.clear() }
    rec.newBytes(s"$root/tables")

    val gc0 = gcSeconds()
    val t0 = System.nanoTime()
    val deadline = t0 + (secondsS.toDouble * 1e9).toLong
    wl.run(deadline)
    val wallS = (System.nanoTime() - t0) / 1e9
    val gcS = gcSeconds() - gc0
    wl.finish()

    // the live rows written once as fresh parquet: the denominator of
    // storage amplification, as bytes per live row
    val fresh = s"$root/fresh"
    wl.liveFrame.repartition(1).write.parquet(fresh)
    val freshBytesPerRow = Files.sizes(fresh).values.sum.toDouble /
      math.max(1L, spark.read.parquet(fresh).count())

    if (tracer.on) org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    // the first collection queues weak references (checkpointed blocks,
    // broadcasts) for Spark's cleaner; the second frees what it released
    System.gc()
    Thread.sleep(500)
    System.gc()
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed /
      1048576.0

    val conf = spark.conf.getAll.toSeq.sortBy(_._1)
      .filter { case (k, _) => !k.contains("dir") && !k.contains("app.id") &&
        !k.contains("driver.port") && !k.contains("app.startTime") }
    val samples = rec.samples.map(s => Json.obj(Seq("kind" -> Json.str(s.kind),
      "name" -> Json.str(s.name), "s" -> Json.num(s.seconds),
      "ok" -> s.ok.toString, "rows" -> s.rows.toString)))
    val notes = rec.notes.toSeq.map { case (k, v) => k -> Json.arr(v.map(Json.num)) }
    val spans = tracer.spans.map(s => Json.arr(Seq(s.id.toString, Json.str(s.name),
      s.parent.toString, s.trace.toString, s.startNs.toString, s.endNs.toString)))
    val jobs = listener.jobs.map(j => Json.arr(Seq(j.id.toString, j.span.toString,
      j.startMs.toString, j.endMs.toString, Json.arr(j.stages.map(_.toString)),
      j.ok.toString)))
    val stages = listener.stages.map(s => Json.arr(Seq(s.id.toString,
      s.attempt.toString, s.tasks.toString, s.runMs.toString,
      s.shuffleWriteBytes.toString, s.spillBytes.toString, s.failed.toString,
      Json.arr(listener.taskMs.getOrElse((s.id, s.attempt), Nil).map(_.toString)))))
    val record = Json.obj(Seq(
      "workload" -> Json.str(name), "seed" -> seed.toString,
      "cores" -> cores.toString,
      "heap_max_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1048576.0),
      "spark_version" -> Json.str(spark.version),
      "conf" -> Json.obj(conf.map { case (k, v) => k -> Json.str(v) }),
      "session_s" -> Json.num(sessionS),
      "prepare_s" -> Json.arr(prepareS.map(Json.num)),
      "warmup_s" -> Json.num(warmupS),
      "wall_s" -> Json.num(wallS), "gc_s" -> Json.num(gcS),
      "fresh_bytes_per_row" -> Json.num(freshBytesPerRow),
      "heap_after_gc_mb" -> Json.num(heapMb),
      "failures" -> Json.arr(rec.failures.map(Json.str)),
      "samples" -> Json.arr(samples), "notes" -> Json.obj(notes),
      "spans" -> Json.arr(spans), "jobs" -> Json.arr(jobs),
      "stages" -> Json.arr(stages),
      "failed_tasks" -> listener.failedTasks.toString))
    java.nio.file.Files.write(Paths.get(out), record.getBytes("UTF-8"))
    spark.stop()
  }
}
