package org.apache.spark.sql.graft

import graft.Bench
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import scala.collection.mutable

/** Measurement harness for the optimization rounds (guide §1): runs
  * named queries through [[graft.Bench.pass]] — the bench's own
  * session, warmup, block release and clock — with one listener that
  * splits each query's cost into "Spark work" vs "fixed per-job
  * overhead". Per query it prints an aggregate row (job/stage/task
  * counts, task and GC time, shuffle and input bytes) and then one
  * line per job (id, wall ms, tasks, stage call sites, description),
  * so action-count-bound queries can be attacked job by job. Also
  * dumps `.explain("formatted")` per query when SPARK_GRAFT_PLAN_DIR
  * is set. Not part of the driver contract; dev-only.
  * Usage: `runMain org.apache.spark.sql.graft.Profile q_rollup_maintain` */
object Profile {
  private final case class Job(id: Int, site: String, desc: String,
                               tasks: Int, t0: Long) {
    @volatile var ms: Long = -1L
  }

  /** Everything the listener saw since the last [[drain]]. Queries run
    * one at a time, so the jobs started between two drains are one
    * query's — a job tag would not do: Spark copies a thread's local
    * properties into a pool thread once, when the pool creates it, so
    * a job `Par` launches from a reused thread carries a stale tag. */
  private class Acc extends SparkListener {
    private val jobs = mutable.ArrayBuffer.empty[Job]
    private val open = mutable.Map.empty[Int, Job]
    private val sums = mutable.Map.empty[String, Long].withDefaultValue(0L)
    private def add(k: String, v: Long): Unit = sums(k) += v
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val desc = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description")))
        .getOrElse("")
      // stage names carry the call site ("parquet at Foo.scala:12")
      val site = e.stageInfos.map(_.name.takeWhile(_ != '\n'))
        .distinct.mkString(" | ").take(120)
      val j = Job(e.jobId, site, desc, e.stageInfos.map(_.numTasks).sum,
        System.nanoTime())
      jobs += j
      open(e.jobId) = j
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      open.remove(e.jobId).foreach(j =>
        j.ms = (System.nanoTime() - j.t0) / 1000000L)
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      synchronized(add("stages", 1))
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
      add("tasks", 1)
      val m = t.taskMetrics
      if (m != null) {
        add("taskTimeMs", m.executorRunTime)
        add("gcTimeMs", m.jvmGCTime)
        add("shuffleReadB", m.shuffleReadMetrics.totalBytesRead)
        add("inputB", m.inputMetrics.bytesRead)
      }
    }
    def drain(): (Seq[Job], Map[String, Long]) = synchronized {
      val out = (jobs.toList, sums.toMap.withDefaultValue(0L))
      jobs.clear(); sums.clear()
      out
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val planDir = sys.env.get("SPARK_GRAFT_PLAN_DIR")
    val gcBetween = sys.env.getOrElse("SPARK_GRAFT_BENCH_GC", "1") == "1"
    val spark = Bench.mkSession()
    val names0 = graft.SparkEntry.queries.keys.toSeq.sorted
    val names = if (args.isEmpty) names0
                else names0.filter(args.toSet.contains)
    val acc = new Acc
    spark.sparkContext.addSparkListener(acc)
    val rows = mutable.ArrayBuffer.empty[String]
    val lines = mutable.ArrayBuffer.empty[String]
    Bench.pass(spark, sfDir, names, gcBetween, hooks = new Bench.Hooks {
      // listener events are async: settle the bus before each drain
      private def settle() = spark.sparkContext.listenerBus.waitUntilEmpty()
      // the warmup's jobs belong to no query
      override def warmed(): Unit = { settle(); acc.drain() }
      override def built(n: String, df: DataFrame): Unit =
        planDir.foreach { dd =>
          val p = java.nio.file.Paths.get(dd)
          java.nio.file.Files.createDirectories(p)
          java.nio.file.Files.writeString(p.resolve(s"$n.txt"),
            df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode))
        }
      override def done(n: String, sec: Option[Double]): Unit = {
        settle()
        val (jobs, d) = acc.drain()
        val head = sec.fold(s"""{"q":"$n","failed":true""")(t =>
          f"""{"q":"$n","sec":$t%.3f""")
        val row = head + f""","jobs":${jobs.size},"stages":${d("stages")},"tasks":${d("tasks")},"taskSec":${d("taskTimeMs") / 1e3}%.2f,"gcSec":${d("gcTimeMs") / 1e3}%.2f,"shufMB":${d("shuffleReadB") / 1e6}%.1f,"inMB":${d("inputB") / 1e6}%.1f}"""
        rows += row
        lines += row
        jobs.foreach { j =>
          lines += f"  [${j.id}%4d] ${j.ms}%5d ms ${j.tasks}%4d tasks  ${j.site}%s ${j.desc.take(60)}"
        }
      }
    })
    println("PROFILE_BEGIN")
    lines.foreach(println)
    println("PROFILE_END")
    val out = sys.env.getOrElse("SPARK_GRAFT_PROFILE_OUT", "/tmp/profile_out.jsonl")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out),
      rows.mkString("", "\n", "\n"))
    spark.stop()
  }
}
