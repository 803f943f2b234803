package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable.ArrayBuffer

/** One timed operation of the closed loop: a write batch/shard or a
  * read. `ok` is false when the call raised or its result disagreed
  * with the model; a failed op's latency never enters the success
  * statistics (run.py filters on `ok`). */
final case class Sample(kind: String, name: String, seconds: Double,
                        ok: Boolean, rows: Long)

/** A span around one call into a library layer. Times are epoch
  * nanoseconds so they line up with the listener's job timestamps. */
final case class SpanRec(id: Int, name: String, parent: Int, trace: Int,
                         startNs: Long, var endNs: Long)

/** Spans in memory, written out when the run ends. With tracing off
  * every method is a plain call of its body. */
final class Tracer(val on: Boolean, sc: SparkContext) {
  private val epochOffsetNs =
    System.currentTimeMillis() * 1000000L - System.nanoTime()
  def nowNs(): Long = System.nanoTime() + epochOffsetNs

  val spans = ArrayBuffer[SpanRec]()
  private var stack = List.empty[SpanRec]
  private var traces = 0

  def reset(): Unit = { spans.clear(); traces = 0 }

  private def open[T](name: String, trace: Int)(body: => T): T = {
    val s = SpanRec(spans.size, name, stack.headOption.fold(-1)(_.id),
      trace, nowNs(), -1L)
    spans += s
    stack = s :: stack
    // the job-group property tags every job this call launches with
    // the span; jobs from pool threads created earlier may carry a
    // stale tag, which run.py re-attributes by time
    sc.setLocalProperty(Tracer.SpanProperty, s.id.toString)
    try body
    finally {
      s.endNs = nowNs()
      stack = stack.tail
      sc.setLocalProperty(Tracer.SpanProperty,
        stack.headOption.map(_.id.toString).orNull)
    }
  }

  /** A top-level span: one batch or one read, with its own trace id. */
  def top[T](name: String)(body: => T): T =
    if (!on) body else { traces += 1; open(name, traces)(body) }

  /** A child span of the innermost open span. */
  def span[T](name: String)(body: => T): T =
    if (!on || stack.isEmpty) body else open(name, stack.head.trace)(body)
}

object Tracer {
  val SpanProperty = "perfbench.span"
}

/** Closed-loop operation log: times each op's library calls, then checks
  * the result; an exception or a disagreement is a failed op. */
final class Recorder(val tracer: Tracer) {
  val samples = ArrayBuffer[Sample]()
  val failures = ArrayBuffer[String]()
  /** Per-layer observations outside the spans (counts, ratios, sizes). */
  val notes = scala.collection.mutable.LinkedHashMap[String, ArrayBuffer[Double]]()
  private val seenFiles = scala.collection.mutable.Map[String, Long]()

  def note(name: String, v: Double): Unit =
    notes.getOrElseUpdate(name, ArrayBuffer[Double]()) += v

  /** Times `call` (the library calls, up to the last row collected); the
    * check it returns runs after the clock stops. */
  def op(kind: String, name: String, rows: Long)(call: => () => Boolean): Boolean = {
    val label = s"$kind:$name"
    val t0 = System.nanoTime()
    val check =
      try Some(tracer.top(label)(call))
      catch { case scala.util.control.NonFatal(e) => fail(label, e); None }
    val dt = (System.nanoTime() - t0) / 1e9
    val ok = check.exists(c => attempt(label)(c()))
    samples += Sample(kind, name, dt, ok, rows)
    ok
  }

  /** A check outside any timed op (final table state): counted as one
    * attempted operation with no latency. */
  def check(name: String)(body: => Boolean): Boolean = {
    val ok = attempt(s"check:$name")(body)
    samples += Sample("check", name, 0.0, ok, 0)
    ok
  }

  private def fail(label: String, e: Throwable): Unit =
    failures += s"$label raised ${e.getClass.getName}: " +
      String.valueOf(e.getMessage).take(300)

  private def attempt(label: String)(body: => Boolean): Boolean =
    try {
      val ok = body
      if (!ok) failures += s"$label: result disagrees with the model"
      ok
    } catch { case scala.util.control.NonFatal(e) => fail(label, e); false }

  /** Bytes of the files under `root` that were not there (or had another
    * size) at the previous call. */
  def newBytes(root: String): Long = {
    val now = Files.sizes(root)
    val added = now.collect { case (f, n) if !seenFiles.get(f).contains(n) => n }.sum
    seenFiles.clear(); seenFiles ++= now
    added
  }

  /** Bytes under the tables' dirs and the live rows they hold, after a
    * write: the numerator and the row count of storage amplification. */
  def noteStorage(dirs: Seq[String], liveRows: Long): Unit = {
    note("storage.bytes", dirs.map(Files.tableBytes).sum.toDouble)
    note("storage.live_rows", liveRows.toDouble)
  }

  /** Forgets everything recorded so far (the set-up and warm-up). */
  def reset(): Unit = {
    samples.clear(); failures.clear(); notes.clear(); tracer.reset()
  }
}

final case class JobRec(id: Int, span: Int, startMs: Long, var endMs: Long,
                        stages: Seq[Int], var ok: Boolean)
final case class StageRec(id: Int, attempt: Int, tasks: Int,
                          runMs: Long, shuffleWriteBytes: Long,
                          spillBytes: Long, failed: Boolean)

/** Spark jobs, stages and task times, tagged with the span property the
  * client thread set when the job was submitted. */
final class JobListener extends SparkListener {
  val jobs = ArrayBuffer[JobRec]()
  val stages = ArrayBuffer[StageRec]()
  val taskMs = scala.collection.mutable.Map[(Int, Int), ArrayBuffer[Long]]()
  var failedTasks = 0

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Tracer.SpanProperty)))
      .flatMap(_.toIntOption).getOrElse(-1)
    jobs += JobRec(e.jobId, span, e.time, -1L, e.stageIds, ok = false)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach { j =>
      j.endMs = e.time
      j.ok = e.jobResult == JobSucceeded
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.taskInfo != null && e.taskInfo.failed) failedTasks += 1
    if (e.taskMetrics != null)
      taskMs.getOrElseUpdate((e.stageId, e.stageAttemptId),
        ArrayBuffer[Long]()) += e.taskMetrics.executorRunTime
  }

  override def onStageCompleted(e: SparkListenerStageCompleted)
      : Unit = synchronized {
    val i = e.stageInfo
    val m = i.taskMetrics
    stages += StageRec(i.stageId, i.attemptNumber(), i.numTasks,
      if (m == null) 0L else m.executorRunTime,
      if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
      if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled,
      i.failureReason.isDefined)
  }
}
