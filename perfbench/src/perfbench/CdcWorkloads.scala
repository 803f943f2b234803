package perfbench

import org.apache.spark.sql.SparkSession

object CdcWorkloads {
  /** Notes `Silver.staged`'s rows per event of `b` and checks the count
    * against the model. */
  def stagedCheck(rec: Recorder, p: CdcPipeline, b: Seq[Event]): Unit = {
    val n = p.stagedRows(b)
    rec.note("cdc.staged", n.toDouble / b.size)
    rec.check("staged_rows")(n == p.model.stagedCount(b))
  }
}

/** `cdc_microbatch`: the reference job on every poll. A bootstrap batch
  * (set-up) fills a merge-on-read silver table; then batches of about
  * 10³ events each run append → checkpoint read → LWW stage → MERGE →
  * checkpoint advance, followed by a three-query privacy read mix. */
final class CdcMicrobatch(spark: SparkSession, rec: Recorder, root: String,
                          seed: Long) extends Workload {
  private val Orders = 40000
  private val BootstrapEvents = 10000
  private val BatchMean = 1000
  /** Auto-compaction and expiry both run once per cycle of this many
    * batches, and a run always ends on a whole cycle, so every run samples
    * each point of the sidecar sawtooth equally often. */
  private val Cycle = 3
  private val MinBatches = 3 * Cycle

  private var p: CdcPipeline = _
  private var warm: IndexedSeq[IndexedSeq[Event]] = IndexedSeq.empty
  private var pending: Iterator[IndexedSeq[Event]] = Iterator.empty
  private val pick = new java.util.Random(seed * 1000003L + 11)

  /** Generates the log, creates the tables and applies the first
    * `BootstrapEvents` events as one catch-up batch. */
  def prepare(rep: Int): Unit = {
    val events = CdcLog.generate(CdcLog.shape(Orders, seed), seed)
    p = new CdcPipeline(spark, rec, s"$root/rep$rep", mor = true,
      withMv = false)
    p.create(compactAfterCommits = Cycle)
    val (boot, rest) = events.splitAt(BootstrapEvents)
    p.batch(boot)()
    val all = CdcLog.batches(rest, BatchMean, seed)
    warm = all.take(Cycle)
    pending = all.drop(Cycle).iterator
  }

  /** One whole compaction cycle of the loop body, so the timed loop starts
    * on a JVM that has compiled every path of the cycle. */
  def warmup(): Unit = warm.zipWithIndex.foreach { case (b, i) =>
    p.batch(b)()
    if (i + 1 == Cycle) p.expire()
    require(readMix(b), "warm-up reads disagree with the model")
  }

  private def readMix(last: Seq[Event]): Boolean = {
    val key = last(pick.nextInt(last.size)).orderId
    val width = 500000.0 * 100 / math.max(1, p.model.rows.size)
    val lo = 900.0 + pick.nextDouble() * (500000.0 - width)
    Seq(
      rec.op("read", "point_lookup", 1)(p.pointLookup(key)),
      rec.op("read", "range_scan", 1)(p.rangeScan(lo, lo + width)),
      rec.op("read", "status_counts", 1)(p.statusCounts())).forall(identity)
  }

  def run(deadlineNs: Long): Unit = {
    if (rec.tracer.on) rec.note("pipeline.mor_versions",
      graft.pipeline.Snapshot.morVersions(p.silverDir).size)
    var i = 0
    while (pending.hasNext &&
        (i < MinBatches || i % Cycle != 0 || System.nanoTime() < deadlineNs)) {
      val b = pending.next()
      i += 1
      rec.op("write", "batch", b.size) {
        val applied = p.batch(b)
        if (i % Cycle == 0) p.expire()
        applied
      }
      if (rec.tracer.on && i <= 5) CdcWorkloads.stagedCheck(rec, p, b)
      if (rec.tracer.on) {
        rec.note("pipeline.mor_versions",
          graft.pipeline.Snapshot.morVersions(p.silverDir).size)
        rec.note("pipeline.bytes_new", rec.newBytes(root))
      }
      rec.noteStorage(storageDirs, p.model.rows.size)
      readMix(b)
    }
  }

  def finish(): Unit = {
    rec.check("silver_state")(p.verify())
    rec.note("pipeline.files_live", p.silverFiles())
  }

  def storageDirs: Seq[String] = Seq(p.silverDir)
  def liveFrame: org.apache.spark.sql.DataFrame =
    graft.pipeline.Snapshot.read(spark, p.silverDir)
}

/** `cdc_backfill`: the same job as a catch-up. The event log is
  * replicated ×4 with seeded key shifts and applied in four large batches
  * to a copy-on-write silver table, each followed by REFRESH of a
  * per-status-and-day materialized view; then a read-only serving phase
  * runs analyst SQL on the settled tables. */
final class CdcBackfill(spark: SparkSession, rec: Recorder, root: String,
                        seed: Long) extends Workload {
  private val Orders = 24000
  private val Replicas = 4
  private val Batches = 4
  /** The serving mix has this many query kinds; reads run in whole rounds. */
  private val ReadKinds = 5
  private val MinReads = 6 * ReadKinds

  private var p: CdcPipeline = _
  private var batches: IndexedSeq[IndexedSeq[Event]] = IndexedSeq.empty
  private val pick = new java.util.Random(seed * 1000003L + 17)

  private var warm: IndexedSeq[IndexedSeq[Event]] = IndexedSeq.empty

  /** The base log for keys above `keyBase`, replicated with seeded key
    * shifts; offsets continue after `firstOffset - 1`. */
  private def log(orders: Int, keyBase: Int, firstOffset: Long): IndexedSeq[Event] = {
    val base = CdcLog.generate(CdcLog.shape(orders, seed), seed, keyBase, firstOffset)
    val shift = new java.util.Random(seed * 131L + 3)
    (0 until Replicas).flatMap { r =>
      val keyShift = r * 1000000 + shift.nextInt(1000) * 1000
      base.map(e => e.copy(orderId = e.orderId + keyShift,
        offset = e.offset + r.toLong * base.size))
    }
  }

  /** Generates the warm-up logs (keys of their own, first offsets) and
    * the backfill log after them, and creates the tables. */
  def prepare(rep: Int): Unit = {
    p = new CdcPipeline(spark, rec, s"$root/rep$rep", mor = false,
      withMv = true)
    p.create(0)
    val small = log(300, 900000, 1L)
    val events = log(Orders, 0, 1L)
    // equal batches, so the per-batch median compares like with like
    val size = events.size / Batches + 1
    val full = log(Orders / Batches, 950000, small.size + 1L).take(size)
    warm = IndexedSeq(small, full)
    batches = events.map(e => e.copy(offset = e.offset + small.size + full.size))
      .grouped(size).toIndexedSeq
  }

  /** A small batch, one serving mix on it, then a full-size batch: the
    * first large batch of a JVM, and the first batch after a round of
    * reads, run well above the steady pace. */
  def warmup(): Unit = {
    p.batch(warm(0))()
    require(serve(p, ReadKinds) == ReadKinds, "warm-up reads disagree with the model")
    p.batch(warm(1))()
  }

  private val statuses = Array("O", "F", "P", "updated")

  /** Runs `n` reads of the serving mix (or until the deadline when `n`
    * is 0 past `MinReads`); returns the number that agreed. Untimed reads
    * warm the plan cache: each is checked like any other, but neither
    * timed nor traced. */
  private def serve(q: CdcPipeline, n: Int, deadlineNs: Long = Long.MaxValue,
                    timed: Boolean = true): Int = {
    var i = 0
    var ok = 0
    while (i < n || (n == 0 &&
        (i < MinReads || i % ReadKinds != 0 || System.nanoTime() < deadlineNs))) {
      val good = i % ReadKinds match {
        case 0 => read("view_aggregate", timed)(q.viewAggregate())
        case 1 => read("k_anonymity", timed)(q.kAnonymity(5))
        case 2 => mvRead(q, "rollup_status", timed)(q.rollupByStatus())
        case 3 =>
          mvRead(q, "rollup_month", timed)(q.rollupByMonth(statuses(pick.nextInt(4))))
        case _ =>
          val keys = q.model.rows.keysIterator.take(1 + pick.nextInt(50)).toSeq
          read("point_lookup", timed)(q.pointLookup(keys.last))
      }
      if (good) ok += 1
      i += 1
    }
    ok
  }

  private def read(name: String, timed: Boolean)(call: => () => Boolean): Boolean =
    if (timed) rec.op("read", name, 1)(call)
    else rec.check(s"untimed_$name")(call())

  private def mvRead(q: CdcPipeline, name: String, timed: Boolean)
                    (call: => (() => Boolean, org.apache.spark.sql.DataFrame)): Boolean = {
    var df: org.apache.spark.sql.DataFrame = null
    val ok = read(name, timed) { val (check, d) = call; df = d; check }
    if (timed && rec.tracer.on && df != null)
      rec.note("catalog.mv_served", if (scans(df, q.mvDir)) 1.0 else 0.0)
    ok
  }

  private def scans(df: org.apache.spark.sql.DataFrame, dir: String): Boolean =
    df.queryExecution.optimizedPlan.collectLeaves().exists {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case f: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            f.location.rootPaths.map(_.toUri.getPath)
              .exists(x => x == dir || x.startsWith(s"$dir/"))
          case _ => false
        }
      case _ => false
    }

  def run(deadlineNs: Long): Unit = {
    batches.zipWithIndex.foreach { case (b, i) =>
      rec.op("write", "batch", b.size)(p.batch(b))
      if (rec.tracer.on) CdcWorkloads.stagedCheck(rec, p, b)
      if (rec.tracer.on) rec.note("pipeline.bytes_new", rec.newBytes(root))
      rec.noteStorage(storageDirs, p.model.rows.size)
    }
    // the serving phase reads settled tables through a warm plan cache
    serve(p, ReadKinds, timed = false)
    serve(p, 0, deadlineNs)
  }

  def finish(): Unit = {
    rec.check("silver_state")(p.verify())
    rec.note("pipeline.files_live", p.silverFiles())
  }

  def storageDirs: Seq[String] = Seq(p.silverDir)
  def liveFrame: org.apache.spark.sql.DataFrame =
    graft.pipeline.Snapshot.read(spark, p.silverDir)
}
