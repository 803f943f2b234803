package perfbench

/** Self-tests of the harness's own JVM side, without Spark:
  * the MERGE model on a hand-computed two-batch case with a cross-batch
  * late event, and the recorder turning a wrong result or an exception
  * into a counted failure with no success latency. Exit code 1 on any
  * failed expectation. Run through `python3 perfbench/run.py --selftest`. */
object SelfTest {
  private var failed = 0

  private def expect(what: String, ok: Boolean): Unit = {
    println(s"${if (ok) "ok  " else "FAIL"} $what")
    if (!ok) failed += 1
  }

  private def ev(offset: Long, k: Int, op: String, ts: Long, amount: String,
                 status: String): Event =
    Event(offset, k, 100 + k, amount, status, op, ts, "1992-01-01 00:00:00",
      polluted = false, bare = false)

  def main(args: Array[String]): Unit = {
    val m = new MergeModel
    val batch1 = Seq(
      ev(1, 1, "c", 1000, "10.00", "O"), ev(2, 1, "u", 5000, "20.00", "updated"),
      ev(3, 2, "c", 2000, "30.00", "O"),
      ev(4, 3, "c", 3000, "40.00", "O"), ev(5, 3, "d", 4000, "40.00", "O"))
    m.apply(batch1)
    expect("batch 1: newest event per key wins, a delete winner never inserts",
      m.rows.toMap == Map(1 -> SilverRow(101, 20.0, "updated", 5),
        2 -> SilverRow(102, 30.0, "O", 2)))
    expect("staged rows are one per key", m.stagedCount(batch1) == 3)
    m.apply(Seq(
      // late: older than key 1's applied row, but in a later batch
      ev(6, 1, "u", 3000, "15.00", "late"),
      ev(7, 2, "d", 2500, "30.00", "O"), ev(8, 2, "c", 2400, "99.00", "O"),
      ev(9, 4, "u", 100, "5.00", "x"),
      ev(10, 5, "c", 7000, "1.00", "a"), ev(11, 5, "u", 7000, "2.00", "b")))
    expect("batch 2: the cross-batch late event overwrites (no timestamp guard), " +
      "a delete wins its batch, the offset breaks a timestamp tie",
      m.rows.toMap == Map(1 -> SilverRow(101, 15.0, "late", 3),
        4 -> SilverRow(104, 5.0, "x", 0), 5 -> SilverRow(105, 2.0, "b", 7)))
    expect("the checkpoint is the highest offset applied", m.lastOffset == 11)

    val rec = new Recorder(new Tracer(false, null))
    val wrongExpected = 42
    rec.op("read", "wrong_expectation", 1)(() => m.rows.size == wrongExpected)
    rec.op("read", "raises", 1)(throw new IllegalStateException("boom"))
    rec.op("read", "right", 1)(() => m.rows.size == 3)
    expect("a wrong result and an exception are failed samples",
      rec.samples.map(_.ok) == Seq(false, false, true))
    expect("each failure is reported with its cause",
      rec.failures.size == 2 && rec.failures(1).contains("boom"))

    val gen = CdcLog.generate(CdcLog.shape(2000, 7), 7)
    expect("the log is seeded", gen == CdcLog.generate(CdcLog.shape(2000, 7), 7))
    expect("offsets number arrival order from 1",
      gen.map(_.offset) == (1L to gen.size.toLong))
    val lastTs = scala.collection.mutable.Map[Int, Long]()
    val late = gen.count { e =>
      val older = lastTs.get(e.orderId).exists(_ > e.tsMs)
      lastTs(e.orderId) = math.max(lastTs.getOrElse(e.orderId, Long.MinValue), e.tsMs)
      older
    }
    expect(s"the log holds late events ($late)", late > 0)
    if (failed > 0) sys.exit(1)
  }
}
