package perfbench

import scala.collection.mutable

/** One Debezium change event as it reaches bronze. `amount` is the
  * cleaned decimal string; `polluted` wraps it in spaces on the wire and
  * `bare` drops the `{"payload": …}` wrapper, the two envelope variants
  * `graft.cdc.Synth` emits. */
final case class Event(offset: Long, orderId: Int, userId: Int,
                       amount: String, status: String, op: String,
                       tsMs: Long, createdAt: String, polluted: Boolean,
                       bare: Boolean) {
  def partition: Int = orderId % 4
}

/** Seeded change-event log in `graft.cdc.Synth`'s envelope shape: per
  * order a `c` event, a `u` one hour later when `k % 3 == 0` and a `d`
  * two hours later when `k % 17 == 0`, plus seeded re-updates of a hot
  * key set and seeded late events. A late event carries an older
  * `ts_ms` than its key's newest event but arrives (gets its offset)
  * hours later, so it usually lands in a later batch than the event it
  * predates. Offsets number the arrival order from 1. */
object CdcLog {

  val Topic = "pg.public.orders"

  final case class Shape(orders: Int, hotShare: Double, lateShare: Double)

  /** The seeded generator parameters: the hot-key and late-event shares
    * are drawn from the seed, within fixed ranges. */
  def shape(orders: Int, seed: Long): Shape = {
    val r = new java.util.Random(seed * 7919L + 1)
    Shape(orders, 0.01 + 0.02 * r.nextDouble(), 0.02 + 0.03 * r.nextDouble())
  }

  private val Statuses = Array("O", "F", "P")
  private val HotStatuses = Array("shipped", "returned", "updated")
  private val DayMs = 86400000L
  private val HourMs = 3600000L
  private val EpochStart = 694224000000L // 1992-01-01, TPC-H's first day

  private def amountOf(cents: Long): String =
    s"${cents / 100}.${"%02d".format(cents % 100)}"

  private val DateFormat =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  private def dateText(ms: Long): String =
    DateFormat.format(java.time.LocalDateTime.ofEpochSecond(ms / 1000, 0,
        java.time.ZoneOffset.UTC))

  /** Events for keys `keyBase + 1 .. keyBase + shape.orders`, in arrival
    * order, offsets starting at `firstOffset`. */
  def generate(shape: Shape, seed: Long, keyBase: Int = 0,
               firstOffset: Long = 1L): IndexedSeq[Event] = {
    val r = new java.util.Random(seed)
    // (arrival, tie, event-without-offset)
    val out = mutable.ArrayBuffer[(Long, Long, Event)]()
    var tie = 0L
    def emit(arrival: Long, e: Event): Unit = { tie += 1; out += ((arrival, tie, e)) }
    val users = math.max(1, shape.orders / 10)
    (1 to shape.orders).foreach { i =>
      val k = keyBase + i
      val user = 1 + r.nextInt(users)
      val t0 = EpochStart + r.nextInt(2400) * DayMs + r.nextInt(24) * HourMs
      val created = dateText(t0)
      val cents = 90000L + (r.nextDouble() * 49910000L).toLong
      val amt = amountOf(cents)
      val polluted = k % 5 == 0
      val bare = k % 11 == 0
      def ev(amount: String, status: String, op: String, ts: Long) =
        Event(0L, k, user, amount, status, op, ts, created, polluted, bare)
      val status0 = Statuses(r.nextInt(3))
      emit(t0, ev(amt, status0, "c", t0))
      val updated = k % 3 == 0
      if (updated) emit(t0 + HourMs, ev("1" + amt, "updated", "u", t0 + HourMs))
      val deleted = k % 17 == 0
      if (deleted) {
        val (a, s) = if (updated) ("1" + amt, "updated") else (amt, status0)
        emit(t0 + 2 * HourMs, ev(a, s, "d", t0 + 2 * HourMs))
      }
      if (!deleted && r.nextDouble() < shape.hotShare) {
        (1 to 2 + r.nextInt(4)).foreach { _ =>
          val ts = t0 + (3 + r.nextInt(70)) * HourMs
          emit(ts, ev(amountOf(90000L + (r.nextDouble() * 49910000L).toLong),
            HotStatuses(r.nextInt(3)), "u", ts))
        }
      }
      if (r.nextDouble() < shape.lateShare) {
        // stamped half an hour after the insert, delivered 6-48 h later
        val ts = t0 + HourMs / 2
        emit(ts + (6 + r.nextInt(43)) * HourMs,
          ev(amountOf(90000L + (r.nextDouble() * 49910000L).toLong),
            "late", "u", ts))
      }
    }
    out.sortBy(t => (t._1, t._2)).iterator.zipWithIndex.map {
      case ((_, _, e), i) => e.copy(offset = firstOffset + i)
    }.toIndexedSeq
  }

  /** Consecutive offset ranges of `mean` events on average. Sizes come in
    * threes, `mean·(1+j)`, `mean·(1−j)` and `mean`, with the jitter `j`
    * drawn from the seed within ±30 %: any three consecutive batches from
    * the start hold `3·mean` events. */
  def batches(events: IndexedSeq[Event], mean: Int,
              seed: Long): IndexedSeq[IndexedSeq[Event]] = {
    val r = new java.util.Random(seed * 31L + 7)
    val sizes = Iterator.continually {
      val j = 0.3 * (2 * r.nextDouble() - 1)
      Seq(mean * (1 + j), mean * (1 - j), mean.toDouble).map(n => math.max(1, n.round.toInt))
    }.flatten
    val out = mutable.ArrayBuffer[IndexedSeq[Event]]()
    var i = 0
    while (i < events.size) {
      val n = sizes.next()
      out += events.slice(i, i + n)
      i += n
    }
    out.toIndexedSeq
  }

  private def image(e: Event): String = {
    val a = if (e.polluted) s" ${e.amount} " else e.amount
    s"""{"order_id":${e.orderId},"user_id":${e.userId},"amount_eur":"$a",""" +
      s""""status":"${e.status}","created_at":"${e.createdAt}"}"""
  }

  /** The bronze `v` column: Debezium envelope JSON. */
  def envelope(e: Event): String = {
    val (before, after) =
      if (e.op == "d") (image(e), "null")
      else if (e.op == "c") ("null", image(e))
      else (image(e), image(e))
    val env = s"""{"before":$before,"after":$after,"op":"${e.op}",""" +
      s""""ts_ms":${e.tsMs}}"""
    if (e.bare) env else s"""{"payload":$env}"""
  }
}

/** The silver row the reference's MERGE leaves for a key. */
final case class SilverRow(userId: Int, amount: Double, status: String,
                           lastChangeSec: Long)

/** Independent in-memory model of `merge_orders_silver.py`: per batch,
  * last-writer-wins on `(ts_ms, offset)`, a `d` winner deletes, any other
  * winner upserts. As in the reference there is no timestamp guard
  * across batches, so a late event applied in a later batch overwrites
  * a newer row. */
final class MergeModel {
  val rows = mutable.HashMap[Int, SilverRow]()
  var lastOffset = 0L

  def apply(batch: Seq[Event]): Unit = {
    val winners = batch.groupBy(_.orderId).values
      .map(_.maxBy(e => (e.tsMs, e.offset)))
    winners.foreach { w =>
      if (w.op == "d") rows.remove(w.orderId)
      else rows.put(w.orderId,
        SilverRow(w.userId, w.amount.toDouble, w.status, w.tsMs / 1000))
    }
    if (batch.nonEmpty) lastOffset = math.max(lastOffset, batch.map(_.offset).max)
  }

  /** Rows after LWW in one batch (what `Silver.staged` must return). */
  def stagedCount(batch: Seq[Event]): Int = batch.map(_.orderId).distinct.size
}
