package org.apache.spark.sql.graft

import java.io.{ByteArrayOutputStream, DataOutputStream}
import java.nio.ByteBuffer
import org.apache.spark.TaskContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.execution.LocalTableScanExec
import org.apache.spark.unsafe.Platform
import org.apache.spark.util.ThreadUtils
import scala.concurrent.{ExecutionContext, Future, Promise}
import scala.concurrent.duration.Duration

/** The one bounded fetch of a frame's rows to the driver.
  *
  * Callers that hold a driver-sized frame locally (a tiny parquet
  * write, a shard held as a `LocalRelation`) ask for its rows and get
  * `None` when they pass the bound. The fetch is ONE job over the
  * frame's final stage:
  *  - each task packs its partition's rows and stops one row past the
  *    bound, so no partition result is larger than the bound plus a row;
  *  - the driver sums the results as they arrive and, once the rows or
  *    bytes pass the bound, drops what it holds and cancels the job, so
  *    it never holds more than the bound plus one partition's result.
  *
  * A plan whose rows already live on the driver (a local relation) is
  * read without a job, and a frame whose optimizer estimate is known to
  * pass the bound is refused before any job. The bound itself is
  * checked on the rows, so a frame whose estimate lies low cannot run
  * the driver out of memory.
  */
object DriverFetch {

  /** The driver bound every caller shares. */
  val MaxRows = 65536
  val MaxBytes: Long = 64L * 1024 * 1024

  /** `df`'s rows, or None when they pass `maxRows` rows or `maxBytes`
    * bytes. The bound parameters are for tests; callers use the
    * defaults. */
  def rows(df: DataFrame, maxRows: Int = MaxRows,
           maxBytes: Long = MaxBytes): Option[Array[InternalRow]] = {
    // a frame KNOWN to be larger is refused before its job starts; an
    // unknown estimate (an RDD's) is fetched and checked on its rows
    val estimate = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (estimate > maxBytes &&
        estimate < df.sparkSession.sessionState.conf.defaultSizeInBytes)
      return None
    df.queryExecution.executedPlan match {
      case local: LocalTableScanExec =>
        val rs = local.executeCollect()
        val bytes = rs.iterator
          .map(_.asInstanceOf[UnsafeRow].getSizeInBytes.toLong).sum
        if (rs.length > maxRows || bytes > maxBytes) None else Some(rs)
      case plan =>
        val rdd = plan.execute()
        val schema = plan.schema
        val pack = (it: Iterator[InternalRow]) => {
          lazy val toUnsafe = UnsafeProjection.create(schema)
          val out = new ByteArrayOutputStream()
          val data = new DataOutputStream(out)
          val buf = new Array[Byte](4096)
          var n = 0
          var bytes = 0L
          while (n <= maxRows && bytes <= maxBytes && it.hasNext) {
            val r = it.next() match {
              case u: UnsafeRow => u
              case other => toUnsafe(other)
            }
            data.writeInt(r.getSizeInBytes)
            r.writeToStream(data, buf)
            n += 1
            bytes += r.getSizeInBytes
            if ((n & 1023) == 0) TaskContext.get().killTaskIfInterrupted()
          }
          data.flush()
          (n, bytes, out.toByteArray)
        }
        val parts = new Array[Array[Byte]](rdd.getNumPartitions)
        var (rowsSeen, bytesSeen) = (0L, 0L)
        val over = Promise[Unit]()
        // runs on the scheduler's thread, one result at a time
        val onResult = (i: Int, r: (Int, Long, Array[Byte])) => {
          if (!over.isCompleted) {
            rowsSeen += r._1
            bytesSeen += r._2
            if (rowsSeen > maxRows || bytesSeen > maxBytes) {
              parts.indices.foreach(parts(_) = null)
              over.success(())
            } else parts(i) = r._3
          }
        }: Unit
        val job = rdd.sparkContext.submitJob(rdd, pack,
          0 until rdd.getNumPartitions, onResult, ())
        ThreadUtils.awaitReady(Future.firstCompletedOf(
          Seq(job, over.future))(ExecutionContext.parasitic), Duration.Inf)
        if (over.isCompleted) {
          if (!job.isCompleted) job.cancel()
          None
        } else {
          job.value.get.get
          Some(parts.flatMap(unpack(_, schema.length)))
        }
    }
  }

  private def unpack(bytes: Array[Byte], fields: Int): Iterator[InternalRow] = {
    val in = ByteBuffer.wrap(bytes)
    Iterator.continually(in).takeWhile(_.hasRemaining).map { b =>
      val size = b.getInt()
      val row = new UnsafeRow(fields)
      row.pointTo(bytes, Platform.BYTE_ARRAY_OFFSET + b.position(), size)
      b.position(b.position() + size)
      row
    }
  }
}
