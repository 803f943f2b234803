package org.apache.spark.sql.graft

import java.nio.file.{Files, Path}
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** Driver-side single-file parquet writes for TINY frames.
  *
  * The r19/r20 microbenches price a distributed tiny-table write at
  * ~260-310 ms regardless of committer tuning — FileFormatWriter job
  * setup, Hadoop conf serialization, the commit protocol's temp-dir
  * renames and the output listing all charge per WRITE JOB, not per
  * byte. A maintenance-heavy lifecycle (rollup/MV refresh sidecars,
  * index stats tables, CDC checkpoints) pays that fixed cost dozens
  * of times per operation over frames of 1-10⁴ rows. This bridge
  * writes such a frame as ONE parquet file straight from the driver
  * through Spark's own `ParquetFileFormat.prepareWrite` — the exact
  * writer the executor task would run, so the emitted file carries
  * the identical footer schema metadata, compression codec, and
  * rebase headers a `df.write.parquet` part-file would — minus the
  * per-job machinery.
  *
  * SCALE GUARDS (this must never collapse a real table write to the
  * driver): [[tryWrite]] first consults the optimizer's size
  * estimate and bails to the caller's distributed write above
  * `GateBytes`; under it, the rows are fetched through
  * [[DriverFetch.rows]], which checks the rows themselves against the
  * shared driver bound (65,536 rows, 64 MB) and cancels its one job
  * once they pass it. An estimate that lies low therefore costs at
  * most the bound in driver memory, never the frame. Every byte is
  * still computed from the inputs on every call — this changes WHERE
  * the parquet encoder runs, never what is written.
  */
object LocalParquet {

  private val GateBytes = 16L * 1024 * 1024

  /** Write `df` as one driver-written parquet part file under `dir`
    * when it is provably tiny; return false (writing nothing) when
    * the size estimate or the fetch's bound says otherwise — the
    * caller then runs its normal distributed write.
    *
    * The fetch is ONE job, not an `executeTake` ramp: take's
    * incremental partition scan (1 → 4 → 16 …) re-runs the frame's
    * derivation once per round — measured costlier than the write job
    * it was meant to replace on multi-source MOR frames. The plan-size
    * gate keeps a large input from even starting the fetch (scans
    * estimate as file bytes, aggregates proportional to their child,
    * so a 100-TB input never reaches it); the fetch's bound is the
    * backstop for a badly lying estimate, at the price of re-running
    * the frame distributed. */
  def tryWrite(df: DataFrame, dir: Path): Boolean = {
    if (df.queryExecution.optimizedPlan.stats.sizeInBytes > GateBytes)
      return false
    DriverFetch.rows(df) match {
      case Some(rows) => write(df, rows, dir); true
      case None => false
    }
  }

  /** Writes `rows` as the only part file of `dir`: whatever `dir`
    * held is removed first, as the distributed write's Overwrite
    * does. */
  private def write(df: DataFrame, rows: Array[InternalRow],
                    dir: Path): Unit = {
    val spark = df.sparkSession
    val schema = df.schema
    graft.pipeline.FsCommit.deleteRecursively(dir)
    Files.createDirectories(dir)
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    val factory = new ParquetFileFormat()
      .prepareWrite(spark, job, Map.empty[String, String], schema)
    val ctx = new TaskAttemptContextImpl(job.getConfiguration,
      new TaskAttemptID(new TaskID(
        new org.apache.hadoop.mapreduce.JobID("graft-tiny", 0),
        TaskType.MAP, 0), 0))
    val name = s"part-00000-${java.util.UUID.randomUUID()}" +
      s".c000${factory.getFileExtension(ctx)}"
    val writer = factory.newInstance(dir.resolve(name).toString,
      schema, ctx)
    try rows.foreach(writer.write)
    finally writer.close()
  }
}
