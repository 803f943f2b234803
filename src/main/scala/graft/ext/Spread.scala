package graft.ext

import org.apache.spark.sql.DataFrame

/** Conditional input-parallelism widening (guide §2.5) for the
  * CPU-heavy scan-side kernels (shingling, tokenization, codec and
  * encode batches): a small parquet table arrives in 1-3 splits, so
  * the kernel would run on as many cores of the session's 32 — r19/r20
  * profiles repeatedly caught whole queries riding one 1.3-second
  * single-task job.
  *
  * The narrowness probe is the OPTIMIZER'S SIZE ESTIMATE, not
  * `df.rdd.getNumPartitions`: converting an AQE plan with exchanges
  * to an RDD materializes its shuffle stages eagerly (and compiles a
  * deserializer), which an r20 A/B measured at 1.7-4x WHOLE-QUERY
  * regressions on the MOR-backed index builds. A frame estimated
  * under the threshold (1 GiB — such a scan yields fewer
  * splits than a 32-way session's cores) is repartitioned to the
  * session parallelism; anything larger passes through untouched —
  * no shuffle, and never a collapse of a wide production scan to the
  * local core count (the r19 verdict's objection to the
  * unconditional form). */
object Spread {
  private val MaxBytes = BigInt(1L << 30)

  def widen(df: DataFrame): DataFrame =
    if (df.queryExecution.optimizedPlan.stats.sizeInBytes <= MaxBytes)
      df.repartition(df.sparkSession.sparkContext.defaultParallelism)
    else df
}
