package graft.cdc

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** MERGE INTO emulation — the one reference operator Spark (without a
  * lakehouse format) lacks natively.
  *
  * SQL shape being emulated (`/root/reference/jobs/merge_orders_silver.py:135-147`):
  * {{{
  *   MERGE INTO silver.orders_current t USING staging_orders s
  *   ON t.order_id = s.order_id
  *   WHEN MATCHED AND s.op = 'd' THEN DELETE
  *   WHEN MATCHED THEN UPDATE SET *
  *   WHEN NOT MATCHED AND s.op <> 'd' THEN INSERT *
  * }}}
  *
  * Emulation: full-outer join target × staging on the key, per-row
  * resolution, producing the new snapshot. Iceberg throws when more than
  * one staging row matches a target key; `mergeCdc(checkCardinality =
  * true)` enforces the same contract via a `count().over(key)` +
  * `raise_error` guard evaluated inside the plan (one extra window pass
  * over staging, same shuffle key as the join — no extra exchange).
  * Callers that pre-apply [[Dedup.latestByKey]] (the pipeline does) can
  * leave it off.
  *
  * Reference quirk preserved (SURVEY §2.5): the MERGE has NO timestamp
  * guard, so across batches a late event older than the applied row DOES
  * overwrite it. Within a batch, LWW dedup prevents that.
  *
  * Scale: a single shuffle join on the key. With a bucketed/partitioned
  * silver table both sides arrive co-partitioned and the join is
  * shuffle-free; AQE handles skew. The snapshot rewrite is
  * write-new-dir-then-swap (see [[graft.pipeline.Snapshot]]) — the same
  * copy-on-write shape Iceberg plans for this MERGE.
  */
object Merge {

  /** Apply one staging micro-batch to a target snapshot.
    *
    * @param target   current silver snapshot (value columns only)
    * @param staging  deduped micro-batch: same value columns + `op`
    * @param keys     equi-join key column(s)
    * @param checkCardinality raise (like Iceberg) if staging holds more
    *                 than one row for a key; off when the caller has
    *                 already LWW-deduped
    * @return the next snapshot (same schema as `target`)
    */
  def mergeCdc(target: DataFrame, staging: DataFrame,
               keys: Seq[String],
               checkCardinality: Boolean = false): DataFrame = {
    val valueCols = target.columns.toSeq
    require(staging.columns.contains("op"),
      "staging must carry the CDC `op` column")

    val guarded =
      if (!checkCardinality) staging
      else {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(keys.map(col): _*)
        staging.withColumn("_k_cnt", count(lit(1)).over(w))
          .withColumn("_guard", when(col("_k_cnt") > 1, raise_error(concat(
            lit("MERGE cardinality violation: multiple staging rows for key ("),
            concat_ws(",", keys.map(col): _*), lit(")"))))
            .otherwise(lit(null)))
          .filter(col("_guard").isNull)
          .drop("_k_cnt", "_guard")
      }

    val t = target.select(valueCols.map(c => col(c).as(s"t_$c")): _*)
    val s = guarded.select(
      (valueCols :+ "op").map(c => col(c).as(s"s_$c")): _*)

    val cond = keys.map(k => col(s"t_$k") <=> col(s"s_$k")).reduce(_ && _)
    val joined = t.join(s, cond, "full_outer")

    val matchedOrInserted = col("s_op").isNotNull && col("s_op") =!= "d"
    val targetOnly = col("s_op").isNull

    joined
      // MATCHED AND op='d' → DELETE; NOT MATCHED AND op='d' → no-op
      .filter(matchedOrInserted || targetOnly)
      .select(valueCols.map { c =>
        when(matchedOrInserted, col(s"s_$c")).otherwise(col(s"t_$c")).as(c)
      }: _*)
  }
}
