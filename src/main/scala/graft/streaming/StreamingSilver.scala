package graft.streaming

import graft.cdc.{Dedup, Envelope}
import graft.pipeline.{Silver, Snapshot}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** ST1 — the Structured-Streaming twin of the incremental silver job
  * (SURVEY §2.5): file-source `readStream` over the bronze directory →
  * `foreachBatch` MERGE into the silver snapshot, with Spark-managed
  * `checkpointLocation` replacing the reference's hand-rolled
  * `cdc_checkpoints` table (`/root/reference/jobs/merge_orders_silver.py:49-66`).
  *
  * Semantics match the batch path exactly: each micro-batch is
  * LWW-deduped and merged with `op='d'` tombstoning
  * ([[Silver.mergeBatch]]). Exactly-once-ish: the file source's
  * checkpoint tracks consumed files; the snapshot swap is atomic.
  *
  * Scale: `maxFilesPerTrigger` bounds micro-batch size; each batch is
  * one key-shuffle merge (same plan as batch mode); the only stateful
  * piece is Spark's own file-source log. A windowed-aggregation variant
  * with a watermark is [[windowedCounts]].
  */
object StreamingSilver {

  /** Bronze event-log schema as written by the ingestion job. */
  val bronzeSchema: StructType = StructType(Seq(
    StructField("topic", StringType),
    StructField("partition", IntegerType),
    StructField("offset", LongType),
    StructField("kafka_ts", TimestampType),
    StructField("k", StringType),
    StructField("v", StringType)
  ))

  /** Empty silver snapshot (bootstrap target). */
  def emptySilver(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      StructType(Seq(
        StructField("order_id", IntegerType),
        StructField("user_id", IntegerType),
        StructField("amount_eur", DoubleType),
        StructField("status", StringType),
        StructField("last_change_ts", TimestampType))))

  /** Start the streaming merge: every micro-batch of bronze files is
    * merged into the parquet snapshot at `silverDir`. `AvailableNow`
    * drains what exists and stops — the batch-job-as-stream shape; pass
    * `Trigger.ProcessingTime(...)` for a long-running pipeline. */
  def start(spark: SparkSession, bronzeDir: String, silverDir: String,
            checkpointDir: String,
            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val stream = spark.readStream
      .schema(bronzeSchema)
      .option("maxFilesPerTrigger", 4)
      .parquet(bronzeDir)
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val target =
          if (new java.io.File(silverDir).exists)
            Snapshot.read(spark, silverDir)
          else emptySilver(spark)
        Snapshot.createOrReplace(
          Silver.mergeBatch(target, batch), silverDir)
        ()
      }
      .start()
  }

  /** ST1-MOR (r11) — the streaming merge through MERGE-ON-READ commits
    * (S5-MOR composed into ST1): the first micro-batch bootstraps the
    * snapshot copy-on-write, every later one commits an O(delta)
    * equality-delete + append sidecar via [[Snapshot.morCommit]]
    * instead of rewriting the table. This is the 100-TB CDC shape the
    * reference's workload implies (`merge_orders_silver.py:135-147`
    * runs every poll interval): a micro-batch's write cost tracks the
    * BATCH size, not the table size — base data files are never
    * touched — and the read-merge tax is cleared on the maintenance
    * cadence by `CALL rewrite_position_delete_files` (curve measured
    * in BASELINE.md's r11 soak).
    *
    * Per batch: LWW-stage the batch ([[Silver.staged]]), equality-
    * delete the CURRENT rows of every touched key (one broadcast
    * semi-join — the delete file is O(touched keys)), append the
    * staged non-tombstone rows. Same MERGE semantics as [[start]]
    * (spec-pinned equal), same checkpoint/restart contract.
    *
    * `compactAfterCommits` is the streaming twin of the
    * `write.mor.compact-after-commits` table property: a long-running
    * stream stacks one sidecar per micro-batch, so without a bound
    * the read tax grows for as long as the stream runs — at the
    * threshold the sink compacts back to copy-on-write after the
    * batch's own commit (best-effort, like the DML arm: a maintenance
    * failure never fails the batch). */
  def startMor(spark: SparkSession, bronzeDir: String, silverDir: String,
               checkpointDir: String,
               trigger: Trigger = Trigger.AvailableNow(),
               compactAfterCommits: Option[Int] = None): StreamingQuery = {
    val stream = spark.readStream
      .schema(bronzeSchema)
      .option("maxFilesPerTrigger", 4)
      .parquet(bronzeDir)
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!new java.io.File(silverDir).exists)
          Snapshot.createOrReplace(
            Silver.mergeBatch(emptySilver(spark), batch), silverDir,
            keepVersions = 2)
        else {
          // staged is consumed twice (delete keys + appends): truncate
          // its lineage once instead of re-running the window per frame
          val staged = Silver.staged(batch).localCheckpoint()
          if (!staged.isEmpty) {
            val touched = staged
              .select(Silver.Keys.map(col): _*).distinct()
            val deletes = Snapshot.read(spark, silverDir)
              .join(touched, Silver.Keys, "left_semi")
            val appends = staged.filter(col("op") =!= "d").drop("op")
            Snapshot.morCommit(spark, silverDir,
              deletes = Some(deletes), appends = Some(appends),
              operation = "merge")
            // the maintenance loops' one compaction contract
            // (Snapshot.compactIfStacked): threshold check, spec-aware
            // rewrite, best-effort with a logged failure
            compactAfterCommits.foreach(n =>
              Snapshot.compactIfStacked(spark, silverDir, n,
                keepVersions = 2))
          }
        }
        ()
      }
      .start()
  }

  /** Empty SCD2 dimension snapshot (bootstrap target for [[startScd2]]). */
  def emptyScd2(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      StructType(Seq(
        StructField("order_id", IntegerType),
        StructField("user_id", IntegerType),
        StructField("amount_eur", DoubleType),
        StructField("status", StringType),
        StructField("valid_from_ms", LongType),
        StructField("valid_to_ms", LongType),
        StructField("is_current", BooleanType, nullable = false))))

  /** ST1-SCD2 — the streaming twin of [[graft.cdc.Scd2]]: every bronze
    * micro-batch folds into the dimension-history snapshot through
    * [[graft.cdc.Scd2.merge]] — open versions of touched keys close at
    * the batch's first event, the batch's own versions append. The
    * dimension is never windowed; only the micro-batch is (the
    * batch-vs-table asymmetry that keeps a 100-TB dimension scan-only).
    * Batches must arrive in per-key event-time order — the file
    * source's listing order over append-only bronze, the same contract
    * the batch replay pin proves. Restart/resume rides the same
    * checkpointLocation mechanics as [[start]] — but unlike the LWW
    * merge (which converges under re-application), an SCD2 merge
    * re-applied to an already-merged dimension would DUPLICATE version
    * rows, so foreachBatch's at-least-once replay is deduped by batch
    * id: the id commits atomically WITH the snapshot
    * ([[Snapshot.createOrReplaceWithMeta]]) and a replayed batch that
    * already committed is skipped. The marker is scoped to the
    * CHECKPOINT identity, so a stream restarted on a fresh checkpoint
    * (whose batch ids restart at 0) is never mistaken for a replay —
    * and, as everywhere in Structured Streaming, resetting the
    * checkpoint to reprocess from scratch requires resetting the SINK
    * (here: an empty/removed `dimDir`) too. */
  def startScd2(spark: SparkSession, bronzeDir: String, dimDir: String,
                checkpointDir: String,
                trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val stream = spark.readStream
      .schema(bronzeSchema)
      .option("maxFilesPerTrigger", 4)
      .parquet(bronzeDir)
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // the marker is keyed by the CHECKPOINT identity (the thing a
        // batch-id sequence is relative to): a stream restarted on a
        // FRESH checkpoint restarts its ids at 0 and must not be
        // mistaken for a replay of the old stream's batches 0..N —
        // Delta keys idempotent writes by (appId, version) for the
        // same reason
        val streamId = StreamingIndex.streamId(checkpointDir)
        val applied = Snapshot.commitMeta(dimDir, "_scd2_batch")
          .map(_.trim.split(":", 2))
          .collect { case Array(sid, b) if sid == streamId =>
            b.toLongOption }.flatten
        if (applied.exists(_ >= batchId)) () // crash-replayed batch
        else {
          val target =
            if (new java.io.File(dimDir).exists)
              Snapshot.read(spark, dimDir)
            else emptyScd2(spark)
          // merge consumes the batch twice (first-event frame + build):
          // materialize the parsed rows once instead of re-scanning
          // and re-parsing the micro-batch per subtree
          val changes = Silver.changes(batch).localCheckpoint()
          val next = graft.cdc.Scd2.merge(target, changes,
            Silver.Keys, "ts_ms", Seq("offset"),
            Seq("order_id", "user_id", "amount_eur", "status"))
          Snapshot.createOrReplaceWithMeta(next, dimDir,
            keepVersions = 2, "_scd2_batch", s"$streamId:$batchId")
        }
        ()
      }
      .start()
  }

  /** Watermarked tumbling-window counts over a CDC event stream — the
    * windowed-agg streaming shape (late events beyond the watermark are
    * dropped by Spark's state store, not by hand-rolled logic). */
  def windowedCounts(bronzeStream: DataFrame,
                     watermark: String = "1 hour",
                     window_ : String = "1 hour"): DataFrame = {
    val parsed = Envelope.parse(bronzeStream)
      .withColumn("event_ts", Envelope.lastChangeTs(col("ts_ms")))
    parsed
      .withWatermark("event_ts", watermark)
      .groupBy(window(col("event_ts"), window_), col("op"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("window_start"), col("op"),
        col("n_events"))
  }
}
