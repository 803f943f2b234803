package perfbench

import graft.catalog.TableStore
import graft.cdc.Checkpoints
import graft.pipeline.{Silver, Snapshot}
import graft.privacy.Mask
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference pipeline (`merge_orders_silver.py`) run once per batch
  * through the library's public entry points, plus the privacy view and
  * an optional materialized rollup, with the model it must agree with.
  * Every table lives under `root`. */
final class CdcPipeline(spark: SparkSession, rec: Recorder, root: String,
                        mor: Boolean, withMv: Boolean) {
  import CdcPipeline._

  val bronzeDir = s"$root/bronze"
  val silverDir = s"$root/silver"
  val model = new MergeModel
  private val tr = rec.tracer
  private def store = new TableStore(spark)

  def mvDir: String =
    store.properties("silver", "orders_daily__storage")("graft.rollup.dir")

  def create(compactAfterCommits: Int): Unit = {
    TableStore.reset(spark)
    Snapshot.createOrReplace(
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], SilverSchema),
      silverDir, keepVersions = 1)
    store.registerSnapshot("silver", "orders_current", silverDir)
    if (mor) spark.sql(s"""ALTER TABLE iceberg.silver.orders_current
      SET TBLPROPERTIES ('write.merge.mode'='merge-on-read',
        'write.mor.compact-after-commits'='$compactAfterCommits')""")
    Snapshot.createOrReplace(Checkpoints.empty(spark), s"$root/checkpoints",
      keepVersions = 1)
    store.registerSnapshot("monitoring", "cdc_checkpoints",
      s"$root/checkpoints")
    spark.sql(s"""CREATE VIEW iceberg.silver.orders_current_priv AS
      SELECT order_id,
             to_hex(sha256(to_utf8(cast(user_id as varchar) || '::$Salt')))
               AS user_key,
             amount_eur, status, last_change_ts
      FROM iceberg.silver.orders_current""")
    if (withMv) spark.sql("""CREATE MATERIALIZED VIEW silver.orders_daily AS
      SELECT status, date_trunc('day', last_change_ts) AS day,
             count(*) AS n,
             CAST(sum(CAST(amount_eur AS DECIMAL(27,6))) AS DOUBLE) AS amount
      FROM silver.orders_current
      GROUP BY status, date_trunc('day', last_change_ts)""").collect()
  }

  private def bronzeFrame(b: Seq[Event]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(b.map(e => Row(CdcLog.Topic,
        e.partition, e.offset, new java.sql.Timestamp(e.tsMs / 1000 * 1000),
        s"""{"order_id":${e.orderId}}""", CdcLog.envelope(e)))),
      BronzeSchema)

  /** One run of the reference job over a newly arrived batch; returns the
    * model's step, to run once the timed calls are done. */
  def batch(b: Seq[Event]): () => Boolean = {
    val frame = bronzeFrame(b)
    tr.span("pipeline.append") { Snapshot.append(frame, bronzeDir) }
    val last = tr.span("catalog.checkpoint_read") {
      val r = spark.sql("""SELECT max(last_offset) FROM
        iceberg.monitoring.cdc_checkpoints WHERE pipeline = 'orders'""").head()
      if (r.isNullAt(0)) 0L else r.getLong(0)
    }
    val newMax = tr.span("cdc.stage") {
      val delta = Snapshot.read(spark, bronzeDir).filter(col("offset") > last)
      val m = delta.agg(max("offset")).head()
      store.stage("staging_orders", Silver.staged(delta))
      if (m.isNullAt(0)) last else m.getLong(0)
    }
    tr.span("catalog.merge") { spark.sql(MergeSql) }
    if (withMv) tr.span("catalog.mv_refresh") {
      spark.sql("REFRESH MATERIALIZED VIEW silver.orders_daily").collect()
    }
    tr.span("catalog.checkpoint_advance") {
      spark.sql(s"""MERGE INTO iceberg.monitoring.cdc_checkpoints t
        USING (SELECT 'orders' AS pipeline, $newMax AS last_offset) s
        ON t.pipeline = s.pipeline
        WHEN MATCHED THEN UPDATE SET
          last_offset = s.last_offset, updated_at = current_timestamp
        WHEN NOT MATCHED THEN INSERT (pipeline, last_offset, updated_at)
        VALUES (s.pipeline, s.last_offset, current_timestamp)""")
    }
    () => { model.apply(b); true }
  }

  /** Rows LWW staging makes of `b` alone, counted outside any timed call. */
  def stagedRows(b: Seq[Event]): Long = Silver.staged(bronzeFrame(b)).count()

  def expire(): Unit = tr.span("pipeline.maintenance") {
    spark.sql("""CALL iceberg.system.expire_snapshots(
      table => 'silver.orders_current', retain_last => 2)""").collect()
  }

  // ---- reads -----------------------------------------------------------

  private def sqlRead(q: String): (DataFrame, Array[Row]) = {
    val df = tr.span("catalog.analyze") { spark.sql(q) }
    tr.span("spark.plan") { df.queryExecution.executedPlan }
    (df, tr.span("spark.execute") { df.collect() })
  }

  private def userKey(user: Int): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s"$user::$Salt".getBytes("UTF-8"))
      .map("%02X".format(_)).mkString

  /** Point lookup through the DataFrame path: `Snapshot.read` plus
    * `Mask.pseudonymize`, the privacy layer's library form. */
  def pointLookup(key: Int): () => Boolean = {
    val base = tr.span("pipeline.read_plan") { Snapshot.read(spark, silverDir) }
    val df = tr.span("privacy.mask") {
      Mask.pseudonymize(base.filter(col("order_id") === key), "user_id",
        Salt, "user_key")
    }
    val rows = tr.span("spark.execute") { df.collect() }
    () => rows.map(r => (r.getAs[Int]("order_id"), r.getAs[String]("user_key"),
        r.getAs[Double]("amount_eur"), r.getAs[String]("status"))).toSeq ==
      // Mask emits lowercase hex; the Trino-spelled view emits uppercase
      model.rows.get(key).toSeq.map(s =>
        (key, userKey(s.userId).toLowerCase, s.amount, s.status))
  }

  /** Rows of the privacy view with `lo <= amount_eur < hi`. */
  def rangeScan(lo: Double, hi: Double): () => Boolean = {
    val (_, rows) = sqlRead(s"""SELECT order_id, user_key, amount_eur, status
      FROM silver.orders_current_priv
      WHERE amount_eur >= $lo AND amount_eur < $hi""")
    () => {
      val got = rows.map(r => (r.getInt(0), r.getString(1), r.getDouble(2),
        r.getString(3))).toSet
      got.size == rows.length && got == model.rows.collect {
        case (k, s) if s.amount >= lo && s.amount < hi =>
          (k, userKey(s.userId), s.amount, s.status)
      }.toSet
    }
  }

  def statusCounts(): () => Boolean = {
    val (_, rows) = sqlRead("""SELECT status, count(*) AS n
      FROM silver.orders_current_priv GROUP BY status""")
    () => rows.map(r => r.getString(0) -> r.getLong(1)).toMap ==
      model.rows.values.groupBy(_.status).map { case (s, v) => s -> v.size.toLong }
  }

  /** Privacy-view aggregate: rows and distinct pseudonyms per status. */
  def viewAggregate(): () => Boolean = {
    val (_, rows) = sqlRead("""SELECT status, count(*) AS n,
        count(DISTINCT user_key) AS users
      FROM silver.orders_current_priv GROUP BY status""")
    () => rows.map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap ==
      model.rows.values.groupBy(_.status).map { case (s, v) =>
        s -> (v.size.toLong, v.map(_.userId).toSet.size.toLong)
      }
  }

  /** k-anonymity audit over the view: (status, 50k amount band) groups
    * smaller than k. */
  def kAnonymity(k: Int): () => Boolean = {
    val df = tr.span("catalog.analyze") {
      spark.sql("SELECT status, amount_eur FROM silver.orders_current_priv")
    }
    val audit = tr.span("privacy.mask") {
      Mask.kAnonymity(df.withColumn("band",
        Mask.generalize(col("amount_eur"), 50000.0)), Seq("status", "band"), k)
        .filter(col("violates_k"))
    }
    val rows = tr.span("spark.execute") { audit.collect() }
    () => rows.map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet ==
      model.rows.values.groupBy(s => (s.status, band(s.amount)))
        .collect { case ((s, b), v) if v.size < k => (s, b, v.size.toLong) }.toSet
  }

  private def band(a: Double): String = {
    val lo = math.floor(a / 50000.0)
    s"[${(lo * 50000.0).toLong},${((lo + 1) * 50000.0).toLong})"
  }

  private def exactSum(v: Iterable[SilverRow]): Double =
    v.foldLeft(BigDecimal(0))((s, r) => s + BigDecimal(r.amount)).toDouble

  /** Rollup by status: `RollupRewrite` can answer it from the per-day MV.
    * Also returns the frame so the caller can ask which table served it. */
  def rollupByStatus(): (() => Boolean, DataFrame) = {
    val (df, rows) = sqlRead("""SELECT status, count(*) AS n,
        CAST(sum(CAST(amount_eur AS DECIMAL(27,6))) AS DOUBLE) AS amount
      FROM silver.orders_current GROUP BY status""")
    (() => {
      val want = model.rows.values.groupBy(_.status)
        .map { case (s, v) => s -> (v.size.toLong, exactSum(v)) }
      rows.length == want.size && rows.forall { r =>
        want.get(r.getString(0)).exists { case (n, a) =>
          n == r.getLong(1) && math.abs(a - r.getDouble(2)) <= 1e-9 * math.abs(a) }
      }
    }, df)
  }

  /** Monthly counts for one status: a coarser bucket of the MV's day key. */
  def rollupByMonth(status: String): (() => Boolean, DataFrame) = {
    val (df, rows) = sqlRead(s"""SELECT date_trunc('month', last_change_ts)
        AS month, count(*) AS n
      FROM silver.orders_current WHERE status = '$status'
      GROUP BY date_trunc('month', last_change_ts)""")
    (() => rows.map(r => r.getTimestamp(0).getTime / 1000 -> r.getLong(1)).toMap ==
      model.rows.values.filter(_.status == status).groupBy { s =>
        val d = java.time.LocalDateTime.ofEpochSecond(s.lastChangeSec, 0,
          java.time.ZoneOffset.UTC).toLocalDate.withDayOfMonth(1)
        d.atStartOfDay().toEpochSecond(java.time.ZoneOffset.UTC)
      }.map { case (m, v) => m -> v.size.toLong }, df)
  }

  // ---- end of run ------------------------------------------------------

  /** Live silver rows and the checkpoint equal the model's. */
  def verify(): Boolean = {
    val got = Snapshot.read(spark, silverDir).collect().map { r =>
      r.getAs[Int]("order_id") -> SilverRow(r.getAs[Int]("user_id"),
        r.getAs[Double]("amount_eur"), r.getAs[String]("status"),
        r.getAs[java.sql.Timestamp]("last_change_ts").getTime / 1000)
    }
    val cp = Snapshot.read(spark, s"$root/checkpoints")
      .filter(col("pipeline") === "orders").select("last_offset").collect()
    got.length == model.rows.size && got.toMap == model.rows &&
      cp.map(_.getLong(0)).toSeq == Seq(model.lastOffset)
  }

  def silverFiles(): Long = Files.count(silverDir)
}

object CdcPipeline {
  val Salt = "perfbench-salt"

  val SilverSchema: StructType = StructType(Seq(
    StructField("order_id", IntegerType), StructField("user_id", IntegerType),
    StructField("amount_eur", DoubleType), StructField("status", StringType),
    StructField("last_change_ts", TimestampType)))

  val BronzeSchema: StructType = StructType(Seq(
    StructField("topic", StringType), StructField("partition", IntegerType),
    StructField("offset", LongType), StructField("kafka_ts", TimestampType),
    StructField("k", StringType), StructField("v", StringType)))

  /** `merge_orders_silver.py:135-147`, verbatim. */
  val MergeSql: String = """
    MERGE INTO iceberg.silver.orders_current t
    USING staging_orders s
    ON t.order_id = s.order_id
    WHEN MATCHED AND s.op = 'd' THEN DELETE
    WHEN MATCHED AND s.op <> 'd' THEN UPDATE SET
      user_id = s.user_id,
      amount_eur = s.amount_eur,
      status = s.status,
      last_change_ts = s.last_change_ts
    WHEN NOT MATCHED AND s.op <> 'd' THEN
      INSERT (order_id, user_id, amount_eur, status, last_change_ts)
      VALUES (s.order_id, s.user_id, s.amount_eur, s.status,
              s.last_change_ts)"""
}
