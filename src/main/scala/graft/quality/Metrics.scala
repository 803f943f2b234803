package graft.quality

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Data-quality metrics table (X6 — the reference's roadmap item,
  * `/root/reference/README.md:227`): per-table health aggregations
  * emitted as (metric, value) rows a monitoring job appends each run.
  *
  * Every metric is a single-pass aggregation (count/sum of predicates) —
  * one partial-agg shuffle per source table, no joins, no collects.
  * Ratios are int-over-int IEEE divisions → deterministic cross-engine.
  */
object Metrics {

  private def ratio(num: Column, den: Column): Column =
    num.cast(DoubleType) / den.cast(DoubleType)

  /** Document-corpus health for a training pipeline: empty docs, short
    * docs, oversized docs, exact-dup texts, language skew. */
  def documentMetrics(docs: DataFrame): DataFrame = {
    val agg = docs.agg(
      count(lit(1)).as("n_docs"),
      count(when(length(trim(col("text"))) === 0, 1)).as("empty_docs"),
      count(when(col("n_chars") < 100, 1)).as("short_docs"),
      (count(lit(1)) - countDistinct(col("text"))).as("dup_texts"),
      countDistinct(col("lang")).as("n_langs"))
    explodeMetrics(agg, Seq("n_docs", "empty_docs", "short_docs",
      "dup_texts", "n_langs"))
  }

  /** Event-stream health: error rate, null-value rate. */
  def eventMetrics(events: DataFrame): DataFrame = {
    val agg = events.agg(
      count(lit(1)).as("n_events"),
      count(when(col("event_type") === "error", 1)).as("error_events"),
      count(when(col("value").isNull, 1)).as("null_values"))
    explodeMetrics(agg, Seq("n_events", "error_events", "null_values"))
  }

  /** X6b — ANALYZE-twin column statistics (the per-column stats a
    * cost-based optimizer's `ANALYZE TABLE … COMPUTE STATISTICS FOR
    * COLUMNS` collects): null count, approximate NDV, numeric min/max,
    * and average string-form length, one row per column.
    *
    * Scale shape: the table is stacked scan-side to (column, value)
    * pairs — an explode, no shuffle — then ONE partial-agg groupBy for
    * nulls/min/max/len and one KMV pass ([[graft.ext.Sketches
    * .kmvDistinct]] — k longs of state per column at any table size,
    * engine-portable unlike HLL) for the NDV, joined back on the
    * few-row column key. Distinct-hash dedup is (column, hash)-keyed —
    * partial-aggregated, skew-bounded by the hash.
    *
    * min/max are reported for numeric columns only (cast to double);
    * the string form's lexicographic extremes are not CBO min/max and
    * are deliberately omitted. avg_len is over the string form of
    * non-null values (int/int IEEE division, deterministic).
    *
    * @return (column, nulls, ndv_est, min_num, max_num, avg_len) */
  def columnStats(df: DataFrame, columns: Seq[String],
                  k: Int = 256): DataFrame = {
    val fields = df.schema.fields.map(f => f.name -> f.dataType).toMap
    val stacked = df
      .select(explode(array(columns.map { c =>
        val num = fields(c) match {
          case _: NumericType => col(c).cast(DoubleType)
          case _ => lit(null).cast(DoubleType)
        }
        struct(lit(c).as("column"), col(c).cast(StringType).as("val"),
          num.as("num"))
      }: _*)).as("s"))
      .select(col("s.column").as("column"), col("s.val").as("val"),
        col("s.num").as("num"))
    val base = stacked.groupBy("column").agg(
      count(when(col("val").isNull, 1)).as("nulls"),
      min("num").as("min_num"), max("num").as("max_num"),
      (sum(length(col("val"))).cast(DoubleType) /
        count(col("val")).cast(DoubleType)).as("avg_len"))
    val ndv = graft.ext.Sketches.kmvDistinct(
      stacked.filter(col("val").isNotNull), Seq("column"), "val", k)
      .withColumnRenamed("est_distinct", "ndv_est")
    base.join(ndv, Seq("column"), "left")
      .select("column", "nulls", "ndv_est", "min_num", "max_num",
        "avg_len")
  }

  /** ANALYZE's collection pass: [[columnStats]]' counts/extremes PLUS
    * the per-column KMV sketch (the k smallest distinct [[graft.ext
    * .Sketches.hash60]] values of the non-null string form) in one
    * call — the persisted sketch lets a later commit's stats refresh
    * MERGE a delta sketch instead of rescanning, and the NDV derives
    * driver-side from the SAME sketch via [[graft.ext.Sketches
    * .kmvEstimate]] (identical estimator — one pipeline, not two that
    * must agree). Sketch state is ≤ k longs per column at any size;
    * `hashes` is null for a column with zero non-null values.
    *
    * @return (column, nulls, min_num, max_num, avg_len,
    *         hashes array<long> ascending) */
  def columnStatsWithKmv(df: DataFrame, columns: Seq[String],
                         k: Int = 256): DataFrame = {
    val fields = df.schema.fields.map(f => f.name -> f.dataType).toMap
    val stacked = df
      .select(explode(array(columns.map { c =>
        val num = fields(c) match {
          case _: NumericType => col(c).cast(DoubleType)
          case _ => lit(null).cast(DoubleType)
        }
        struct(lit(c).as("column"), col(c).cast(StringType).as("val"),
          num.as("num"))
      }: _*)).as("s"))
      .select(col("s.column").as("column"), col("s.val").as("val"),
        col("s.num").as("num"))
    val base = stacked.groupBy("column").agg(
      count(when(col("val").isNull, 1)).as("nulls"),
      min("num").as("min_num"), max("num").as("max_num"),
      (sum(length(col("val"))).cast(DoubleType) /
        count(col("val")).cast(DoubleType)).as("avg_len"))
    val kmv = graft.ext.Sketches.kmvTopK(
        stacked.filter(col("val").isNotNull), Seq("column"), "val", k)
      .groupBy("column")
      .agg(sort_array(collect_list(col("_h"))).as("hashes"))
    base.join(kmv, Seq("column"), "left")
      .select("column", "nulls", "min_num", "max_num", "avg_len",
        "hashes")
  }

  /** X6c — per-group z-score outliers (the anomaly gate a monitoring
    * job runs over a metric stream): rows whose value sits more than
    * `zThreshold` population standard deviations from their group's
    * mean. Moments come from ONE partial-agg pass over (n, Σq, Σq²)
    * with q = round(v·10⁶) — integer/decimal sums, so the moments are
    * exact and order-free (a naive Σv double sum would drift with
    * accumulation order and break the cross-engine hash); mean and
    * variance then derive in fixed double arithmetic, and the tiny
    * per-group stats broadcast back onto the scan. Groups with zero
    * variance emit nothing (every value is the mean; also dodges
    * sqrt-of-rounding-negative NaN drift).
    *
    * @return df's rows flagged as outliers, + (z) */
  def valueOutliers(df: DataFrame, groupCols: Seq[String],
                    valueCol: String, zThreshold: Double = 3.0): DataFrame = {
    val g = groupCols.map(col)
    val q = round(col(valueCol).cast(DoubleType) * lit(1000000.0))
      .cast(LongType)
    val stats = df.filter(col(valueCol).isNotNull)
      .select(g :+ q.as("_q"): _*)
      .groupBy(g: _*)
      .agg(count(lit(1)).as("_n"), sum(col("_q")).as("_s1"),
        sum(col("_q").cast(DecimalType(19, 0))
          * col("_q").cast(DecimalType(19, 0))).as("_s2"))
      .select(g :+ col("_n") :+
        ((col("_s1").cast(DoubleType) / lit(1000000.0)) / col("_n"))
          .as("_mean") :+
        ((col("_s2").cast(DoubleType) / lit(1000000000000.0))
          / col("_n")).as("_ex2"): _*)
      .withColumn("_var", col("_ex2") - col("_mean") * col("_mean"))
      .filter(col("_var") > 0.0)
    df.filter(col(valueCol).isNotNull)
      .join(broadcast(stats), groupCols)
      .withColumn("z", (col(valueCol).cast(DoubleType) - col("_mean"))
        / sqrt(col("_var")))
      .filter(abs(col("z")) > zThreshold)
      .select(df.columns.toIndexedSeq.map(col) :+ col("z"): _*)
  }

  /** One aggregated row → (metric, value) long-format rows. */
  private def explodeMetrics(agg1row: DataFrame,
                             names: Seq[String]): DataFrame = {
    val pairs = names.map(n =>
      struct(lit(n).as("metric"), col(n).cast(LongType).as("value")))
    agg1row
      .select(explode(array(pairs: _*)).as("m"))
      .select(col("m.metric").as("metric"), col("m.value").as("value"))
  }
}
