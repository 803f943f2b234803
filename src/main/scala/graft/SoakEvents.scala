package graft

import org.apache.spark.sql.functions._

/** Scale soak for the event-analytics family added in r11's third
  * session — funnel, retention, RANGE-frame sliding window, and
  * linear-interpolation resampling. All four are one-key-shuffle
  * window/aggregation shapes, so the claim under test is ~linear time
  * in event volume (replicas shift users/ids so cardinalities grow
  * with the data, the honest shape).
  *
  * Usage: `sbt "runMain graft.SoakEvents [mult,mult,…]"` (default
  * 1,4,16 over sf0.1 events). One JSON line.
  */
object SoakEvents {
  def main(args: Array[String]): Unit = {
    val mults = args.headOption
      .map(_.split(",").map(_.trim.toInt).toSeq)
      .getOrElse(Seq(1, 4, 16))
    val sfDir =
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Bench.mkSession()

    val base = Tables.events(spark, sfDir)
      .select("event_id", "user_id", "event_type", "ts", "value")

    val out = mults.map { mult =>
      val scaled =
        if (mult <= 1) base
        else (0 until mult).map(k => base
          .withColumn("event_id", col("event_id") + k * 100000000L)
          .withColumn("user_id", col("user_id") + k * 100000L)
          // shift replica time by k minutes so windows interleave
          .withColumn("ts", col("ts") + k * 60000000000L))
          .reduce(_ unionByName _)
      val ev = scaled
        .repartition(spark.sparkContext.defaultParallelism)
        .localCheckpoint()
      val n = ev.count()
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id")
      val tFunnel = Bench.secs {
        ev.select(col("user_id"), col("event_type"),
            expr("ts div 1000").as("ts_us"))
          .withColumn("t1", min(when(col("event_type") === "view",
            col("ts_us"))).over(w))
          .withColumn("t2", min(when(col("event_type") === "click" &&
            col("ts_us") > col("t1"), col("ts_us"))).over(w))
          .withColumn("t3", min(when(col("event_type") === "purchase" &&
            col("ts_us") > col("t2"), col("ts_us"))).over(w))
          .groupBy("user_id")
          .agg(max("t1").as("t1"), max("t2").as("t2"), max("t3").as("t3"))
          .count()
      }
      val tRetention = Bench.secs {
        val e = ev.select(col("user_id"),
          expr("ts div 86400000000000 div 7").as("week"),
          col("event_type"))
        val cohorts = e.filter(col("event_type") === "signup")
          .groupBy("user_id").agg(min("week").as("cohort_week"))
        e.select("user_id", "week").distinct()
          .join(cohorts, "user_id")
          .withColumn("offset_weeks", col("week") - col("cohort_week"))
          .filter(col("offset_weeks") >= 0)
          .groupBy("cohort_week", "offset_weeks")
          .agg(countDistinct("user_id").as("active_users"))
          .count()
      }
      val ws = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy("ts_us")
        .rangeBetween(-3600000000L, 0L)
      val tSliding = Bench.secs {
        // reduce THROUGH the window output — a bare count would let
        // the optimizer prune the unused Window node entirely
        ev.select(col("event_id"), col("event_type"),
            expr("ts div 1000").as("ts_us"), col("value"))
          .withColumn("hour_sum",
            sum(round(col("value") * 100).cast("long")).over(ws))
          .agg(max("hour_sum"))
          .count()
      }
      val tResample = Bench.secs {
        graft.ext.Resample.interpolate(
          ev.select(col("event_type"), expr("ts div 1000").as("ts_us"),
            col("value"), col("event_id")),
          Seq("event_type"), "ts_us", "value", "event_id",
          stepMicros = 21600000000L).count()
      }
      s""""x$mult":{"events":$n,"funnel_sec":$tFunnel,""" +
        s""""retention_sec":$tRetention,"sliding_sec":$tSliding,""" +
        s""""resample_sec":$tResample}"""
    }
    println(s"""{"soak":"events_analytics",${out.mkString(",")}}""")
    spark.stop()
  }
}
