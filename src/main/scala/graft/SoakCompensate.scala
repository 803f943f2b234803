package graft

import org.apache.spark.sql.functions._

/** Stale-serve compensation soak: at each fact scale, time the
  * dashboard aggregate (a) with the rewrite OFF (the base scan a
  * fresh-only gate pays after every commit — the r17 state), (b)
  * compensated over an UNREFRESHED fixed 5k-row append window (the
  * signed arm), first-serve (plan-time window pricing included) and
  * warm (the per-store plan cache a dashboard actually hits), and
  * (c) compensated over an unrefreshed equality MERGE window (the
  * affected-group arm — the engine-default CDC shape).
  *
  * The 100-TB claim: the base aggregate grows linearly with the fact;
  * the compensated serves stay FLAT at fixed window size (store rows
  * + window delta for the signed arm; + the touched groups' pruned
  * base slice for the eq arm). This soak puts numbers on the r18
  * feature's reason to exist.
  *
  * Usage: `sbt "runMain graft.SoakCompensate [mult,mult,…]"`
  * (default 1,8,32 over sf0.1 orders). Prints one JSON line. */
object SoakCompensate {
  def main(args: Array[String]): Unit = {
    val mults = args.headOption
      .map(_.split(",").map(_.trim.toInt).toSeq)
      .getOrElse(Seq(1, 8, 32))
    val sfDir =
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Bench.mkSession()
    val S = graft.pipeline.Snapshot

    val baseFact = Tables.orders(spark, sfDir)
      .select("o_orderkey", "o_custkey", "o_orderpriority",
        "o_totalprice")

    val out = mults.map { mult =>
      val scaled =
        if (mult <= 1) baseFact
        else (0 until mult).map(k => baseFact.withColumn("o_orderkey",
          col("o_orderkey") + k * 1000000000L)).reduce(_ unionByName _)
      val root = java.nio.file.Files.createTempDirectory(s"sc$mult")
      val fact = s"$root/orders"
      S.createOrReplace(scaled, fact, keepVersions = 2)
      val rows = S.read(spark, fact).count()
      val ns = s"sc$mult"
      val ts = new graft.catalog.TableStore(spark)
      ts.registerSnapshot(ns, "orders", fact)
      // a FINE-grained store (one group per customer, ~15k) — the
      // realistic dashboard grain; a coarse 5-group store would make
      // any eq wave touch EVERY group and the affected-group arm
      // degenerate to a full recompute by construction
      spark.sql(s"""CALL iceberg.system.create_rollup(
        table => '$ns.orders', name => '$ns.gold',
        group_by => 'o_custkey', sum_cols => 'o_totalprice',
        min_max_cols => 'o_totalprice')""").collect()
      val q = s"""SELECT o_custkey, count(*) AS cnt,
        CAST(sum(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE)
          AS sum_price,
        min(o_totalprice) AS mn, max(o_totalprice) AS mx
        FROM $ns.orders GROUP BY o_custkey"""
      // (a) the rewrite-off base aggregate — what a fresh-only gate
      // pays after every commit
      spark.conf.set("spark.graft.rollup.rewrite.enabled", "false")
      val tBase = try Bench.secs(spark.sql(q).collect())
      finally spark.conf
        .set("spark.graft.rollup.rewrite.enabled", "true")
      // (b) signed-arm compensation over an unrefreshed 5k append
      val appendWave = baseFact.orderBy("o_orderkey").limit(5000)
        .withColumn("o_orderkey", col("o_orderkey") + 900000000000L)
        .localCheckpoint()
      S.morCommit(spark, fact, deletes = None,
        appends = Some(appendWave), operation = "append")
      val tAppFirst = Bench.secs(spark.sql(q).collect())
      val tAppWarm = Bench.secs(spark.sql(q).collect())
      // (c) affected-group compensation over an unrefreshed equality
      // MERGE window (fixed 1k-delete + 1k-append)
      // the eq wave touches ≤500 of the ~15k customer groups — the
      // affected-group recompute's restriction is the point
      val eqWave = S.read(spark, fact).orderBy("o_orderkey")
        .limit(500).localCheckpoint()
      S.morCommit(spark, fact, deletes = Some(eqWave),
        appends = Some(eqWave.withColumn("o_totalprice",
          col("o_totalprice") + 1.0)), operation = "merge")
      val tEqFirst = Bench.secs(spark.sql(q).collect())
      val tEqWarm = Bench.secs(spark.sql(q).collect())
      // CLUSTERED twin for the eq arm: with the fact sort-clustered
      // on the group key (the 100-TB star layout), the recompute's
      // IN-pushed touched-key filter prunes to the FILES holding
      // those keys — the affected-group serve reads O(matching
      // files), not a full fact scan
      val fact2 = s"$root/orders2"
      S.createOrReplace(scaled, fact2, keepVersions = 2)
      S.rewriteSorted(spark, fact2, 64, Seq(col("o_custkey")))
      val ns2 = s"sc${mult}c"
      ts.registerSnapshot(ns2, "orders", fact2)
      spark.sql(s"""CALL iceberg.system.create_rollup(
        table => '$ns2.orders', name => '$ns2.gold',
        group_by => 'o_custkey', sum_cols => 'o_totalprice',
        min_max_cols => 'o_totalprice')""").collect()
      val q2 = q.replace(s"$ns.orders", s"$ns2.orders")
      val eqWave2 = S.read(spark, fact2).orderBy("o_orderkey")
        .limit(500).localCheckpoint()
      S.morCommit(spark, fact2, deletes = Some(eqWave2),
        appends = Some(eqWave2.withColumn("o_totalprice",
          col("o_totalprice") + 1.0)), operation = "merge")
      val tEqClFirst = Bench.secs(spark.sql(q2).collect())
      val tEqClWarm = Bench.secs(spark.sql(q2).collect())
      // (d) DIM-window affected-group compensation (r19): a star
      // store keyed on a DIM attribute (5k seg_id groups); one
      // unrefreshed dim MERGE re-segments 500 customers — the serve
      // reads store ∖ touched ⊎ recompute of the touched groups with
      // the fact pruned to rows hitting the changed dim keys
      // (dimTouchedFact), O(dim delta + matching fact rows), never
      // O(fact). Built on the live fact (post-eq-wave) so the dim
      // window is the ONLY staleness.
      val dimPath = s"$root/dim"
      S.createOrReplace(Tables.customer(spark, sfDir)
          .select(col("c_custkey"),
            pmod(col("c_custkey"), lit(5000L)).as("seg_id")),
        dimPath, keepVersions = 2)
      val ns3 = s"sc${mult}d"
      ts.registerSnapshot(ns3, "orders", fact)
      ts.registerSnapshot(ns3, "dim", dimPath)
      spark.sql(s"""CALL iceberg.system.create_rollup(
        table => '$ns3.orders', name => '$ns3.gold',
        group_by => 'seg_id', sum_cols => 'o_totalprice',
        min_max_cols => 'o_totalprice',
        joins => '$ns3.dim:o_custkey=c_custkey')""").collect()
      val q3 = s"""SELECT seg_id, count(*) AS cnt,
        CAST(sum(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE)
          AS sum_price,
        min(o_totalprice) AS mn, max(o_totalprice) AS mx
        FROM $ns3.orders o JOIN $ns3.dim d
          ON o.o_custkey = d.c_custkey
        GROUP BY seg_id"""
      val seg0 = S.read(spark, dimPath).orderBy("c_custkey")
        .limit(500).localCheckpoint()
      S.morCommit(spark, dimPath, deletes = Some(seg0),
        appends = Some(seg0.withColumn("seg_id",
          pmod(col("seg_id") + 1, lit(5000L)))),
        operation = "merge")
      val tDimFirst = Bench.secs(spark.sql(q3).collect())
      val tDimWarm = Bench.secs(spark.sql(q3).collect())
      // (e) HOT eq window (r19): >4096 touched groups — past the
      // IN-literal budget the bloom pattern (superset prune + exact
      // confirm) keeps the serve on the store instead of falling to
      // base. Refresh first so the hot window is the only staleness.
      spark.sql(
        s"CALL iceberg.system.refresh_rollup(table => '$ns.gold')")
        .collect()
      val hotWave = S.read(spark, fact).dropDuplicates("o_custkey")
        .orderBy("o_custkey").limit(8000).localCheckpoint()
      S.morCommit(spark, fact, deletes = Some(hotWave),
        appends = Some(hotWave.withColumn("o_totalprice",
          col("o_totalprice") + 1.0)), operation = "merge")
      val tHotFirst = Bench.secs(spark.sql(q).collect())
      val tHotWarm = Bench.secs(spark.sql(q).collect())
      ts.dropTable(ns3, "gold"); ts.dropTable(ns3, "orders")
      ts.dropTable(ns3, "dim")
      ts.dropTable(ns2, "gold"); ts.dropTable(ns2, "orders")
      ts.dropTable(ns, "gold"); ts.dropTable(ns, "orders")
      s""""x$mult":{"fact_rows":$rows,"base_agg_sec":$tBase,""" +
        s""""comp_append_first_sec":$tAppFirst,""" +
        s""""comp_append_warm_sec":$tAppWarm,""" +
        s""""comp_eq_first_sec":$tEqFirst,""" +
        s""""comp_eq_warm_sec":$tEqWarm,""" +
        s""""comp_eq_clustered_first_sec":$tEqClFirst,""" +
        s""""comp_eq_clustered_warm_sec":$tEqClWarm,""" +
        s""""comp_dim_first_sec":$tDimFirst,""" +
        s""""comp_dim_warm_sec":$tDimWarm,""" +
        s""""comp_hot_first_sec":$tHotFirst,""" +
        s""""comp_hot_warm_sec":$tHotWarm}"""
    }
    println(s"""{"soak":"stale_serve_compensation",""" +
      out.mkString(",") + "}")
    spark.stop()
  }
}
