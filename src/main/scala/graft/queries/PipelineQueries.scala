package graft.queries

import graft.Tables
import graft.catalog.TableStore
import graft.cdc.{Checkpoints, Envelope, Scd2, Synth}
import graft.pipeline.Silver
import graft.privacy.Mask
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Oracle-checked queries covering the reference's CDC pipeline surface
  * (SURVEY §2.1–2.5): bronze ingestion shape, envelope parse, both silver
  * materializations, checkpointing, privacy masking.
  *
  * Determinism contract with the DuckDB oracle (SURVEY §7.4):
  *  - timestamps leave as formatted strings (no tz/precision ambiguity)
  *  - every result has a total-order ORDER BY
  *  - no current_timestamp / rand anywhere
  *  - JSON is concat-built on both sides (byte-identical)
  */
object PipelineQueries {
  type Q = (SparkSession, String) => DataFrame

  val Salt = "SALT123"

  private def tsToStr(df: DataFrame, c: String): DataFrame =
    df.withColumn(c, date_format(col(c), "yyyy-MM-dd HH:mm:ss"))

  private val Scd2Keys = Seq("order_id")
  private val Scd2Values = Seq("order_id", "user_id", "amount_eur", "status")

  /** SCD2 output shape shared by the family: epoch-ms interval bounds as
    * second-truncated strings (NULL valid_to stays NULL), total order. */
  private def scd2Out(dim: DataFrame): DataFrame =
    dim.select(col("order_id"), col("user_id"), col("amount_eur"),
      col("status"),
      date_format(Envelope.lastChangeTs(col("valid_from_ms")),
        "yyyy-MM-dd HH:mm:ss").as("valid_from"),
      date_format(Envelope.lastChangeTs(col("valid_to_ms")),
        "yyyy-MM-dd HH:mm:ss").as("valid_to"),
      col("is_current"))
      .orderBy("order_id", "valid_from")

  /** Synthesized bronze, memoized per (session, sfDir) and materialized
    * with `localCheckpoint`: seven pipeline queries share the fixture
    * event log, and re-deriving 200k JSON envelopes per query would
    * bench the GENERATOR, not the engine. In production bronze is a
    * stored table — reading it once per job is the honest model. */
  private val bronzeCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  /** The two-version silver history fixture (v1 = rebuild of the
    * half-offset bronze prefix, v2 = full rebuild) that ten
    * metadata/time-travel queries build IDENTICALLY — built once per
    * (sfDir, keepVersions) per JVM and file-cloned per query
    * ([[Fixtures.cloneLifecycle]]; r19, same disclosure as the r17
    * fixtures): each query keeps its own directory and full lifecycle
    * semantics, it just stops re-running the same two silver rebuilds
    * (2× envelope parse + dedup + write). */
  private def silver2v(s: SparkSession, d: String, dir: String,
                       keep: Int = 2): Unit =
    Fixtures.cloneLifecycle(d, s"silver2v-k$keep", dir) { t =>
      val bronze = bronzeOf(s, d)
      val cut = bronze.agg(max("offset")).collect()(0).getLong(0) / 2
      graft.pipeline.Snapshot.createOrReplace(
        Silver.rebuild(bronze.filter(col("offset") <= cut)), t,
        keepVersions = keep)
      graft.pipeline.Snapshot.createOrReplace(
        Silver.rebuild(bronze), t, keepVersions = keep)
    }

  private def bronzeOf(s: SparkSession, d: String): DataFrame =
    bronzeCache.computeIfAbsent((s, d),
      // repartition on both sides of the synth: the small orders
      // parquet arrives in ~3 splits (capping JSON construction at 3
      // tasks), and the offset window leaves only 4 Kafka partitions
      // (capping every downstream parse); spread the checkpointed
      // event log across the session's full parallelism.
      _ => {
        val p = s.sparkContext.defaultParallelism
        Synth.bronze(Tables.orders(s, d).repartition(p))
          .repartition(p)
          .localCheckpoint()
      })

  val queries: Map[String, Q] = Map(
    "q_cdc_bronze" -> ((s, d) =>
      tsToStr(bronzeOf(s, d), "kafka_ts")
        .orderBy("partition", "offset")),

    "q_cdc_parse" -> ((s, d) =>
      Silver.changes(bronzeOf(s, d))
        .select(col("partition"), col("offset"), col("order_id"),
          col("user_id"), col("amount_eur"), col("status"), col("op"),
          col("ts_ms"))
        .orderBy("partition", "offset")),

    "q_cdc_silver_rebuild" -> ((s, d) =>
      tsToStr(Silver.rebuild(bronzeOf(s, d)),
        "last_change_ts").orderBy("order_id")),

    "q_cdc_silver_merge" -> ((s, d) => {
      val bronze = bronzeOf(s, d)
      tsToStr(Silver.mergeBatch(Silver.rebuild(bronze).limit(0), bronze),
        "last_change_ts").orderBy("order_id")
    }),

    "q_cdc_silver_incremental" -> ((s, d) =>
      tsToStr(Silver.incremental(bronzeOf(s, d), 3),
        "last_change_ts").orderBy("order_id")),

    // S4+ — snapshot history / time travel: silver rebuilt twice into a
    // versioned snapshot dir (first from the half-offset bronze prefix,
    // then from the full log), then version 1 read back AS OF — the
    // Iceberg rollback capability over the snapshot sink. The compared
    // result is the OLD state, so the replace provably didn't destroy
    // it.
    "q_snapshot_time_travel" -> ((s, d) => {
      val dir = java.nio.file.Files.createTempDirectory("snaptt")
        .toString + "/orders_silver"
      silver2v(s, d, dir)
      tsToStr(graft.pipeline.Snapshot.readAsOf(s, dir, 1),
        "last_change_ts").orderBy("order_id")
    }),

    // S4++ — CDC between snapshots: the same two-version build, then
    // Snapshot.diff(v1, v2) — every order whose silver state changed
    // between the half-offset snapshot and the full rebuild, labeled
    // insert/update (this fixture's rebuild keeps last non-delete
    // state, so no deletes arise; the delete arm is SnapshotSpec-pinned).
    "q_snapshot_diff" -> ((s, d) => {
      val dir = java.nio.file.Files.createTempDirectory("snapdiff")
        .toString + "/orders_silver"
      silver2v(s, d, dir)
      graft.pipeline.Snapshot.diff(s, dir, 1, 2, Seq("order_id"))
        .orderBy("order_id")
    }),

    // S4+++++++ — O(delta) CHANGELOG (r13): Snapshot.diffIncremental
    // prices a sidecar-only commit window from the sidecars alone —
    // full-row equality deletes read as-is, appends from their dirs —
    // with diff-identical net-state semantics: inserts, deletes,
    // updates (delete+append), and a no-op identical rewrite that
    // must NOT surface. REQUIRED in-query: the plan scans NO base
    // data file of the snapshot (the O(delta) claim, pinned
    // structurally), and the oracle replays the net classification.
    "q_changelog_window" -> ((s, d) => {
      val orders = Tables.orders(s, d)
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
      val root = java.nio.file.Files.createTempDirectory("clwin")
        .toString
      val src = s"$root/src"
      val S = graft.pipeline.Snapshot
      // NOT the shared fixture: this table is the 3-column projection
      S.createOrReplace(orders.filter(col("o_orderkey") % 10 =!= 7),
        src, keepVersions = 2)
      val from = S.currentVersion(src).get
      S.morCommit(s, src, deletes = None,
        appends = Some(orders.filter(col("o_orderkey") % 10 === 7)),
        operation = "append")
      S.morCommit(s, src,
        deletes = Some(S.read(s, src)
          .filter(col("o_orderkey") % 100 === 1)),
        appends = None, operation = "delete")
      val upd = S.read(s, src).filter(col("o_orderkey") % 100 === 2)
      S.morCommit(s, src, deletes = Some(upd),
        appends = Some(upd.withColumn("o_totalprice",
          col("o_totalprice") + 1.0)), operation = "overwrite")
      val noop = S.read(s, src).filter(col("o_orderkey") % 100 === 3)
      S.morCommit(s, src, deletes = Some(noop),
        appends = Some(noop), operation = "overwrite")
      val out = S.diffIncremental(s, src, from,
        S.currentVersion(src).get, Seq("o_orderkey"))
      val baseFiles = {
        import scala.jdk.CollectionConverters._
        val st = java.nio.file.Files.list(
          java.nio.file.Paths.get(src))
        try st.iterator().asScala.map(_.getFileName.toString)
          .filter(_.endsWith(".parquet")).toSeq
        finally st.close()
      }
      require(baseFiles.nonEmpty)
      val planStr = out.queryExecution.executedPlan.toString
      baseFiles.foreach(f => require(!planStr.contains(f),
        s"the O(delta) changelog must not scan base file $f"))
      out.orderBy("o_orderkey")
    }),

    // S19 — INCREMENTAL ROLLUP MAINTENANCE (r13): the gold-layer
    // aggregate maintained from commit windows instead of recomputed
    // (the reference rebuilds derived tables per run —
    // build_orders_silver.py:95). Lifecycle: build on 90% of orders,
    // fast-append the rest + REFRESH (adds), position-delete a slice
    // + REFRESH (subtracts per-instance), then read. REQUIRED: both
    // refreshes touch groups, a third is a no-op, and the maintained
    // sums — exact DECIMAL accumulation, so maintenance commutes —
    // equal the oracle's full recompute over the final state
    // bit-for-bit.
    "q_rollup_maintain" -> ((s, d) => {
      val orders = Tables.orders(s, d)
      val root = java.nio.file.Files.createTempDirectory("rollupq")
        .toString
      val src = s"$root/src"
      val ru = s"$root/rollup"
      Fixtures.cloneSnapshot(s, d, "orders90", src)
      graft.pipeline.Rollup.build(s, src, ru,
        Seq("o_orderpriority"), Seq("o_totalprice"),
        minMax = Seq("o_totalprice"), ndv = Seq("o_custkey"),
        ndvK = 64)
      graft.pipeline.Snapshot.morCommit(s, src, deletes = None,
        appends = Some(orders.filter(col("o_orderkey") % 10 === 7)),
        operation = "append")
      require(graft.pipeline.Rollup.refresh(s, src, ru) > 0L,
        "the append window must touch groups")
      graft.pipeline.Snapshot.morCommit(s, src, deletes = None,
        appends = None, operation = "delete",
        posDeletes = Some(graft.pipeline.Snapshot.readLineage(s, src)
          .filter(col("o_orderkey") % 100 === 1)))
      require(graft.pipeline.Rollup.refresh(s, src, ru) > 0L,
        "the delete window must touch groups")
      require(graft.pipeline.Rollup.refresh(s, src, ru) == 0L,
        "a third refresh must be a no-op")
      graft.pipeline.Rollup.read(s, src, ru)
        .orderBy("o_orderpriority")
    }),

    // S19-EQ (r15) — ROLLUP MAINTENANCE UNDER THE ENGINE'S DEFAULT
    // DELETE MODE: keyed SQL DELETEs on a merge-on-read table with
    // identifier fields write IDENTIFIER-SCOPED EQUALITY sidecars
    // (the reference CDC workload's exact shape —
    // merge_orders_silver.py:139 op='d'), a window the signed-delta
    // path cannot price per-instance. Through r14 such windows made
    // Rollup.refresh raise and REFRESH MATERIALIZED VIEW silently
    // full-recompute; the affected-group re-derive prices them:
    // touched groups recompute from the source AS OF the window end,
    // O(affected groups' rows). REQUIRED in-query: the DML really
    // took the equality-sidecar path, refresh PRICES the window
    // (returns touched groups, does not raise), the store advanced
    // by an incremental MOR commit (not a rebuild rebase), and a
    // replay refresh is a no-op. The maintained result must equal
    // the oracle's full recompute bit-for-bit — decimal sums,
    // min/max, and the KMV NDV sketch included.
    "q_rollup_maintain_eq" -> ((s, d) => {
      val root = java.nio.file.Files.createTempDirectory("rollupeq")
        .toString
      val src = s"$root/orders_eq"
      val ru = s"$root/rollup"
      val S = graft.pipeline.Snapshot
      val R = graft.pipeline.Rollup
      Fixtures.cloneSnapshot(s, d, "orders", src)
      new TableStore(s).registerSnapshot("roeq", "orders", src)
      s.sql("""ALTER TABLE roeq.orders SET TBLPROPERTIES(
        'write.delete.mode'='merge-on-read')""")
      s.sql("ALTER TABLE roeq.orders SET IDENTIFIER FIELDS o_orderkey")
      R.build(s, src, ru, Seq("o_orderpriority"), Seq("o_totalprice"),
        minMax = Seq("o_totalprice"), ndv = Seq("o_custkey"),
        ndvK = 64)
      val v0 = S.currentVersion(src).get
      s.sql("DELETE FROM roeq.orders WHERE o_orderkey % 10 = 3")
      s.sql("DELETE FROM roeq.orders WHERE o_orderkey % 10 = 4")
      require(S.windowHasEqualityDeletes(src, v0,
        S.currentVersion(src).get),
        "the DEFAULT delete mode must write equality sidecars")
      require(R.refresh(s, src, ru) > 0L,
        "the equality window must be PRICED (re-derive), not raise")
      val ruTable = R.tableDir(ru)
      require(S.operationOf(ruTable, S.currentVersion(ruTable).get)
        .exists(_.startsWith("rollup-to-v")),
        "the store must advance by an incremental MOR commit, " +
          "not a rebuild")
      require(R.refresh(s, src, ru) == 0L,
        "a replay refresh must be a no-op")
      R.read(s, src, ru).orderBy("o_orderpriority")
    }),

    // S19-EQ+DIM (r16) — the COMBINED window: equality deletes on the
    // FACT and a moved DIMENSION in ONE refresh window. Through r15
    // this raised UnpriceableWindowException and REFRESH paid the
    // full recompute; it now TELESCOPES fact-first — phase 1
    // re-derives the fact window's touched groups against dims as of
    // their window STARTS, phase 2 applies the ordinary signed dim
    // terms over the now-static fact. REQUIRED in-query: the DML
    // really wrote equality sidecars, the dim really moved, refresh
    // PRICES the window (no raise), the store advanced by
    // incremental MOR commits (never a rebuild rebase), and a replay
    // refresh is a no-op. The result must equal the oracle's star
    // recompute of the final state bit-for-bit.
    "q_rollup_maintain_eqdim" -> ((s, d) => {
      val root = java.nio.file.Files.createTempDirectory("rollupeqd")
        .toString
      val (fact, dim, ru) = (s"$root/orders", s"$root/customer",
        s"$root/rollup")
      val S = graft.pipeline.Snapshot
      val R = graft.pipeline.Rollup
      Fixtures.cloneSnapshot(s, d, "orders", fact)
      Fixtures.cloneSnapshot(s, d, "customer", dim)
      new TableStore(s).registerSnapshot("roeqd", "orders", fact)
      s.sql("""ALTER TABLE roeqd.orders SET TBLPROPERTIES(
        'write.delete.mode'='merge-on-read')""")
      s.sql("ALTER TABLE roeqd.orders SET IDENTIFIER FIELDS o_orderkey")
      R.build(s, fact, ru, Seq("c_mktsegment"), Seq("o_totalprice"),
        minMax = Seq("o_totalprice"),
        dims = Seq(R.DimSpec(dim, Seq(("o_custkey", "c_custkey")))))
      val v0 = S.currentVersion(fact).get
      val d0 = S.currentVersion(dim).get
      // ONE window, both sides: a keyed equality DELETE on the fact
      // (the engine's default CDC delete shape) and a position
      // delete on the dim (its joined fact rows drop out)
      s.sql("DELETE FROM roeqd.orders WHERE o_orderkey % 10 = 3")
      S.morCommit(s, dim, deletes = None, appends = None,
        operation = "delete",
        posDeletes = Some(S.readLineage(s, dim)
          .filter(col("c_custkey") % 50 === 7)))
      require(S.windowHasEqualityDeletes(fact, v0,
        S.currentVersion(fact).get),
        "the fact DML must write equality sidecars")
      require(S.currentVersion(dim).get > d0, "the dim must move")
      require(R.refresh(s, fact, ru) > 0L,
        "the COMBINED window must be PRICED (telescoped), not raise")
      val ruTable = R.tableDir(ru)
      require(S.operationOf(ruTable, S.currentVersion(ruTable).get)
        .exists(_.startsWith("rollup-to-v")),
        "the store must advance by incremental MOR commits, " +
          "not a rebuild")
      require(R.refresh(s, fact, ru) == 0L,
        "a replay refresh must be a no-op")
      new TableStore(s).dropTable("roeqd", "orders")
      R.read(s, fact, ru)
        .select(col("c_mktsegment"), col("cnt"),
          col("sum_o_totalprice"), col("min_o_totalprice"),
          col("max_o_totalprice"))
        .orderBy("c_mktsegment")
    }),

    // S19-DIMEQ (r17) — DIM-side equality windows: a DIMENSION
    // maintained by keyed CDC DELETE/MERGE under the engine's DEFAULT
    // delete mode (`write.mor.deletes = equality`) writes equality
    // sidecars its window — through r16 Rollup.refresh raised on such
    // windows and REFRESH MATERIALIZED VIEW paid a FULL REBUILD every
    // refresh interval, the most common star-schema CDC pattern. The
    // dim-side affected-group re-derive prices it: only groups whose
    // fact rows join a CHANGED dim row (under the old dim state or
    // the new) recompute, O(dim delta + fact rows hitting changed
    // keys + affected groups' rows). REQUIRED in-query: the dim DML
    // really wrote an equality sidecar, refresh PRICES the window
    // (no raise), the store advanced by an incremental MOR commit
    // (never a rebuild rebase), and a replay refresh is a no-op. The
    // window carries BOTH CDC shapes — a keyed DELETE and an upsert
    // that RE-SEGMENTS customers (their fact rows move groups). The
    // result must equal the oracle's star recompute bit-for-bit.
    "q_rollup_maintain_dimeq" -> ((s, d) => {
      val root = java.nio.file.Files.createTempDirectory("rollupdeq")
        .toString
      val (fact, dim, ru) = (s"$root/orders", s"$root/customer",
        s"$root/rollup")
      val S = graft.pipeline.Snapshot
      val R = graft.pipeline.Rollup
      Fixtures.cloneSnapshot(s, d, "orders", fact)
      Fixtures.cloneSnapshot(s, d, "customer", dim)
      new TableStore(s).registerSnapshot("rodm", "customer", dim)
      s.sql("""ALTER TABLE rodm.customer SET TBLPROPERTIES(
        'write.delete.mode'='merge-on-read')""")
      s.sql("ALTER TABLE rodm.customer SET IDENTIFIER FIELDS c_custkey")
      R.build(s, fact, ru, Seq("c_mktsegment"), Seq("o_totalprice"),
        minMax = Seq("o_totalprice"),
        dims = Seq(R.DimSpec(dim, Seq(("o_custkey", "c_custkey")))))
      val d0 = S.currentVersion(dim).get
      // ONE window, both CDC shapes on the DIM: a keyed equality
      // DELETE (identifier-scoped sidecar) and a MERGE-style upsert
      // (full-row delete + re-append) that re-segments customers
      s.sql("DELETE FROM rodm.customer WHERE c_custkey % 9 = 2")
      val moved = S.read(s, dim)
        .filter(col("c_custkey") % 9 === 4).localCheckpoint()
      S.morCommit(s, dim, deletes = Some(moved),
        appends = Some(moved.withColumn("c_mktsegment",
          lit("RESEGMENTED"))),
        operation = "overwrite")
      require(S.windowHasEqualityDeletes(dim, d0,
        S.currentVersion(dim).get),
        "the keyed dim DML must write equality sidecars")
      require(R.refresh(s, fact, ru) > 0L,
        "the dim equality window must be PRICED (dim re-derive), " +
          "not raise")
      val ruTable = R.tableDir(ru)
      require(S.operationOf(ruTable, S.currentVersion(ruTable).get)
        .exists(_.startsWith("rollup-to-v")),
        "the store must advance by an incremental MOR commit, " +
          "not a rebuild")
      require(R.refresh(s, fact, ru) == 0L,
        "a replay refresh must be a no-op")
      new TableStore(s).dropTable("rodm", "customer")
      R.read(s, fact, ru)
        .select(col("c_mktsegment"), col("cnt"),
          col("sum_o_totalprice"), col("min_o_totalprice"),
          col("max_o_totalprice"))
        .orderBy("c_mktsegment")
    }),

    // S20 — AUTOMATIC MATERIALIZED-VIEW REWRITE (r13): the optimizer
    // rule (RollupRewrite, injected via SparkSessionExtensions) that
    // makes the maintained rollup transparent — a derivable GROUP BY
    // over the BASE table re-targets the (tiny) gold table, with zero
    // query changes, and only while the rollup is FRESH. Lifecycle:
    // register base, CALL create_rollup, fast-append + refresh (the
    // rewrite must serve a MAINTAINED table, not a one-shot build),
    // then run a plain SQL aggregate over the base. REQUIRED inside
    // the query: the optimized plan reads the gold table and never
    // touches the base scan — at 100 TB that is the difference
    // between a dashboard query scanning the table and reading a few
    // thousand pre-aggregated rows.
    "q_rollup_rewrite" -> ((s, d) => {
      val orders = Tables.orders(s, d)
      val root = java.nio.file.Files.createTempDirectory("rurwq")
        .toString
      val src = s"$root/orders"
      val S = graft.pipeline.Snapshot
      Fixtures.cloneSnapshot(s, d, "orders90", src)
      val ts = new TableStore(s)
      ts.registerSnapshot("mvq", "orders", src)
      s.sql("""CALL iceberg.system.create_rollup(
        table => 'mvq.orders', name => 'mvq.gold',
        group_by => 'o_orderpriority', sum_cols => 'o_totalprice',
        min_max_cols => 'o_totalprice')""").collect()
      S.morCommit(s, src, deletes = None,
        appends = Some(orders.filter(col("o_orderkey") % 10 === 7)),
        operation = "append")
      s.sql("CALL iceberg.system.refresh_rollup(table => 'mvq.gold')")
        .collect()
      // the dashboard shape: a WHERE over a rollup group column rides
      // the rewrite (it commutes with the partial aggregation)
      val q = s.sql("""SELECT o_orderpriority, count(*) AS cnt,
        CAST(sum(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE)
          AS sum_price,
        min(o_totalprice) AS min_price, max(o_totalprice) AS max_price
        FROM mvq.orders WHERE o_orderpriority <> '3-MEDIUM'
        GROUP BY o_orderpriority""")
      val ruDir = ts.properties("mvq", "gold")("graft.rollup.dir")
      val leaves = q.queryExecution.optimizedPlan.collectLeaves()
      def reads(dir: String): Boolean = leaves.exists {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          l.relation match {
            case f: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              f.location.rootPaths.map(_.toUri.getPath)
                .exists(p => p == dir || p.startsWith(s"$dir/"))
            case _ => false
          }
        case _ => false
      }
      require(reads(ruDir),
        "the derivable aggregate must be rewritten to the gold rollup")
      require(!reads(src),
        "the rewritten plan must not scan the base table")
      // unregister so later queries in the shared session never pay
      // the (cheap) target probe
      ts.dropTable("mvq", "gold"); ts.dropTable("mvq", "orders")
      q.orderBy("o_orderpriority")
    }),

    // S20j (r15) — REBUILD-ONLY MATERIALIZED VIEWS, the Trino-parity
    // class: a defining query the incremental machinery cannot
    // maintain (here sum(DISTINCT) — order/set-dependent with no
    // exact store-side twin; HAVING and count(DISTINCT) graduated to
    // the INCREMENTAL class in r16, see q_mv_having) still
    // materializes —
    // build once with every source snapshot version PINNED, reads
    // serve the store via whole-plan matching while every pin is
    // fresh, a base commit flips it stale and reads fall back to the
    // LIVE base (Trino would stale-serve; this engine never does),
    // and REFRESH fully recomputes (Trino's own REFRESH semantics —
    // there is no exact incremental path for this class). REQUIRED
    // in-query: the MV is marked rebuild-only, the fresh read scans
    // ONLY the store, the stale read scans ONLY the base, and the
    // refreshed read scans the store again.
    "q_mv_rebuild" -> ((s, d) => {
      val orders = Tables.orders(s, d)
      val root = java.nio.file.Files.createTempDirectory("mvrbq")
        .toString
      val src = s"$root/orders"
      val S = graft.pipeline.Snapshot
      Fixtures.cloneSnapshot(s, d, "orders90", src)
      val ts = new TableStore(s)
      ts.registerSnapshot("mvrb", "orders", src)
      s.sql("""CREATE MATERIALIZED VIEW mvrb.heavy AS
        SELECT o_orderpriority,
               CAST(sum(DISTINCT o_custkey) AS BIGINT) AS sdc,
               CAST(sum(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE)
                 AS sum_price
        FROM mvrb.orders GROUP BY o_orderpriority
        HAVING count(*) > 10""").collect()
      val mvDir = ts.properties("mvrb", "heavy__storage")
        .apply("graft.rollup.dir")
      require(ts.properties("mvrb", "heavy__storage")
        .contains("graft.mv.rebuild-only"),
        "sum(DISTINCT) must land as a rebuild-only MV")
      def reads(df: org.apache.spark.sql.DataFrame,
                dir: String): Boolean =
        df.queryExecution.optimizedPlan.collectLeaves().exists {
          case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            l.relation match {
              case f: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                f.location.rootPaths.map(_.toUri.getPath)
                  .exists(p => p == dir || p.startsWith(s"$dir/"))
              case _ => false
            }
          case _ => false
        }
      val fresh = s.sql("SELECT * FROM mvrb.heavy")
      require(reads(fresh, mvDir) && !reads(fresh, src),
        "a FRESH rebuild-only MV must serve from its store")
      S.morCommit(s, src, deletes = None,
        appends = Some(orders.filter(col("o_orderkey") % 10 === 7)),
        operation = "append")
      val stale = s.sql("SELECT * FROM mvrb.heavy")
      require(!reads(stale, mvDir) && reads(stale, src),
        "a STALE rebuild-only MV must fall back to the live base")
      require(s.sql("REFRESH MATERIALIZED VIEW mvrb.heavy")
        .collect()(0).getLong(0) > 0L,
        "REFRESH must fully recompute the store")
      val q = s.sql("SELECT * FROM mvrb.heavy")
      require(reads(q, mvDir) && !reads(q, src),
        "the refreshed MV must serve from its store again")
      ts.dropTable("mvrb", "heavy__storage"); ts.dropView("mvrb", "heavy")
      ts.dropTable("mvrb", "orders")
      q.orderBy("o_orderpriority")
    }),

    // S20l (r16) — HAVING + count(DISTINCT group key) MVs are
    // INCREMENTALLY maintained: the store keeps the un-HAVING'd
    // rollup one grain finer (priority, custkey); the late-bound view
    // keeps the HAVING filter and the rewrite serves
    // Filter-over-Aggregate from gold (count(*) rides cnt, the
    // distinct count is exact on the gold key rows — S20f). REQUIRED
    // in-query: the MV is NOT rebuild-only, the fresh and refreshed
    // reads scan ONLY the store, and REFRESH prices the append window
    // (touched groups ≤ the delta's distinct key combinations — never
    // the full recompute a rebuild-only MV would pay).
    "q_mv_having" -> ((s, d) => {
      val orders = Tables.orders(s, d)
      val root = java.nio.file.Files.createTempDirectory("mvhvq")
        .toString
      val src = s"$root/orders"
      val S = graft.pipeline.Snapshot
      Fixtures.cloneSnapshot(s, d, "orders90", src)
      val ts = new TableStore(s)
      ts.registerSnapshot("mvhv", "orders", src)
      s.sql("""CREATE MATERIALIZED VIEW mvhv.pri AS
        SELECT o_orderpriority, count(DISTINCT o_custkey) AS dc,
               CAST(sum(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE)
                 AS sum_price
        FROM mvhv.orders GROUP BY o_orderpriority
        HAVING count(*) > 10""").collect()
      val props = ts.properties("mvhv", "pri__storage")
      require(!props.contains("graft.mv.rebuild-only"),
        "HAVING + count(DISTINCT col) must land as an INCREMENTAL MV")
      val mvDir = props("graft.rollup.dir")
      require(graft.pipeline.Rollup.meta(mvDir).isDefined,
        "the incremental MV must carry rollup meta (maintained store)")
      def reads(df: org.apache.spark.sql.DataFrame,
                dir: String): Boolean =
        df.queryExecution.optimizedPlan.collectLeaves().exists {
          case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            l.relation match {
              case f: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                f.location.rootPaths.map(_.toUri.getPath)
                  .exists(p => p == dir || p.startsWith(s"$dir/"))
              case _ => false
            }
          case _ => false
        }
      val fresh = s.sql("SELECT * FROM mvhv.pri")
      require(reads(fresh, mvDir) && !reads(fresh, src),
        "a fresh HAVING MV must serve the defining query from gold")
      S.morCommit(s, src, deletes = None,
        appends = Some(orders.filter(col("o_orderkey") % 10 === 7)),
        operation = "append")
      val touched = s.sql("REFRESH MATERIALIZED VIEW mvhv.pri")
        .collect()(0).getLong(0)
      require(touched > 0L, "the append window must touch groups")
      val deltaGroups = orders.filter(col("o_orderkey") % 10 === 7)
        .select("o_orderpriority", "o_custkey").distinct().count()
      require(touched <= deltaGroups,
        s"REFRESH must price the window ($touched touched vs " +
          s"$deltaGroups delta groups), not recompute the store")
      val q = s.sql("SELECT * FROM mvhv.pri")
      require(reads(q, mvDir) && !reads(q, src),
        "the refreshed HAVING MV must serve from gold again")
      ts.dropTable("mvhv", "pri__storage"); ts.dropView("mvhv", "pri")
      ts.dropTable("mvhv", "orders")
      q.orderBy("o_orderpriority")
    }),

    // S20j' (r16) — REBUILD-ONLY MV SUBSUMPTION: the defining plan
    // matches as a SUBTREE, so a query that FILTERS and PROJECTS the
    // MV still serves the store — the residual operators stay above
    // the store read (Filter on a computed column the store
    // materialized, Project to a column subset). REQUIRED in-query:
    // the MV is rebuild-only and the filtered+projected read scans
    // ONLY the store, never the base.
    "q_mv_subsumed" -> ((s, d) => {
      val orders = Tables.orders(s, d)
      val root = java.nio.file.Files.createTempDirectory("mvsbq")
        .toString
      val src = s"$root/orders"
      val S = graft.pipeline.Snapshot
      Fixtures.cloneSnapshot(s, d, "orders", src)
      val ts = new TableStore(s)
      ts.registerSnapshot("mvsb", "orders", src)
      s.sql("""CREATE MATERIALIZED VIEW mvsb.heavy AS
        SELECT o_orderpriority,
               CAST(sum(DISTINCT o_custkey) AS BIGINT) AS sdc,
               CAST(sum(CAST(o_totalprice AS DECIMAL(27,6)))
                 AS DOUBLE) AS sum_price
        FROM mvsb.orders GROUP BY o_orderpriority""").collect()
      val props = ts.properties("mvsb", "heavy__storage")
      require(props.contains("graft.mv.rebuild-only"),
        "sum(DISTINCT) must land as a rebuild-only MV")
      val mvDir = props("graft.rollup.dir")
      def reads(df: org.apache.spark.sql.DataFrame,
                dir: String): Boolean =
        df.queryExecution.optimizedPlan.collectLeaves().exists {
          case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            l.relation match {
              case f: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                f.location.rootPaths.map(_.toUri.getPath)
                  .exists(p => p == dir || p.startsWith(s"$dir/"))
              case _ => false
            }
          case _ => false
        }
      val q = s.sql("""SELECT o_orderpriority, sum_price
        FROM mvsb.heavy WHERE sdc % 2 = 1""")
      require(reads(q, mvDir) && !reads(q, src),
        "a Filter + Project over the defining shape must still " +
          "serve the store (subtree subsumption)")
      ts.dropView("mvsb", "heavy")
      ts.dropTable("mvsb", "heavy__storage")
      ts.dropTable("mvsb", "orders")
      q.orderBy("o_orderpriority")
    }),

    // S20k (r15) — COARSER-BUCKET MV DERIVATION (the Calcite
    // time-hierarchy law): a MONTH dashboard query is served from a
    // DAY-keyed materialized view by re-bucketing the gold day keys —
    // date_trunc('month', date_trunc('day', ts)) = date_trunc('month',
    // ts). REQUIRED in-query: the month query reads ONLY the day
    // store, never the base; and the store stayed exact through an
    // append + REFRESH first.
    "q_mv_rollup_time" -> ((s, d) => {
      val orders = Tables.orders(s, d)
      val root = java.nio.file.Files.createTempDirectory("mvctq")
        .toString
      val src = s"$root/orders"
      val S = graft.pipeline.Snapshot
      Fixtures.cloneSnapshot(s, d, "orders90", src)
      val ts = new TableStore(s)
      ts.registerSnapshot("mvct", "orders", src)
      s.sql("""CREATE MATERIALIZED VIEW mvct.daily AS
        SELECT date_trunc('day', o_orderdate) AS oday,
               count(*) AS cnt,
               CAST(sum(CAST(o_totalprice AS DECIMAL(27,6)))
                 AS DOUBLE) AS sum_price
        FROM mvct.orders
        GROUP BY date_trunc('day', o_orderdate)""").collect()
      S.morCommit(s, src, deletes = None,
        appends = Some(orders.filter(col("o_orderkey") % 10 === 7)),
        operation = "append")
      require(s.sql("REFRESH MATERIALIZED VIEW mvct.daily")
        .collect().head.getLong(0) > 0L,
        "the append window must touch day buckets")
      // the MONTH query — NOT the MV's own grain — must re-bucket
      // the day store
      val q = s.sql("""SELECT date_trunc('month', o_orderdate)
          AS omonth, count(*) AS cnt,
          CAST(sum(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE)
            AS sum_price
        FROM mvct.orders
        GROUP BY date_trunc('month', o_orderdate)""")
      val ruDir = ts.properties("mvct", "daily__storage")(
        "graft.rollup.dir")
      val leaves = q.queryExecution.optimizedPlan.collectLeaves()
      def reads(dir: String): Boolean = leaves.exists {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          l.relation match {
            case f: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              f.location.rootPaths.map(_.toUri.getPath)
                .exists(p => p == dir || p.startsWith(s"$dir/"))
            case _ => false
          }
        case _ => false
      }
      require(reads(ruDir),
        "the month query must be served by the DAY store")
      require(!reads(src),
        "the coarser-bucket rewrite must not scan the base table")
      ts.dropView("mvct", "daily")
      ts.dropTable("mvct", "daily__storage")
      ts.dropTable("mvct", "orders")
      q.orderBy("omonth")
    }),

    // ST9-guard (r15) — the commit-maintained id-membership bloom
    // that replaced the streaming loops' per-batch full-corpus
    // anti-join, driven end-to-end and hash-checked: bootstrap over
    // the corpus, a first batch probed (bloom negatives pass, true
    // duplicates confirmed exactly against the IN-pruned id column)
    // and committed, then a second batch probed through the O(delta)
    // commit-window catch-up. The returned rows are exactly
    // `batch2 WHERE key NOT IN (corpus ∪ batch1-fresh)` — the oracle
    // recomputes that relationally.
    "q_stream_guard" -> ((s, d) => {
      val orders = Tables.orders(s, d)
        .select("o_orderkey", "o_totalprice")
      val root = java.nio.file.Files.createTempDirectory("sguardq")
        .toString
      val corpus = s"$root/corpus"
      val S = graft.pipeline.Snapshot
      S.createOrReplace(orders.filter(col("o_orderkey") % 3 =!= 0),
        corpus, keepVersions = 2)
      val M = graft.ext.IdMembership
      val batch1 = orders.filter(col("o_orderkey") % 5 === 0)
        .localCheckpoint()
      val fresh1 = M.freshOnly(s, corpus, batch1, "o_orderkey")
        .localCheckpoint()
      require(fresh1.count() > 0 && fresh1.count() < batch1.count(),
        "batch 1 must carry both fresh ids and true duplicates")
      S.morCommit(s, corpus, deletes = None, appends = Some(fresh1),
        operation = "append")
      val batch2 = orders.filter(col("o_orderkey") % 7 === 0)
        .localCheckpoint()
      M.freshOnly(s, corpus, batch2, "o_orderkey")
        .orderBy("o_orderkey")
    }),

    // S20f — GROUP-column aggregates from the gold store: the rollup
    // keyed (o_orderpriority, o_orderstatus) serves the dashboard
    // cardinality query — count(DISTINCT status) per priority plus
    // min/max over a key column — because the store carries one row
    // per LIVE key combination. REQUIRED inside the query: the plan
    // reads the gold table and never the base.
    "q_rollup_distinct" -> ((s, d) => {
      val orders = Tables.orders(s, d)
      val root = java.nio.file.Files.createTempDirectory("rudsq")
        .toString
      val src = s"$root/orders"
      val S = graft.pipeline.Snapshot
      Fixtures.cloneSnapshot(s, d, "orders90", src)
      val ts = new TableStore(s)
      ts.registerSnapshot("mvds", "orders", src)
      s.sql("""CALL iceberg.system.create_rollup(
        table => 'mvds.orders', name => 'mvds.gold',
        group_by => 'o_orderpriority,o_orderstatus',
        sum_cols => 'o_totalprice')""").collect()
      S.morCommit(s, src, deletes = None,
        appends = Some(orders.filter(col("o_orderkey") % 10 === 7)),
        operation = "append")
      s.sql("CALL iceberg.system.refresh_rollup(table => 'mvds.gold')")
        .collect()
      val q = s.sql("""SELECT o_orderpriority,
        count(DISTINCT o_orderstatus) AS n_status,
        min(o_orderstatus) AS min_status,
        max(o_orderstatus) AS max_status,
        count(o_orderstatus) AS c_status,
        count(*) AS cnt
        FROM mvds.orders GROUP BY o_orderpriority""")
      val ruDir = ts.properties("mvds", "gold")("graft.rollup.dir")
      val leaves = q.queryExecution.optimizedPlan.collectLeaves()
      def reads(dir: String): Boolean = leaves.exists {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          l.relation match {
            case f: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              f.location.rootPaths.map(_.toUri.getPath)
                .exists(p => p == dir || p.startsWith(s"$dir/"))
            case _ => false
          }
        case _ => false
      }
      require(reads(ruDir),
        "the group-column aggregate must be served from the gold store")
      require(!reads(src),
        "the rewritten plan must not scan the base table")
      ts.dropTable("mvds", "gold"); ts.dropTable("mvds", "orders")
      q.orderBy("o_orderpriority")
    }),

    // S20b — MV rewrite on a NULLABLE measure: count(m) and avg(m)
    // derive from the maintained NON-NULL count cnt_<m>, not the row
    // count (on a measure with nulls the two differ — a cnt-based avg
    // rewrite is silently wrong, which is why the store carries both).
    // REQUIRED inside the query: the plan reads the gold table, never
    // the base, and the refresh arm proves the non-null count
    // maintains under the append window.
    "q_rollup_avg" -> ((s, d) => {
      val orders = Tables.orders(s, d)
        .withColumn("o_custkey",
          when(col("o_orderkey") % 5 === 0,
            lit(null).cast("long"))
            .otherwise(col("o_custkey")))
      val root = java.nio.file.Files.createTempDirectory("ruavgq")
        .toString
      val src = s"$root/orders"
      val S = graft.pipeline.Snapshot
      // NOT the shared fixture: this query NULLS o_custkey first
      S.createOrReplace(orders.filter(col("o_orderkey") % 10 =!= 7),
        src, keepVersions = 2)
      val ts = new TableStore(s)
      ts.registerSnapshot("mvavg", "orders", src)
      s.sql("""CALL iceberg.system.create_rollup(
        table => 'mvavg.orders', name => 'mvavg.gold',
        group_by => 'o_orderpriority', sum_cols => 'o_custkey')""")
        .collect()
      S.morCommit(s, src, deletes = None,
        appends = Some(orders.filter(col("o_orderkey") % 10 === 7)),
        operation = "append")
      s.sql("CALL iceberg.system.refresh_rollup(table => 'mvavg.gold')")
        .collect()
      val q = s.sql("""SELECT o_orderpriority, count(*) AS cnt,
        count(o_custkey) AS cnt_m, avg(o_custkey) AS avg_m
        FROM mvavg.orders GROUP BY o_orderpriority""")
      val ruDir = ts.properties("mvavg", "gold")("graft.rollup.dir")
      val leaves = q.queryExecution.optimizedPlan.collectLeaves()
      def reads(dir: String): Boolean = leaves.exists {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          l.relation match {
            case f: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              f.location.rootPaths.map(_.toUri.getPath)
                .exists(p => p == dir || p.startsWith(s"$dir/"))
            case _ => false
          }
        case _ => false
      }
      require(reads(ruDir),
        "count(m)/avg(m) over the maintained measure must be " +
          "rewritten to the gold rollup")
      require(!reads(src),
        "the rewritten plan must not scan the base table")
      ts.dropTable("mvavg", "gold"); ts.dropTable("mvavg", "orders")
      q.orderBy("o_orderpriority")
    }),

    // S20c — CREATE/REFRESH MATERIALIZED VIEW (SQL DDL over the
    // maintained rollup + rewrite): the MV name binds as a view of the
    // defining query, CREATE builds the gold store and validates
    // END-TO-END derivability, REFRESH applies the commit window at
    // O(delta), and a fresh MV read serves from the store. REQUIRED
    // inside the query: SELECT * FROM the MV reads the gold directory
    // and never the base table.
    "q_mv_sql" -> ((s, d) => {
      val orders = Tables.orders(s, d)
      val root = java.nio.file.Files.createTempDirectory("mvsqlq")
        .toString
      val src = s"$root/orders"
      val S = graft.pipeline.Snapshot
      Fixtures.cloneSnapshot(s, d, "orders90", src)
      val ts = new TableStore(s)
      ts.registerSnapshot("mvddl", "orders", src)
      s.sql("""CREATE MATERIALIZED VIEW mvddl.daily AS
        SELECT o_orderpriority, count(*) AS cnt,
               CAST(sum(CAST(o_totalprice AS DECIMAL(27,6)))
                 AS DOUBLE) AS sum_price,
               min(o_totalprice) AS min_price,
               max(o_totalprice) AS max_price,
               avg(o_custkey) AS avg_cust
        FROM mvddl.orders GROUP BY o_orderpriority""").collect()
      S.morCommit(s, src, deletes = None,
        appends = Some(orders.filter(col("o_orderkey") % 10 === 7)),
        operation = "append")
      require(s.sql("REFRESH MATERIALIZED VIEW mvddl.daily")
        .collect().head.getLong(0) > 0L,
        "the append window must touch groups")
      val q = s.sql("SELECT * FROM mvddl.daily")
      val ruDir = ts.properties("mvddl", "daily__storage")(
        "graft.rollup.dir")
      val leaves = q.queryExecution.optimizedPlan.collectLeaves()
      def reads(dir: String): Boolean = leaves.exists {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          l.relation match {
            case f: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              f.location.rootPaths.map(_.toUri.getPath)
                .exists(p => p == dir || p.startsWith(s"$dir/"))
            case _ => false
          }
        case _ => false
      }
      require(reads(ruDir),
        "a fresh MV must serve its defining query from the gold store")
      require(!reads(src),
        "the MV read must not scan the base table")
      // drop the registrations only (the returned frame still reads
      // the gold files lazily) so later queries never pay the probe
      ts.dropView("mvddl", "daily")
      ts.dropTable("mvddl", "daily__storage")
      ts.dropTable("mvddl", "orders")
      q.orderBy("o_orderpriority")
    }),

    // S20d — PARTIAL materialized view: a WHERE in the defining query
    // maintains only the matching slice (every refresh window filters
    // exactly as the build did — deterministic row-local predicates),
    // and the rewrite serves only queries that repeat the predicate
    // (the conjunct is consumed; the store's rows satisfy it by
    // construction). REQUIRED inside the query: the MV read serves
    // from the gold directory after a mixed in/out-of-slice append +
    // REFRESH.
    "q_mv_where" -> ((s, d) => {
      val orders = Tables.orders(s, d)
      val root = java.nio.file.Files.createTempDirectory("mvwq")
        .toString
      val src = s"$root/orders"
      val S = graft.pipeline.Snapshot
      Fixtures.cloneSnapshot(s, d, "orders90", src)
      val ts = new TableStore(s)
      ts.registerSnapshot("mvw", "orders", src)
      s.sql("""CREATE MATERIALIZED VIEW mvw.hot AS
        SELECT o_orderpriority, count(*) AS cnt,
               CAST(sum(CAST(o_totalprice AS DECIMAL(27,6)))
                 AS DOUBLE) AS sum_price
        FROM mvw.orders WHERE o_custkey % 2 = 0
        GROUP BY o_orderpriority""").collect()
      S.morCommit(s, src, deletes = None,
        appends = Some(orders.filter(col("o_orderkey") % 10 === 7)),
        operation = "append")
      require(s.sql("REFRESH MATERIALIZED VIEW mvw.hot")
        .collect().head.getLong(0) > 0L,
        "the in-slice append rows must touch groups")
      val q = s.sql("SELECT * FROM mvw.hot")
      val ruDir = ts.properties("mvw", "hot__storage")(
        "graft.rollup.dir")
      val leaves = q.queryExecution.optimizedPlan.collectLeaves()
      def reads(dir: String): Boolean = leaves.exists {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          l.relation match {
            case f: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              f.location.rootPaths.map(_.toUri.getPath)
                .exists(p => p == dir || p.startsWith(s"$dir/"))
            case _ => false
          }
        case _ => false
      }
      require(reads(ruDir) && !reads(src),
        "the partial MV must serve its slice from the gold store")
      ts.dropView("mvw", "hot")
      ts.dropTable("mvw", "hot__storage")
      ts.dropTable("mvw", "orders")
      q.orderBy("o_orderpriority")
    }),

    // S20m (r16) — PREDICATE IMPLICATION in the partial-MV rewrite
    // (Calcite's implied-filter serve): a store sliced over
    // `o_custkey > 0` serves a query whose `o_custkey > 750` IMPLIES
    // the slice — the stored conjunct is SATISFIED (every candidate
    // row is in the store) and the query's own narrower filter
    // re-applies on the gold key column. REQUIRED in-query: the
    // subsumed read scans ONLY the store; a WIDER probe
    // (`o_custkey >= 0` admits rows the slice never saw) scans ONLY
    // the base.
    "q_mv_implied" -> ((s, d) => {
      val orders = Tables.orders(s, d)
      val root = java.nio.file.Files.createTempDirectory("mvipq")
        .toString
      val src = s"$root/orders"
      val S = graft.pipeline.Snapshot
      Fixtures.cloneSnapshot(s, d, "orders", src)
      val ts = new TableStore(s)
      ts.registerSnapshot("mvip", "orders", src)
      s.sql("""CREATE MATERIALIZED VIEW mvip.slice AS
        SELECT o_orderpriority, o_custkey, count(*) AS cnt,
               CAST(sum(CAST(o_totalprice AS DECIMAL(27,6)))
                 AS DOUBLE) AS sum_price
        FROM mvip.orders WHERE o_custkey > 0
        GROUP BY o_orderpriority, o_custkey""").collect()
      val mvDir = ts.properties("mvip", "slice__storage")(
        "graft.rollup.dir")
      def reads(df: org.apache.spark.sql.DataFrame,
                dir: String): Boolean =
        df.queryExecution.optimizedPlan.collectLeaves().exists {
          case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            l.relation match {
              case f: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                f.location.rootPaths.map(_.toUri.getPath)
                  .exists(p => p == dir || p.startsWith(s"$dir/"))
              case _ => false
            }
          case _ => false
        }
      val q = s.sql("""SELECT o_orderpriority, count(*) AS cnt,
               CAST(sum(CAST(o_totalprice AS DECIMAL(27,6)))
                 AS DOUBLE) AS sum_price
        FROM mvip.orders WHERE o_custkey > 750
        GROUP BY o_orderpriority""")
      require(reads(q, mvDir) && !reads(q, src),
        "o_custkey > 750 implies the slice o_custkey > 0 — the " +
          "subsumed query must serve from the gold store")
      val wider = s.sql("""SELECT o_orderpriority, count(*) AS cnt
        FROM mvip.orders WHERE o_custkey >= 0
        GROUP BY o_orderpriority""")
      require(!reads(wider, mvDir) && reads(wider, src),
        "o_custkey >= 0 admits rows outside the slice — the wider " +
          "query must stay on the base")
      ts.dropView("mvip", "slice")
      ts.dropTable("mvip", "slice__storage")
      ts.dropTable("mvip", "orders")
      q.orderBy("o_orderpriority")
    }),

    // S20n (r17) — MONOTONE-TRUNC implication: the time-sliced
    // dashboard MV (`WHERE date_trunc('month', d) >= …` over a month
    // bucket key) serves a query's BARE date bound — `o_orderdate >=
    // DATE '1996-03-01'` implies the trunc slice by monotonicity and,
    // with the literal ON a bucket boundary, rewrites EXACTLY to the
    // stored month key (`omonth >= …`). REQUIRED in-query: the
    // aligned-and-implying read scans ONLY the store; a misaligned
    // bound (cuts a bucket mid-month — gold rows aggregate whole
    // buckets) and a pre-slice bound each scan ONLY the base.
    "q_mv_implied_time" -> ((s, d) => {
      val orders = Tables.orders(s, d)
      val root = java.nio.file.Files.createTempDirectory("mvitq")
        .toString
      val src = s"$root/orders"
      val S = graft.pipeline.Snapshot
      Fixtures.cloneSnapshot(s, d, "orders", src)
      val ts = new TableStore(s)
      ts.registerSnapshot("mvit", "orders", src)
      s.sql("""CREATE MATERIALIZED VIEW mvit.recent AS
        SELECT date_trunc('month', o_orderdate) AS omonth,
               count(*) AS cnt,
               CAST(sum(CAST(o_totalprice AS DECIMAL(27,6)))
                 AS DOUBLE) AS sum_price
        FROM mvit.orders
        WHERE date_trunc('month', o_orderdate)
          >= TIMESTAMP '1996-01-01 00:00:00'
        GROUP BY date_trunc('month', o_orderdate)""").collect()
      val mvDir = ts.properties("mvit", "recent__storage")(
        "graft.rollup.dir")
      def reads(df: org.apache.spark.sql.DataFrame,
                dir: String): Boolean =
        df.queryExecution.optimizedPlan.collectLeaves().exists {
          case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            l.relation match {
              case f: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                f.location.rootPaths.map(_.toUri.getPath)
                  .exists(p => p == dir || p.startsWith(s"$dir/"))
              case _ => false
            }
          case _ => false
        }
      val q = s.sql("""SELECT date_trunc('month', o_orderdate)
          AS omonth, count(*) AS cnt,
          CAST(sum(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE)
            AS sum_price
        FROM mvit.orders WHERE o_orderdate >= DATE '1996-03-01'
        GROUP BY date_trunc('month', o_orderdate)""")
      require(reads(q, mvDir) && !reads(q, src),
        "an aligned bare date bound implying the trunc slice must " +
          "serve from the gold store")
      val misaligned = s.sql("""SELECT count(*) AS cnt
        FROM mvit.orders WHERE o_orderdate >= DATE '1996-03-15'""")
      require(!reads(misaligned, mvDir) && reads(misaligned, src),
        "a mid-bucket bound cuts a month in half — base only")
      val preslice = s.sql("""SELECT count(*) AS cnt
        FROM mvit.orders WHERE o_orderdate >= DATE '1995-06-01'""")
      require(!reads(preslice, mvDir) && reads(preslice, src),
        "an aligned bound BEFORE the slice start admits rows the " +
          "store never saw — base only")
      ts.dropView("mvit", "recent")
      ts.dropTable("mvit", "recent__storage")
      ts.dropTable("mvit", "orders")
      q.orderBy("omonth")
    }),

    // S14+MV (r17) — MV PERSISTENCE ACROSS SESSIONS: the
    // shared-dashboard deployment — one session CREATEs a
    // MATERIALIZED VIEW against a persistent catalog dir, a FRESH
    // session attaches the same dir and must (a) read the MV, (b)
    // serve the always-on rewrite from the gold store, (c) REFRESH
    // it INCREMENTALLY after a base commit. REQUIRED in-query: the
    // fresh session's post-refresh aggregate scans ONLY the store,
    // the stale read between commit and refresh scans ONLY the base,
    // and the refresh touches groups (incremental, not a rebuild).
    // Both sessions are SECONDARY (newSession) so the shared driver
    // session never carries the catalog attachment.
    "q_mv_persistent" -> ((s, d) => {
      val orders = Tables.orders(s, d)
      val root = java.nio.file.Files.createTempDirectory("mvpq")
        .toString
      val (src, meta) = (s"$root/orders", s"$root/catalog")
      val S = graft.pipeline.Snapshot
      Fixtures.cloneSnapshot(s, d, "orders90", src)
      def reads(df: org.apache.spark.sql.DataFrame,
                dir: String): Boolean =
        df.queryExecution.optimizedPlan.collectLeaves().exists {
          case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            l.relation match {
              case f: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                f.location.rootPaths.map(_.toUri.getPath)
                  .exists(p => p == dir || p.startsWith(s"$dir/"))
              case _ => false
            }
          case _ => false
        }
      // session 1: register + create the MV against the catalog dir
      val s1 = s.newSession()
      TableStore.attachCatalog(s1, meta)
      new TableStore(s1).registerSnapshot("mvpp", "orders", src)
      s1.sql("""CREATE MATERIALIZED VIEW iceberg.mvpp.gold AS
        SELECT o_orderpriority, count(*) AS cnt,
               CAST(sum(CAST(o_totalprice AS DECIMAL(27,6)))
                 AS DOUBLE) AS sum_price
        FROM mvpp.orders GROUP BY o_orderpriority""").collect()
      // session 2: a cold attach of the same catalog dir
      val s2 = s.newSession()
      TableStore.attachCatalog(s2, meta)
      val ruDir = new TableStore(s2).properties("mvpp",
        "gold__storage")("graft.rollup.dir")
      val served = s2.sql("SELECT * FROM mvpp.gold")
      require(reads(served, ruDir) && !reads(served, src),
        "a reloaded MV must serve its gold store in a fresh session")
      // a base commit stales it; the stale read now COMPENSATES
      // (r18): store ⊎ window delta — the gold dir plus the window
      // sidecars, never the base data files
      S.morCommit(s2, src, deletes = None,
        appends = Some(orders.filter(col("o_orderkey") % 10 === 7)),
        operation = "append")
      val stale = s2.sql("""SELECT o_orderpriority, count(*) AS cnt
        FROM mvpp.orders GROUP BY o_orderpriority""")
      require(reads(stale, ruDir),
        "a priceably-stale reloaded MV must serve by compensation")
      require(s2.sql("REFRESH MATERIALIZED VIEW mvpp.gold")
        .collect().head.getLong(0) > 0L,
        "the reloaded MV must refresh INCREMENTALLY (touch groups)")
      val q = s2.sql("""SELECT o_orderpriority, count(*) AS cnt,
               CAST(sum(CAST(o_totalprice AS DECIMAL(27,6)))
                 AS DOUBLE) AS sum_price
        FROM mvpp.orders GROUP BY o_orderpriority""")
      require(reads(q, ruDir) && !reads(q, src),
        "the refreshed reloaded MV must serve the store again")
      q.orderBy("o_orderpriority")
    }),

    // S20o (r18) — STALE-SERVE COMPENSATION: under the reference's
    // per-run CDC cadence (`merge_orders_silver.py` commits a
    // micro-batch every run) a fresh-only MV rewrite is off almost
    // always. Between refreshes the rewrite now serves
    // store ⊎ signed window delta — exact (the Gupta–Mumick identity
    // refresh itself trusts), zero store mutation at plan time.
    // REQUIRED in-query: with TWO unrefreshed commits stacked, the
    // aggregate reads the gold store AND ONLY `_mor` window sidecars
    // of the base (never its data files); with the staleness budget
    // at 0 the same query returns to the base plan.
    "q_mv_stale_serve" -> ((s, d) => {
      val orders = Tables.orders(s, d)
      val root = java.nio.file.Files.createTempDirectory("mvssq")
        .toString
      val src = s"$root/orders"
      val S = graft.pipeline.Snapshot
      Fixtures.cloneSnapshot(s, d, "orders90", src)
      val ts = new TableStore(s)
      ts.registerSnapshot("mvss", "orders", src)
      s.sql("""CREATE MATERIALIZED VIEW mvss.gold AS
        SELECT o_orderpriority, count(*) AS cnt,
               CAST(sum(CAST(o_totalprice AS DECIMAL(27,6)))
                 AS DOUBLE) AS sum_price
        FROM mvss.orders GROUP BY o_orderpriority""").collect()
      val ruDir = ts.properties("mvss", "gold__storage")(
        "graft.rollup.dir")
      // two micro-batches land; NOBODY refreshes
      S.morCommit(s, src, deletes = None,
        appends = Some(orders.filter(col("o_orderkey") % 20 === 7)),
        operation = "append")
      S.morCommit(s, src, deletes = None,
        appends = Some(orders.filter(col("o_orderkey") % 20 === 17)),
        operation = "append")
      def leafPaths(df: org.apache.spark.sql.DataFrame): Seq[String] =
        df.queryExecution.optimizedPlan.collectLeaves().flatMap {
          case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            l.relation match {
              case f: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                f.location.rootPaths.map(_.toUri.getPath)
              case _ => Nil
            }
          case _ => Nil
        }
      val sql = """SELECT o_orderpriority, count(*) AS cnt,
               CAST(sum(CAST(o_totalprice AS DECIMAL(27,6)))
                 AS DOUBLE) AS sum_price
        FROM mvss.orders GROUP BY o_orderpriority"""
      val q = s.sql(sql)
      val leaves = leafPaths(q)
      require(leaves.exists(p => p == ruDir ||
          p.startsWith(s"$ruDir/")),
        "the stale MV must serve by compensation (reads the store)")
      val srcLeaves = leaves.filter(p => p == src ||
        p.startsWith(s"$src/"))
      require(srcLeaves.nonEmpty &&
          srcLeaves.forall(_.contains("/_mor/")),
        "the compensation must read ONLY the window sidecars of the " +
          s"base, never its data files: $srcLeaves")
      // the staleness budget gates it: 0 → the pre-r18 base plan
      s.conf.set("spark.graft.mv.maxStalenessCommits", "0")
      try {
        val off = leafPaths(s.sql(sql))
        require(!off.exists(p => p == ruDir ||
            p.startsWith(s"$ruDir/")) &&
            off.exists(p => (p == src || p.startsWith(s"$src/")) &&
              !p.contains("/_mor/")),
          "budget 0 must fall back to the base data files")
      } finally s.conf.unset("spark.graft.mv.maxStalenessCommits")
      ts.dropView("mvss", "gold")
      ts.dropTable("mvss", "gold__storage")
      ts.dropTable("mvss", "orders")
      q.orderBy("o_orderpriority")
    }),

    // S20o' (r18) — EQUALITY-window stale-serve: the engine's
    // DEFAULT delete mode means the reference's CDC MERGE commits
    // equality sidecars — the signed-delta compensation cannot price
    // those per-instance, so the rewrite serves the AFFECTED-GROUP
    // form instead: untouched groups anti-join out of the store,
    // touched groups recompute from the pruned live base — exact for
    // EVERY maintained aggregate, min/max included. REQUIRED
    // in-query: with one unrefreshed MERGE-shaped commit (equality
    // delete + append) the min/max-bearing aggregate reads the gold
    // store; budget 0 returns to the base plan.
    "q_mv_stale_eq" -> ((s, d) => {
      val orders = Tables.orders(s, d)
      val root = java.nio.file.Files.createTempDirectory("mvseq")
        .toString
      val src = s"$root/orders"
      val S = graft.pipeline.Snapshot
      Fixtures.cloneSnapshot(s, d, "orders90", src)
      val ts = new TableStore(s)
      ts.registerSnapshot("mvse", "orders", src)
      s.sql("""CREATE MATERIALIZED VIEW mvse.gold AS
        SELECT o_orderpriority, count(*) AS cnt,
               CAST(sum(CAST(o_totalprice AS DECIMAL(27,6)))
                 AS DOUBLE) AS sum_price,
               min(o_totalprice) AS min_price,
               max(o_totalprice) AS max_price
        FROM mvse.orders GROUP BY o_orderpriority""").collect()
      val ruDir = ts.properties("mvse", "gold__storage")(
        "graft.rollup.dir")
      // ONE CDC MERGE-shaped commit: full-row equality deletes plus
      // appends; NOBODY refreshes
      S.morCommit(s, src,
        deletes = Some(S.read(s, src)
          .filter(col("o_orderkey") % 10 === 3).localCheckpoint()),
        appends = Some(orders.filter(col("o_orderkey") % 10 === 7)),
        operation = "merge")
      def reads(df: org.apache.spark.sql.DataFrame,
                dir: String): Boolean =
        df.queryExecution.optimizedPlan.collectLeaves().exists {
          case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            l.relation match {
              case f: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                f.location.rootPaths.map(_.toUri.getPath)
                  .exists(p => p == dir || p.startsWith(s"$dir/"))
              case _ => false
            }
          case _ => false
        }
      val sql = """SELECT o_orderpriority, count(*) AS cnt,
               CAST(sum(CAST(o_totalprice AS DECIMAL(27,6)))
                 AS DOUBLE) AS sum_price,
               min(o_totalprice) AS min_price,
               max(o_totalprice) AS max_price
        FROM mvse.orders GROUP BY o_orderpriority"""
      val q = s.sql(sql)
      require(reads(q, ruDir),
        "an equality-stale MV must serve by affected-group " +
          "compensation — min/max included")
      s.conf.set("spark.graft.mv.maxStalenessCommits", "0")
      try require(!reads(s.sql(sql), ruDir),
        "budget 0 must fall back to the base plan")
      finally s.conf.unset("spark.graft.mv.maxStalenessCommits")
      ts.dropView("mvse", "gold")
      ts.dropTable("mvse", "gold__storage")
      ts.dropTable("mvse", "orders")
      q.orderBy("o_orderpriority")
    }),

    // S20r (r19) — MOVED-DIM STALE-SERVE: under the reference's CDC
    // cadence the DIMENSIONS move too (`merge_orders_silver.py` is a
    // keyed MERGE — a dim table maintained the same way re-segments
    // rows every run), and through r18 any moved dim voided every
    // star MV until REFRESH. The dim-side AFFECTED-GROUP arm now
    // compensates at plan time: store ∖ touched ⊎ Agg(live fact ⋈
    // live dims restricted to touched), touched = groups of the fact
    // window's rows plus groups of fact rows hitting the dim window's
    // changed keys, each under BOTH the pinned and the live dim join
    // (a re-segmented row voids its old AND its new segment).
    // Fixture: the %10==3 customers start MIS-segmented and one
    // unrefreshed dim MERGE restores the truth while one unrefreshed
    // fact append lands — combined fact+dim staleness. REQUIRED
    // in-query: the aggregate reads the gold store; budget 0 falls
    // back to the base join.
    "q_mv_stale_dim" -> ((s, d) => {
      val orders = Tables.orders(s, d)
      val customer = Tables.customer(s, d)
      val root = java.nio.file.Files.createTempDirectory("mvsdq")
        .toString
      val (fact, dim) = (s"$root/orders", s"$root/customer")
      val S = graft.pipeline.Snapshot
      Fixtures.cloneSnapshot(s, d, "orders90", fact)
      S.createOrReplace(customer.withColumn("c_mktsegment",
        when(col("c_custkey") % 10 === 3, lit("TMPSEG"))
          .otherwise(col("c_mktsegment"))), dim)
      val ts = new TableStore(s)
      ts.registerSnapshot("mvsd", "orders", fact)
      ts.registerSnapshot("mvsd", "customer", dim)
      s.sql("""CREATE MATERIALIZED VIEW mvsd.seg AS
        SELECT c_mktsegment, count(*) AS cnt,
               CAST(sum(CAST(o_totalprice AS DECIMAL(27,6)))
                 AS DOUBLE) AS sum_price,
               min(o_totalprice) AS min_price,
               max(o_totalprice) AS max_price
        FROM mvsd.orders o JOIN mvsd.customer c
          ON o.o_custkey = c.c_custkey
        GROUP BY c_mktsegment""").collect()
      val ruDir = ts.properties("mvsd", "seg__storage")(
        "graft.rollup.dir")
      // one fact append + one RE-SEGMENTING dim MERGE; NOBODY
      // refreshes
      S.morCommit(s, fact, deletes = None,
        appends = Some(orders.filter(col("o_orderkey") % 10 === 7)),
        operation = "append")
      S.morCommit(s, dim,
        deletes = Some(S.read(s, dim)
          .filter(col("c_custkey") % 10 === 3).localCheckpoint()),
        appends = Some(customer.filter(col("c_custkey") % 10 === 3)),
        operation = "merge")
      def reads(df: org.apache.spark.sql.DataFrame,
                dir: String): Boolean =
        df.queryExecution.optimizedPlan.collectLeaves().exists {
          case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            l.relation match {
              case f: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                f.location.rootPaths.map(_.toUri.getPath)
                  .exists(p => p == dir || p.startsWith(s"$dir/"))
              case _ => false
            }
          case _ => false
        }
      val sql = """SELECT c_mktsegment, count(*) AS cnt,
               CAST(sum(CAST(o_totalprice AS DECIMAL(27,6)))
                 AS DOUBLE) AS sum_price,
               min(o_totalprice) AS min_price,
               max(o_totalprice) AS max_price
        FROM mvsd.orders o JOIN mvsd.customer c
          ON o.o_custkey = c.c_custkey
        GROUP BY c_mktsegment"""
      val q = s.sql(sql)
      require(reads(q, ruDir),
        "a fact+dim-stale star MV must serve by dim-window " +
          "compensation (reads the gold store)")
      s.conf.set("spark.graft.mv.maxStalenessCommits", "0")
      try require(!reads(s.sql(sql), ruDir),
        "budget 0 must fall back to the base join")
      finally s.conf.unset("spark.graft.mv.maxStalenessCommits")
      ts.dropView("mvsd", "seg")
      ts.dropTable("mvsd", "seg__storage")
      ts.dropTable("mvsd", "orders")
      ts.dropTable("mvsd", "customer")
      q.orderBy("c_mktsegment")
    }),

    // S20s (r19) — NDV SKETCHES RIDE APPEND-ONLY COMPENSATION: a
    // count-distinct-bearing store (KMV `ndvsk_*`) used to fall to
    // the staleness error whenever the base moved, yet KMV minima
    // UNION exactly on append windows — the same sketchMerge refresh
    // applies — so `Rollup.readServe` (the always-live read surface)
    // serves store ⊎ window delta with the sketches merged in-plan,
    // BIT-IDENTICAL to the refreshed store. REQUIRED in-query: the
    // fresh-only `read` raises the staleness error (never a silently
    // stale answer); the served plan reads the gold store and ONLY
    // `_mor` window sidecars of the base; the served rows equal
    // `read` after refresh bit-for-bit — NDV estimate included.
    "q_mv_stale_ndv" -> ((s, d) => {
      val orders = Tables.orders(s, d)
      val root = java.nio.file.Files.createTempDirectory("mvsnq")
        .toString
      val src = s"$root/orders"
      val ru = s"$root/rollup"
      val S = graft.pipeline.Snapshot
      val R = graft.pipeline.Rollup
      Fixtures.cloneSnapshot(s, d, "orders90", src)
      R.build(s, src, ru, Seq("o_orderpriority"), Seq("o_totalprice"),
        minMax = Seq("o_totalprice"), ndv = Seq("o_custkey"),
        ndvK = 64)
      // two append micro-batches land; NOBODY refreshes
      S.morCommit(s, src, deletes = None,
        appends = Some(orders.filter(col("o_orderkey") % 20 === 7)),
        operation = "append")
      S.morCommit(s, src, deletes = None,
        appends = Some(orders.filter(col("o_orderkey") % 20 === 17)),
        operation = "append")
      require(scala.util.Try(R.read(s, src, ru)).failed.toOption
          .exists(_.getMessage.contains("STALE")),
        "the fresh-only read must raise on a stale store")
      val served = R.readServe(s, src, ru)
      val leaves = served.queryExecution.optimizedPlan.collectLeaves()
        .flatMap {
          case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            l.relation match {
              case f: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                f.location.rootPaths.map(_.toUri.getPath)
              case _ => Nil
            }
          case _ => Nil
        }
      require(leaves.exists(p => p == ru || p.startsWith(s"$ru/")),
        "the stale serve must read the gold store")
      val srcLeaves = leaves.filter(p => p == src ||
        p.startsWith(s"$src/"))
      require(srcLeaves.nonEmpty &&
          srcLeaves.forall(_.contains("/_mor/")),
        "the compensation must read ONLY the window sidecars of " +
          s"the base, never its data files: $srcLeaves")
      val servedRows = served.orderBy("o_orderpriority").collect()
      require(R.refresh(s, src, ru) > 0L,
        "the append window must touch groups")
      val refreshed = R.read(s, src, ru).orderBy("o_orderpriority")
      require(servedRows.toSeq == refreshed.collect().toSeq,
        "the compensated serve must be bit-identical to the " +
          "refreshed store — NDV estimate included")
      refreshed
    }),

    // S20p (r18) — EXTRACT-form calendar keys: `GROUP BY
    // year(o_orderdate)` — the most common hand-written dashboard
    // shape after date_trunc — derives from a month-trunc-keyed
    // store (year of a month-bucket start = year of the source), and
    // `WHERE year(d) >= Y` participates in slice implication by
    // normalizing to the bare interval `d >= Y-01-01`. REQUIRED
    // in-query: the year query reads ONLY the gold store; the
    // non-injective `month(d) = 3` slice implication is REFUSED
    // (March of a pre-slice year would be wrongly served) — base
    // only.
    "q_mv_extract" -> ((s, d) => {
      val root = java.nio.file.Files.createTempDirectory("mvxq")
        .toString
      val src = s"$root/orders"
      Fixtures.cloneSnapshot(s, d, "orders", src)
      val ts = new TableStore(s)
      ts.registerSnapshot("mvex", "orders", src)
      s.sql("""CREATE MATERIALIZED VIEW mvex.monthly AS
        SELECT date_trunc('month', o_orderdate) AS omonth,
               count(*) AS cnt,
               CAST(sum(CAST(o_totalprice AS DECIMAL(27,6)))
                 AS DOUBLE) AS sum_price
        FROM mvex.orders
        WHERE o_orderdate >= DATE '1995-01-01'
        GROUP BY date_trunc('month', o_orderdate)""").collect()
      val mvDir = ts.properties("mvex", "monthly__storage")(
        "graft.rollup.dir")
      def reads(df: org.apache.spark.sql.DataFrame,
                dir: String): Boolean =
        df.queryExecution.optimizedPlan.collectLeaves().exists {
          case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            l.relation match {
              case f: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                f.location.rootPaths.map(_.toUri.getPath)
                  .exists(p => p == dir || p.startsWith(s"$dir/"))
              case _ => false
            }
          case _ => false
        }
      val q = s.sql("""SELECT year(o_orderdate) AS oyear,
               count(*) AS cnt,
               CAST(sum(CAST(o_totalprice AS DECIMAL(27,6)))
                 AS DOUBLE) AS sum_price
        FROM mvex.orders WHERE year(o_orderdate) >= 1996
        GROUP BY year(o_orderdate)""")
      require(reads(q, mvDir) && !reads(q, src),
        "year(d) must derive from the month store and its bound " +
          "must imply the slice — gold only")
      val monthSlice = s.sql("""SELECT count(*) AS cnt
        FROM mvex.orders WHERE month(o_orderdate) = 3""")
      require(!reads(monthSlice, mvDir) && reads(monthSlice, src),
        "the non-injective bare month() slice implication must " +
          "REFUSE (March of a pre-slice year) — base only")
      ts.dropView("mvex", "monthly")
      ts.dropTable("mvex", "monthly__storage")
      ts.dropTable("mvex", "orders")
      q.orderBy("oyear")
    }),

    // S20e — JOIN materialized view (star schema): the defining query
    // inner-joins the fact to a dimension, the store maintains the
    // JOINED aggregate (dim pinned at its version — Δ(F⋈D) = ΔF⋈D),
    // and the rewrite serves the star-join SQL from gold. REQUIRED
    // inside the query: after a fact append + REFRESH the MV read
    // scans the gold store and neither base table.
    "q_mv_join" -> ((s, d) => {
      val orders = Tables.orders(s, d)
      val customer = Tables.customer(s, d)
      val root = java.nio.file.Files.createTempDirectory("mvjq")
        .toString
      val (fact, dim) = (s"$root/orders", s"$root/customer")
      val S = graft.pipeline.Snapshot
      Fixtures.cloneSnapshot(s, d, "orders90", fact)
      Fixtures.cloneSnapshot(s, d, "customer", dim)
      val ts = new TableStore(s)
      ts.registerSnapshot("mvj", "orders", fact)
      ts.registerSnapshot("mvj", "customer", dim)
      s.sql("""CREATE MATERIALIZED VIEW mvj.seg AS
        SELECT c_mktsegment, count(*) AS cnt,
               CAST(sum(CAST(o_totalprice AS DECIMAL(27,6)))
                 AS DOUBLE) AS sum_price,
               min(o_totalprice) AS min_price,
               max(o_totalprice) AS max_price
        FROM mvj.orders o JOIN mvj.customer c
          ON o.o_custkey = c.c_custkey
        GROUP BY c_mktsegment""").collect()
      S.morCommit(s, fact, deletes = None,
        appends = Some(orders.filter(col("o_orderkey") % 10 === 7)),
        operation = "append")
      require(s.sql("REFRESH MATERIALIZED VIEW mvj.seg")
        .collect().head.getLong(0) > 0L,
        "the fact-append window must touch groups")
      val q = s.sql("SELECT * FROM mvj.seg")
      val ruDir = ts.properties("mvj", "seg__storage")(
        "graft.rollup.dir")
      val leaves = q.queryExecution.optimizedPlan.collectLeaves()
      def reads(dir: String): Boolean = leaves.exists {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          l.relation match {
            case f: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              f.location.rootPaths.map(_.toUri.getPath)
                .exists(p => p == dir || p.startsWith(s"$dir/"))
            case _ => false
          }
        case _ => false
      }
      require(reads(ruDir),
        "a fresh join MV must serve from the gold store")
      require(!reads(fact) && !reads(dim),
        "the join-MV read must scan neither base table")
      ts.dropView("mvj", "seg")
      ts.dropTable("mvj", "seg__storage")
      ts.dropTable("mvj", "orders")
      ts.dropTable("mvj", "customer")
      q.orderBy("c_mktsegment")
    }),

    // S20g — TIME-BUCKETED materialized view (expression group keys):
    // the defining query groups by date_trunc('month', …) — the store
    // maintains the derived key column and the rewrite matches the
    // same expression. REQUIRED inside the query: after an append +
    // REFRESH the MV read scans the gold store, never the base.
    "q_mv_time" -> ((s, d) => {
      val orders = Tables.orders(s, d)
      val root = java.nio.file.Files.createTempDirectory("mvtq")
        .toString
      val src = s"$root/orders"
      val S = graft.pipeline.Snapshot
      Fixtures.cloneSnapshot(s, d, "orders90", src)
      val ts = new TableStore(s)
      ts.registerSnapshot("mvt", "orders", src)
      s.sql("""CREATE MATERIALIZED VIEW mvt.monthly AS
        SELECT date_trunc('month', o_orderdate) AS omonth,
               count(*) AS cnt,
               CAST(sum(CAST(o_totalprice AS DECIMAL(27,6)))
                 AS DOUBLE) AS sum_price,
               min(o_totalprice) AS min_price
        FROM mvt.orders
        GROUP BY date_trunc('month', o_orderdate)""").collect()
      S.morCommit(s, src, deletes = None,
        appends = Some(orders.filter(col("o_orderkey") % 10 === 7)),
        operation = "append")
      require(s.sql("REFRESH MATERIALIZED VIEW mvt.monthly")
        .collect().head.getLong(0) > 0L,
        "the append window must touch month buckets")
      val q = s.sql("SELECT * FROM mvt.monthly")
      val ruDir = ts.properties("mvt", "monthly__storage")(
        "graft.rollup.dir")
      val leaves = q.queryExecution.optimizedPlan.collectLeaves()
      def reads(dir: String): Boolean = leaves.exists {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          l.relation match {
            case f: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              f.location.rootPaths.map(_.toUri.getPath)
                .exists(p => p == dir || p.startsWith(s"$dir/"))
            case _ => false
          }
        case _ => false
      }
      require(reads(ruDir),
        "the time-bucketed MV must serve from the gold store")
      require(!reads(src),
        "the MV read must not scan the base table")
      ts.dropView("mvt", "monthly")
      ts.dropTable("mvt", "monthly__storage")
      ts.dropTable("mvt", "orders")
      q.orderBy("omonth")
    }),

    // S20h — EXPRESSION measures (the TPC-H Q1 MV): the defining
    // query sums a DERIVED measure, sum(l_extendedprice *
    // (1 - l_discount)) AS revenue, maintained exactly through the
    // decimal store. REQUIRED inside the query: after an append +
    // REFRESH the MV read scans the gold store, never the base.
    "q_mv_q1" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val root = java.nio.file.Files.createTempDirectory("mvq1q")
        .toString
      val src = s"$root/lineitem"
      val S = graft.pipeline.Snapshot
      S.createOrReplace(li.filter(col("l_orderkey") % 10 =!= 7),
        src, keepVersions = 2)
      val ts = new TableStore(s)
      ts.registerSnapshot("mvq1", "lineitem", src)
      s.sql("""CREATE MATERIALIZED VIEW mvq1.pricing AS
        SELECT l_returnflag, l_linestatus, count(*) AS cnt,
               CAST(sum(CAST(l_quantity AS DECIMAL(27,6)))
                 AS DOUBLE) AS sum_qty,
               CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                 AS DECIMAL(27,6))) AS DOUBLE) AS revenue
        FROM mvq1.lineitem
        GROUP BY l_returnflag, l_linestatus""").collect()
      S.morCommit(s, src, deletes = None,
        appends = Some(li.filter(col("l_orderkey") % 10 === 7)),
        operation = "append")
      require(s.sql("REFRESH MATERIALIZED VIEW mvq1.pricing")
        .collect().head.getLong(0) > 0L,
        "the append window must touch groups")
      val q = s.sql("SELECT * FROM mvq1.pricing")
      val ruDir = ts.properties("mvq1", "pricing__storage")(
        "graft.rollup.dir")
      val leaves = q.queryExecution.optimizedPlan.collectLeaves()
      def reads(dir: String): Boolean = leaves.exists {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          l.relation match {
            case f: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              f.location.rootPaths.map(_.toUri.getPath)
                .exists(p => p == dir || p.startsWith(s"$dir/"))
            case _ => false
          }
        case _ => false
      }
      require(reads(ruDir),
        "the Q1 MV must serve its derived measure from the gold store")
      require(!reads(src),
        "the MV read must not scan the base table")
      ts.dropView("mvq1", "pricing")
      ts.dropTable("mvq1", "pricing__storage")
      ts.dropTable("mvq1", "lineitem")
      q.orderBy("l_returnflag", "l_linestatus")
    }),

    // S20i — the FULL MV composition in one statement: star JOIN +
    // expression group key + WHERE slice, maintained and served
    // together. REQUIRED inside the query: after a fact append +
    // REFRESH the MV read scans the gold store and neither base.
    "q_mv_star_time" -> ((s, d) => {
      val orders = Tables.orders(s, d)
      val customer = Tables.customer(s, d)
      val root = java.nio.file.Files.createTempDirectory("mvcq")
        .toString
      val (fact, dim) = (s"$root/orders", s"$root/customer")
      val S = graft.pipeline.Snapshot
      Fixtures.cloneSnapshot(s, d, "orders90", fact)
      Fixtures.cloneSnapshot(s, d, "customer", dim)
      val ts = new TableStore(s)
      ts.registerSnapshot("mvc", "orders", fact)
      ts.registerSnapshot("mvc", "customer", dim)
      s.sql("""CREATE MATERIALIZED VIEW mvc.seg_month AS
        SELECT c_mktsegment,
               date_trunc('month', o_orderdate) AS omonth,
               count(*) AS cnt,
               CAST(sum(CAST(o_totalprice AS DECIMAL(27,6)))
                 AS DOUBLE) AS sum_price
        FROM mvc.orders o JOIN mvc.customer c
          ON o.o_custkey = c.c_custkey
        WHERE o_orderpriority <> '3-MEDIUM'
        GROUP BY c_mktsegment, date_trunc('month', o_orderdate)""")
        .collect()
      S.morCommit(s, fact, deletes = None,
        appends = Some(orders.filter(col("o_orderkey") % 10 === 7)),
        operation = "append")
      require(s.sql("REFRESH MATERIALIZED VIEW mvc.seg_month")
        .collect().head.getLong(0) > 0L,
        "the in-slice fact append must touch groups")
      val q = s.sql("SELECT * FROM mvc.seg_month")
      val ruDir = ts.properties("mvc", "seg_month__storage")(
        "graft.rollup.dir")
      val leaves = q.queryExecution.optimizedPlan.collectLeaves()
      def reads(dir: String): Boolean = leaves.exists {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          l.relation match {
            case f: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              f.location.rootPaths.map(_.toUri.getPath)
                .exists(p => p == dir || p.startsWith(s"$dir/"))
            case _ => false
          }
        case _ => false
      }
      require(reads(ruDir),
        "the composed MV must serve from the gold store")
      require(!reads(fact) && !reads(dim),
        "the composed MV read must scan neither base table")
      ts.dropView("mvc", "seg_month")
      ts.dropTable("mvc", "seg_month__storage")
      ts.dropTable("mvc", "orders")
      ts.dropTable("mvc", "customer")
      q.orderBy("c_mktsegment", "omonth")
    }),

    // X14c — GDPR erasure through the snapshot layer: silver built into
    // a two-version snapshot, then every row of the subject cohort
    // (user_id % 7 = 0) erased from the LIVE table and all RETAINED
    // versions in place. The compared result is the post-erasure live
    // table (oracle = rebuild minus the cohort); the history purge and
    // version preservation are pinned in SnapshotSpec.
    "q_erasure" -> ((s, d) => {
      val dir = java.nio.file.Files.createTempDirectory("erasure")
        .toString + "/orders_silver"
      silver2v(s, d, dir)
      graft.pipeline.Snapshot.erase(s, dir, col("user_id") % 7 === 0)
      tsToStr(graft.pipeline.Snapshot.read(s, dir),
        "last_change_ts").orderBy("order_id")
    }),

    // S4+/S9 — Iceberg's time-travel SQL VERBATIM: the same two-version
    // snapshot build, registered as a snapshot-backed catalog table and
    // read through `spark.sql(... VERSION AS OF 1)` (incl. the
    // reference's `iceberg.` catalog prefix).
    "q_time_travel_sql" -> ((s, d) => {
      val dir = java.nio.file.Files.createTempDirectory("snapttsql")
        .toString + "/orders_history"
      silver2v(s, d, dir)
      new TableStore(s).registerSnapshot("silver", "orders_history", dir)
      // snapshot ref round-trip: tag v1 through the CALL surface, read
      // it back through the STRING arm of VERSION AS OF — same rows as
      // the numeric spelling, so the one oracle pins both.
      s.sql("""CALL iceberg.system.create_tag(
               table => 'silver.orders_history', tag => 'validated',
               version => 1)""")
      tsToStr(s.sql(
        "SELECT * FROM iceberg.silver.orders_history VERSION AS OF 'validated'"),
        "last_change_ts").orderBy("order_id")
    }),

    // S4+++++++ — Iceberg's SECOND travel form verbatim: `TIMESTAMP AS
    // OF '<instant>'` resolves to the snapshot CURRENT at that instant
    // (here: v1's own commit micros, read back from the version
    // marker), so the capped-silver oracle pins the timestamp
    // resolution path end-to-end. Also proves ancestors_of: the
    // lineage rows are (2,1) newest-first with non-null commit
    // instants.
    "q_time_travel_ts" -> ((s, d) => {
      val dir = java.nio.file.Files.createTempDirectory("snapttts")
        .toString + "/orders_ts"
      silver2v(s, d, dir)
      new TableStore(s).registerSnapshot("silver", "orders_ts", dir)
      val us = graft.pipeline.Snapshot.committedAt(dir, 1L).get
      val ts = java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")
        .withZone(java.time.ZoneOffset.UTC)
        .format(java.time.Instant.ofEpochSecond(
          us / 1000000L, (us % 1000000L) * 1000L))
      tsToStr(s.sql(
        s"SELECT * FROM iceberg.silver.orders_ts TIMESTAMP AS OF '$ts'"),
        "last_change_ts").orderBy("order_id")
    }),

    // S4+++ — Iceberg's ancestors_of procedure: version lineage newest
    // first. The commit instants are wall-clock (asserted non-null and
    // monotone in CallSqlSpec); the oracle pins the deterministic
    // lineage ids.
    "q_ancestors_call" -> ((s, d) => {
      val dir = java.nio.file.Files.createTempDirectory("snapanc")
        .toString + "/orders_anc"
      silver2v(s, d, dir)
      new TableStore(s).registerSnapshot("silver", "orders_anc", dir)
      s.sql("CALL iceberg.system.ancestors_of('silver.orders_anc')")
        .select(col("snapshot_id"),
          col("timestamp").isNotNull.as("has_commit_ts"))
    }),

    // S4+++ — Iceberg's maintenance procedures VERBATIM through
    // `CALL iceberg.system.<proc>`: compact the live snapshot (row
    // content unchanged — rewrite_data_files' contract), then roll
    // back to version 1 and read the restored live table. Oracle =
    // the same capped-silver state q_time_travel_sql pins, proving
    // rollback restored it bit-for-bit through both maintenance ops.
    "q_maintenance_call" -> ((s, d) => {
      val dir = java.nio.file.Files.createTempDirectory("snapcall")
        .toString + "/orders_maint"
      silver2v(s, d, dir, keep = 3)
      new TableStore(s).registerSnapshot("silver", "orders_maint", dir)
      s.sql("""CALL iceberg.system.rewrite_data_files(
               table => 'silver.orders_maint', target_file_count => 2)""")
      s.sql("""CALL iceberg.system.rollback_to_snapshot(
               'iceberg.silver.orders_maint', 1)""")
      tsToStr(s.sql("SELECT * FROM iceberg.silver.orders_maint"),
        "last_change_ts").orderBy("order_id")
    }),

    // S4+++++ — Iceberg METADATA TABLES verbatim: `ns.t.snapshots`
    // over the two-version silver fixture — version, is_current, and a
    // LAZY per-version record count. Oracle recomputes both versions'
    // row counts from the same bronze CTE.
    "q_snapshot_history" -> ((s, d) => {
      val dir = java.nio.file.Files.createTempDirectory("snaphist")
        .toString + "/orders_hist2"
      silver2v(s, d, dir)
      new TableStore(s).registerSnapshot("silver", "orders_hist2", dir)
      s.sql("""SELECT version, is_current, record_count
               FROM iceberg.silver.orders_hist2.snapshots
               ORDER BY version""")
    }),

    // S4+++++ — `ns.t.refs` metadata table: the implicit main BRANCH
    // at the live version plus the TAG refs, over a two-version
    // fixture with tags created through the CALL surface.
    "q_snapshot_refs" -> ((s, d) => {
      val dir = java.nio.file.Files.createTempDirectory("snaprefs")
        .toString + "/orders_refs"
      silver2v(s, d, dir)
      new TableStore(s).registerSnapshot("silver", "orders_refs", dir)
      s.sql("""CALL iceberg.system.create_tag(
               table => 'silver.orders_refs', tag => 'validated',
               version => 1)""")
      s.sql("""CALL iceberg.system.create_tag(
               table => 'silver.orders_refs', tag => 'release')""")
      // a staged WAP branch appears as a BRANCH row at its fork version
      graft.pipeline.Snapshot.writeBranch(
        graft.pipeline.Snapshot.readAsOf(s, dir, 1), dir, "audit")
      s.sql("""SELECT name, type, version
               FROM iceberg.silver.orders_refs.refs ORDER BY name""")
    }),

    // S4+++++++ — WRITE-AUDIT-PUBLISH through branches: stage the
    // capped silver on branch 'audit' (live table untouched — the
    // audit reads the branch by ref), then CALL fast_forward promotes
    // it atomically; the published live table is the compared result
    // (oracle = the same capped silver q_time_travel_sql pins), and
    // the pre-publish live state stays time-travelable.
    "q_wap_publish" -> ((s, d) => {
      val dir = java.nio.file.Files.createTempDirectory("snapwap")
        .toString + "/orders_wap"
      Fixtures.cloneLifecycle(d, "silver-wap", dir) { t =>
        val bronze = bronzeOf(s, d)
        val cut = bronze.agg(max("offset")).collect()(0).getLong(0) / 2
        graft.pipeline.Snapshot.createOrReplace(
          Silver.rebuild(bronze), t, keepVersions = 2)
        graft.pipeline.Snapshot.writeBranch(
          Silver.rebuild(bronze.filter(col("offset") <= cut)), t,
          "audit")
      }
      new TableStore(s).registerSnapshot("silver", "orders_wap", dir)
      // audit gate: the branch read must be non-empty before publish
      require(s.sql(
        "SELECT count(*) FROM silver.orders_wap VERSION AS OF 'audit'")
        .head().getLong(0) > 0, "audit read came back empty")
      s.sql("""CALL iceberg.system.fast_forward(
               table => 'silver.orders_wap', branch => 'audit')""")
      tsToStr(s.sql("SELECT * FROM iceberg.silver.orders_wap"),
        "last_change_ts").orderBy("order_id")
    }),

    // S4+++++ — `ns.t.files` metadata table: per-data-file stats of the
    // current snapshot. The fixture writes lineitem Hive-partitioned by
    // l_returnflag with repartition(col) first, so every partition
    // value lands in exactly ONE task → one file per partition and the
    // per-file record counts equal the per-flag group counts the oracle
    // recomputes. file_path/file_size are real but run-dependent, so
    // the compared projection keeps the deterministic columns.
    "q_snapshot_files" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_quantity"), col("l_returnflag"))
      val dir = java.nio.file.Files.createTempDirectory("snapfiles")
        .toString + "/li_files"
      graft.pipeline.Snapshot.createOrReplacePartitioned(
        li.repartition(col("l_returnflag")), dir, Seq("l_returnflag"))
      new TableStore(s).registerSnapshot("silver", "li_files", dir)
      s.sql("""SELECT partition, file_format, record_count
               FROM iceberg.silver.li_files.files ORDER BY partition""")
    }),

    // S4+++ — register_table + add_files verbatim: adopt an existing
    // snapshot dir (the bottom half of orders by key) under a catalog
    // name through CALL, then import the TOP half from an external
    // plain-parquet dir as one commit — the read-back equals the whole
    // orders table, which is the oracle.
    "q_add_files" -> ((s, d) => {
      val orders = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"))
      val mid = orders.agg(max("o_orderkey")).collect()(0).getLong(0) / 2
      val base = java.nio.file.Files.createTempDirectory("addfq")
      val dir = base.toString + "/orders_low"
      val ext = base.toString + "/orders_high_ext"
      graft.pipeline.Snapshot.createOrReplace(
        orders.filter(col("o_orderkey") <= mid), dir, keepVersions = 2)
      orders.filter(col("o_orderkey") > mid).write.parquet(ext)
      s.sql(s"""CALL iceberg.system.register_table(
               table => 'silver.orders_imported',
               metadata_file => '$dir')""")
      s.sql(s"""CALL iceberg.system.add_files(
               table => 'silver.orders_imported',
               source_table => '`parquet`.`$ext`')""")
      s.sql("""SELECT o_orderkey, o_custkey, o_orderstatus
               FROM silver.orders_imported ORDER BY o_orderkey""")
    }),

    // S4+++ — rewrite_data_files(strategy => 'sort'): sort-cluster a
    // lineitem snapshot by l_orderkey (each file a disjoint key range
    // — pinned in CallSqlSpec), then read it back: the oracle proves
    // the rewrite preserved content bit-for-bit.
    "q_rewrite_sorted" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      val dir = java.nio.file.Files.createTempDirectory("sortrwq")
        .toString + "/li_sorted"
      graft.pipeline.Snapshot.createOrReplace(li.repartition(8), dir)
      new TableStore(s).registerSnapshot("silver", "li_sorted", dir)
      s.sql("""CALL iceberg.system.rewrite_data_files(
               table => 'silver.li_sorted', target_file_count => 4,
               strategy => 'sort', sort_order => 'l_orderkey')""")
      s.sql("""SELECT l_orderkey, l_linenumber, l_quantity
               FROM silver.li_sorted
               ORDER BY l_orderkey, l_linenumber""")
    }),

    // S12++ (r11) — stats-based scan planning (Iceberg's manifest
    // min/max file pruning re-expressed over the snapshot layout):
    // sort-cluster orders by key into 8 disjoint-range files, then
    // answer a key range through Snapshot.prunedRead — whole files
    // are dropped by FOOTER stats before any Spark task exists, and
    // the exact residual filter makes the result equal the plain
    // filter, which IS the oracle. ScanPruningSpec pins that the
    // kept set is actually small and that MOR sidecars compose.
    "q_stats_pruned_scan" -> ((s, d) => {
      val orders = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val dir = java.nio.file.Files.createTempDirectory("prunescan")
        .toString + "/orders_sorted"
      graft.pipeline.Snapshot.createOrReplace(orders, dir)
      graft.pipeline.Snapshot.rewriteSorted(s, dir, 8,
        Seq(col("o_orderkey")))
      graft.pipeline.Snapshot.prunedRead(s, dir,
        Seq(graft.pipeline.ScanPruning.ColumnRange("o_orderkey",
          Some(1000L), Some(3000L))))
        .orderBy("o_orderkey")
    }),

    // S12+++ (r11) — BLOOM-FILTER point-lookup pruning: the text-hash
    // column is unsorted and high-cardinality, so every file's min/max
    // spans the whole domain and range pruning keeps all 8 files — the
    // per-file parquet bloom filter still prunes the point lookup to
    // ~1 file (the Iceberg/Delta bloom-index capability). The result
    // equals the plain filter (the oracle); ScanPruningSpec pins the
    // kept-set sizes with and without the filter.
    "q_bloom_pruned_scan" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), md5(col("text")).as("sid"))
      val dir = java.nio.file.Files.createTempDirectory("bloomscan")
        .toString + "/docs_bloom"
      graft.pipeline.Snapshot.createOrReplace(
        docs.repartition(8, col("sid")), dir,
        options = graft.pipeline.ScanPruning
          .bloomWriteOptions("sid", 200))
      val target = docs.filter(col("doc_id") === 42)
        .select("sid").head().getString(0)
      graft.pipeline.Snapshot.prunedRead(s, dir,
        Seq(graft.pipeline.ScanPruning.ColumnRange("sid",
          Some(target), Some(target))))
        .orderBy("doc_id")
    }),

    // S4+++++ — `ns.t.manifests` metadata table: per-partition-dir
    // totals of the current snapshot (this layout's manifest unit);
    // same one-file-per-partition fixture as q_snapshot_files, so the
    // file and row totals are the per-flag group counts.
    "q_snapshot_manifests" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_quantity"), col("l_returnflag"))
      val dir = java.nio.file.Files.createTempDirectory("snapman")
        .toString + "/li_man"
      graft.pipeline.Snapshot.createOrReplacePartitioned(
        li.repartition(col("l_returnflag")), dir, Seq("l_returnflag"))
      new TableStore(s).registerSnapshot("silver", "li_man", dir)
      s.sql("""SELECT path, added_data_files_count, added_rows_count
               FROM iceberg.silver.li_man.manifests ORDER BY path""")
    }),

    // S4++ — Iceberg's create_changelog_view procedure over the
    // two-version fixture: registers a temp view of Snapshot.diff
    // (oldest retained -> live by default) and reads it back — the
    // CALL-surface spelling of q_snapshot_diff, same oracle.
    "q_changelog_call" -> ((s, d) => {
      val dir = java.nio.file.Files.createTempDirectory("snapclv")
        .toString + "/orders_clv"
      silver2v(s, d, dir)
      new TableStore(s).registerSnapshot("silver", "orders_clv", dir)
      // identifier fields stored ONCE on the table (Iceberg's SET
      // IDENTIFIER FIELDS) — the changelog call then needs no
      // identifier_columns argument
      s.sql("ALTER TABLE silver.orders_clv SET IDENTIFIER FIELDS order_id")
      val view = s.sql("""CALL iceberg.system.create_changelog_view(
               table => 'silver.orders_clv')""")
        .head().getString(0)
      s.sql(s"SELECT order_id, op FROM $view ORDER BY order_id")
    }),

    // S4+++++ — `ns.t.partitions` metadata table: the files table
    // rolled up per partition (record_count, file_count) over a
    // TWO-version table — proving it reads the current snapshot only.
    "q_snapshot_partitions" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_quantity"), col("l_returnflag"))
      val dir = java.nio.file.Files.createTempDirectory("snapparts")
        .toString + "/li_parts"
      graft.pipeline.Snapshot.createOrReplacePartitioned(
        li.filter(col("l_quantity") <= 25)
          .repartition(col("l_returnflag")), dir,
        Seq("l_returnflag"), keepVersions = 2)
      graft.pipeline.Snapshot.createOrReplacePartitioned(
        li.repartition(col("l_returnflag")), dir,
        Seq("l_returnflag"), keepVersions = 2)
      new TableStore(s).registerSnapshot("silver", "li_parts", dir)
      s.sql("""SELECT partition, record_count, file_count
               FROM silver.li_parts.partitions ORDER BY partition""")
    }),

    // S4+++++ — `ns.t.all_files` metadata table: per-file stats across
    // EVERY retained version with the version column — v1 is the
    // quantity-capped subset, v2 the full table, so the oracle's two
    // unioned groupings pin that both versions' files are listed.
    "q_snapshot_all_files" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_quantity"), col("l_returnflag"))
      val dir = java.nio.file.Files.createTempDirectory("snapallf")
        .toString + "/li_allf"
      graft.pipeline.Snapshot.createOrReplacePartitioned(
        li.filter(col("l_quantity") <= 25)
          .repartition(col("l_returnflag")), dir,
        Seq("l_returnflag"), keepVersions = 2)
      graft.pipeline.Snapshot.createOrReplacePartitioned(
        li.repartition(col("l_returnflag")), dir,
        Seq("l_returnflag"), keepVersions = 2)
      new TableStore(s).registerSnapshot("silver", "li_allf", dir)
      s.sql("""SELECT version, partition, record_count
               FROM silver.li_allf.all_files ORDER BY version, partition""")
    }),

    // S4+++++ — `ns.t.all_manifests`: the manifests rollup across every
    // retained version (same two-version fixture as all_files, so the
    // per-version per-flag counts are the oracle).
    "q_snapshot_all_manifests" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_quantity"), col("l_returnflag"))
      val dir = java.nio.file.Files.createTempDirectory("snapallm")
        .toString + "/li_allm"
      graft.pipeline.Snapshot.createOrReplacePartitioned(
        li.filter(col("l_quantity") <= 25)
          .repartition(col("l_returnflag")), dir,
        Seq("l_returnflag"), keepVersions = 2)
      graft.pipeline.Snapshot.createOrReplacePartitioned(
        li.repartition(col("l_returnflag")), dir,
        Seq("l_returnflag"), keepVersions = 2)
      new TableStore(s).registerSnapshot("silver", "li_allm", dir)
      s.sql("""SELECT version, path, added_data_files_count,
                      added_rows_count
               FROM silver.li_allm.all_manifests ORDER BY version, path""")
    }),

    // The reference's MERGE INTO statement VERBATIM
    // (`merge_orders_silver.py:135-147`, incl. the `iceberg.` prefix)
    // through spark.sql → GraftMergeCommand; result read back through
    // the catalog and oracle-checked against the same DuckDB twin as
    // the DataFrame-API merge.
    "q_cdc_silver_merge_sql" -> ((s, d) => {
      val store = new TableStore(s)
      val bronze = bronzeOf(s, d)
      store.register("silver", "orders_current",
        Silver.rebuild(bronze).limit(0))
      store.stage("staging_orders", Silver.staged(bronze))
      s.sql("""
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
                  s.last_change_ts)""")
      tsToStr(store.table("silver", "orders_current"), "last_change_ts")
        .orderBy("order_id")
    }),

    // §1.2 DECIMAL hardening variant: amount_eur carried as
    // DECIMAL(10,2) end-to-end (cleaned string → decimal, exact). The
    // COMPARED column is the decimal's canonical string — DECIMAL
    // physical bytes hash differently across engines (the q_tfidf
    // lesson), the string form doesn't.
    "q_cdc_silver_decimal" -> ((s, d) =>
      tsToStr(Silver.rebuild(bronzeOf(s, d),
          org.apache.spark.sql.types.DecimalType(10, 2)),
        "last_change_ts")
        .withColumn("amount_eur", col("amount_eur").cast("string"))
        .orderBy("order_id")),

    "q_cdc_checkpoint" -> ((s, d) => {
      val bronze = bronzeOf(s, d)
      val last = bronze.agg(max("offset")).collect()(0).getLong(0)
      val cp = Checkpoints.advance(Checkpoints.empty(s), "orders_silver",
        last, java.sql.Timestamp.valueOf("2026-01-01 00:00:00"))
      cp.select("pipeline", "last_offset").orderBy("pipeline")
    }),

    "q_privacy_current" -> ((s, d) => {
      val silver = Silver.rebuild(bronzeOf(s, d))
      tsToStr(Mask.pseudonymize(silver, "user_id", Salt, "user_key"),
        "last_change_ts").orderBy("order_id")
    }),

    // ST2 (batch mode) — the flatMapGroupsWithState changelog compactor
    // over the whole event log: state starts empty, so output is the
    // pure compaction — every key whose latest event is a non-delete
    // emits exactly one INSERT action (the silver merge rows, as a
    // changelog).
    "q_changelog_batch" -> ((s, d) =>
      graft.streaming.Changelog.fromBronze(bronzeOf(s, d))
        .select(col("order_id"), col("action"), col("user_id"),
          col("amount_eur"), col("status"), col("ts_ms"))
        .orderBy("order_id")),

    // P11/O2 — newest-payload peek (`/root/reference/README.md:207`):
    // substring + ORDER BY ts DESC + LIMIT. Sorting on the formatted
    // string (chronologically sortable) keeps both engines identical.
    "q_payload_peek" -> ((s, d) =>
      tsToStr(bronzeOf(s, d), "kafka_ts")
        .select(col("partition"), col("offset"), col("kafka_ts"),
          substring(col("v"), 1, 80).as("v_peek"))
        .orderBy(col("kafka_ts").desc, col("partition"), col("offset"))
        .limit(3)),

    // S8/S10 — the privacy layer built and consumed as the reference's
    // Trino statements (`README.md:105-121`): DROP VIEW IF EXISTS +
    // CREATE VIEW through spark.sql (late-binding, incl. the iceberg
    // prefix; Trino's to_hex(sha256(to_utf8(x))) spelled sha2(x, 256)
    // — same lowercase-hex value), then queried under the qualified
    // name. The masking expression must hash-match Mask.pseudonymize.
    "q_privacy_view" -> ((s, d) => {
      val store = new TableStore(s)
      store.createNamespace("silver")
      val silver = Silver.rebuild(bronzeOf(s, d))
      store.register("silver", "orders_current", silver)
      s.sql("DROP VIEW IF EXISTS iceberg.silver.orders_current_priv")
      s.sql(s"""
        CREATE VIEW iceberg.silver.orders_current_priv AS
        SELECT
          order_id,
          sha2(cast(user_id as STRING) || '::$Salt', 256) AS user_key,
          amount_eur,
          status,
          last_change_ts
        FROM iceberg.silver.orders_current""")
      s.sql("""SELECT order_id, user_key, amount_eur, status
               FROM silver.orders_current_priv
               WHERE amount_eur > 500.0 ORDER BY order_id""")
    }),

    // S8/S10 — the SAME view DDL in the reference's own Trino dialect,
    // text-for-text (`README.md:106-116`): to_hex(sha256(to_utf8(…)))
    // through the GraftExtensions shims and Trino's unbounded
    // `cast(user_id as varchar)` through the parser's missing-size
    // retry. Trino's to_hex is UPPERCASE (Guava base16) — faithfully
    // preserved, so user_key here is upper(q_privacy_view.user_key)
    // and the oracle says upper(sha256(…)).
    "q_privacy_view_trino" -> ((s, d) => {
      val store = new TableStore(s)
      store.createNamespace("silver")
      val silver = Silver.rebuild(bronzeOf(s, d))
      store.register("silver", "orders_current", silver)
      s.sql("DROP VIEW IF EXISTS iceberg.silver.orders_current_priv")
      s.sql(s"""
CREATE VIEW iceberg.silver.orders_current_priv AS
SELECT
  order_id,
  to_hex(sha256(to_utf8(cast(user_id as varchar) || '::$Salt'))) AS user_key,
  amount_eur,
  status,
  last_change_ts
FROM iceberg.silver.orders_current""")
      s.sql("""SELECT order_id, user_key, amount_eur, status
               FROM silver.orders_current_priv
               WHERE amount_eur > 500.0 ORDER BY order_id""")
    }),

    // Privacy audit: k-anonymity over quasi-identifiers (status +
    // generalized amount band) on the silver snapshot — groups smaller
    // than k are re-identifiable. Single partial-aggregated shuffle.
    "q_k_anon" -> ((s, d) => {
      val silver = Silver.rebuild(bronzeOf(s, d))
      Mask.kAnonymity(
        silver.select(col("status"),
          Mask.generalize(col("amount_eur"), 100.0).as("amount_band")),
        Seq("status", "amount_band"), k = 5)
        .orderBy("status", "amount_band")
    }),

    // X14b — l-diversity audit over the same quasi-identifiers: a large
    // group whose user_id takes < l distinct values still leaks the
    // sensitive attribute. Single partial-agg shuffle (count_distinct
    // plans two-phase).
    "q_l_diversity" -> ((s, d) => {
      val silver = Silver.rebuild(bronzeOf(s, d))
      Mask.lDiversity(
        silver.select(col("status"), col("user_id"),
          Mask.generalize(col("amount_eur"), 100.0).as("amount_band")),
        Seq("status", "amount_band"), "user_id", l = 3)
        .orderBy("status", "amount_band")
    }),

    // X14c — t-closeness audit over the same quasi-identifiers: group
    // cohort distributions vs the table-wide distribution (total
    // variation), exact-integer numerators so both engines agree
    // bit-for-bit. t = 1/5.
    "q_t_closeness" -> ((s, d) => {
      val silver = Silver.rebuild(bronzeOf(s, d))
      Mask.tCloseness(
        silver.select(col("status"),
          Mask.generalize(col("amount_eur"), 100.0).as("amount_band"),
          (col("user_id") % 10).as("cohort")),
        Seq("status", "amount_band"), "cohort", tNum = 1, tDen = 5)
        .orderBy("status", "amount_band")
    }),

    // X14d — local-DP randomized-response release: the sensitive bit
    // (user cohort parity) flips per subject with probability 1/4
    // (p = 3/4 → ε = ln 3), coin = salted id-stable md5 bucket; the
    // per-status debiased estimator recovers the true proportion. The
    // audit pairs π̂ with the true fraction so the estimator's
    // validity is itself oracle-checked.
    "q_dp_release" -> ((s, d) => {
      val silver = Silver.rebuild(bronzeOf(s, d))
        .withColumn("bit", (col("user_id") % 2).cast("int"))
      val released = Mask.randomizedResponse(
        silver, "order_id", "bit", pNum = 3, pDen = 4, salt = "RR1")
      Mask.rrEstimate(released, Seq("status"), 3, 4)
        .join(silver.groupBy("status")
          .agg((sum(col("bit").cast("long")).cast("double") /
            count(lit(1))).as("true_frac")), Seq("status"))
        .orderBy("status")
    }),

    // S14 — SCD Type 2 dimension history from the same bronze log the
    // reference keeps only current state from: one row per (order,
    // version) with [valid_from, valid_to) intervals, deletes closing
    // the open version. One key-shuffle (the lead window) — the same
    // exchange the silver rebuild pays.
    "q_scd2_build" -> ((s, d) =>
      scd2Out(Scd2.build(Silver.changes(bronzeOf(s, d)),
        Scd2Keys, "ts_ms", Seq("offset"), Scd2Values))),

    // S14' — the incremental twin: the log replayed as 3 offset-range
    // micro-batches through Scd2.merge (dimension never windowed, only
    // left-joined to the broadcast batch-key frame). Equivalence with
    // the one-shot build is the oracle (same SQL).
    "q_scd2_incremental" -> ((s, d) => {
      val ch = Silver.changes(bronzeOf(s, d))
      val bounds = ch.agg(min("offset"), max("offset")).collect()(0)
      val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
      val step = math.max(1L, (hi - lo + 3) / 3)
      val dim0 = Scd2.build(ch.limit(0), Scd2Keys, "ts_ms",
        Seq("offset"), Scd2Values)
      val folded = (0 until 3).foldLeft(dim0) { (dim, i) =>
        val b = ch.filter(col("offset") > lo - 1 + i * step &&
          col("offset") <= lo - 1 + (i + 1L) * step)
        Scd2.merge(dim, b, Scd2Keys, "ts_ms", Seq("offset"), Scd2Values)
      }
      scd2Out(folded)
    }),

    // X20 — the MERGE-ON-READ dimension maintenance arm end-to-end:
    // bootstrap the dimension from the first half of the log
    // (copy-on-write), fold the second half in as an O(batch) sidecar
    // commit (base files untouched — SoakScd2 prices it flat), read
    // back through the sidecar merge. Same oracle as the one-shot
    // build: MOR maintenance must be indistinguishable.
    "q_scd2_mor" -> ((s, d) => {
      val ch = Silver.changes(bronzeOf(s, d))
      val bounds = ch.agg(min("offset"), max("offset")).collect()(0)
      val cut = (bounds.getLong(0) + bounds.getLong(1)) / 2
      val dir = java.nio.file.Files.createTempDirectory("scd2morq")
        .toString + "/dim"
      graft.pipeline.Snapshot.createOrReplace(
        Scd2.build(ch.filter(col("offset") <= cut), Scd2Keys, "ts_ms",
          Seq("offset"), Scd2Values), dir, keepVersions = 2)
      graft.cdc.Scd2.mergeMor(s, dir, ch.filter(col("offset") > cut),
        Scd2Keys, "ts_ms", Seq("offset"), Scd2Values)
      require(graft.pipeline.Snapshot.morVersions(dir) == Seq(2L),
        "the dimension merge must take the sidecar path")
      scd2Out(graft.pipeline.Snapshot.read(s, dir))
    }),

    // X20' — temporal join (FOR SYSTEM_TIME AS OF): each order probes
    // the dimension at its OWN staggered event time (+0/45/90/135 min
    // by key), landing on the insert version, the updated version, or
    // NULL after a delete — the event-time-correct enrichment a plain
    // current-state join silently gets wrong. One key-shuffle join,
    // per-key fan-out bounded by the key's change count.
    "q_temporal_join" -> ((s, d) => {
      val dim = Scd2.build(Silver.changes(bronzeOf(s, d)),
        Scd2Keys, "ts_ms", Seq("offset"), Scd2Values)
      val probes = Tables.orders(s, d).select(
        col("o_orderkey").cast("int").as("order_id"),
        (unix_millis(col("o_orderdate").cast("timestamp")) +
          (col("o_orderkey") % 4) * 2700000L).as("probe_ms"))
      Scd2.temporalJoin(probes, dim, Scd2Keys, "probe_ms")
        .select(col("order_id"),
          date_format(Envelope.lastChangeTs(col("probe_ms")),
            "yyyy-MM-dd HH:mm:ss").as("probe_ts"),
          col("_dim_status").as("status"),
          col("_dim_amount_eur").as("amount_eur"),
          date_format(Envelope.lastChangeTs(col("_dim_valid_from_ms")),
            "yyyy-MM-dd HH:mm:ss").as("valid_from"))
        .orderBy("order_id")
    }),

    // S14'' — point-in-time read of the dimension: state as of the
    // midpoint of the event-time range (`valid_from <= T <
    // coalesce(valid_to, ∞)`) — what a reproducible training-data
    // snapshot or an audit query asks the history table for.
    "q_scd2_asof" -> ((s, d) => {
      val ch = Silver.changes(bronzeOf(s, d))
      val b = ch.agg(min("ts_ms"), max("ts_ms")).collect()(0)
      val cut = (b.getLong(0) + b.getLong(1)) / 2
      scd2Out(Scd2.build(ch, Scd2Keys, "ts_ms", Seq("offset"), Scd2Values)
        .filter(col("valid_from_ms") <= cut &&
          (col("valid_to_ms").isNull || col("valid_to_ms") > cut)))
    }),

    // S6/S7/S8/S9 — the reference's own DDL statement TEXT through
    // spark.sql, building the catalog from scratch: CREATE NAMESPACE ×3
    // (`merge_orders_silver.py:25-27`), both CREATE TABLE IF NOT EXISTS
    // (`ingest_orders_raw.py:24-34` under its `demo` catalog spelling;
    // `merge_orders_silver.py:30-47`), DROP VIEW IF EXISTS + CREATE
    // VIEW (`README.md:105-116`; the Trino-only scalars
    // to_hex(sha256(to_utf8(x))) and bare `varchar` are spelled in
    // Spark dialect — sha2(x, 256), STRING — the one mechanical edit a
    // porting user makes), then the SHOW TABLES listing itself as SQL.
    // S9+ — SHOW PARTITIONS verbatim over a partitioned snapshot: the
    // live snapshot's Hive-style fragments, driven by REAL lineitem
    // partition values (oracle recomputes them), plus the partial-spec
    // filter arm proven by the suite.
    "q_show_partitions" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_quantity"), col("l_returnflag"))
      val dir = java.nio.file.Files.createTempDirectory("showpq")
        .toString + "/li_parts"
      graft.pipeline.Snapshot.createOrReplacePartitioned(
        li, dir, Seq("l_returnflag"))
      new TableStore(s).registerSnapshot("silver", "li_parts", dir)
      s.sql("SHOW PARTITIONS iceberg.silver.li_parts")
        .orderBy("partition")
    }),

    // S12+ (r10) — partition-spec EVOLUTION end-to-end, Iceberg's
    // `ALTER TABLE … ADD PARTITION FIELD` (identity): v1 commits
    // partitioned by returnflag; the ALTER is metadata-only (the live
    // layout is untouched until the next commit — SnapshotSpec pins
    // that); the next spec-aware commit writes returnflag/linestatus.
    // Old files keep the old spec: v1 stays retained in its single-
    // level layout, and `.all_files` surfaces the UNION of layouts —
    // the oracle recomputes both generations' fragments from lineitem.
    "q_partition_evolution" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_quantity"),
          col("l_returnflag"), col("l_linestatus"))
      val dir = java.nio.file.Files.createTempDirectory("pspecq")
        .toString + "/li_evo"
      graft.pipeline.Snapshot.createOrReplacePartitioned(
        li.repartition(col("l_returnflag")), dir,
        Seq("l_returnflag"), keepVersions = 3)
      new TableStore(s).registerSnapshot("silver", "li_evo", dir)
      s.sql("ALTER TABLE iceberg.silver.li_evo ADD PARTITION FIELD" +
        " l_linestatus")
      graft.pipeline.Snapshot.createOrReplaceCurrentSpec(
        li.repartition(col("l_returnflag"), col("l_linestatus")), dir,
        keepVersions = 3)
      s.sql("""SELECT version, partition,
                      sum(record_count) AS record_count
               FROM iceberg.silver.li_evo.all_files
               GROUP BY version, partition
               ORDER BY version, partition""")
    }),

    // S9+ — ALTER TABLE RENAME TO verbatim: catalog-only rename of a
    // snapshot-backed table; the read through the NEW name returns the
    // same rows (oracle = the region table), the old name is gone
    // (asserted in DdlSqlSpec).
    "q_rename_table" -> ((s, d) => {
      val dir = java.nio.file.Files.createTempDirectory("renameq")
        .toString + "/t"
      graft.pipeline.Snapshot.createOrReplace(Tables.region(s, d), dir)
      new TableStore(s).registerSnapshot("meta", "region_old", dir)
      s.sql("ALTER TABLE iceberg.meta.region_old RENAME TO meta.region_new")
      s.sql("""SELECT r_regionkey, r_name FROM meta.region_new
               ORDER BY r_regionkey""")
    }),

    // S9+ — TBLPROPERTIES round-trip verbatim: SET (merge semantics:
    // the second statement overwrites one key, keeps the other), UNSET,
    // SHOW — the surviving key-sorted rows are the oracle.
    "q_tblproperties" -> ((s, d) => {
      val dir = java.nio.file.Files.createTempDirectory("tblprops")
        .toString + "/t"
      graft.pipeline.Snapshot.createOrReplace(
        Tables.region(s, d), dir)
      new TableStore(s).registerSnapshot("meta", "region_props", dir)
      s.sql("""ALTER TABLE iceberg.meta.region_props SET TBLPROPERTIES
        ('write.format.default'='parquet',
         'commit.retry.num-retries'='4')""")
      s.sql("""ALTER TABLE meta.region_props SET TBLPROPERTIES
        ('commit.retry.num-retries'='6', 'history.expire.min'='1')""")
      s.sql("""ALTER TABLE meta.region_props UNSET TBLPROPERTIES
        IF EXISTS ('history.expire.min', 'not.there')""")
      s.sql("SHOW TBLPROPERTIES meta.region_props").orderBy("key")
    }),

    "q_show_tables" -> ((s, d) => {
      TableStore.reset(s) // a from-scratch catalog, order-independent
      s.sql("CREATE NAMESPACE IF NOT EXISTS iceberg.bronze")
      s.sql("CREATE NAMESPACE IF NOT EXISTS iceberg.silver")
      s.sql("CREATE NAMESPACE IF NOT EXISTS iceberg.monitoring")
      s.sql("""
        CREATE TABLE IF NOT EXISTS demo.bronze.orders_cdc_raw (
          topic STRING,
          partition INT,
          offset BIGINT,
          kafka_ts TIMESTAMP,
          k STRING,
          v STRING,
          ingested_at TIMESTAMP
        ) USING iceberg""")
      s.sql("""
        CREATE TABLE IF NOT EXISTS iceberg.silver.orders_current (
          order_id INT,
          user_id INT,
          amount_eur DOUBLE,
          status STRING,
          last_change_ts TIMESTAMP
        ) USING iceberg""")
      s.sql("""
        CREATE TABLE IF NOT EXISTS iceberg.monitoring.cdc_checkpoints (
          pipeline STRING,
          last_offset BIGINT,
          updated_at TIMESTAMP
        ) USING iceberg""")
      s.sql("DROP VIEW IF EXISTS iceberg.silver.orders_current_priv")
      s.sql(s"""
        CREATE VIEW iceberg.silver.orders_current_priv AS
        SELECT
          order_id,
          sha2(cast(user_id as STRING) || '::$Salt', 256) AS user_key,
          amount_eur,
          status,
          last_change_ts
        FROM iceberg.silver.orders_current""")
      s.sql("SHOW SCHEMAS FROM iceberg") // README.md:200, smoke
      s.sql("SHOW TABLES FROM iceberg")
        .orderBy("namespace", "table_name")
    }),

    // S7' — Iceberg schema evolution VERBATIM: ALTER TABLE ADD COLUMNS
    // / RENAME COLUMN / DROP COLUMN on a registered table. Metadata-only
    // like Iceberg's (existing rows read NULL in the added columns, the
    // rename carries the data, nothing is rewritten — the registered
    // plan just gains a projection), then the evolved table is queried
    // under its qualified name.
    "q_schema_evolution" -> ((s, d) => {
      TableStore.reset(s)
      new TableStore(s).register("evo", "orders", Tables.orders(s, d))
      s.sql("""ALTER TABLE iceberg.evo.orders
               ADD COLUMNS (load_src STRING, ingest_batch INT)""")
      s.sql("ALTER TABLE iceberg.evo.orders RENAME COLUMN o_orderpriority TO priority")
      s.sql("ALTER TABLE iceberg.evo.orders DROP COLUMN o_orderstatus")
      // Iceberg type evolution: the INT column widens to BIGINT
      // (schema_match pins the promotion took effect)
      s.sql("""ALTER TABLE iceberg.evo.orders
               ALTER COLUMN ingest_batch TYPE BIGINT""")
      s.sql("""SELECT o_orderkey, o_custkey, priority, load_src,
                      ingest_batch
               FROM iceberg.evo.orders ORDER BY o_orderkey LIMIT 200""")
    }),

    // S5' — the rest of Iceberg's DML trio VERBATIM: standalone
    // DELETE FROM + UPDATE on a registered table (no-join single-pass
    // plans — the condition pushes to the scan), then the mutated
    // table queried under its qualified name. Integer/string
    // assignments only: exact on both engines by construction.
    "q_dml_update_delete" -> ((s, d) => {
      TableStore.reset(s)
      new TableStore(s).register("dml", "orders", Tables.orders(s, d))
      s.sql("DELETE FROM iceberg.dml.orders WHERE o_orderstatus = 'F'")
      s.sql("""UPDATE dml.orders
               SET o_custkey = o_custkey + 1000000,
                   o_orderpriority = concat('RUSH-', o_orderpriority)
               WHERE o_orderpriority LIKE '1-%'""")
      s.sql("""SELECT o_orderkey, o_custkey, o_orderstatus,
                      o_orderpriority
               FROM iceberg.dml.orders ORDER BY o_orderkey""")
    }),

    // S5'' (r07) — the SAME statements against a SNAPSHOT-BACKED
    // table: each one is an atomic versioned commit (history asserted
    // in DdlSqlSpec); the final read-back shares
    // q_dml_update_delete's oracle shape.
    "q_dml_snapshot" -> ((s, d) => {
      val dir = java.nio.file.Files.createTempDirectory("dmlsnapq")
        .toString + "/orders_dml"
      graft.pipeline.Snapshot.createOrReplace(
        Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
          col("o_orderstatus"), col("o_orderpriority")),
        dir, keepVersions = 3)
      new TableStore(s).registerSnapshot("dmlsnap", "orders", dir)
      s.sql("DELETE FROM iceberg.dmlsnap.orders WHERE o_orderstatus = 'F'")
      s.sql("""UPDATE dmlsnap.orders
               SET o_custkey = o_custkey + 1000000,
                   o_orderpriority = concat('RUSH-', o_orderpriority)
               WHERE o_orderpriority LIKE '1-%'""")
      s.sql("""SELECT o_orderkey, o_custkey, o_orderstatus,
                      o_orderpriority
               FROM iceberg.dmlsnap.orders ORDER BY o_orderkey""")
    }),

    // S5-MOR (r11) — MERGE-ON-READ DML end-to-end: the same trio of
    // statements as q_dml_snapshot, but the table opts into Iceberg's
    // write.{delete,update,merge}.mode = merge-on-read, so each
    // statement commits an equality-delete/append SIDECAR instead of
    // rewriting the snapshot (base files stay byte-identical —
    // asserted mid-flight), reads merge the sidecars, and
    // CALL rewrite_position_delete_files compacts back to
    // copy-on-write before the final read. The oracle recomputes the
    // whole chain relationally — MOR reads must be indistinguishable
    // from copy-on-write.
    "q_dml_mor" -> ((s, d) => {
      val dir = java.nio.file.Files.createTempDirectory("dmlmorq")
        .toString + "/orders_mor"
      graft.pipeline.Snapshot.createOrReplace(
        Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
          col("o_orderstatus"), col("o_orderpriority")),
        dir, keepVersions = 4)
      new TableStore(s).registerSnapshot("mor", "orders", dir)
      s.sql("""ALTER TABLE iceberg.mor.orders SET TBLPROPERTIES(
        'write.delete.mode'='merge-on-read',
        'write.update.mode'='merge-on-read',
        'write.merge.mode'='merge-on-read')""")
      s.sql("DELETE FROM iceberg.mor.orders WHERE o_orderstatus = 'F'")
      s.sql("""UPDATE mor.orders
               SET o_custkey = o_custkey + 1000000,
                   o_orderpriority = concat('RUSH-', o_orderpriority)
               WHERE o_orderpriority LIKE '1-%'""")
      Tables.orders(s, d)
        .filter(col("o_orderkey") % 7 === 0)
        .select(col("o_orderkey").as("k"), col("o_custkey").as("c"))
        .createOrReplaceTempView("mor_src")
      s.sql("""MERGE INTO mor.orders t USING mor_src s
               ON t.o_orderkey = s.k
               WHEN MATCHED THEN UPDATE SET
                 o_custkey = s.c + 5000000, o_orderstatus = 'M'
               WHEN NOT MATCHED THEN INSERT
                 (o_orderkey, o_custkey, o_orderstatus, o_orderpriority)
                 VALUES (s.k, s.c + 5000000, 'N', '9-NEW')""")
      // the gate that makes this query MEAN merge-on-read: all three
      // statements stacked sidecar commits on the untouched base
      require(graft.pipeline.Snapshot.morVersions(dir) ==
        Seq(2L, 3L, 4L),
        "DML must take the merge-on-read sidecar path")
      s.sql("CALL iceberg.system.rewrite_position_delete_files(" +
        "table => 'mor.orders')")
      require(graft.pipeline.Snapshot.morVersions(dir).isEmpty,
        "compaction must collapse the sidecars to copy-on-write")
      s.sql("""SELECT o_orderkey, o_custkey, o_orderstatus,
                      o_orderpriority
               FROM iceberg.mor.orders ORDER BY o_orderkey""")
    }),

    // S5-MOR + S17 (r12) — equality deletes SCOPED TO IDENTIFIER
    // FIELDS: with `SET IDENTIFIER FIELDS o_orderkey` the MOR delete
    // files carry ONLY the key column (Iceberg's equality_ids — a
    // fraction of the row bytes at 100 TB), REQUIRED by reading the
    // sidecar schema inside the query; the oracle proves the
    // key-scoped removal computes the identical final state.
    "q_dml_mor_ident" -> ((s, d) => {
      val dir = java.nio.file.Files.createTempDirectory("dmlmidq")
        .toString + "/orders_mi"
      graft.pipeline.Snapshot.createOrReplace(
        Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
          col("o_orderstatus"), col("o_orderpriority")),
        dir, keepVersions = 4)
      new TableStore(s).registerSnapshot("mi", "orders", dir)
      s.sql("""ALTER TABLE iceberg.mi.orders SET TBLPROPERTIES(
        'write.delete.mode'='merge-on-read',
        'write.update.mode'='merge-on-read')""")
      s.sql("ALTER TABLE mi.orders SET IDENTIFIER FIELDS o_orderkey")
      s.sql("DELETE FROM iceberg.mi.orders WHERE o_orderstatus = 'F'")
      s.sql("""UPDATE mi.orders
               SET o_orderpriority = concat('RUSH-', o_orderpriority)
               WHERE o_orderpriority LIKE '1-%'""")
      // the claims that make this query mean what it says: sidecar
      // commits stacked AND their delete files key-only
      require(graft.pipeline.Snapshot.morVersions(dir) == Seq(2L, 3L),
        "DML must take the merge-on-read sidecar path")
      graft.pipeline.Snapshot.morCommits(dir).foreach { c =>
        require(c.deletes.isDefined, s"v${c.version} must carry deletes")
        val sch = s.read.parquet(c.deletes.get).columns.toSeq
        require(sch == Seq("o_orderkey"),
          s"delete file must carry only the identifier fields: $sch")
      }
      s.sql("""SELECT o_orderkey, o_custkey, o_orderstatus,
                      o_orderpriority
               FROM iceberg.mi.orders ORDER BY o_orderkey""")
    }),

    // S5-MOR' (r11) — the POSITION-delete arm of merge-on-read: with
    // 'write.mor.deletes'='position' the DELETE and UPDATE commit
    // (file id, row position) sidecars — Iceberg's content-1 delete
    // files, captured through Spark's `_metadata` lineage columns and
    // stored as rename-stable relative ids — then INSERT fast-appends,
    // and compaction collapses everything. Gates assert the position
    // path actually ran (pos_deletes dirs present, no equality dirs);
    // the oracle recomputes the chain relationally.
    "q_dml_mor_pos" -> ((s, d) => {
      val dir = java.nio.file.Files.createTempDirectory("dmlmorp")
        .toString + "/orders_morp"
      graft.pipeline.Snapshot.createOrReplace(
        Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
          col("o_orderstatus"), col("o_orderpriority")),
        dir, keepVersions = 4)
      new TableStore(s).registerSnapshot("morp", "orders", dir)
      s.sql("""ALTER TABLE iceberg.morp.orders SET TBLPROPERTIES(
        'write.delete.mode'='merge-on-read',
        'write.update.mode'='merge-on-read',
        'write.mor.deletes'='position')""")
      s.sql("DELETE FROM iceberg.morp.orders WHERE o_orderstatus = 'F'")
      s.sql("""UPDATE morp.orders
               SET o_custkey = o_custkey + 1000000,
                   o_orderpriority = concat('RUSH-', o_orderpriority)
               WHERE o_orderpriority LIKE '1-%'""")
      s.sql("""INSERT INTO morp.orders
               SELECT o_orderkey + 20000000, o_custkey, 'Z', '9-NEW'
               FROM morp.orders WHERE o_orderkey % 13 = 0""")
      require(graft.pipeline.Snapshot.morVersions(dir) ==
        Seq(2L, 3L, 4L),
        "DML must take the merge-on-read sidecar path")
      val posDirs = graft.pipeline.Snapshot.posDeleteDirsAsOf(dir, 4L)
      require(posDirs.size == 2 &&
        graft.pipeline.Snapshot.deleteDirsAsOf(dir, 4L).isEmpty,
        "position format must write pos_deletes and no equality files")
      s.sql("CALL iceberg.system.rewrite_position_delete_files(" +
        "table => 'morp.orders')")
      s.sql("""SELECT o_orderkey, o_custkey, o_orderstatus,
                      o_orderpriority
               FROM iceberg.morp.orders ORDER BY o_orderkey""")
    }),

    // S4++++++ (r11) — Iceberg's `.delete_files` metadata table over
    // the MOR sidecars: after a merge-on-read DELETE, the equality-
    // delete files (content 2) list with their record counts — rolled
    // up by content so the numbers are layout-independent.
    "q_delete_files" -> ((s, d) => {
      val dir = java.nio.file.Files.createTempDirectory("delfq")
        .toString + "/orders_df"
      graft.pipeline.Snapshot.createOrReplace(
        Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
          col("o_orderstatus")),
        dir, keepVersions = 3)
      new TableStore(s).registerSnapshot("morf", "orders", dir)
      s.sql("""ALTER TABLE morf.orders SET TBLPROPERTIES(
        'write.delete.mode'='merge-on-read')""")
      s.sql("DELETE FROM morf.orders WHERE o_orderstatus = 'F'")
      s.sql("""SELECT content, CAST(sum(record_count) AS BIGINT)
                 AS records
               FROM morf.orders.delete_files GROUP BY content""")
    }),

    // S4++++++ (r11) — Iceberg's `.entries` metadata table (flattened
    // data_file struct): one row per data file of the current snapshot
    // with the manifest-entry status — base files carry status 0
    // (existing) and the version that created their dir, a MOR
    // fast-append's file carries status 1 (added) at its own commit
    // version. Same one-file-per-partition fixture as q_snapshot_files
    // so record counts are the per-flag group counts.
    "q_snapshot_entries" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_quantity"), col("l_returnflag"))
      val dir = java.nio.file.Files.createTempDirectory("entriesq")
        .toString + "/li_entries"
      graft.pipeline.Snapshot.createOrReplacePartitioned(
        li.repartition(col("l_returnflag")), dir, Seq("l_returnflag"))
      graft.pipeline.Snapshot.morCommit(s, dir, deletes = None,
        appends = Some(s.range(1, 3).select(
          col("id").as("l_orderkey"),
          lit(5.0).as("l_quantity"),
          lit("Z").as("l_returnflag")).repartition(1)),
        operation = "append")
      new TableStore(s).registerSnapshot("ent", "li", dir)
      s.sql("""SELECT status, snapshot_id, partition, record_count
               FROM ent.li.entries ORDER BY snapshot_id, partition""")
    }),

    // S4++++++ (r11) — `.snapshots` now carries Iceberg's per-commit
    // operation + summary: a copy-on-write create (overwrite), a
    // merge-on-read DELETE (delete — zero data files added), and the
    // sidecar compaction (replace) each label their row; record_count
    // keeps the data-file semantics (the MOR delete does not shrink
    // it, exactly Iceberg's total-records).
    "q_snapshot_summary" -> ((s, d) => {
      val dir = java.nio.file.Files.createTempDirectory("snapsumq")
        .toString + "/orders_sum"
      graft.pipeline.Snapshot.createOrReplace(
        Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
          col("o_orderstatus")),
        dir, keepVersions = 4)
      new TableStore(s).registerSnapshot("sum", "orders", dir)
      s.sql("""ALTER TABLE sum.orders SET TBLPROPERTIES(
        'write.delete.mode'='merge-on-read')""")
      s.sql("DELETE FROM sum.orders WHERE o_orderstatus = 'F'")
      s.sql("CALL iceberg.system.rewrite_position_delete_files(" +
        "table => 'sum.orders')")
      s.sql("""SELECT version, is_current, operation, record_count
               FROM sum.orders.snapshots ORDER BY version""")
    }),

    // S12++ (r11) — HIDDEN-PARTITIONING transforms end-to-end, from
    // day one like Iceberg: CREATE TABLE … PARTITIONED BY
    // (years(ts), bucket(4,key)) records the spec before the table has
    // a layout, registerSnapshot applies it, and the first spec-aware
    // commit lays down derived Hive fragments
    // (`o_orderdate_year=1995/o_custkey_bucket=3`). The derived fields
    // are dropped on every read (the logical schema never carries
    // them), and the fragment values are cross-engine recomputable —
    // year() for the time transform, md5-derived hash % N for the
    // bucket — which is exactly what the oracle does.
    "q_partition_transforms" -> ((s, d) => {
      val dir = java.nio.file.Files.createTempDirectory("ptransq")
        .toString + "/orders_pt"
      s.sql("""CREATE TABLE IF NOT EXISTS iceberg.pt.orders (
                 o_orderkey BIGINT, o_custkey BIGINT,
                 o_orderdate TIMESTAMP_NTZ, o_totalprice DOUBLE)
               USING iceberg
               PARTITIONED BY (years(o_orderdate),
                               bucket(4, o_custkey))""")
      new TableStore(s).registerSnapshot("pt", "orders", dir)
      require(graft.pipeline.Snapshot.partitionSpec(dir) ==
        Seq("years(o_orderdate)", "bucket(4,o_custkey)"),
        "the CREATE-time spec must reach the layout at registration")
      graft.pipeline.Snapshot.createOrReplaceCurrentSpec(
        Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
          col("o_orderdate"), col("o_totalprice")),
        dir, keepVersions = 2)
      // reads hide the derived fields: logical schema only
      require(s.sql("SELECT * FROM pt.orders").columns.toSeq ==
        Seq("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"),
        "derived partition fields must stay hidden from reads")
      s.sql("""SELECT partition, record_count
               FROM pt.orders.partitions ORDER BY partition""")
    }),

    // S4+++ partition-scoped maintenance — Iceberg's
    // `rewrite_data_files(where => …)` arm: only the named partition
    // rewrites (8 small files → 1); the other fragments' files carry
    // forward BYTE-IDENTICAL into the new version (file counts
    // REQUIRED inside the query; CallSqlSpec checksums the bytes).
    // The oracle row proves content is untouched by the layout move.
    "q_rewrite_where" -> ((s, d) => {
      val dir = java.nio.file.Files.createTempDirectory("rww")
        .toString + "/orders"
      graft.pipeline.Snapshot.createOrReplacePartitioned(
        Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice"), col("o_orderstatus")).repartition(8),
        dir, Seq("o_orderstatus"), keepVersions = 2)
      new TableStore(s).registerSnapshot("rww", "orders", dir)
      def files(frag: String): Int = {
        import scala.jdk.CollectionConverters._
        val p = java.nio.file.Paths.get(dir, s"o_orderstatus=$frag")
        val st = java.nio.file.Files.list(p)
        try st.iterator().asScala.count(
          _.getFileName.toString.endsWith(".parquet"))
        finally st.close()
      }
      require(files("F") == 8 && files("O") == 8,
        "fixture must start with 8 files per fragment")
      val res = s.sql("""CALL iceberg.system.rewrite_data_files(
        table => 'rww.orders', where => "o_orderstatus = 'F'",
        target_file_count => 1)""").collect()
      require(res.head.getLong(0) == 8L && res.head.getLong(1) == 1L,
        s"where-scoped rewrite must report 8 -> 1: ${res.toSeq}")
      require(files("F") == 1 && files("O") == 8,
        "only the matched partition may change its layout")
      s.sql("""SELECT o_orderstatus, count(*) AS orders,
                 CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                   AS BIGINT) AS revenue_cents
               FROM rww.orders GROUP BY o_orderstatus
               ORDER BY o_orderstatus""")
    }),

    // S16 — ANALYZE TABLE … COMPUTE STATISTICS FOR COLUMNS verbatim:
    // the statement runs, the stats PERSIST as catalog metadata, and
    // this query reads them BACK from the catalog (not from the data)
    // — so the oracle match proves the whole loop: exact row count,
    // per-column null counts, numeric min/max, avg string length, and
    // the KMV distinct estimate, each recomputable in DuckDB with the
    // same md5-hash arithmetic as q_table_stats.
    "q_analyze" -> ((s, d) => {
      import s.implicits._
      val dir = java.nio.file.Files.createTempDirectory("anlz")
        .toString + "/orders"
      graft.pipeline.Snapshot.createOrReplace(
        Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
          col("o_orderstatus")), dir)
      new TableStore(s).registerSnapshot("anlz", "orders", dir)
      s.sql("""ANALYZE TABLE anlz.orders COMPUTE STATISTICS
               FOR COLUMNS o_orderkey, o_custkey, o_orderstatus""")
      val props = new TableStore(s).properties("anlz", "orders")
      val rowCount = props(graft.catalog.GraftStats.RowsKey).toLong
      val P = graft.catalog.GraftStats.ColPrefix
      Seq("o_custkey", "o_orderkey", "o_orderstatus").map { c =>
        (c, props(s"$P$c.nulls").toLong,
          props(s"$P$c.ndv").toDouble,
          props.get(s"$P$c.min").map(_.toDouble),
          props.get(s"$P$c.max").map(_.toDouble),
          props(s"$P$c.avgLen").toDouble, rowCount)
      }.toDF("column", "nulls", "ndv_est", "min_num", "max_num",
        "avg_len", "row_count").orderBy("column")
    }),

    // S16+ (r13) — INCREMENTAL column stats: ANALYZE on the 80%
    // base, then ONE fast-append commit of the 20% tail with
    // graft.stats.auto-refresh on — the post-commit refresh MERGES
    // the per-column stats forward (nulls/min/max arithmetic,
    // avgLen weighted by non-null counts, NDV by KMV-sketch union)
    // instead of dropping them, and this query reads the MERGED
    // numbers back from the catalog. The oracle replays the exact
    // merge arithmetic: per-part stats combined with the same
    // operation order, and the sketch union (k smallest of each
    // part, distinct, k smallest again) with the same md5-hash
    // estimator.
    "q_incremental_stats" -> ((s, d) => {
      import s.implicits._
      val dir = java.nio.file.Files.createTempDirectory("incst")
        .toString + "/orders"
      val all = Tables.orders(s, d).select(col("o_orderkey"),
        col("o_custkey"), col("o_orderstatus"))
      graft.pipeline.Snapshot.createOrReplace(
        all.filter(col("o_orderkey") % 5 =!= 0), dir, keepVersions = 2)
      new TableStore(s).registerSnapshot("incs", "orders", dir)
      s.sql("""ALTER TABLE incs.orders SET TBLPROPERTIES(
        'write.merge.mode'='merge-on-read',
        'graft.stats.auto-refresh'='true')""")
      s.sql("""ANALYZE TABLE incs.orders COMPUTE STATISTICS
               FOR COLUMNS o_orderkey, o_custkey, o_orderstatus""")
      all.filter(col("o_orderkey") % 5 === 0)
        .createOrReplaceTempView("incs_delta")
      s.sql("INSERT INTO incs.orders SELECT * FROM incs_delta")
      val props = new TableStore(s).properties("incs", "orders")
      require(props(graft.catalog.GraftStats.VersionKey) ==
        graft.pipeline.Snapshot.currentVersion(dir).get.toString,
        "the merged stats must be stamped CURRENT (still serving)")
      val rowCount = props(graft.catalog.GraftStats.RowsKey).toLong
      val P = graft.catalog.GraftStats.ColPrefix
      Seq("o_custkey", "o_orderkey", "o_orderstatus").map { c =>
        (c, props(s"$P$c.nulls").toLong,
          props(s"$P$c.ndv").toDouble,
          props.get(s"$P$c.min").map(_.toDouble),
          props.get(s"$P$c.max").map(_.toDouble),
          props(s"$P$c.avgLen").toDouble, rowCount)
      }.toDF("column", "nulls", "ndv_est", "min_num", "max_num",
        "avg_len", "row_count").orderBy("column")
    }),

    // S18 (r13) — COMMIT-WINDOW delta discovery: two fast-append MOR
    // commits land on a base snapshot, and commitsSince classifies
    // the window and hands back exactly the appended sidecar dirs —
    // the O(delta) read incremental consumers compose on. The query
    // returns the UNION OF THE SIDECAR FILES (never touching the
    // base), the oracle the rows that were appended — they match only
    // if the window discovery is exact. The delete-tainting and
    // rebase classifications are REQUIRED in-query.
    "q_commit_window" -> ((s, d) => {
      val dir = java.nio.file.Files.createTempDirectory("cwinq")
        .toString + "/t"
      val all = Tables.orders(s, d).select(col("o_orderkey"),
        col("o_custkey"), col("o_orderstatus"))
      graft.pipeline.Snapshot.createOrReplace(
        all.filter(col("o_orderkey") % 3 === 0), dir, keepVersions = 3)
      graft.pipeline.Snapshot.morCommit(s, dir, deletes = None,
        appends = Some(all.filter(col("o_orderkey") % 3 === 1)),
        operation = "append")
      graft.pipeline.Snapshot.morCommit(s, dir, deletes = None,
        appends = Some(all.filter(col("o_orderkey") % 3 === 2)),
        operation = "append")
      val win = graft.pipeline.Snapshot.commitsSince(dir, 1L)
      val dirs = win match {
        case graft.pipeline.Snapshot.CommitWindow.FastAppends(ds) =>
          require(ds.size == 2,
            s"two fast-append commits must expose two sidecars: $ds")
          ds
        case other => throw new IllegalStateException(
          s"append-only window must classify FastAppends: $other")
      }
      // materialize the sidecar union BEFORE the taint commits below —
      // the replace rolls the dir (and the sidecar files inside it)
      // into history, so a lazy read would dangle
      val delta = dirs.map(p => s.read.parquet(p))
        .reduce(_ unionByName _).localCheckpoint()
      // a delete commit TAINTS the window from the base…
      graft.pipeline.Snapshot.morCommit(s, dir,
        deletes = Some(all.filter(col("o_orderkey") % 3 === 0).limit(1)),
        appends = None, operation = "delete")
      require(graft.pipeline.Snapshot.commitsSince(dir, 1L)
        .isInstanceOf[graft.pipeline.Snapshot.CommitWindow.CarriesDeletes],
        "a delete commit must taint the window")
      // …and a copy-on-write replace re-bases it
      graft.pipeline.Snapshot.createOrReplace(all, dir, keepVersions = 3)
      require(graft.pipeline.Snapshot.commitsSince(dir, 2L)
        .isInstanceOf[graft.pipeline.Snapshot.CommitWindow.Rebased],
        "a replace commit must re-base the window")
      delta.orderBy("o_orderkey")
    }),

    // S13+/S12++ unified — STORAGE-PARTITIONED JOIN on snapshot
    // tables (Iceberg 1.8's SPJ over this layout): two snapshots
    // written under matching bucket(8, custkey) specs join AND
    // aggregate on the key with ZERO hash exchanges — the scans
    // report HashPartitioning(custkey, 8) from the bucket-named
    // files, so at 100 TB the recurring fact-dim join/MERGE never
    // shuffles either stored side. The plan shape is REQUIRED inside
    // the query (not just spec-pinned): the oracle row only goes
    // green when the zero-exchange plan produced it.
    "q_bucket_join" -> ((s, d) => {
      val base = java.nio.file.Files.createTempDirectory("bjoin").toString
      val od = base + "/orders"
      val cd = base + "/customer"
      graft.pipeline.Snapshot.setPartitionSpec(od,
        Seq("bucket(8,o_custkey)"))
      graft.pipeline.Snapshot.createOrReplaceCurrentSpec(
        Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_custkey"),
            col("o_totalprice")), od)
      graft.pipeline.Snapshot.setPartitionSpec(cd,
        Seq("bucket(8,c_custkey)"))
      graft.pipeline.Snapshot.createOrReplaceCurrentSpec(
        Tables.customer(s, d)
          .select(col("c_custkey"), col("c_mktsegment")), cd)
      val prev = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
      try {
        // broadcast off: the pin must prove storage partitioning, not
        // a broadcast that merely hides the shuffle
        s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val out = graft.pipeline.Snapshot.read(s, od)
          .join(graft.pipeline.Snapshot.read(s, cd),
            col("o_custkey") === col("c_custkey"))
          .groupBy(col("o_custkey"))
          .agg(count(lit(1)).as("order_count"),
            sum(round(col("o_totalprice") * 100).cast("long"))
              .as("revenue_cents"),
            max(col("c_mktsegment")).as("mktsegment"))
          .orderBy("o_custkey")
        out.collect() // materialize under the pinned conf
        val plan = out.queryExecution.executedPlan.toString
          .split("== Initial Plan ==")(0)
        require(!plan.contains("Exchange hashpartitioning"),
          s"storage-partitioned join must not hash-exchange:\n$plan")
        out
      } finally
        s.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }),

    // S13++ (r13) — COMPOSITE-key storage-partitioned join:
    // bucket(8, l_orderkey, l_linenumber) writes one murmur3 bucket
    // of the column TUPLE per file, so a join AND an aggregation on
    // the FULL composite key run with ZERO hash exchanges on both
    // stored sides — the multi-key MERGE shape (order_id + line)
    // that a single-column bucket spec still had to shuffle. The
    // zero-exchange plan is REQUIRED inside the query.
    "q_bucket_join_multi" -> ((s, d) => {
      val base = java.nio.file.Files.createTempDirectory("bjm").toString
      val d1 = base + "/l1"
      val d2 = base + "/l2"
      graft.pipeline.Snapshot.setPartitionSpec(d1,
        Seq("bucket(8,l_orderkey,l_linenumber)"))
      graft.pipeline.Snapshot.createOrReplaceCurrentSpec(
        Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_linenumber"),
            col("l_quantity")), d1)
      graft.pipeline.Snapshot.setPartitionSpec(d2,
        Seq("bucket(8,l_orderkey,l_linenumber)"))
      graft.pipeline.Snapshot.createOrReplaceCurrentSpec(
        Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_linenumber"),
            col("l_extendedprice")), d2)
      val prev = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
      try {
        s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val out = graft.pipeline.Snapshot.read(s, d1)
          .join(graft.pipeline.Snapshot.read(s, d2),
            Seq("l_orderkey", "l_linenumber"))
          .groupBy(col("l_orderkey"), col("l_linenumber"))
          .agg(count(lit(1)).as("pair_count"),
            sum(round(col("l_quantity") * 100).cast("long"))
              .as("qty_cents"),
            sum(round(col("l_extendedprice") * 100).cast("long"))
              .as("price_cents"))
          .orderBy("l_orderkey", "l_linenumber")
        out.collect() // materialize under the pinned conf
        val plan = out.queryExecution.executedPlan.toString
          .split("== Initial Plan ==")(0)
        require(!plan.contains("Exchange hashpartitioning"),
          s"composite-key storage-partitioned join must not " +
            s"hash-exchange:\n$plan")
        out
      } finally
        s.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }),

    // S4+++++++ (r07) — spark.wap.branch session mode end-to-end: the
    // low half of orders is live, the session pins a WAP branch, the
    // top half lands via plain INSERT (staged, live untouched —
    // asserted mid-flight), fast_forward publishes, and the read-back
    // equals the whole orders table (the oracle).
    "q_wap_session" -> ((s, d) => {
      val orders = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"))
      val mid = orders.agg(max("o_orderkey")).collect()(0).getLong(0) / 2
      val dir = java.nio.file.Files.createTempDirectory("wapsess")
        .toString + "/orders_wap2"
      graft.pipeline.Snapshot.createOrReplace(
        orders.filter(col("o_orderkey") <= mid), dir, keepVersions = 2)
      new TableStore(s).registerSnapshot("wap", "orders_s", dir)
      s.conf.set("spark.wap.branch", "etl_audit")
      try {
        orders.filter(col("o_orderkey") > mid)
          .createOrReplaceTempView("wap_src")
        s.sql("INSERT INTO wap.orders_s SELECT * FROM wap_src")
        // audit gate: live must be untouched while the write is staged
        require(graft.pipeline.Snapshot.read(s, dir).count() ==
          orders.filter(col("o_orderkey") <= mid).count(),
          "WAP staging must not touch live")
        s.sql("""CALL iceberg.system.fast_forward(
                 table => 'wap.orders_s', branch => 'etl_audit')""")
      } finally s.conf.unset("spark.wap.branch")
      s.sql("""SELECT o_orderkey, o_custkey, o_orderstatus
               FROM wap.orders_s ORDER BY o_orderkey""")
    }),

    // S4+++++++ (r10) — REF DDL verbatim, Iceberg's ALTER TABLE
    // extension grammar beside the procedural CALL surface: v1 = the
    // sub-200k-total orders, v2 = all; CREATE TAG pins v1 by DDL and
    // WRITE ORDERED BY sets the table write order (metadata-only; the
    // commit that follows writes range-clustered files — DdlSqlSpec
    // pins the layout, the oracle pins the CONTENT read back through
    // VERSION AS OF the tag).
    "q_ref_ddl" -> ((s, d) => {
      val orders = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val dir = java.nio.file.Files.createTempDirectory("refddlq")
        .toString + "/orders_ref"
      graft.pipeline.Snapshot.createOrReplace(
        orders.filter(col("o_totalprice") < 200000.0), dir,
        keepVersions = 3)
      new TableStore(s).registerSnapshot("refs", "orders_r", dir)
      s.sql("ALTER TABLE iceberg.refs.orders_r WRITE ORDERED BY" +
        " o_orderkey ASC")
      graft.pipeline.Snapshot.createOrReplaceCurrentSpec(
        orders, dir, keepVersions = 3)
      s.sql("ALTER TABLE refs.orders_r CREATE TAG audited AS OF VERSION 1")
      s.sql("""SELECT o_orderkey, o_custkey, o_totalprice
               FROM refs.orders_r VERSION AS OF 'audited'
               ORDER BY o_orderkey""")
    }),

    // S5+S7' (r10) — MERGE SCHEMA EVOLUTION (Iceberg's merge-schema
    // table property): the target starts WITHOUT o_totalprice; the
    // source carries it; with 'write.merge-schema'='true' the star
    // actions widen the target schema in the same statement — rows
    // UPDATEd or INSERTed from the source carry the new column,
    // untouched pre-existing rows read NULL (add-column semantics, no
    // rewrite). Target = even keys, source = keys divisible by 3, so
    // the statement exercises matched-update, not-matched-insert AND
    // untouched rows in one pass; the oracle recomputes all three.
    "q_merge_schema_evolution" -> ((s, d) => {
      val orders = Tables.orders(s, d)
      val dir = java.nio.file.Files.createTempDirectory("mergems")
        .toString + "/orders_ms"
      graft.pipeline.Snapshot.createOrReplace(
        orders.filter(col("o_orderkey") % 2 === 0)
          .select("o_orderkey", "o_custkey", "o_orderstatus"),
        dir, keepVersions = 2)
      val store = new TableStore(s)
      store.registerSnapshot("ms", "orders_t", dir)
      s.sql("""ALTER TABLE iceberg.ms.orders_t SET TBLPROPERTIES
               ('write.merge-schema'='true')""")
      orders.filter(col("o_orderkey") % 3 === 0)
        .select("o_orderkey", "o_custkey", "o_orderstatus",
          "o_totalprice")
        .createOrReplaceTempView("ms_src")
      s.sql("""MERGE INTO iceberg.ms.orders_t t USING ms_src s
               ON t.o_orderkey = s.o_orderkey
               WHEN MATCHED THEN UPDATE SET *
               WHEN NOT MATCHED THEN INSERT *""")
      s.sql("""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
               FROM ms.orders_t ORDER BY o_orderkey""")
    }),

    // S4+++++++ (r10) — publish_changes / cherrypick_snapshot: the
    // delta-apply half of WAP beside fast_forward. v1 holds a third of
    // orders; an audit write STAGES v1 + the second third under wap id
    // 'wap_1'; live then MOVES (v2 commits v1 + the last third) while
    // the audit runs. publish_changes applies only the branch's delta
    // (the second third) onto the moved live — the read-back is ALL of
    // orders (the oracle), which fast_forward could NOT produce (it
    // would have dropped live's own v2 commit).
    "q_cherrypick" -> ((s, d) => {
      val orders = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"))
      val dir = java.nio.file.Files.createTempDirectory("cherryq")
        .toString + "/orders_cp"
      val base = orders.filter(col("o_orderkey") % 3 === 0)
      graft.pipeline.Snapshot.createOrReplace(base, dir, keepVersions = 3)
      new TableStore(s).registerSnapshot("wap", "orders_cp", dir)
      graft.pipeline.Snapshot.writeBranch(
        base.unionByName(orders.filter(col("o_orderkey") % 3 === 1)),
        dir, "wap_1")
      graft.pipeline.Snapshot.createOrReplace(
        base.unionByName(orders.filter(col("o_orderkey") % 3 === 2)),
        dir, keepVersions = 3)
      s.sql("""CALL iceberg.system.publish_changes(
               table => 'wap.orders_cp', wap_id => 'wap_1')""")
      s.sql("""SELECT o_orderkey, o_custkey, o_orderstatus
               FROM wap.orders_cp ORDER BY o_orderkey""")
    }),

    // S5''' — the append half of the write surface VERBATIM: CTAS
    // snapshots a query result into a new table, INSERT INTO appends
    // from a query source and from a column-list VALUES (unlisted
    // columns NULL-fill), then the accumulated table is read back
    // qualified. Integer/string columns only: exact on both engines.
    "q_dml_insert_ctas" -> ((s, d) => {
      TableStore.reset(s)
      new TableStore(s).register("wr", "orders", Tables.orders(s, d))
      s.sql("""CREATE TABLE iceberg.wr.urgent AS
               SELECT o_orderkey, o_custkey, o_orderstatus
               FROM wr.orders WHERE o_orderpriority = '1-URGENT'""")
      s.sql("""INSERT INTO wr.urgent
               SELECT o_orderkey + 10000000, o_custkey, 'H'
               FROM wr.orders WHERE o_orderpriority = '2-HIGH'""")
      s.sql("INSERT INTO iceberg.wr.urgent (o_orderkey) VALUES (-1), (-2)")
      s.sql("""SELECT o_orderkey, o_custkey, o_orderstatus
               FROM iceberg.wr.urgent ORDER BY o_orderkey""")
    }),

    // The reference's SECOND MERGE statement — checkpoint advance with
    // an inline `SELECT … AS` literal-row source
    // (`merge_orders_silver.py:156-165`) — VERBATIM through spark.sql
    // (PIPELINE='orders' and the real max offset interpolated exactly
    // as the python f-string renders them). Runs twice so both the NOT
    // MATCHED INSERT and the MATCHED UPDATE paths execute; updated_at
    // is current_timestamp per the statement, so the compared columns
    // are the deterministic (pipeline, last_offset).
    "q_cdc_checkpoint_merge_sql" -> ((s, d) => {
      val store = new TableStore(s)
      s.sql("CREATE NAMESPACE IF NOT EXISTS iceberg.monitoring")
      store.register("monitoring", "cdc_checkpoints",
        Checkpoints.empty(s))
      val bronze = bronzeOf(s, d)
      val maxOffset = bronze.agg(max("offset")).collect()(0).getLong(0)
      def advance(off: Long): Unit = s.sql(s"""
        MERGE INTO iceberg.monitoring.cdc_checkpoints t
        USING (SELECT 'orders' AS pipeline, $off AS last_offset) s
        ON t.pipeline = s.pipeline
        WHEN MATCHED THEN UPDATE SET
          last_offset = s.last_offset,
          updated_at = current_timestamp
        WHEN NOT MATCHED THEN INSERT (pipeline, last_offset, updated_at)
        VALUES (s.pipeline, s.last_offset, current_timestamp)""")
      advance(maxOffset - 1) // first run: INSERT path
      advance(maxOffset)     // later run: UPDATE path
      store.table("monitoring", "cdc_checkpoints")
        .select("pipeline", "last_offset").orderBy("pipeline")
    })
  )

  // ---------------------------------------------------------------------
  // DuckDB oracle SQL. `EVO` mirrors Synth.changeEvents + offset
  // assignment 1:1; `SILVER_*` mirror the two materialization semantics.
  // ---------------------------------------------------------------------

  /** epoch-ms → 'yyyy-MM-dd HH:mm:ss' string, second-truncating, tz-free
    * (mirrors Envelope.lastChangeTs + date_format under UTC session). */
  private def tsStr(expr: String): String =
    s"strftime(make_timestamp((($expr // 1000) * 1000000)::BIGINT), '%Y-%m-%d %H:%M:%S')"

  private val evoCte: String = s"""
    base AS (
      SELECT o_orderkey AS k, o_custkey AS u, o_totalprice AS p,
             o_orderstatus AS s, o_orderdate AS d
      FROM orders
    ),
    ev AS (
      SELECT k, u, epoch_ms(d) AS ts_ms, 'c' AS op,
             CAST(printf('%.2f', p) AS DOUBLE) AS amt, s AS st
      FROM base
      UNION ALL
      SELECT k, u, epoch_ms(d) + 3600000, 'u',
             CAST(('1' || printf('%.2f', p)) AS DOUBLE), 'updated'
      FROM base WHERE k % 3 = 0
      UNION ALL
      SELECT k, u, epoch_ms(d) + 7200000, 'd',
             CASE WHEN k % 3 = 0 THEN CAST(('1' || printf('%.2f', p)) AS DOUBLE)
                  ELSE CAST(printf('%.2f', p) AS DOUBLE) END,
             CASE WHEN k % 3 = 0 THEN 'updated' ELSE s END
      FROM base WHERE k % 17 = 0
    ),
    evo AS (SELECT *, row_number() OVER (PARTITION BY k % 4 ORDER BY ts_ms, k) AS off FROM ev)"""

  private val silverSelect: String = s"""
    SELECT CAST(k AS INT) AS order_id, CAST(u AS INT) AS user_id,
           amt AS amount_eur, st AS status,
           ${tsStr("ts_ms")} AS last_change_ts
    FROM ranked WHERE rn = 1"""

  private val silverRebuildSql: String = s"""
    WITH $evoCte,
    ranked AS (
      SELECT *, row_number() OVER
        (PARTITION BY k ORDER BY ts_ms DESC, off DESC) AS rn
      FROM evo WHERE op <> 'd'
    )
    $silverSelect ORDER BY order_id"""

  private val silverMergeSql: String = s"""
    WITH $evoCte,
    ranked AS (
      SELECT *, row_number() OVER
        (PARTITION BY k ORDER BY ts_ms DESC, off DESC) AS rn
      FROM evo
    )
    $silverSelect AND op <> 'd' ORDER BY order_id"""

  /** SCD2 version rows (shared prefix): evo + lead() per key, delete
    * events close intervals and emit no row. */
  private val scd2Seq: String = s"""
    WITH $evoCte,
    seq AS (
      SELECT *, lead(ts_ms) OVER
        (PARTITION BY k ORDER BY ts_ms, off) AS valid_to_ms
      FROM evo
    )"""

  private val scd2Select: String = s"""
    SELECT CAST(k AS INT) AS order_id, CAST(u AS INT) AS user_id,
           amt AS amount_eur, st AS status,
           ${tsStr("ts_ms")} AS valid_from,
           ${tsStr("valid_to_ms")} AS valid_to,
           valid_to_ms IS NULL AS is_current
    FROM seq WHERE op <> 'd'"""

  private val scd2BuildSql: String =
    s"$scd2Seq $scd2Select ORDER BY order_id, valid_from"

  /** Bronze CTE chain (shared by the bronze dump and the payload peek):
    * ends with `bz(topic, partition, offset, kafka_ts, k, v)`. */
  private val bronzeCte: String = """
    base AS (
      SELECT o_orderkey AS k, o_custkey AS u, o_totalprice AS p,
             o_orderstatus AS s, o_orderdate AS d
      FROM orders
    ),
    imgs AS (
      SELECT *,
        CASE WHEN k % 5 = 0 THEN ' ' || printf('%.2f', p) || ' '
             ELSE printf('%.2f', p) END AS amt_c,
        CASE WHEN k % 5 = 0 THEN ' 1' || printf('%.2f', p) || ' '
             ELSE '1' || printf('%.2f', p) END AS amt_u,
        strftime(d, '%Y-%m-%d %H:%M:%S') AS cat
      FROM base
    ),
    withimg AS (
      SELECT *,
        '{"order_id":' || k || ',"user_id":' || u || ',"amount_eur":"' ||
          amt_c || '","status":"' || s || '","created_at":"' || cat ||
          '"}' AS ins_img,
        '{"order_id":' || k || ',"user_id":' || u || ',"amount_eur":"' ||
          amt_u || '","status":"updated","created_at":"' || cat ||
          '"}' AS upd_img
      FROM imgs
    ),
    ev AS (
      SELECT k, epoch_ms(d) AS ts_ms,
        '{"before":null,"after":' || ins_img || ',"op":"c","ts_ms":' ||
          epoch_ms(d) || '}' AS env
      FROM withimg
      UNION ALL
      SELECT k, epoch_ms(d) + 3600000,
        '{"before":' || ins_img || ',"after":' || upd_img ||
          ',"op":"u","ts_ms":' || (epoch_ms(d) + 3600000) || '}'
      FROM withimg WHERE k % 3 = 0
      UNION ALL
      SELECT k, epoch_ms(d) + 7200000,
        '{"before":' || CASE WHEN k % 3 = 0 THEN upd_img ELSE ins_img END ||
          ',"after":null,"op":"d","ts_ms":' || (epoch_ms(d) + 7200000) || '}'
      FROM withimg WHERE k % 17 = 0
    ),
    evo AS (SELECT *, row_number() OVER (PARTITION BY k % 4 ORDER BY ts_ms, k) AS "offset" FROM ev),
    bz AS (
      SELECT 'pg.public.orders' AS topic, CAST(k % 4 AS INT) AS "partition",
        "offset",
        strftime(make_timestamp(((ts_ms // 1000) * 1000000)::BIGINT), '%Y-%m-%d %H:%M:%S') AS kafka_ts,
        '{"order_id":' || k || '}' AS k,
        CASE WHEN k % 11 = 0 THEN env
             ELSE '{"payload":' || env || '}' END AS v
      FROM evo
    )"""

  private val bronzeSql: String = s"""
    WITH $bronzeCte
    SELECT * FROM bz ORDER BY "partition", "offset""""

  val oracles: Map[String, String] = Map(
    "q_cdc_bronze" -> bronzeSql,

    // O(delta)-changelog twin: the net-state classification of the
    // constructed window — %10=7 appended (insert), %100=1 removed
    // from the pre-append state (delete, disjoint from the appends by
    // last digit), %100=2 rewritten with a changed price (update),
    // %100=3 rewritten identically (MUST NOT surface).
    "q_changelog_window" -> s"""
      SELECT o_orderkey, 'insert' AS op FROM orders
      WHERE o_orderkey % 10 = 7
      UNION ALL
      SELECT o_orderkey, 'delete' FROM orders
      WHERE o_orderkey % 10 <> 7 AND o_orderkey % 100 = 1
      UNION ALL
      SELECT o_orderkey, 'update' FROM orders
      WHERE o_orderkey % 10 <> 7 AND o_orderkey % 100 = 2
      ORDER BY o_orderkey""",

    // Incremental-rollup twin: the maintained aggregate must equal a
    // full recompute over the FINAL source state (base ∪ appends,
    // minus the position-deleted slice) — the decimal accumulation
    // makes add/subtract maintenance commute bit-for-bit with this.
    "q_rollup_maintain" -> s"""
      WITH fin AS (
        SELECT * FROM orders WHERE o_orderkey % 100 <> 1
      ), h AS (
        SELECT DISTINCT o_orderpriority,
               ('0x' || md5(CAST(o_custkey AS VARCHAR))[1:15])::BIGINT
                 AS h
        FROM fin
      ), r AS (
        SELECT o_orderpriority, h, row_number() OVER
          (PARTITION BY o_orderpriority ORDER BY h) AS rn
        FROM h
      ), kmv AS (
        SELECT o_orderpriority,
               CASE WHEN count(*) < 64 THEN CAST(count(*) AS DOUBLE)
                    ELSE 63.0 * 1152921504606846976.0 / max(h) END
                 AS ndv_o_custkey
        FROM r WHERE rn <= 64 GROUP BY o_orderpriority
      ), g AS (
        SELECT o_orderpriority, COUNT(*) AS cnt,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE)
                 AS sum_o_totalprice,
               COUNT(o_totalprice) AS cnt_o_totalprice,
               MIN(o_totalprice) AS min_o_totalprice,
               MAX(o_totalprice) AS max_o_totalprice
        FROM fin GROUP BY o_orderpriority
      )
      SELECT g.o_orderpriority, g.cnt, g.sum_o_totalprice,
             g.cnt_o_totalprice,
             g.min_o_totalprice, g.max_o_totalprice, kmv.ndv_o_custkey
      FROM g JOIN kmv USING (o_orderpriority)
      ORDER BY g.o_orderpriority""",

    // Equality-window twin: two keyed DELETE waves in one window
    // (the default merge-on-read delete mode) — the affected-group
    // re-derive must land exactly the recompute over the survivors.
    "q_rollup_maintain_eq" -> s"""
      WITH fin AS (
        SELECT * FROM orders
        WHERE o_orderkey % 10 <> 3 AND o_orderkey % 10 <> 4
      ), h AS (
        SELECT DISTINCT o_orderpriority,
               ('0x' || md5(CAST(o_custkey AS VARCHAR))[1:15])::BIGINT
                 AS h
        FROM fin
      ), r AS (
        SELECT o_orderpriority, h, row_number() OVER
          (PARTITION BY o_orderpriority ORDER BY h) AS rn
        FROM h
      ), kmv AS (
        SELECT o_orderpriority,
               CASE WHEN count(*) < 64 THEN CAST(count(*) AS DOUBLE)
                    ELSE 63.0 * 1152921504606846976.0 / max(h) END
                 AS ndv_o_custkey
        FROM r WHERE rn <= 64 GROUP BY o_orderpriority
      ), g AS (
        SELECT o_orderpriority, COUNT(*) AS cnt,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE)
                 AS sum_o_totalprice,
               COUNT(o_totalprice) AS cnt_o_totalprice,
               MIN(o_totalprice) AS min_o_totalprice,
               MAX(o_totalprice) AS max_o_totalprice
        FROM fin GROUP BY o_orderpriority
      )
      SELECT g.o_orderpriority, g.cnt, g.sum_o_totalprice,
             g.cnt_o_totalprice,
             g.min_o_totalprice, g.max_o_totalprice, kmv.ndv_o_custkey
      FROM g JOIN kmv USING (o_orderpriority)
      ORDER BY g.o_orderpriority""",

    // Combined-window twin: the star recompute of the FINAL state —
    // fact minus the equality-deleted keys, dim minus the
    // position-deleted customers, one telescoped refresh window.
    "q_rollup_maintain_eqdim" -> s"""
      SELECT c_mktsegment, COUNT(*) AS cnt,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE)
               AS sum_o_totalprice,
             MIN(o_totalprice) AS min_o_totalprice,
             MAX(o_totalprice) AS max_o_totalprice
      FROM orders JOIN customer ON o_custkey = c_custkey
      WHERE o_orderkey % 10 <> 3 AND c_custkey % 50 <> 7
      GROUP BY c_mktsegment
      ORDER BY c_mktsegment""",

    // Dim-equality twin: the star recompute over the dim's FINAL
    // state — keyed-deleted customers gone, %9=4 customers
    // re-segmented, one dim-side re-derive refresh window.
    "q_rollup_maintain_dimeq" -> s"""
      WITH dim AS (
        SELECT c_custkey,
               CASE WHEN c_custkey % 9 = 4 THEN 'RESEGMENTED'
                    ELSE c_mktsegment END AS c_mktsegment
        FROM customer WHERE c_custkey % 9 <> 2
      )
      SELECT c_mktsegment, COUNT(*) AS cnt,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE)
               AS sum_o_totalprice,
             MIN(o_totalprice) AS min_o_totalprice,
             MAX(o_totalprice) AS max_o_totalprice
      FROM orders JOIN dim ON o_custkey = c_custkey
      GROUP BY c_mktsegment
      ORDER BY c_mktsegment""",

    // Coarser-bucket twin: the month aggregate over the full base —
    // the rewritten plan reads day gold, the ANSWER is this.
    "q_mv_rollup_time" -> s"""
      SELECT date_trunc('month', o_orderdate) AS omonth,
             COUNT(*) AS cnt,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE)
               AS sum_price
      FROM orders GROUP BY 1
      ORDER BY omonth""",

    // Stream-guard twin: batch 2 (%7 keys) minus the corpus as batch 2
    // saw it — the %3≠0 bootstrap plus batch 1's fresh rows (%5 keys
    // divisible by 3).
    "q_stream_guard" -> s"""
      SELECT o_orderkey, o_totalprice FROM orders
      WHERE o_orderkey % 7 = 0
        AND o_orderkey % 3 = 0
        AND o_orderkey % 5 <> 0
      ORDER BY o_orderkey""",

    // Rebuild-only-MV twin: after the append + REFRESH the store
    // holds the defining query over the FULL orders table — HAVING
    // and sum(DISTINCT) computed by the full recompute.
    "q_mv_rebuild" -> s"""
      SELECT o_orderpriority,
             CAST(SUM(DISTINCT o_custkey) AS BIGINT) AS sdc,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE)
               AS sum_price
      FROM orders GROUP BY o_orderpriority HAVING COUNT(*) > 10
      ORDER BY o_orderpriority""",

    // Subsumption twin: the residual Filter + Project applied to the
    // defining query over the full base — the plan reads the store,
    // the ANSWER is this.
    "q_mv_subsumed" -> s"""
      WITH mv AS (
        SELECT o_orderpriority,
               CAST(SUM(DISTINCT o_custkey) AS BIGINT) AS sdc,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6)))
                 AS DOUBLE) AS sum_price
        FROM orders GROUP BY o_orderpriority
      )
      SELECT o_orderpriority, sum_price FROM mv WHERE sdc % 2 = 1
      ORDER BY o_orderpriority""",

    // Incremental HAVING/count-DISTINCT MV twin: the served answer is
    // the defining query over the FULL orders table — the plan reads
    // gold, the filter applies late-bound, the distinct count derives
    // from the (priority, custkey)-grain store.
    "q_mv_having" -> s"""
      SELECT o_orderpriority,
             COUNT(DISTINCT o_custkey) AS dc,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE)
               AS sum_price
      FROM orders GROUP BY o_orderpriority HAVING COUNT(*) > 10
      ORDER BY o_orderpriority""",

    // MV-rewrite twin: the rewritten plan reads the gold table, but
    // the ANSWER is the plain aggregate over the full base — the
    // oracle computes exactly that (decimal accumulation on both
    // sides, so the maintained-and-rewritten sum matches bit-for-bit).
    "q_rollup_rewrite" -> s"""
      SELECT o_orderpriority, COUNT(*) AS cnt,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE)
               AS sum_price,
             MIN(o_totalprice) AS min_price,
             MAX(o_totalprice) AS max_price
      FROM orders WHERE o_orderpriority <> '3-MEDIUM'
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority""",

    // Nullable-measure MV-rewrite twin: the answer is the plain
    // aggregate over the full base with the same null mapping; the
    // non-null count is the avg denominator on both sides.
    "q_rollup_avg" -> s"""
      WITH src AS (
        SELECT o_orderpriority,
               CASE WHEN o_orderkey % 5 = 0 THEN NULL
                    ELSE o_custkey END AS m
        FROM orders
      )
      SELECT o_orderpriority, COUNT(*) AS cnt, COUNT(m) AS cnt_m,
             AVG(m) AS avg_m
      FROM src GROUP BY o_orderpriority
      ORDER BY o_orderpriority""",

    // MV-DDL twin: the MV's defining query over the final base state.
    "q_mv_sql" -> s"""
      SELECT o_orderpriority, COUNT(*) AS cnt,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE)
               AS sum_price,
             MIN(o_totalprice) AS min_price,
             MAX(o_totalprice) AS max_price,
             AVG(o_custkey) AS avg_cust
      FROM orders GROUP BY o_orderpriority
      ORDER BY o_orderpriority""",

    // Group-column-aggregate twin: the dashboard cardinality query
    // over the final base state.
    "q_rollup_distinct" -> s"""
      SELECT o_orderpriority,
             COUNT(DISTINCT o_orderstatus) AS n_status,
             MIN(o_orderstatus) AS min_status,
             MAX(o_orderstatus) AS max_status,
             COUNT(o_orderstatus) AS c_status,
             COUNT(*) AS cnt
      FROM orders GROUP BY o_orderpriority
      ORDER BY o_orderpriority""",

    // Composed-MV twin: join + expression key + WHERE slice over the
    // final base state.
    "q_mv_star_time" -> s"""
      SELECT c_mktsegment,
             date_trunc('month', o_orderdate) AS omonth,
             COUNT(*) AS cnt,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE)
               AS sum_price
      FROM orders JOIN customer ON o_custkey = c_custkey
      WHERE o_orderpriority <> '3-MEDIUM'
      GROUP BY 1, 2
      ORDER BY c_mktsegment, omonth""",

    // Q1-MV twin: the derived-measure defining query over the final
    // base state.
    "q_mv_q1" -> s"""
      SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt,
             CAST(SUM(CAST(l_quantity AS DECIMAL(27,6))) AS DOUBLE)
               AS sum_qty,
             CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
               AS DECIMAL(27,6))) AS DOUBLE) AS revenue
      FROM lineitem GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus""",

    // Time-bucketed-MV twin: the expression-keyed defining query over
    // the final base state.
    "q_mv_time" -> s"""
      SELECT date_trunc('month', o_orderdate) AS omonth,
             COUNT(*) AS cnt,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE)
               AS sum_price,
             MIN(o_totalprice) AS min_price
      FROM orders GROUP BY 1
      ORDER BY omonth""",

    // Join-MV twin: the star-join defining query over the final fact
    // state (the fact append landed; the dim never moved).
    "q_mv_join" -> s"""
      SELECT c_mktsegment, COUNT(*) AS cnt,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE)
               AS sum_price,
             MIN(o_totalprice) AS min_price,
             MAX(o_totalprice) AS max_price
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_mktsegment
      ORDER BY c_mktsegment""",

    // Partial-MV twin: the defining query's slice over the final base.
    "q_mv_where" -> s"""
      SELECT o_orderpriority, COUNT(*) AS cnt,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE)
               AS sum_price
      FROM orders WHERE o_custkey % 2 = 0
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority""",

    // Implied-predicate twin: the served answer is the narrower
    // aggregate over the base — the plan reads the partial gold
    // store, the query's own filter re-applies on the gold key.
    "q_mv_implied" -> s"""
      SELECT o_orderpriority, COUNT(*) AS cnt,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE)
               AS sum_price
      FROM orders WHERE o_custkey > 750
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority""",

    // Cross-session MV twin: after the fresh session's commit +
    // REFRESH the store holds the full-orders aggregate — the plan
    // reads gold in a cold-attached session, the ANSWER is this.
    "q_mv_persistent" -> s"""
      SELECT o_orderpriority, COUNT(*) AS cnt,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE)
               AS sum_price
      FROM orders
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority""",

    // Stale-serve compensation twin: the store was built on 90% of
    // orders and TWO unrefreshed commits appended the rest — the
    // plan reads store ⊎ window sidecars, the ANSWER is the live
    // full-orders aggregate.
    "q_mv_stale_serve" -> s"""
      SELECT o_orderpriority, COUNT(*) AS cnt,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE)
               AS sum_price
      FROM orders
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority""",

    // Equality-window stale-serve twin: one MERGE-shaped commit
    // deleted the %10==3 rows and appended the %10==7 rows of the
    // 90%-slice store — the plan serves store∖touched ⊎ recompute,
    // the ANSWER is the live aggregate.
    "q_mv_stale_eq" -> s"""
      SELECT o_orderpriority, COUNT(*) AS cnt,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE)
               AS sum_price,
             MIN(o_totalprice) AS min_price,
             MAX(o_totalprice) AS max_price
      FROM orders WHERE o_orderkey % 10 <> 3
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority""",

    // Moved-dim stale-serve twin: the dim MERGE restored the true
    // segments and the fact append restored the full fact, so the
    // LIVE answer the compensation must land is exactly the plain
    // public join aggregate.
    "q_mv_stale_dim" -> s"""
      SELECT c_mktsegment, COUNT(*) AS cnt,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE)
               AS sum_price,
             MIN(o_totalprice) AS min_price,
             MAX(o_totalprice) AS max_price
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_mktsegment
      ORDER BY c_mktsegment""",

    // NDV stale-serve twin: the two append windows restore the full
    // fact, and the query pins the served frame bit-identical to the
    // refreshed store it returns — so the oracle is the full
    // recompute with the KMV estimate unrolled (the q_rollup_maintain
    // discipline, unfiltered).
    "q_mv_stale_ndv" -> s"""
      WITH h AS (
        SELECT DISTINCT o_orderpriority,
               ('0x' || md5(CAST(o_custkey AS VARCHAR))[1:15])::BIGINT
                 AS h
        FROM orders
      ), r AS (
        SELECT o_orderpriority, h, row_number() OVER
          (PARTITION BY o_orderpriority ORDER BY h) AS rn
        FROM h
      ), kmv AS (
        SELECT o_orderpriority,
               CASE WHEN count(*) < 64 THEN CAST(count(*) AS DOUBLE)
                    ELSE 63.0 * 1152921504606846976.0 / max(h) END
                 AS ndv_o_custkey
        FROM r WHERE rn <= 64 GROUP BY o_orderpriority
      ), g AS (
        SELECT o_orderpriority, COUNT(*) AS cnt,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE)
                 AS sum_o_totalprice,
               COUNT(o_totalprice) AS cnt_o_totalprice,
               MIN(o_totalprice) AS min_o_totalprice,
               MAX(o_totalprice) AS max_o_totalprice
        FROM orders GROUP BY o_orderpriority
      )
      SELECT g.o_orderpriority, g.cnt, g.sum_o_totalprice,
             g.cnt_o_totalprice,
             g.min_o_totalprice, g.max_o_totalprice, kmv.ndv_o_custkey
      FROM g JOIN kmv USING (o_orderpriority)
      ORDER BY g.o_orderpriority""",

    // Extract-key twin: the year aggregate over the year bound — the
    // plan derives year() from the month store (implication via the
    // normalized bare interval), the ANSWER is this.
    "q_mv_extract" -> s"""
      SELECT CAST(year(o_orderdate) AS INT) AS oyear,
             COUNT(*) AS cnt,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE)
               AS sum_price
      FROM orders WHERE year(o_orderdate) >= 1996
      GROUP BY 1
      ORDER BY oyear""",

    // Monotone-trunc implication twin: the month aggregate over the
    // aligned date bound — the plan reads the month store, the
    // ANSWER is this.
    "q_mv_implied_time" -> s"""
      SELECT date_trunc('month', o_orderdate) AS omonth,
             COUNT(*) AS cnt,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE)
               AS sum_price
      FROM orders WHERE o_orderdate >= DATE '1996-03-01'
      GROUP BY 1
      ORDER BY omonth""",

    "q_cdc_parse" -> s"""
      WITH $evoCte
      SELECT CAST(k % 4 AS INT) AS "partition", off AS "offset",
             CAST(k AS INT) AS order_id,
             CAST(u AS INT) AS user_id, amt AS amount_eur, st AS status,
             op, ts_ms
      FROM evo ORDER BY "partition", "offset"""",

    "q_cdc_silver_rebuild" -> silverRebuildSql,

    // Erasure twin: the full silver rebuild minus the erased cohort —
    // exactly the post-erasure live table (3VL NOT matches Spark's
    // filter(not(p)) semantics).
    "q_erasure" -> s"""
      WITH sil AS ($silverRebuildSql)
      SELECT * FROM sil
      WHERE NOT (user_id % 7 = 0)
      ORDER BY order_id""",

    "q_dp_release" -> s"""
      WITH sil AS ($silverRebuildSql),
      rel AS (
        SELECT status, user_id % 2 AS bit,
               CASE WHEN ('0x' || md5(CAST(order_id AS VARCHAR)
                       || '::RR1')[1:8])::BIGINT % 4 < 3
                    THEN user_id % 2 ELSE 1 - user_id % 2
               END AS reported
        FROM sil)
      SELECT status, count(*) AS n,
             CAST(sum(reported) AS BIGINT) AS n_reported_true,
             CAST(sum(reported) AS DOUBLE) / count(*) AS lambda,
             ((CAST(sum(reported) AS DOUBLE) / count(*) + 0.75) - 1.0)
               / ((2.0 * 0.75) - 1.0) AS pi_hat,
             CAST(sum(bit) AS DOUBLE) / count(*) AS true_frac
      FROM rel GROUP BY status ORDER BY status""",

    "q_t_closeness" -> s"""
      WITH sil AS ($silverRebuildSql),
      rws AS (
        SELECT status,
               '[' || CAST(CAST(floor(amount_eur / 100.0) * 100.0
                          AS BIGINT) AS VARCHAR)
                   || ',' ||
                   CAST(CAST((floor(amount_eur / 100.0) + 1) * 100.0
                          AS BIGINT) AS VARCHAR) || ')' AS amount_band,
               user_id % 10 AS cohort
        FROM sil),
      tot AS (SELECT count(*) AS n FROM rws),
      sh AS (SELECT cohort, count(*) AS cnt_s FROM rws GROUP BY cohort),
      gs AS (SELECT status, amount_band, cohort, count(*) AS cnt_gs
             FROM rws GROUP BY 1, 2, 3),
      g AS (SELECT status, amount_band, sum(cnt_gs) AS n_g
            FROM gs GROUP BY 1, 2)
      SELECT status, amount_band, group_size, tvd_num,
             CAST(tvd_num AS DOUBLE) / (2.0 * group_size * n) AS tvd,
             tvd_num * 5 > 2 * group_size * n AS violates_t
      FROM (
        SELECT gs.status AS status, gs.amount_band AS amount_band,
               CAST(max(n_g) AS BIGINT) AS group_size,
               CAST(sum(abs(cnt_gs * n - cnt_s * n_g))
                 + (max(n) - sum(cnt_s)) * max(n_g) AS BIGINT) AS tvd_num,
               max(n) AS n
        FROM gs JOIN sh ON gs.cohort IS NOT DISTINCT FROM sh.cohort
        JOIN g USING (status, amount_band), tot
        GROUP BY gs.status, gs.amount_band)
      ORDER BY status, amount_band""",

    "q_scd2_build" -> scd2BuildSql,
    // replay-equivalence: N in-order batches through merge ≡ the build
    "q_scd2_incremental" -> scd2BuildSql,
    // MOR maintenance ≡ the build too (sidecar commit + read-merge)
    "q_scd2_mor" -> scd2BuildSql,

    "q_temporal_join" -> s"""
      $scd2Seq,
      probes AS (
        SELECT CAST(o_orderkey AS INT) AS order_id,
               epoch_ms(o_orderdate) + (o_orderkey % 4) * 2700000
                 AS probe_ms
        FROM orders)
      SELECT p.order_id, ${tsStr("probe_ms")} AS probe_ts,
             s.st AS status, s.amt AS amount_eur,
             ${tsStr("s.ts_ms")} AS valid_from
      FROM probes p LEFT JOIN (SELECT * FROM seq WHERE op <> 'd') s
        ON s.k = p.order_id AND s.ts_ms <= p.probe_ms
        AND (s.valid_to_ms IS NULL OR s.valid_to_ms > p.probe_ms)
      ORDER BY p.order_id""",

    "q_scd2_asof" -> s"""
      $scd2Seq,
      cut AS (SELECT (min(ts_ms) + max(ts_ms)) // 2 AS t FROM evo)
      $scd2Select AND ts_ms <= (SELECT t FROM cut)
        AND (valid_to_ms IS NULL OR valid_to_ms > (SELECT t FROM cut))
      ORDER BY order_id, valid_from""",

    "q_cdc_silver_merge" -> silverMergeSql,
    "q_cdc_silver_merge_sql" -> silverMergeSql,
    "q_cdc_silver_incremental" -> silverMergeSql,

    // Time-travel twin: silver over the event log capped at half the
    // max offset — exactly what snapshot version 1 held before the
    // full-log replace.
    "q_snapshot_time_travel" -> s"""
      WITH $evoCte,
      cut AS (SELECT max(off) // 2 AS c FROM evo),
      ranked AS (
        SELECT *, row_number() OVER
          (PARTITION BY k ORDER BY ts_ms DESC, off DESC) AS rn
        FROM evo, cut WHERE op <> 'd' AND off <= c
      )
      $silverSelect ORDER BY order_id""",

    // Diff twin: v1 = capped silver, v2 = full silver, full-outer on
    // order_id, IS DISTINCT FROM change detection — this fixture's
    // rebuild drops deletes pre-rank, so v2 ⊇ v1 and ops are
    // insert/update only.
    "q_snapshot_diff" -> s"""
      WITH $evoCte,
      cut AS (SELECT max(off) // 2 AS c FROM evo),
      r1 AS (
        SELECT *, row_number() OVER
          (PARTITION BY k ORDER BY ts_ms DESC, off DESC) AS rn
        FROM evo, cut WHERE op <> 'd' AND off <= c
      ),
      v1 AS (SELECT CAST(k AS INT) AS order_id,
                    CAST(u AS INT) AS user_id, amt AS amount_eur,
                    st AS status, ${tsStr("ts_ms")} AS last_change_ts
             FROM r1 WHERE rn = 1),
      r2 AS (
        SELECT *, row_number() OVER
          (PARTITION BY k ORDER BY ts_ms DESC, off DESC) AS rn
        FROM evo WHERE op <> 'd'
      ),
      v2 AS (SELECT CAST(k AS INT) AS order_id,
                    CAST(u AS INT) AS user_id, amt AS amount_eur,
                    st AS status, ${tsStr("ts_ms")} AS last_change_ts
             FROM r2 WHERE rn = 1)
      SELECT coalesce(v2.order_id, v1.order_id) AS order_id,
             CASE WHEN v1.order_id IS NULL THEN 'insert'
                  WHEN v2.order_id IS NULL THEN 'delete'
                  ELSE 'update' END AS op
      FROM v1 FULL JOIN v2 ON v1.order_id = v2.order_id
      WHERE v1.order_id IS NULL OR v2.order_id IS NULL
         OR v1.user_id IS DISTINCT FROM v2.user_id
         OR v1.amount_eur IS DISTINCT FROM v2.amount_eur
         OR v1.status IS DISTINCT FROM v2.status
         OR v1.last_change_ts IS DISTINCT FROM v2.last_change_ts
      ORDER BY order_id""",

    // Same twin: VERSION AS OF 1 must surface the half-offset state.
    "q_time_travel_sql" -> s"""
      WITH $evoCte,
      cut AS (SELECT max(off) // 2 AS c FROM evo),
      ranked AS (
        SELECT *, row_number() OVER
          (PARTITION BY k ORDER BY ts_ms DESC, off DESC) AS rn
        FROM evo, cut WHERE op <> 'd' AND off <= c
      )
      $silverSelect ORDER BY order_id""",

    "q_time_travel_ts" -> s"""
      WITH $evoCte,
      cut AS (SELECT max(off) // 2 AS c FROM evo),
      ranked AS (
        SELECT *, row_number() OVER
          (PARTITION BY k ORDER BY ts_ms DESC, off DESC) AS rn
        FROM evo, cut WHERE op <> 'd' AND off <= c
      )
      $silverSelect ORDER BY order_id""",

    "q_ancestors_call" -> """
      SELECT * FROM (VALUES (CAST(2 AS BIGINT), true),
                            (CAST(1 AS BIGINT), true))
        t(snapshot_id, has_commit_ts) ORDER BY snapshot_id DESC""",

    "q_maintenance_call" -> s"""
      WITH $evoCte,
      cut AS (SELECT max(off) // 2 AS c FROM evo),
      ranked AS (
        SELECT *, row_number() OVER
          (PARTITION BY k ORDER BY ts_ms DESC, off DESC) AS rn
        FROM evo, cut WHERE op <> 'd' AND off <= c
      )
      $silverSelect ORDER BY order_id""",

    "q_snapshot_history" -> s"""
      WITH $evoCte,
      cut AS (SELECT max(off) // 2 AS c FROM evo),
      v1 AS (
        SELECT count(*) AS n FROM (
          SELECT k, row_number() OVER
            (PARTITION BY k ORDER BY ts_ms DESC, off DESC) AS rn
          FROM evo, cut WHERE op <> 'd' AND off <= c
        ) WHERE rn = 1
      ),
      v2 AS (
        SELECT count(*) AS n FROM (
          SELECT k, row_number() OVER
            (PARTITION BY k ORDER BY ts_ms DESC, off DESC) AS rn
          FROM evo WHERE op <> 'd'
        ) WHERE rn = 1
      )
      SELECT CAST(1 AS BIGINT) AS version, false AS is_current,
             (SELECT n FROM v1) AS record_count
      UNION ALL
      SELECT CAST(2 AS BIGINT), true, (SELECT n FROM v2)
      ORDER BY version""",

    "q_snapshot_refs" -> """
      SELECT * FROM (VALUES
        ('audit', 'BRANCH', CAST(2 AS BIGINT)),
        ('main', 'BRANCH', CAST(2 AS BIGINT)),
        ('release', 'TAG', CAST(2 AS BIGINT)),
        ('validated', 'TAG', CAST(1 AS BIGINT))
      ) AS t(name, type, version)
      ORDER BY name""",

    "q_wap_publish" -> s"""
      WITH $evoCte,
      cut AS (SELECT max(off) // 2 AS c FROM evo),
      ranked AS (
        SELECT *, row_number() OVER
          (PARTITION BY k ORDER BY ts_ms DESC, off DESC) AS rn
        FROM evo, cut WHERE op <> 'd' AND off <= c
      )
      $silverSelect ORDER BY order_id""",

    "q_snapshot_files" -> """
      SELECT 'l_returnflag=' || l_returnflag AS "partition",
             'parquet' AS file_format, count(*) AS record_count
      FROM lineitem GROUP BY l_returnflag ORDER BY "partition"""",

    "q_snapshot_partitions" -> """
      SELECT 'l_returnflag=' || l_returnflag AS "partition",
             count(*) AS record_count, CAST(1 AS BIGINT) AS file_count
      FROM lineitem GROUP BY l_returnflag ORDER BY "partition"""",

    "q_add_files" -> """
      SELECT o_orderkey, o_custkey, o_orderstatus FROM orders
      ORDER BY o_orderkey""",

    "q_wap_session" -> """
      SELECT o_orderkey, o_custkey, o_orderstatus FROM orders
      ORDER BY o_orderkey""",

    "q_rewrite_sorted" -> """
      SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
      ORDER BY l_orderkey, l_linenumber""",

    "q_stats_pruned_scan" -> """
      SELECT o_orderkey, o_custkey, o_totalprice
      FROM orders WHERE o_orderkey BETWEEN 1000 AND 3000
      ORDER BY o_orderkey""",

    "q_bloom_pruned_scan" -> """
      SELECT doc_id, md5(text) AS sid FROM documents
      WHERE md5(text) = (SELECT md5(text) FROM documents
                         WHERE doc_id = 42)
      ORDER BY doc_id""",

    "q_cherrypick" -> """
      SELECT o_orderkey, o_custkey, o_orderstatus
      FROM orders ORDER BY o_orderkey""",

    "q_ref_ddl" -> """
      SELECT o_orderkey, o_custkey, o_totalprice
      FROM orders WHERE o_totalprice < 200000.0
      ORDER BY o_orderkey""",

    "q_merge_schema_evolution" -> """
      SELECT o_orderkey, o_custkey, o_orderstatus,
             CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice END
               AS o_totalprice
      FROM orders
      WHERE o_orderkey % 2 = 0 OR o_orderkey % 3 = 0
      ORDER BY o_orderkey""",

    "q_snapshot_manifests" -> """
      SELECT 'l_returnflag=' || l_returnflag AS path,
             CAST(1 AS BIGINT) AS added_data_files_count,
             count(*) AS added_rows_count
      FROM lineitem GROUP BY l_returnflag ORDER BY path""",

    "q_changelog_call" -> s"""
      WITH $evoCte,
      cut AS (SELECT max(off) // 2 AS c FROM evo),
      r1 AS (
        SELECT *, row_number() OVER
          (PARTITION BY k ORDER BY ts_ms DESC, off DESC) AS rn
        FROM evo, cut WHERE op <> 'd' AND off <= c
      ),
      v1 AS (SELECT CAST(k AS INT) AS order_id,
                    CAST(u AS INT) AS user_id, amt AS amount_eur,
                    st AS status, ${tsStr("ts_ms")} AS last_change_ts
             FROM r1 WHERE rn = 1),
      r2 AS (
        SELECT *, row_number() OVER
          (PARTITION BY k ORDER BY ts_ms DESC, off DESC) AS rn
        FROM evo WHERE op <> 'd'
      ),
      v2 AS (SELECT CAST(k AS INT) AS order_id,
                    CAST(u AS INT) AS user_id, amt AS amount_eur,
                    st AS status, ${tsStr("ts_ms")} AS last_change_ts
             FROM r2 WHERE rn = 1)
      SELECT coalesce(v2.order_id, v1.order_id) AS order_id,
             CASE WHEN v1.order_id IS NULL THEN 'insert'
                  WHEN v2.order_id IS NULL THEN 'delete'
                  ELSE 'update' END AS op
      FROM v1 FULL JOIN v2 ON v1.order_id = v2.order_id
      WHERE v1.order_id IS NULL OR v2.order_id IS NULL
         OR v1.user_id IS DISTINCT FROM v2.user_id
         OR v1.amount_eur IS DISTINCT FROM v2.amount_eur
         OR v1.status IS DISTINCT FROM v2.status
         OR v1.last_change_ts IS DISTINCT FROM v2.last_change_ts
      ORDER BY order_id""",

    "q_snapshot_all_files" -> """
      SELECT CAST(1 AS BIGINT) AS version,
             'l_returnflag=' || l_returnflag AS "partition",
             count(*) AS record_count
      FROM lineitem WHERE l_quantity <= 25 GROUP BY l_returnflag
      UNION ALL
      SELECT CAST(2 AS BIGINT), 'l_returnflag=' || l_returnflag, count(*)
      FROM lineitem GROUP BY l_returnflag
      ORDER BY version, "partition"""",

    "q_snapshot_all_manifests" -> """
      SELECT CAST(1 AS BIGINT) AS version,
             'l_returnflag=' || l_returnflag AS path,
             CAST(1 AS BIGINT) AS added_data_files_count,
             count(*) AS added_rows_count
      FROM lineitem WHERE l_quantity <= 25 GROUP BY l_returnflag
      UNION ALL
      SELECT CAST(2 AS BIGINT), 'l_returnflag=' || l_returnflag,
             CAST(1 AS BIGINT), count(*)
      FROM lineitem GROUP BY l_returnflag
      ORDER BY version, path""",

    "q_k_anon" -> s"""
      WITH sil AS ($silverRebuildSql)
      SELECT status,
             '[' || CAST(CAST(floor(amount_eur / 100.0) * 100.0
                        AS BIGINT) AS VARCHAR)
                 || ',' ||
                 CAST(CAST((floor(amount_eur / 100.0) + 1) * 100.0
                        AS BIGINT) AS VARCHAR) || ')' AS amount_band,
             count(*) AS group_size,
             count(*) < 5 AS violates_k
      FROM sil GROUP BY status, amount_band
      ORDER BY status, amount_band""",

    "q_l_diversity" -> s"""
      WITH sil AS ($silverRebuildSql)
      SELECT status,
             '[' || CAST(CAST(floor(amount_eur / 100.0) * 100.0
                        AS BIGINT) AS VARCHAR)
                 || ',' ||
                 CAST(CAST((floor(amount_eur / 100.0) + 1) * 100.0
                        AS BIGINT) AS VARCHAR) || ')' AS amount_band,
             count(*) AS group_size,
             count(DISTINCT user_id) AS n_sensitive,
             count(DISTINCT user_id) < 3 AS violates_l
      FROM sil GROUP BY status, amount_band
      ORDER BY status, amount_band""",

    // Decimal twin: the amount string is re-derived and cast
    // STRING → DECIMAL(10,2) — the exact same parse Spark does on the
    // cleaned JSON field; no float touches the compared value.
    "q_cdc_silver_decimal" -> s"""
      WITH base AS (
        SELECT o_orderkey AS k, o_custkey AS u, o_totalprice AS p,
               o_orderstatus AS s, o_orderdate AS d
        FROM orders
      ),
      ev AS (
        SELECT k, u, epoch_ms(d) AS ts_ms, 'c' AS op,
               printf('%.2f', p) AS amt_s, s AS st
        FROM base
        UNION ALL
        SELECT k, u, epoch_ms(d) + 3600000, 'u',
               '1' || printf('%.2f', p), 'updated'
        FROM base WHERE k % 3 = 0
        UNION ALL
        SELECT k, u, epoch_ms(d) + 7200000, 'd',
               CASE WHEN k % 3 = 0 THEN '1' || printf('%.2f', p)
                    ELSE printf('%.2f', p) END,
               CASE WHEN k % 3 = 0 THEN 'updated' ELSE s END
        FROM base WHERE k % 17 = 0
      ),
      evo AS (SELECT *, row_number() OVER
                (PARTITION BY k % 4 ORDER BY ts_ms, k) AS off FROM ev),
      ranked AS (
        SELECT *, row_number() OVER
          (PARTITION BY k ORDER BY ts_ms DESC, off DESC) AS rn
        FROM evo WHERE op <> 'd'
      )
      SELECT CAST(k AS INT) AS order_id, CAST(u AS INT) AS user_id,
             CAST(CAST(amt_s AS DECIMAL(10,2)) AS VARCHAR) AS amount_eur,
             st AS status, ${tsStr("ts_ms")} AS last_change_ts
      FROM ranked WHERE rn = 1 ORDER BY order_id""",

    "q_cdc_checkpoint" -> s"""
      WITH $evoCte
      SELECT 'orders_silver' AS pipeline,
             CAST(max(off) AS BIGINT) AS last_offset
      FROM evo""",

    // Same max-offset truth, under the reference's PIPELINE='orders'
    // and arrived at via the two verbatim MERGE executions.
    "q_cdc_checkpoint_merge_sql" -> s"""
      WITH $evoCte
      SELECT 'orders' AS pipeline,
             CAST(max(off) AS BIGINT) AS last_offset
      FROM evo""",

    "q_changelog_batch" -> s"""
      WITH $evoCte,
      ranked AS (
        SELECT *, row_number() OVER
          (PARTITION BY k ORDER BY ts_ms DESC, off DESC) AS rn
        FROM evo
      )
      SELECT CAST(k AS INT) AS order_id, 'I' AS action,
             CAST(u AS INT) AS user_id, amt AS amount_eur, st AS status,
             ts_ms
      FROM ranked WHERE rn = 1 AND op <> 'd' ORDER BY order_id""",

    "q_privacy_current" -> s"""
      WITH $evoCte,
      ranked AS (
        SELECT *, row_number() OVER
          (PARTITION BY k ORDER BY ts_ms DESC, off DESC) AS rn
        FROM evo WHERE op <> 'd'
      )
      SELECT CAST(k AS INT) AS order_id,
             sha256(CAST(CAST(u AS INT) AS VARCHAR) || '::$Salt') AS user_key,
             amt AS amount_eur, st AS status,
             ${tsStr("ts_ms")} AS last_change_ts
      FROM ranked WHERE rn = 1 ORDER BY order_id""",

    "q_payload_peek" -> s"""
      WITH $bronzeCte
      SELECT "partition", "offset", kafka_ts, v[1:80] AS v_peek
      FROM bz
      ORDER BY kafka_ts DESC, "partition", "offset" LIMIT 3""",

    "q_privacy_view" -> s"""
      WITH $evoCte,
      ranked AS (
        SELECT *, row_number() OVER
          (PARTITION BY k ORDER BY ts_ms DESC, off DESC) AS rn
        FROM evo WHERE op <> 'd'
      )
      SELECT CAST(k AS INT) AS order_id,
             sha256(CAST(CAST(u AS INT) AS VARCHAR) || '::$Salt') AS user_key,
             amt AS amount_eur, st AS status
      FROM ranked WHERE rn = 1 AND amt > 500.0 ORDER BY order_id""",

    "q_privacy_view_trino" -> s"""
      WITH $evoCte,
      ranked AS (
        SELECT *, row_number() OVER
          (PARTITION BY k ORDER BY ts_ms DESC, off DESC) AS rn
        FROM evo WHERE op <> 'd'
      )
      SELECT CAST(k AS INT) AS order_id,
             upper(sha256(CAST(CAST(u AS INT) AS VARCHAR) || '::$Salt'))
               AS user_key,
             amt AS amount_eur, st AS status
      FROM ranked WHERE rn = 1 AND amt > 500.0 ORDER BY order_id""",

    "q_show_partitions" -> """
      SELECT DISTINCT 'l_returnflag=' || l_returnflag AS "partition"
      FROM lineitem ORDER BY "partition"""",

    "q_partition_evolution" -> """
      SELECT CAST(1 AS BIGINT) AS version,
             'l_returnflag=' || l_returnflag AS "partition",
             count(*) AS record_count
      FROM lineitem GROUP BY l_returnflag
      UNION ALL
      SELECT CAST(2 AS BIGINT),
             'l_returnflag=' || l_returnflag
               || '/l_linestatus=' || l_linestatus,
             count(*)
      FROM lineitem GROUP BY l_returnflag, l_linestatus
      ORDER BY version, "partition"""",

    "q_rename_table" -> """
      SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey""",

    "q_tblproperties" -> """
      SELECT * FROM (VALUES
        ('commit.retry.num-retries', '6'),
        ('write.format.default', 'parquet')
      ) AS t("key", "value") ORDER BY "key"""",

    "q_show_tables" -> """
      SELECT * FROM (VALUES
        ('bronze', 'orders_cdc_raw', false),
        ('monitoring', 'cdc_checkpoints', false),
        ('silver', 'orders_current', false),
        ('silver', 'orders_current_priv', true)
      ) AS t(namespace, table_name, is_view)
      ORDER BY namespace, table_name""",

    "q_schema_evolution" -> """
      SELECT o_orderkey, o_custkey, o_orderpriority AS priority,
             CAST(NULL AS VARCHAR) AS load_src,
             CAST(NULL AS BIGINT) AS ingest_batch
      FROM orders ORDER BY o_orderkey LIMIT 200""",

    "q_dml_insert_ctas" -> """
      SELECT o_orderkey, o_custkey, o_orderstatus FROM (
        SELECT o_orderkey, o_custkey, o_orderstatus
        FROM orders WHERE o_orderpriority = '1-URGENT'
        UNION ALL
        SELECT o_orderkey + 10000000, o_custkey, 'H'
        FROM orders WHERE o_orderpriority = '2-HIGH'
        UNION ALL
        SELECT v.k, CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR)
        FROM (VALUES (CAST(-1 AS BIGINT)), (CAST(-2 AS BIGINT))) v(k)
      ) ORDER BY o_orderkey""",

    "q_dml_update_delete" -> """
      SELECT o_orderkey,
             CASE WHEN o_orderpriority LIKE '1-%'
                  THEN o_custkey + 1000000 ELSE o_custkey END AS o_custkey,
             o_orderstatus,
             CASE WHEN o_orderpriority LIKE '1-%'
                  THEN 'RUSH-' || o_orderpriority
                  ELSE o_orderpriority END AS o_orderpriority
      FROM orders WHERE o_orderstatus <> 'F'
      ORDER BY o_orderkey""",

    "q_dml_snapshot" -> """
      SELECT o_orderkey,
             CASE WHEN o_orderpriority LIKE '1-%'
                  THEN o_custkey + 1000000 ELSE o_custkey END AS o_custkey,
             o_orderstatus,
             CASE WHEN o_orderpriority LIKE '1-%'
                  THEN 'RUSH-' || o_orderpriority
                  ELSE o_orderpriority END AS o_orderpriority
      FROM orders WHERE o_orderstatus <> 'F'
      ORDER BY o_orderkey""",

    // one equality-delete commit: content 2, records = the matched set
    "q_delete_files" -> """
      SELECT 2 AS content, count(*) AS records
      FROM orders WHERE o_orderstatus = 'F'""",

    // base files existing (status 0) at the dir's create version, the
    // fast-append file added (status 1) at its commit version
    "q_snapshot_entries" -> """
      WITH f AS (SELECT l_returnflag, count(*) AS n
                 FROM lineitem GROUP BY l_returnflag)
      SELECT 0 AS status, CAST(1 AS BIGINT) AS snapshot_id,
             'l_returnflag=' || l_returnflag AS partition,
             n AS record_count
      FROM f
      UNION ALL
      SELECT 1, CAST(2 AS BIGINT), '', CAST(2 AS BIGINT)
      ORDER BY snapshot_id, partition""",

    // per-commit operation labels + data-file record counts: v1 the
    // full table (overwrite), v2 the MOR delete (delete — data files
    // unchanged), v3 the compaction (replace — now without 'F' rows)
    "q_snapshot_summary" -> """
      WITH n_all AS (SELECT count(*) AS n FROM orders),
      n_kept AS (SELECT count(*) AS n FROM orders
                 WHERE o_orderstatus <> 'F')
      SELECT CAST(1 AS BIGINT) AS version, false AS is_current,
             'overwrite' AS operation,
             (SELECT n FROM n_all) AS record_count
      UNION ALL
      SELECT CAST(2 AS BIGINT), false, 'delete',
             (SELECT n FROM n_all)
      UNION ALL
      SELECT CAST(3 AS BIGINT), true, 'replace',
             (SELECT n FROM n_kept)
      ORDER BY version""",

    // the derived fragments recomputed relationally: year() for the
    // time transform, the md5-derived hash % 4 for the bucket
    "q_partition_transforms" -> """
      SELECT 'o_orderdate_year=' || CAST(year(o_orderdate) AS VARCHAR)
               || '/o_custkey_bucket=' ||
               CAST(('0x' || md5(CAST(o_custkey AS VARCHAR))[1:8])::BIGINT
                 % 4 AS VARCHAR) AS partition,
             count(*) AS record_count
      FROM orders
      GROUP BY 1 ORDER BY 1""",

    "q_rewrite_where" -> """
      SELECT o_orderstatus, count(*) AS orders,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
               AS BIGINT) AS revenue_cents
      FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",

    "q_analyze" -> """
      WITH stacked AS (
        SELECT 'o_orderkey' AS col, CAST(o_orderkey AS VARCHAR) AS val,
               CAST(o_orderkey AS DOUBLE) AS num FROM orders
        UNION ALL SELECT 'o_custkey', CAST(o_custkey AS VARCHAR),
               CAST(o_custkey AS DOUBLE) FROM orders
        UNION ALL SELECT 'o_orderstatus', o_orderstatus, NULL FROM orders
      ), base AS (
        SELECT col, count(CASE WHEN val IS NULL THEN 1 END) AS nulls,
               min(num) AS min_num, max(num) AS max_num,
               SUM(length(val))::DOUBLE / COUNT(val)::DOUBLE AS avg_len
        FROM stacked GROUP BY col
      ), h AS (
        SELECT DISTINCT col, ('0x' || md5(val)[1:15])::BIGINT AS h
        FROM stacked WHERE val IS NOT NULL
      ), r AS (
        SELECT col, h,
               row_number() OVER (PARTITION BY col ORDER BY h) AS rn
        FROM h
      ), kmv AS (
        SELECT col,
               CASE WHEN count(*) < 256 THEN CAST(count(*) AS DOUBLE)
                    ELSE 255.0 * 1152921504606846976.0 / max(h) END
                 AS ndv_est
        FROM r WHERE rn <= 256 GROUP BY col
      )
      SELECT b.col AS "column", nulls, kmv.ndv_est, min_num, max_num,
             avg_len, (SELECT count(*) FROM orders) AS row_count
      FROM base b LEFT JOIN kmv ON b.col = kmv.col
      ORDER BY "column"
      """,

    // the incremental merge replayed: per-part (base = keys not
    // divisible by 5, delta = the rest) stats combined with the SAME
    // operation order as the engine's merge — weighted avgLen as
    // (a*nb + b*nd)/(nb+nd), min/max null-safe extremes, and the KMV
    // union (k smallest per part → distinct → k smallest) estimator
    "q_incremental_stats" -> """
      WITH stacked AS (
        SELECT 'o_orderkey' AS col, CAST(o_orderkey AS VARCHAR) AS val,
               CAST(o_orderkey AS DOUBLE) AS num,
               CASE WHEN o_orderkey % 5 = 0 THEN 1 ELSE 0 END AS part
        FROM orders
        UNION ALL SELECT 'o_custkey', CAST(o_custkey AS VARCHAR),
               CAST(o_custkey AS DOUBLE),
               CASE WHEN o_orderkey % 5 = 0 THEN 1 ELSE 0 END
        FROM orders
        UNION ALL SELECT 'o_orderstatus', o_orderstatus, NULL,
               CASE WHEN o_orderkey % 5 = 0 THEN 1 ELSE 0 END
        FROM orders
      ), pstats AS (
        SELECT col, part,
               count(CASE WHEN val IS NULL THEN 1 END) AS nulls,
               min(num) AS mn, max(num) AS mx,
               SUM(length(val))::DOUBLE / COUNT(val)::DOUBLE AS avg_len,
               COUNT(val) AS nn
        FROM stacked GROUP BY col, part
      ), merged AS (
        SELECT b.col,
               b.nulls + d.nulls AS nulls,
               CASE WHEN b.mn IS NULL THEN d.mn
                    WHEN d.mn IS NULL THEN b.mn
                    WHEN b.mn < d.mn THEN b.mn ELSE d.mn END AS min_num,
               CASE WHEN b.mx IS NULL THEN d.mx
                    WHEN d.mx IS NULL THEN b.mx
                    WHEN b.mx > d.mx THEN b.mx ELSE d.mx END AS max_num,
               (b.avg_len * b.nn + d.avg_len * d.nn) / (b.nn + d.nn)
                 AS avg_len
        FROM (SELECT * FROM pstats WHERE part = 0) b
        JOIN (SELECT * FROM pstats WHERE part = 1) d ON b.col = d.col
      ), h AS (
        SELECT DISTINCT col, part,
               ('0x' || md5(val)[1:15])::BIGINT AS h
        FROM stacked WHERE val IS NOT NULL
      ), r AS (
        SELECT col, part, h,
               row_number() OVER (PARTITION BY col, part ORDER BY h)
                 AS rn
        FROM h
      ), u AS (
        SELECT DISTINCT col, h FROM r WHERE rn <= 256
      ), r2 AS (
        SELECT col, h,
               row_number() OVER (PARTITION BY col ORDER BY h) AS rn
        FROM u
      ), kmv AS (
        SELECT col,
               CASE WHEN count(*) < 256 THEN CAST(count(*) AS DOUBLE)
                    ELSE 255.0 * 1152921504606846976.0 / max(h) END
                 AS ndv_est
        FROM r2 WHERE rn <= 256 GROUP BY col
      )
      SELECT m.col AS "column", m.nulls, kmv.ndv_est, m.min_num,
             m.max_num, m.avg_len,
             (SELECT count(*) FROM orders) AS row_count
      FROM merged m LEFT JOIN kmv ON kmv.col = m.col
      ORDER BY "column"
      """,

    "q_commit_window" -> """
      SELECT o_orderkey, o_custkey, o_orderstatus
      FROM orders WHERE o_orderkey % 3 <> 0
      ORDER BY o_orderkey""",

    "q_bucket_join" -> """
      SELECT o_custkey, count(*) AS order_count,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
               AS BIGINT) AS revenue_cents,
             max(c_mktsegment) AS mktsegment
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY o_custkey ORDER BY o_custkey""",

    "q_bucket_join_multi" -> """
      SELECT a.l_orderkey, a.l_linenumber,
             CAST(count(*) AS BIGINT) AS pair_count,
             CAST(sum(CAST(round(a.l_quantity * 100) AS BIGINT))
               AS BIGINT) AS qty_cents,
             CAST(sum(CAST(round(b.l_extendedprice * 100) AS BIGINT))
               AS BIGINT) AS price_cents
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey
       AND a.l_linenumber = b.l_linenumber
      GROUP BY a.l_orderkey, a.l_linenumber
      ORDER BY a.l_orderkey, a.l_linenumber""",

    // DELETE → UPDATE → MERGE recomputed relationally: what the
    // merge-on-read sidecar chain must be indistinguishable from
    "q_dml_mor_ident" -> """
      SELECT o_orderkey, o_custkey, o_orderstatus,
             CASE WHEN o_orderpriority LIKE '1-%'
                  THEN 'RUSH-' || o_orderpriority
                  ELSE o_orderpriority END AS o_orderpriority
      FROM orders WHERE o_orderstatus <> 'F'
      ORDER BY o_orderkey""",

    "q_dml_mor" -> """
      WITH after_upd AS (
        SELECT o_orderkey,
               CASE WHEN o_orderpriority LIKE '1-%'
                    THEN o_custkey + 1000000 ELSE o_custkey
               END AS o_custkey,
               o_orderstatus,
               CASE WHEN o_orderpriority LIKE '1-%'
                    THEN 'RUSH-' || o_orderpriority
                    ELSE o_orderpriority END AS o_orderpriority
        FROM orders WHERE o_orderstatus <> 'F'
      ), src AS (
        SELECT o_orderkey AS k, o_custkey AS c
        FROM orders WHERE o_orderkey % 7 = 0
      )
      SELECT a.o_orderkey,
             CASE WHEN s.k IS NOT NULL THEN s.c + 5000000
                  ELSE a.o_custkey END AS o_custkey,
             CASE WHEN s.k IS NOT NULL THEN 'M'
                  ELSE a.o_orderstatus END AS o_orderstatus,
             a.o_orderpriority
      FROM after_upd a LEFT JOIN src s ON a.o_orderkey = s.k
      UNION ALL
      SELECT s.k AS o_orderkey, s.c + 5000000 AS o_custkey,
             'N' AS o_orderstatus, '9-NEW' AS o_orderpriority
      FROM src s LEFT JOIN after_upd a ON a.o_orderkey = s.k
      WHERE a.o_orderkey IS NULL
      ORDER BY o_orderkey""",

    // DELETE → UPDATE → INSERT recomputed relationally: the
    // position-delete sidecar chain must be indistinguishable too
    // (the INSERT sources the post-UPDATE table state)
    "q_dml_mor_pos" -> """
      WITH after_upd AS (
        SELECT o_orderkey,
               CASE WHEN o_orderpriority LIKE '1-%'
                    THEN o_custkey + 1000000 ELSE o_custkey
               END AS o_custkey,
               o_orderstatus,
               CASE WHEN o_orderpriority LIKE '1-%'
                    THEN 'RUSH-' || o_orderpriority
                    ELSE o_orderpriority END AS o_orderpriority
        FROM orders WHERE o_orderstatus <> 'F'
      )
      SELECT * FROM after_upd
      UNION ALL
      SELECT o_orderkey + 20000000, o_custkey, 'Z', '9-NEW'
      FROM after_upd WHERE o_orderkey % 13 = 0
      ORDER BY o_orderkey"""
  )
}
