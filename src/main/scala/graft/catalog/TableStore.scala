package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Namespaced table/view registry — the reference's catalog surface
  * (SURVEY §2.1 S6/S7/S8/S9/S10) re-expressed without a lakehouse
  * catalog service.
  *
  * Reference semantics being mirrored:
  *  - `CREATE NAMESPACE IF NOT EXISTS`
  *    (`/root/reference/jobs/ingest_orders_raw.py:22`)
  *  - `CREATE TABLE IF NOT EXISTS` with declared schema
  *    (`ingest_orders_raw.py:24-34`)
  *  - `CREATE VIEW` for the privacy layer (`README.md:106-116`)
  *  - `SHOW SCHEMAS` / `SHOW TABLES` (`README.md:200-201`)
  *  - temp-view staging for MERGE sources (`merge_orders_silver.py:132`)
  *
  * ALL state is session-shared (one catalog per session, like the
  * reference's REST catalog shared by every job): the statements reach
  * it equivalently through this Scala API or VERBATIM through
  * `spark.sql` — [[GraftSqlParser]] routes `CREATE NAMESPACE` /
  * `CREATE TABLE IF NOT EXISTS` / `CREATE VIEW` / `DROP VIEW` /
  * `SHOW SCHEMAS` / `SHOW TABLES` under the reference's catalog names
  * (`iceberg.`, `demo.`) to the commands in GraftDdlCommands.scala,
  * which call back into this class. Every registration is resolvable
  * from `spark.sql` under its qualified name
  * (`silver.orders_current_priv`, or the reference's full
  * `iceberg.silver.orders_current_priv` spelling) via
  * [[ResolveGraftRelations]]; a flat `<namespace>_<table>` temp view is
  * kept as well for sessions built without the extension. In a cluster
  * deployment the same interface fronts a metastore; here it is
  * in-session state (the reference's REST catalog is also just a
  * service wrapping a map of table → storage location).
  *
  * [[TableStore.reset]] drops every registration — the fixture hook for
  * queries that must list a catalog built from scratch.
  */
class TableStore(val spark: SparkSession) {

  private def st = TableStore.state(spark)

  private def key(ns: String, name: String): Seq[String] =
    Seq(ns, name).map(_.toLowerCase(java.util.Locale.ROOT))

  /** S6 — CREATE NAMESPACE IF NOT EXISTS. */
  def createNamespace(ns: String): Unit = {
    st.namespaces.put(ns.toLowerCase(java.util.Locale.ROOT), ())
    TableStore.persist(spark)
  }

  def listNamespaces(): Seq[String] = st.namespaces.keys.toSeq.sorted

  def tableExists(ns: String, name: String): Boolean =
    st.registry.contains(key(ns, name))

  def isView(ns: String, name: String): Boolean =
    st.views.contains(key(ns, name))

  /** Register (or replace) a table under `ns.name`: resolvable from
    * `spark.sql` as `ns.name` (and `iceberg.ns.name`), plus the flat
    * `ns_name` temp view. Registering a TABLE over a name that held a
    * late-bound view clears the view flags — otherwise the stale stored
    * view plan would shadow the new table in ResolveGraftRelations. */
  def register(ns: String, name: String, df: DataFrame): Unit = {
    createNamespace(ns)
    df.queryExecution.analyzed // force analysis at registration time
    val k = key(ns, name)
    st.views.remove(k); st.viewPlans.remove(k)
    st.registry.put(k, df)
    df.createOrReplaceTempView(s"${ns}_$name")
  }

  /** S7 — CREATE TABLE IF NOT EXISTS with a declared schema: registers
    * an empty frame only when absent; returns the current table. */
  def createTableIfNotExists(ns: String, name: String,
                             schema: StructType): DataFrame = {
    // a snapshot-backed table under this name already has data — an
    // empty frame must not shadow it (registry resolves first)
    snapshotPath(ns, name).foreach(p =>
      return graft.pipeline.Snapshot.read(spark, p))
    if (!tableExists(ns, name)) {
      register(ns, name, spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema))
      // declared-schema tables persist their SCHEMA across sessions
      st.schemaTables.put(key(ns, name), ())
      TableStore.persist(spark)
    }
    table(ns, name)
  }

  /** S8 — CREATE VIEW: same registration, flagged as a view (a Spark
    * temp view IS lazy — the masking projection re-evaluates at query
    * time exactly like the reference's Trino view). A DataFrame view
    * binds to the base tables' plans AS OF creation; SQL-created views
    * go through [[createLateBoundView]] instead and re-resolve their
    * base tables at every query. */
  def createView(ns: String, name: String, df: DataFrame): Unit = {
    register(ns, name, df)
    st.views.put(key(ns, name), ())
  }

  /** S8, SQL path — LATE-BINDING view: the UNRESOLVED query plan is
    * stored and re-resolved by [[ResolveGraftRelations]] at every read,
    * so a view over `silver.orders_current` sees the state a later
    * `MERGE INTO` produced — the reference's Trino-view semantics
    * (`/root/reference/README.md:106-121`: the view is a stored query,
    * not a snapshot). `bound` is the analyzed frame used only for the
    * flat `ns_name` temp-view fallback and creation-time validation. */
  def createLateBoundView(ns: String, name: String,
                          queryPlan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
                          bound: DataFrame,
                          sqlText: Option[String] = None): Unit = {
    createView(ns, name, bound)
    val k = key(ns, name)
    st.viewPlans.put(k, queryPlan)
    // the statement text is what survives a session (re-parsed at
    // attach); a view created without it stays session-scoped. A
    // REPLACED view keeps its ORIGINAL creation position — moving it
    // to the end would put it after views that depend on it, breaking
    // the in-order reload.
    sqlText.foreach { t =>
      st.viewSql.put(k, t)
      if (!st.viewOrder.contains(k)) st.viewOrder.add(k)
    }
    TableStore.persist(spark)
  }

  /** The stored definition of a LATE-BOUND view (unresolved plan +
    * original SQL text), if `ns.name` is one — what a failed
    * `CREATE OR REPLACE MATERIALIZED VIEW` needs to restore the view
    * it dropped. */
  def viewDefinition(ns: String, name: String)
      : Option[(org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
          Option[String])] = {
    val k = key(ns, name)
    st.viewPlans.get(k).map(p => (p, st.viewSql.get(k)))
  }

  /** DROP VIEW [IF EXISTS] (`/root/reference/README.md:105`).
    * Also drops the flat `ns_name` temp-view alias created by
    * [[register]] — a dropped view must not stay queryable under any
    * spelling.
    * @return true iff a view was dropped */
  def dropView(ns: String, name: String): Boolean = {
    val k = key(ns, name)
    val wasView = st.views.remove(k).isDefined
    if (wasView) {
      st.registry.remove(k); st.viewPlans.remove(k)
      st.viewSql.remove(k); st.viewOrder.remove(k)
      spark.catalog.dropTempView(s"${k.head}_${k(1)}")
      TableStore.persist(spark)
    }
    wasView
  }

  /** DROP TABLE [IF EXISTS] — removes a registered or snapshot-backed
    * TABLE (and its flat `ns_name` temp-view alias). Views are rejected
    * like any engine: DROP TABLE on a view is a category error, DROP
    * VIEW is the statement for that.
    * @return true iff a table was dropped */
  def dropTable(ns: String, name: String): Boolean = {
    val k = key(ns, name)
    if (st.views.contains(k))
      throw new UnsupportedOperationException(
        s"$ns.$name is a view; use DROP VIEW")
    val hadRegistry = st.registry.remove(k).isDefined
    val hadSnapshot = st.snapshotPaths.remove(k).isDefined
    if (hadRegistry || hadSnapshot) {
      st.properties.remove(k); st.schemaTables.remove(k)
      st.pendingSpecs.remove(k)
      spark.catalog.dropTempView(s"${k.head}_${k(1)}")
      TableStore.persist(spark)
    }
    hadRegistry || hadSnapshot
  }

  /** ALTER TABLE support — applies a schema-evolution transform to a
    * registered TABLE and re-registers the result. Metadata-only, like
    * Iceberg's schema evolution: the registered plan gains a projection
    * and no data is rewritten. Views are rejected (ALTER VIEW is a
    * different statement); snapshot-backed tables would need the column
    * mapping persisted beside the versioned dirs — rejected loudly
    * rather than half-supported. */
  def alterTable(ns: String, name: String,
                 f: DataFrame => DataFrame): Unit = {
    val k = key(ns, name)
    if (st.views.contains(k))
      throw new UnsupportedOperationException(
        s"cannot ALTER TABLE a view: $ns.$name")
    if (st.snapshotPaths.contains(k))
      throw new UnsupportedOperationException(
        s"ALTER TABLE on a snapshot-backed table is not supported: $ns.$name")
    register(ns, name, f(table(ns, name)))
    // a declared-schema table's persisted schema follows the evolution
    if (st.schemaTables.contains(k)) TableStore.persist(spark)
  }

  /** Current table state (a SQL MERGE may have replaced the snapshot
    * since registration). */
  def table(ns: String, name: String): DataFrame =
    st.registry.getOrElse(key(ns, name),
      throw new java.util.NoSuchElementException(s"not registered: $ns.$name"))

  def table(qualified: String): DataFrame = {
    val Array(ns, name) = qualified.split("\\.", 2)
    table(ns, name)
  }

  /** S9 — SHOW SCHEMAS as a DataFrame. */
  def showSchemas(): DataFrame = {
    import spark.implicits._
    listNamespaces().toDF("namespace")
  }

  /** Sorted (namespace, table_name, is_view) rows, optionally filtered
    * to one namespace — shared by [[showTables]] and the SQL command. */
  def tableRows(ns: String = ""): Seq[(String, String, Boolean)] =
    (st.registry.keys ++ st.snapshotPaths.keys).toSeq.distinct
      .filter(k => ns.isEmpty ||
        k.head == ns.toLowerCase(java.util.Locale.ROOT))
      .map(k => (k.head, k(1), st.views.contains(k)))
      .sortBy(r => (r._1, r._2))

  /** S9 — SHOW TABLES [IN ns] as a DataFrame (is_view mirrors engines
    * that list views alongside tables). */
  def showTables(ns: String = ""): DataFrame = {
    import spark.implicits._
    tableRows(ns).toDF("namespace", "table_name", "is_view")
  }

  /** S10 — temp-view staging for a MERGE source. */
  def stage(name: String, df: DataFrame): Unit =
    df.createOrReplaceTempView(name)

  /** S4+ — register a SNAPSHOT-BACKED table: `ns.name` resolves to the
    * LIVE parquet snapshot dir at every read (late-binding, so a
    * [[graft.pipeline.Snapshot.createOrReplace]] after registration is
    * visible), and `SELECT … FROM ns.name VERSION AS OF n` (Iceberg's
    * time-travel SQL, verbatim incl. the `iceberg.` prefix) resolves
    * any version retained by `keepVersions` — see
    * [[ResolveGraftRelations]]. */
  def registerSnapshot(ns: String, name: String, path: String): Unit = {
    createNamespace(ns)
    val k = key(ns, name)
    // snapshot registration SUPERSEDES an in-memory registration under
    // the same name: ResolveGraftRelations resolves the registry
    // first, so a leftover empty frame (the day-one CREATE TABLE …
    // PARTITIONED BY flow, or a persistent-catalog reload) would
    // shadow the real data with zero rows
    st.registry.remove(k)
    st.schemaTables.remove(k)
    spark.catalog.dropTempView(s"${k.head}_${k(1)}")
    st.snapshotPaths.put(k, path)
    // a CREATE TABLE … PARTITIONED BY spec recorded before the table
    // had a layout applies the moment it gets one (day-one hidden
    // partitioning); an existing sidecar spec on the dir wins
    st.pendingSpecs.remove(k).foreach { spec =>
      if (graft.pipeline.Snapshot.partitionSpec(path).isEmpty)
        graft.pipeline.Snapshot.setPartitionSpec(path, spec)
    }
    TableStore.persist(spark)
  }

  /** Record a partition spec declared at CREATE TABLE time for a table
    * that has no storage layout yet — [[registerSnapshot]] applies it. */
  def setPendingPartitionSpec(ns: String, name: String,
                              spec: Seq[String]): Unit = {
    st.pendingSpecs.put(key(ns, name), spec)
    TableStore.persist(spark)
  }

  def snapshotPath(ns: String, name: String): Option[String] =
    st.snapshotPaths.get(key(ns, name))

  /** ALTER TABLE … RENAME TO — moves a registered or snapshot-backed
    * TABLE (with its properties and flat `ns_name` alias) to a new
    * name, creating the target namespace if needed. Pure catalog
    * metadata: no data moves (the snapshot dir stays where it is, the
    * new name points at it — Iceberg's rename is the same catalog-only
    * operation). Views are rejected (ALTER VIEW is a different
    * statement); an occupied target raises. */
  def renameTable(ns: String, name: String,
                  toNs: String, toName: String): Unit = {
    val from = requireTableKey(ns, name)
    if (st.views.contains(from))
      throw new UnsupportedOperationException(
        s"cannot ALTER TABLE … RENAME a view: $ns.$name")
    val to = key(toNs, toName)
    if (st.registry.contains(to) || st.snapshotPaths.contains(to))
      throw new IllegalArgumentException(
        s"rename target already exists: $toNs.$toName")
    createNamespace(toNs)
    st.registry.remove(from).foreach { df =>
      st.registry.put(to, df)
      df.createOrReplaceTempView(s"${to.head}_${to(1)}")
    }
    st.snapshotPaths.remove(from).foreach(st.snapshotPaths.put(to, _))
    st.properties.remove(from).foreach(st.properties.put(to, _))
    if (st.schemaTables.remove(from).isDefined)
      st.schemaTables.put(to, ())
    st.pendingSpecs.remove(from).foreach(st.pendingSpecs.put(to, _))
    spark.catalog.dropTempView(s"${from.head}_${from(1)}")
    TableStore.persist(spark)
  }

  /** TBLPROPERTIES — session-scoped key/value metadata on a registered
    * or snapshot-backed table (like every other entry in this catalog;
    * Iceberg persists these in table metadata). Merge semantics, like
    * `ALTER TABLE … SET TBLPROPERTIES`. */
  def setProperties(ns: String, name: String,
                    props: Map[String, String]): Unit = {
    val k = requireTableKey(ns, name)
    st.properties.updateWith(k) {
      cur => Some(cur.getOrElse(Map.empty) ++ props)
    }
    TableStore.persist(spark)
  }

  /** `ALTER TABLE … UNSET TBLPROPERTIES` — a missing key raises unless
    * `ifExists` (Spark/Hive's IF EXISTS contract). */
  def unsetProperties(ns: String, name: String, keys: Seq[String],
                      ifExists: Boolean): Unit = {
    val k = requireTableKey(ns, name)
    val cur = st.properties.getOrElse(k, Map.empty)
    val missing = keys.filterNot(cur.contains)
    if (missing.nonEmpty && !ifExists)
      throw new java.util.NoSuchElementException(
        s"properties not found on $ns.$name: ${missing.mkString(", ")}" +
          " (use UNSET TBLPROPERTIES IF EXISTS to ignore)")
    st.properties.put(k, cur -- keys)
    TableStore.persist(spark)
  }

  def properties(ns: String, name: String): Map[String, String] =
    st.properties.getOrElse(requireTableKey(ns, name), Map.empty)

  /** Every table whose properties carry `prop` — the reverse index
    * the rollup query rewrite walks (gold tables advertise their
    * base-table linkage in TBLPROPERTIES, the same place Iceberg
    * would keep it). */
  def tablesWithProperty(prop: String): Seq[Map[String, String]] =
    st.properties.values.toSeq.filter(_.contains(prop))

  private def requireTableKey(ns: String, name: String): Seq[String] = {
    val k = key(ns, name)
    if (!st.registry.contains(k) && !st.snapshotPaths.contains(k))
      throw new java.util.NoSuchElementException(
        s"not a graft table: $ns.$name")
    k
  }
}

object TableStore {

  /** Per-session catalog state, shared by every TableStore instance and
    * every SQL command on the session (like a catalog service shared by
    * all clients); weak keys let sessions be collected. */
  private[catalog] final class State {
    val registry =
      scala.collection.concurrent.TrieMap.empty[Seq[String], DataFrame]
    val namespaces = scala.collection.concurrent.TrieMap.empty[String, Unit]
    val views = scala.collection.concurrent.TrieMap.empty[Seq[String], Unit]
    // SQL-created views: the stored (unresolved) view query, re-resolved
    // per read by ResolveGraftRelations — late binding, Trino-style
    val viewPlans = scala.collection.concurrent
      .TrieMap.empty[Seq[String], org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]
    // snapshot-backed tables: name → live snapshot dir (VERSION AS OF
    // resolves the versioned siblings)
    val snapshotPaths =
      scala.collection.concurrent.TrieMap.empty[Seq[String], String]
    // TBLPROPERTIES per table (SET/UNSET/SHOW TBLPROPERTIES)
    val properties = scala.collection.concurrent
      .TrieMap.empty[Seq[String], Map[String, String]]
    // ---- persistent-catalog bookkeeping (attachCatalog) ----
    // SQL text of late-bound views (the CreateView statement's
    // originalText) in CREATION ORDER — views may read earlier views
    val viewSql = scala.collection.concurrent
      .TrieMap.empty[Seq[String], String]
    val viewOrder =
      new java.util.concurrent.CopyOnWriteArrayList[Seq[String]]()
    // declared-schema tables (CREATE TABLE): schema persists, data is
    // session-scoped unless snapshot-backed
    val schemaTables =
      scala.collection.concurrent.TrieMap.empty[Seq[String], Unit]
    // CREATE TABLE … PARTITIONED BY specs awaiting a storage layout
    val pendingSpecs =
      scala.collection.concurrent.TrieMap.empty[Seq[String], Seq[String]]
    @volatile var catalogDir: Option[java.nio.file.Path] = None
    @volatile var loading: Boolean = false
  }

  private val states =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, State]())

  private[catalog] def state(s: SparkSession): State = {
    val existing = states.get(s)
    if (existing != null) existing
    else {
      val (st, isNew) = states.synchronized {
        val again = states.get(s)
        if (again != null) (again, false)
        else {
          val fresh = new State
          states.put(s, fresh)
          (fresh, true)
        }
      }
      // a session born with spark.graft.catalog.dir auto-attaches the
      // persistent catalog (outside the map lock: the load parses SQL
      // and registers tables, which re-enter state())
      if (isNew)
        scala.util.Try(s.conf.get("spark.graft.catalog.dir", ""))
          .toOption.filter(_.nonEmpty)
          .foreach(dir => attachCatalog(s, dir))
      st
    }
  }

  private[catalog] def registry(s: SparkSession) = state(s).registry

  /** Drop every graft-catalog registration on the session — a
    * from-scratch catalog for fixture queries and tests. Detaches any
    * persistent catalog dir (reset is a session-scoped fixture hook;
    * it must not wipe durable metadata). */
  def reset(s: SparkSession): Unit = {
    val st = state(s)
    st.catalogDir = None
    st.registry.clear(); st.namespaces.clear(); st.views.clear()
    st.viewPlans.clear(); st.snapshotPaths.clear()
    st.properties.clear()
    st.viewSql.clear(); st.viewOrder.clear(); st.schemaTables.clear()
    st.pendingSpecs.clear()
  }

  // -------------------------------------------------------------------
  // PERSISTENT CATALOG — the REST-catalog role of the reference's stack
  // (`/root/reference/docker-compose.yml:94-111`: a service that
  // survives restarts and is shared across engines, wrapping a map of
  // table → storage location). Attach a metadata dir and every catalog
  // mutation writes `catalog.json` through (atomic tmp + rename, the
  // same commit discipline as the snapshot layer); a FRESH SparkSession
  // attaching the same dir sees the same SHOW TABLES / DESCRIBE / view
  // surface. Persisted: namespaces, snapshot-backed registrations
  // (name → live dir; the data already lives on storage), TBLPROPERTIES,
  // declared-schema tables (schema only), and SQL-created late-bound
  // views (their statement text, re-parsed at load so they re-bind to
  // the attached tables). In-memory DataFrame registrations are
  // session-scoped by nature and are not persisted.
  // -------------------------------------------------------------------

  /** Attach `dir` as the session's persistent catalog: load whatever
    * metadata it holds (merging over the current session state), then
    * write every later mutation through. Also triggered automatically
    * when a session carries `spark.graft.catalog.dir`. */
  def attachCatalog(s: SparkSession, dir: String): Unit = {
    val st = state(s)
    val p = java.nio.file.Paths.get(dir)
    java.nio.file.Files.createDirectories(p)
    st.catalogDir = Some(p)
    val f = p.resolve("catalog.json")
    graft.pipeline.FsCommit.read(f).foreach { json =>
      st.loading = true
      try loadInto(s, json)
      finally st.loading = false
    }
    persist(s)
  }

  private def loadInto(s: SparkSession, json: String): Unit = {
    import scala.jdk.CollectionConverters._
    val store = new TableStore(s)
    val st = state(s)
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
      .readValue(json, classOf[java.util.Map[String, Object]])
    def seqOfMaps(k: String): Seq[java.util.Map[String, Object]] =
      Option(m.get(k)).toSeq.flatMap(
        _.asInstanceOf[java.util.List[java.util.Map[String, Object]]]
          .asScala)
    Option(m.get("namespaces")).toSeq
      .flatMap(_.asInstanceOf[java.util.List[String]].asScala)
      .foreach(ns => st.namespaces.put(ns, ()))
    seqOfMaps("snapshots").foreach { e =>
      val k = Seq(e.get("ns").toString, e.get("table").toString)
      st.namespaces.put(k.head, ())
      st.snapshotPaths.put(k, e.get("path").toString)
    }
    seqOfMaps("tables").foreach { e =>
      val (ns, t) = (e.get("ns").toString, e.get("table").toString)
      val schema = org.apache.spark.sql.types.DataType
        .fromJson(e.get("schema").toString)
        .asInstanceOf[org.apache.spark.sql.types.StructType]
      store.createTableIfNotExists(ns, t, schema)
    }
    seqOfMaps("properties").foreach { e =>
      val k = Seq(e.get("ns").toString, e.get("table").toString)
      val props = e.get("props")
        .asInstanceOf[java.util.Map[String, String]].asScala.toMap
      st.properties.put(k, st.properties.getOrElse(k, Map.empty) ++ props)
    }
    seqOfMaps("pending_specs").foreach { e =>
      st.pendingSpecs.put(
        Seq(e.get("ns").toString, e.get("table").toString),
        e.get("spec").asInstanceOf[java.util.List[String]].asScala.toSeq)
    }
    // views LAST and in creation order (a view may read earlier
    // views). TWO passes: a view whose base loads after it (a replace
    // shuffled dependencies) lands on the retry. One that still does
    // not analyze (its base dropped out-of-band) is REGISTERED AS TEXT
    // anyway — it stays in catalog.json and errors only when read —
    // never silently erased by the attach's closing persist.
    val views = seqOfMaps("views").map(e =>
      (e.get("ns").toString, e.get("name").toString,
        e.get("sql").toString))
    def tryLoad(ns: String, v: String, sql: String): Boolean =
      try {
        val plan = s.sessionState.sqlParser.parseQuery(sql)
        store.createLateBoundView(ns, v, plan,
          org.apache.spark.sql.graft.PlanBridge.ofRows(s, plan),
          sqlText = Some(sql))
        true
      } catch {
        case scala.util.control.NonFatal(_) => false
      }
    val failed = views.filterNot { case (ns, v, sql) =>
      tryLoad(ns, v, sql) }
    failed.foreach { case (ns, v, sql) =>
      if (!tryLoad(ns, v, sql)) {
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"persisted view $ns.$v does not analyze against the " +
            "attached tables; keeping its definition (it will error " +
            "when read)")
        val k = Seq(ns, v).map(_.toLowerCase(java.util.Locale.ROOT))
        st.viewSql.put(k, sql)
        if (!st.viewOrder.contains(k)) st.viewOrder.add(k)
      }
    }
  }

  /** Write the attached catalog file through (atomic tmp + rename).
    * No-op while loading or when no dir is attached. */
  private[catalog] def persist(s: SparkSession): Unit = {
    val st = state(s)
    if (st.loading) return
    st.catalogDir.foreach { p =>
      st.synchronized {
        import scala.jdk.CollectionConverters._
        def jmap(kv: (String, Object)*): java.util.Map[String, Object] = {
          val m = new java.util.LinkedHashMap[String, Object]()
          kv.foreach { case (k, v) => m.put(k, v) }
          m
        }
        val root = jmap(
          "namespaces" -> st.namespaces.keys.toSeq.sorted.asJava,
          "snapshots" -> st.snapshotPaths.toSeq.sortBy(_._1.mkString("."))
            .map { case (k, path) =>
              jmap("ns" -> k.head, "table" -> k(1), "path" -> path)
            }.asJava,
          "tables" -> st.schemaTables.keys.toSeq
            .sortBy(_.mkString("."))
            .flatMap(k => st.registry.get(k).map(df =>
              jmap("ns" -> k.head, "table" -> k(1),
                "schema" -> df.schema.json))).asJava,
          "properties" -> st.properties.toSeq
            .filter(_._2.nonEmpty).sortBy(_._1.mkString("."))
            .map { case (k, props) =>
              jmap("ns" -> k.head, "table" -> k(1),
                "props" -> props.asJava)
            }.asJava,
          "pending_specs" -> st.pendingSpecs.toSeq
            .sortBy(_._1.mkString("."))
            .map { case (k, spec) =>
              jmap("ns" -> k.head, "table" -> k(1),
                "spec" -> spec.asJava)
            }.asJava,
          "views" -> st.viewOrder.asScala.distinct
            .flatMap(k => st.viewSql.get(k).map(sql =>
              jmap("ns" -> k.head, "name" -> k(1), "sql" -> sql)))
            .asJava)
        val json = new com.fasterxml.jackson.databind.ObjectMapper()
          .writerWithDefaultPrettyPrinter().writeValueAsString(root)
        graft.pipeline.FsCommit.replace(p.resolve("catalog.json"), json)
      }
    }
  }
}
