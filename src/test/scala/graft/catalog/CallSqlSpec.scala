package graft.catalog

import graft.SparkSpec
import graft.pipeline.Snapshot
import org.apache.spark.sql.functions.{col, max, min}

/** `CALL iceberg.system.<proc>(…)` — Iceberg's maintenance procedures
  * executed verbatim through `spark.sql` against snapshot-backed
  * tables. */
class CallSqlSpec extends SparkSpec {
  import spark.implicits._

  private def fixture(): (TableStore, String) = {
    TableStore.reset(spark)
    val store = new TableStore(spark)
    val dir = java.nio.file.Files.createTempDirectory("callspec")
      .toString + "/t"
    // three versions: v1 = {1}, v2 = {1,2}, v3 = {1,2,3} (live)
    (1 to 3).foreach { n =>
      Snapshot.createOrReplace(
        (1 to n).map(i => (i, s"row$i")).toDF("id", "tag"),
        dir, keepVersions = 5)
    }
    store.registerSnapshot("maint", "t", dir)
    (store, dir)
  }

  test("parseWhere: repeated fields intersect; quoted AND survives") {
    // conjunction over one field = intersection, not union
    assert(GraftCallCommand.parseWhere("f = 'a' AND f IN ('b')")
      == Map("f" -> Seq.empty))
    assert(GraftCallCommand.parseWhere(
      "f IN ('a','b','c') AND f IN ('b','c','d')")
      == Map("f" -> Seq("b", "c")))
    // a quoted value containing the word AND is ONE value
    assert(GraftCallCommand.parseWhere("f = 'rock AND roll'")
      == Map("f" -> Seq("rock AND roll")))
    assert(GraftCallCommand.parseWhere(
      "f IN ('x AND y', 'z') AND g = '1'")
      == Map("f" -> Seq("x AND y", "z"), "g" -> Seq("1")))
    // word-boundary: a field named ANDREW does not split
    assert(GraftCallCommand.parseWhere("android = '1'")
      == Map("android" -> Seq("1")))
  }

  test("create_rollup registers the maintained GROUP-BY table; " +
    "refresh_rollup folds the source's commit window into it by name") {
    TableStore.reset(spark)
    val store = new TableStore(spark)
    val dir = java.nio.file.Files.createTempDirectory("callru")
      .toString + "/facts"
    val facts = (1 to 100).map(i => (i.toLong, s"g${i % 4}",
      i.toDouble)).toDF("id", "grp", "amount")
    Snapshot.createOrReplace(facts, dir, keepVersions = 2)
    store.registerSnapshot("gold", "facts", dir)
    val created = spark.sql(
      """CALL iceberg.system.create_rollup(
         table => 'gold.facts', name => 'gold.by_grp',
         group_by => 'grp', sum_cols => 'amount')""").collect()
    assert(created.head.getLong(0) == 4L)
    // the gold table is a plain catalog table now
    val served = spark.table("gold.by_grp")
      .select(col("grp"), col("cnt"),
        col("sum_amount").cast("double").as("s"))
      .as[(String, Long, Double)].collect()
      .map { case (g, c, s) => g -> ((c, s)) }.toMap
    assert(served("g1") ==
      ((25L, (1 to 100).filter(_ % 4 == 1).sum.toDouble)))
    // a fast-append wave, then refresh BY NAME
    Snapshot.morCommit(spark, dir, deletes = None,
      appends = Some(Seq((1000L, "g1", 5.0))
        .toDF("id", "grp", "amount")), operation = "append")
    val touched = spark.sql(
      """CALL iceberg.system.refresh_rollup(table => 'gold.by_grp')"""
    ).collect()
    assert(touched.head.getLong(0) == 1L)
    val after = spark.table("gold.by_grp")
      .filter(col("grp") === "g1")
      .select(col("cnt"), col("sum_amount").cast("double"))
      .as[(Long, Double)].collect().head
    assert(after == ((26L,
      (1 to 100).filter(_ % 4 == 1).sum.toDouble + 5.0)))
    // a second refresh is a no-op
    assert(spark.sql(
      """CALL iceberg.system.refresh_rollup(table => 'gold.by_grp')"""
    ).collect().head.getLong(0) == 0L)
    // a non-rollup table refuses loudly
    val e = intercept[IllegalArgumentException] {
      spark.sql(
        "CALL iceberg.system.refresh_rollup(table => 'gold.facts')")
        .collect()
    }
    assert(e.getMessage.contains("create_rollup"))
  }

  test("rewrite_data_files compacts to the target file count, keeps " +
    "rows and history") {
    val (_, dir) = fixture()
    val before = spark.read.parquet(dir).as[(Int, String)].collect().toSet
    val res = spark.sql(
      """CALL iceberg.system.rewrite_data_files(
         table => 'maint.t', target_file_count => 2)""").collect()
    assert(res.head.getLong(1) == 2L)
    assert(Snapshot.fileCount(dir) == 2)
    assert(spark.read.parquet(dir).as[(Int, String)].collect().toSet
      == before)
    // pre-compaction state retained as a time-travelable version
    assert(Snapshot.readAsOf(spark, dir, 3).count() == 3)
  }

  test("rewrite_data_files(where => …) compacts ONLY the matching " +
    "partition; untouched partitions carry forward byte-identical") {
    TableStore.reset(spark)
    val store = new TableStore(spark)
    val dir = java.nio.file.Files.createTempDirectory("callwhere")
      .toString + "/t"
    val df = (1 to 4000).map(i =>
      (i.toLong, if (i % 2 == 0) "hot" else "cold", s"v$i"))
      .toDF("id", "part", "tag")
    // 8 small files per fragment — the CDC-peppered shape
    Snapshot.createOrReplacePartitioned(df.repartition(8), dir,
      Seq("part"), keepVersions = 3)
    store.registerSnapshot("maint", "w", dir)
    def files(frag: String): Map[String, Array[Byte]] = {
      import scala.jdk.CollectionConverters._
      val d = java.nio.file.Paths.get(dir, s"part=$frag")
      val s = java.nio.file.Files.list(d)
      try s.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .map(p => p.getFileName.toString ->
          java.nio.file.Files.readAllBytes(p)).toMap
      finally s.close()
    }
    val coldBefore = files("cold")
    assert(coldBefore.size == 8 && files("hot").size == 8)
    val before = spark.sql("SELECT * FROM maint.w")
      .as[(Long, String, String)].collect().toSet
    val res = spark.sql("""CALL iceberg.system.rewrite_data_files(
      table => 'maint.w', where => "part = 'hot'",
      target_file_count => 1)""").collect()
    assert(res.head.getLong(0) == 8L && res.head.getLong(1) == 1L)
    // hot coalesced, cold BYTE-IDENTICAL (names and bytes)
    assert(files("hot").size == 1)
    val coldAfter = files("cold")
    assert(coldAfter.keySet == coldBefore.keySet)
    coldAfter.foreach { case (n, bytes) =>
      assert(java.util.Arrays.equals(bytes, coldBefore(n)),
        s"untouched file rewritten: $n") }
    // content unchanged; pre-compaction version still travels
    assert(spark.sql("SELECT * FROM maint.w")
      .as[(Long, String, String)].collect().toSet == before)
    assert(Snapshot.readAsOf(spark, dir, 1).count() == 4000)
    // guard rails: data-column predicates and no-match predicates raise
    intercept[IllegalArgumentException] {
      spark.sql("""CALL iceberg.system.rewrite_data_files(
        table => 'maint.w', where => "tag = 'v1'")""")
    }
    intercept[java.util.NoSuchElementException] {
      spark.sql("""CALL iceberg.system.rewrite_data_files(
        table => 'maint.w', where => "part = 'absent'")""")
    }
    // IN form matches both fragments
    val res2 = spark.sql("""CALL iceberg.system.rewrite_data_files(
      table => 'maint.w', where => "part IN ('hot', 'cold')",
      target_file_count => 2)""").collect()
    // hot already sat at 1 file — coalesce(2) cannot split it, so the
    // new version holds 1 (hot) + 2 (cold) files
    assert(res2.head.getLong(1) == 3L)
    assert(spark.sql("SELECT * FROM maint.w")
      .as[(Long, String, String)].collect().toSet == before)
  }

  test("rewrite_data_files strategy => 'sort' clusters files into " +
    "disjoint key ranges; zorder spelling parses; bad strategies raise") {
    TableStore.reset(spark)
    val store = new TableStore(spark)
    val dir = java.nio.file.Files.createTempDirectory("sortrw")
      .toString + "/t"
    // shuffled ids so the unsorted layout interleaves ranges
    val rows = scala.util.Random.shuffle((1 to 1000).toList)
      .map(i => (i, i % 7))
    Snapshot.createOrReplace(
      rows.toDF("id", "grp").repartition(8), dir, keepVersions = 2)
    store.registerSnapshot("maint", "sorted", dir)
    val res = spark.sql(
      """CALL iceberg.system.rewrite_data_files(
         table => 'maint.sorted', target_file_count => 4,
         strategy => 'sort', sort_order => 'id')""").collect()
    assert(res.head.getLong(1) == 4L)
    assert(spark.read.parquet(dir).as[(Int, Int)].collect().toSet ==
      rows.toSet)
    // every data file covers a DISJOINT id range (the clustering that
    // makes parquet min/max stats prune a point/range query)
    val ranges = spark.read.parquet(dir)
      .select(col("_metadata.file_path").as("f"), col("id"))
      .groupBy("f").agg(min("id").as("lo"), max("id").as("hi"))
      .as[(String, Int, Int)].collect().sortBy(_._2)
    assert(ranges.length == 4)
    ranges.sliding(2).foreach { case Array(a, b) =>
      assert(a._3 < b._2, s"file ranges overlap: $a vs $b")
    }
    // zorder spelling parses and preserves content
    spark.sql("""CALL iceberg.system.rewrite_data_files(
         table => 'maint.sorted', target_file_count => 2,
         strategy => 'sort', sort_order => 'zorder(id, grp)')""")
    assert(spark.read.parquet(dir).as[(Int, Int)].collect().toSet ==
      rows.toSet)
    // sort without sort_order, and unknown strategies, raise
    intercept[IllegalArgumentException] {
      spark.sql("""CALL iceberg.system.rewrite_data_files(
        table => 'maint.sorted', strategy => 'sort')""") }
    intercept[IllegalArgumentException] {
      spark.sql("""CALL iceberg.system.rewrite_data_files(
        table => 'maint.sorted', strategy => 'cluster')""") }
  }

  test("register_table adopts an existing snapshot dir under a new " +
    "name; add_files imports an external parquet layout as one new " +
    "commit") {
    val (_, dir) = fixture()
    // adopt the same layout under a second catalog name
    val res = spark.sql(s"""CALL iceberg.system.register_table(
        table => 'maint.adopted', metadata_file => '$dir')""").collect()
    assert(res.head.getLong(0) == 3L)   // current_snapshot_id
    assert(res.head.getLong(1) == 3L)   // total_records_count
    assert(spark.sql("SELECT count(*) FROM maint.adopted")
      .as[Long].head() == 3L)
    intercept[IllegalArgumentException] {
      spark.sql("""CALL iceberg.system.register_table(
        table => 'maint.ghost', metadata_file => '/nonexistent/dir')""") }
    // add_files: an external parquet dir lands as one new commit
    val ext = java.nio.file.Files.createTempDirectory("addfiles")
      .toString + "/ext"
    Seq((10, "row10"), (11, "row11")).toDF("id", "tag")
      .write.parquet(ext)
    val add = spark.sql(s"""CALL iceberg.system.add_files(
        table => 'maint.t', source_table => '`parquet`.`$ext`')""")
      .collect()
    assert(add.head.getLong(1) == 2L)
    assert(spark.sql("SELECT id FROM maint.t ORDER BY id")
      .as[Int].collect().toSeq == Seq(1, 2, 3, 10, 11))
    // the pre-import state stays time-travelable
    assert(Snapshot.readAsOf(spark, Snapshot.currentVersion(dir)
      .map(_ => dir).get, 3L).count() == 3L)
  }

  test("expire_snapshots drops the oldest versions beyond retain_last") {
    val (_, dir) = fixture()
    assert(Snapshot.historicalVersions(dir) == Seq(1L, 2L))
    val res = spark.sql(
      "CALL system.expire_snapshots(table => 'maint.t', retain_last => 1)")
      .collect()
    assert(res.head.getLong(0) == 1L)
    assert(Snapshot.historicalVersions(dir) == Seq(2L))
    intercept[Exception] { Snapshot.readAsOf(spark, dir, 1) }
  }

  test("expire_snapshots older_than expires by commit instant; " +
    "rollback_to_timestamp restores the snapshot current at the " +
    "instant") {
    val (_, dir) = fixture()   // v1={1}, v2={1,2}, v3={1,2,3} live
    val at2 = Snapshot.committedAt(dir, 2L).get
    // rollback to v1's era: the instant just before v2's commit
    val rb = spark.sql(s"""CALL iceberg.system.rollback_to_timestamp(
        table => 'maint.t', timestamp => ${at2 - 1})""").collect()
    assert(rb.head.getLong(0) == 3L && rb.head.getLong(1) == 4L)
    assert(spark.sql("SELECT id FROM maint.t").as[Int].collect().toSeq
      == Seq(1))
    // an instant before every commit raises
    intercept[IllegalArgumentException] {
      spark.sql("""CALL iceberg.system.rollback_to_timestamp(
        table => 'maint.t', timestamp => 1)""") }
    // older_than at v2's instant expires only v1 (strictly-before)
    assert(Snapshot.historicalVersions(dir) == Seq(1L, 2L, 3L))
    val exp = spark.sql(s"""CALL iceberg.system.expire_snapshots(
        table => 'maint.t', older_than => $at2)""").collect()
    assert(exp.head.getLong(0) == 1L)
    assert(Snapshot.historicalVersions(dir) == Seq(2L, 3L))
    // the TIMESTAMP-literal and string spellings parse too (UTC;
    // date-only strings mean midnight UTC): far future → all but live
    assert(spark.sql("""CALL iceberg.system.expire_snapshots(
        table => 'maint.t',
        older_than => TIMESTAMP '2099-06-01 12:00:00')""")
      .as[Long].head() == 2L)
    spark.sql("""CALL iceberg.system.expire_snapshots(
        table => 'maint.t', older_than => '2100-01-01')""")
    assert(Snapshot.historicalVersions(dir).isEmpty)
  }

  test("expire_snapshots: retain_last beside older_than is a FLOOR — " +
    "a far-future cutoff must still keep the newest retained " +
    "versions the caller asked for") {
    val (_, dir) = fixture() // history v1, v2; live v3
    val exp = spark.sql("""CALL iceberg.system.expire_snapshots(
        table => 'maint.t',
        older_than => TIMESTAMP '2099-01-01 00:00:00',
        retain_last => 2)""").collect()
    assert(exp.head.getLong(0) == 1L,
      "only v1 may expire: live v3 + newest historical v2 are the " +
        "two retained snapshots the floor protects")
    assert(Snapshot.historicalVersions(dir) == Seq(2L))
    assert(Snapshot.readAsOf(spark, dir, 2).count() == 2L)
  }

  test("a positional argument AFTER a named one is rejected loudly — " +
    "silently dropping it would make create_tag point at the wrong " +
    "version") {
    fixture()
    assert(intercept[IllegalArgumentException] {
      spark.sql(
        "CALL iceberg.system.create_tag('maint.t', tag => 'x', 7)")
        .collect()
    }.getMessage.contains("positional"))
  }

  test("rewrite_data_files(strategy => 'sort') refuses a where " +
    "predicate instead of silently rewriting the whole table") {
    fixture()
    assert(intercept[IllegalArgumentException] {
      spark.sql("""CALL iceberg.system.rewrite_data_files(
          table => 'maint.t', strategy => 'sort',
          sort_order => 'id', where => 'id = 1')""").collect()
    }.getMessage.contains("binpack"))
  }

  test("create_changelog_view defaults its window on a MERGE-ON-READ-" +
    "only history: the oldest retained version is a sidecar commit, " +
    "not a .vN dir") {
    TableStore.reset(spark)
    val store = new TableStore(spark)
    val dir = java.nio.file.Files.createTempDirectory("callmorcl")
      .toString + "/t"
    Snapshot.createOrReplace(
      Seq((1, "row1")).toDF("id", "tag"), dir, keepVersions = 5)
    Snapshot.morCommit(spark, dir, deletes = None,
      appends = Some(Seq((2, "row2")).toDF("id", "tag")),
      operation = "append")
    store.registerSnapshot("morcl", "t", dir)
    assert(Snapshot.historicalVersions(dir).isEmpty,
      "fixture: the whole history is MOR commits")
    spark.sql("""CALL iceberg.system.create_changelog_view(
        table => 'morcl.t', identifier_columns => 'id')""").collect()
    assert(spark.sql("SELECT id, op FROM t_changes")
      .as[(Int, String)].collect().toSet == Set((2, "insert")))
  }

  test("rollback_to_snapshot restores an old version as a NEW commit; " +
    "positional args work") {
    val (_, dir) = fixture()
    val res = spark.sql(
      "CALL iceberg.system.rollback_to_snapshot('maint.t', 1)").collect()
    assert(res.head.getLong(0) == 3L) // previous live
    assert(res.head.getLong(1) == 4L) // rollback is itself a commit
    assert(spark.read.parquet(dir).as[(Int, String)].collect().toSet
      == Set((1, "row1")))
    // the rolled-back-over state is still time-travelable
    assert(Snapshot.readAsOf(spark, dir, 3).count() == 3)
  }

  test("set_current_snapshot points live at ANY retained snapshot — " +
    "backward then FORWARD again, each its own commit") {
    val (_, dir) = fixture()
    val back = spark.sql("CALL iceberg.system.set_current_snapshot(" +
      "table => 'maint.t', snapshot_id => 1)").collect().head
    assert(back.getLong(0) == 3L && back.getLong(1) == 4L)
    assert(spark.read.parquet(dir).count() == 1)
    // forward to the 3-row state rollback left behind
    val fwd = spark.sql(
      "CALL iceberg.system.set_current_snapshot('maint.t', 3)")
      .collect().head
    assert(fwd.getLong(0) == 4L && fwd.getLong(1) == 5L)
    assert(spark.read.parquet(dir).count() == 3)
  }

  test("rewrite_manifests rebuilds the scan-manifest sidecar from " +
    "current files; explicit columns work without a write order") {
    TableStore.reset(spark)
    val store = new TableStore(spark)
    val dir = java.nio.file.Files.createTempDirectory("rwman")
      .toString + "/t"
    Snapshot.createOrReplace(
      (1 to 100).map(i => (i, s"r$i")).toDF("id", "tag")
        .repartition(4), dir, keepVersions = 2)
    store.registerSnapshot("maint", "m", dir)
    // no write order, no columns → loud error
    val e = intercept[Exception] {
      spark.sql("CALL iceberg.system.rewrite_manifests(" +
        "table => 'maint.m')").collect()
    }
    assert(e.getMessage.contains("columns"))
    val res = spark.sql("CALL iceberg.system.rewrite_manifests(" +
      "table => 'maint.m', columns => 'id')").collect().head
    assert(res.getLong(0) == 0L && res.getLong(1) == 1L)
    assert(graft.pipeline.ScanPruning.hasManifest(dir))
    // manifest-planned pruned read equals the plain filter
    val pr = Snapshot.prunedRead(spark, dir,
      Seq(graft.pipeline.ScanPruning.ColumnRange("id",
        Some(10), Some(20))))
    assert(pr.count() == 11)
    // second call reports the rewrite
    val res2 = spark.sql("CALL iceberg.system.rewrite_manifests(" +
      "table => 'maint.m', columns => 'id')").collect().head
    assert(res2.getLong(0) == 1L && res2.getLong(1) == 1L)
    // partitioned layouts refuse with the capability message, not the
    // writer's internal basename-collision invariant
    val pdir = java.nio.file.Files.createTempDirectory("rwmanp")
      .toString + "/t"
    Snapshot.createOrReplacePartitioned(
      (1 to 40).map(i => (i, i % 2)).toDF("id", "grp"), pdir,
      Seq("grp"), keepVersions = 2)
    store.registerSnapshot("maint", "mp", pdir)
    val ep = intercept[UnsupportedOperationException] {
      spark.sql("CALL iceberg.system.rewrite_manifests(" +
        "table => 'maint.mp', columns => 'id')").collect()
    }
    assert(ep.getMessage.contains("unsupported on partitioned"))
  }

  test("metadata tables: ns.t.history lists retained versions, " +
    "ns.t.snapshots adds lazy record counts, 4-part prefix works") {
    val (_, dir) = fixture()
    val hist = spark.sql(
      "SELECT * FROM maint.t.history ORDER BY version")
      .as[(Long, Boolean, java.sql.Timestamp)].collect().toSeq
    assert(hist.map { case (v, c, _) => (v, c) } ==
      Seq((1L, false), (2L, false), (3L, true)))
    // made_current_at carries the commit instants, strictly increasing
    assert(hist.map(_._3.getTime).sorted == hist.map(_._3.getTime))
    val snaps = spark.sql(
      """SELECT version, is_current, record_count
         FROM iceberg.maint.t.snapshots ORDER BY version""")
      .as[(Long, Boolean, Long)].collect().toSeq
    assert(snaps == Seq((1L, false, 1L), (2L, false, 2L), (3L, true, 3L)))
    // snapshots reflects maintenance: expire v1 → row gone
    spark.sql(
      "CALL system.expire_snapshots(table => 'maint.t', retain_last => 1)")
    assert(spark.sql("SELECT version FROM maint.t.history ORDER BY version")
      .as[Long].collect().toSeq == Seq(2L, 3L))
    // a non-snapshot-backed 3-part name falls through to Spark's error
    intercept[Exception] {
      spark.sql("SELECT * FROM maint.nope.history").collect() }
  }

  test("metadata tables: ns.t.metadata_log_entries lists one row per " +
    "retained commit with the marker file and its instant") {
    val (_, dir) = fixture()
    val log = spark.sql(
      """SELECT timestamp, file, latest_snapshot_id
         FROM maint.t.metadata_log_entries ORDER BY latest_snapshot_id""")
      .as[(java.sql.Timestamp, String, Long)].collect().toSeq
    assert(log.map(_._3) == Seq(1L, 2L, 3L))
    assert(log.map(_._1.getTime) == log.map(_._1.getTime).sorted)
    assert(log.forall(_._2.endsWith("/_graft_version")))
    assert(log.last._2 == s"$dir/_graft_version")
    assert(log.head._2 == s"$dir.v1/_graft_version")
  }

  test("metadata tables: ns.t.files / ns.t.partitions / ns.t.all_files " +
    "carry per-file and per-partition stats; partitioned layout shows " +
    "its k=v fragments") {
    TableStore.reset(spark)
    val store = new TableStore(spark)
    val dir = java.nio.file.Files.createTempDirectory("filesmeta")
      .toString + "/t"
    import org.apache.spark.sql.functions.col
    val df = Seq((1, "a"), (2, "a"), (3, "b")).toDF("id", "grp")
    Snapshot.createOrReplacePartitioned(
      df.filter(col("id") <= 2).repartition(col("grp")), dir,
      Seq("grp"), keepVersions = 2)
    Snapshot.createOrReplacePartitioned(
      df.repartition(col("grp")), dir, Seq("grp"), keepVersions = 2)
    store.registerSnapshot("maint", "pt", dir)
    // files: current snapshot only, one file per partition value
    val files = spark.sql(
      """SELECT partition, file_format, record_count
         FROM iceberg.maint.pt.files ORDER BY partition""")
      .as[(String, String, Long)].collect().toSeq
    assert(files == Seq(("grp=a", "parquet", 2L), ("grp=b", "parquet", 1L)))
    // file_path and a positive file size are carried too
    val sized = spark.sql(
      "SELECT file_path, file_size_in_bytes FROM maint.pt.files")
      .as[(String, Long)].collect()
    assert(sized.length == 2 &&
      sized.forall { case (p, sz) => p.endsWith(".parquet") && sz > 0 })
    // partitions: the rollup
    assert(spark.sql(
      """SELECT partition, record_count, file_count
         FROM maint.pt.partitions ORDER BY partition""")
      .as[(String, Long, Long)].collect().toSeq ==
      Seq(("grp=a", 2L, 1L), ("grp=b", 1L, 1L)))
    // all_files: every retained version, version-labeled
    assert(spark.sql(
      """SELECT version, partition, record_count
         FROM maint.pt.all_files ORDER BY version, partition""")
      .as[(Long, String, Long)].collect().toSeq ==
      Seq((1L, "grp=a", 2L), (2L, "grp=a", 2L), (2L, "grp=b", 1L)))
    // manifests: per-partition-dir totals with a positive byte length
    val man = spark.sql(
      """SELECT path, length, added_data_files_count, added_rows_count
         FROM maint.pt.manifests ORDER BY path""")
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(man.map { case (p, _, f, r) => (p, f, r) } ==
      Seq(("grp=a", 1L, 2L), ("grp=b", 1L, 1L)))
    assert(man.forall(_._2 > 0))
    // all_manifests: the same rollup across every retained version
    assert(spark.sql(
      """SELECT version, path, added_rows_count
         FROM maint.pt.all_manifests ORDER BY version, path""")
      .as[(Long, String, Long)].collect().toSeq ==
      Seq((1L, "grp=a", 2L), (2L, "grp=a", 2L), (2L, "grp=b", 1L)))
    // an unpartitioned table reports the empty partition fragment
    val flat = java.nio.file.Files.createTempDirectory("filesflat")
      .toString + "/t"
    Snapshot.createOrReplace(df.coalesce(1), flat)
    store.registerSnapshot("maint", "flat", flat)
    assert(spark.sql(
      """SELECT partition, record_count, file_count
         FROM maint.flat.partitions""")
      .as[(String, Long, Long)].collect().toSeq == Seq(("", 3L, 1L)))
  }

  test("create_changelog_view registers a diff view between retained " +
    "versions: defaults, explicit bounds and view name, and the " +
    "missing-identifier error") {
    val (_, _) = fixture() // v1={1}, v2={1,2}, v3={1,2,3} live
    val view = spark.sql("""CALL iceberg.system.create_changelog_view(
        table => 'maint.t', identifier_columns => 'id')""")
      .as[String].head()
    assert(view == "t_changes")
    // default bounds: oldest retained (1) -> live (3): rows 2,3 insert
    assert(spark.sql("SELECT id, op FROM t_changes ORDER BY id")
      .as[(Int, String)].collect().toSeq ==
      Seq((2, "insert"), (3, "insert")))
    // explicit bounds + name
    spark.sql("""CALL iceberg.system.create_changelog_view(
        table => 'maint.t', identifier_columns => 'id',
        start_version => 2, end_version => 3,
        changelog_view => 'clv_23')""")
    assert(spark.sql("SELECT id, op FROM clv_23")
      .as[(Int, String)].collect().toSeq == Seq((3, "insert")))
    intercept[Exception] {
      spark.sql("CALL iceberg.system.create_changelog_view(" +
        "table => 'maint.t')") }
    // SET IDENTIFIER FIELDS stores the key metadata ONCE on the table
    // (Iceberg's shape) — the call then needs no identifier_columns,
    // and DROP restores the must-specify error
    spark.sql("ALTER TABLE maint.t SET IDENTIFIER FIELDS id")
    val desc = spark.sql("DESCRIBE EXTENDED maint.t").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(desc.get("Identifier Fields").contains("[id]"), desc)
    val v2 = spark.sql("CALL iceberg.system.create_changelog_view(" +
      "table => 'maint.t', changelog_view => 'clv_ident')")
      .as[String].head()
    assert(v2 == "clv_ident")
    assert(spark.sql("SELECT id, op FROM clv_ident ORDER BY id")
      .as[(Int, String)].collect().toSeq ==
      Seq((2, "insert"), (3, "insert")))
    // unknown column and drop-of-unset raise; DROP clears the default
    intercept[IllegalArgumentException] {
      spark.sql("ALTER TABLE maint.t SET IDENTIFIER FIELDS nope") }
    intercept[java.util.NoSuchElementException] {
      spark.sql("ALTER TABLE maint.t DROP IDENTIFIER FIELDS tag") }
    spark.sql("ALTER TABLE maint.t DROP IDENTIFIER FIELDS id")
    intercept[Exception] {
      spark.sql("CALL iceberg.system.create_changelog_view(" +
        "table => 'maint.t')") }
  }

  test("cherrypick_snapshot / publish_changes apply a staged branch's " +
    "DELTA onto a moved live (unlike fast_forward's wholesale replace); " +
    "conflicts raise: unknown id, non-append branch, expired fork") {
    TableStore.reset(spark)
    val store = new TableStore(spark)
    val dir = java.nio.file.Files.createTempDirectory("cherryspec")
      .toString + "/t"
    // v1 = {1,2}; stage branch with {1,2,10} (append of 10, fork=v1);
    // live moves to v2 = {1,2,3}
    Snapshot.createOrReplace(
      Seq((1, "a"), (2, "b")).toDF("id", "tag"), dir, keepVersions = 5)
    store.registerSnapshot("maint", "cp", dir)
    Snapshot.writeBranch(
      Seq((1, "a"), (2, "b"), (10, "staged")).toDF("id", "tag"),
      dir, "wap_x")
    val id = Snapshot.branchSnapshotId(dir, "wap_x").get
    assert(id > 1000L)
    Snapshot.createOrReplace(
      Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "tag"),
      dir, keepVersions = 5)

    val res = spark.sql(s"""CALL iceberg.system.cherrypick_snapshot(
      table => 'maint.cp', snapshot_id => $id)""").collect()
    assert(res.head.getLong(0) == id)
    // live kept its own v2 commit AND gained the staged delta
    assert(spark.read.parquet(dir).as[(Int, String)].collect().toSet ==
      Set((1, "a"), (2, "b"), (3, "c"), (10, "staged")))
    // the branch is consumed
    assert(Snapshot.branches(dir).isEmpty)

    // snapshot ids are NEVER reused (Iceberg's contract): a branch
    // staged after the first one was consumed gets a FRESH id from the
    // persisted high-water mark, so a caller holding the old id gets
    // "no staged snapshot", never another branch's content
    Snapshot.writeBranch(
      spark.read.parquet(dir).limit(0), dir, "wap_next")
    val nextId = Snapshot.branchSnapshotId(dir, "wap_next").get
    assert(nextId > id,
      s"branch id $nextId must exceed the consumed branch's id $id")
    Snapshot.dropBranch(dir, "wap_next")

    // unknown snapshot id
    intercept[java.util.NoSuchElementException] {
      spark.sql("""CALL iceberg.system.cherrypick_snapshot(
        table => 'maint.cp', snapshot_id => 999999)""").collect() }

    // non-append branch: removes a fork row → refused
    Snapshot.writeBranch(
      Seq((1, "a")).toDF("id", "tag"), dir, "wap_bad")
    val e = intercept[IllegalStateException] {
      spark.sql("""CALL iceberg.system.publish_changes(
        table => 'maint.cp', wap_id => 'wap_bad')""").collect() }
    assert(e.getMessage.contains("append"))
    Snapshot.dropBranch(dir, "wap_bad")

    // refs keep snapshots reachable: a staged branch's FORK version
    // survives expiry (else a later publish could never compute its
    // delta) — Iceberg's retention contract, same as tags
    Snapshot.writeBranch(
      spark.read.parquet(dir).unionByName(
        Seq((11, "late")).toDF("id", "tag")), dir, "wap_late")
    val fork = Snapshot.branchForkVersion(dir, "wap_late").get
    (1 to 3).foreach { n =>
      Snapshot.createOrReplace(
        Seq((n, "spin")).toDF("id", "tag"), dir, keepVersions = 5) }
    Snapshot.expireSnapshots(dir, retainLast = 1)
    assert(Snapshot.historicalVersions(dir).contains(fork),
      "a staged branch's fork version must survive expiry")

    // a fork lost OUT-OF-BAND (manual cleanup, pre-protection layouts)
    // still raises the clear conflict instead of guessing a delta
    def rmTree(p: java.nio.file.Path): Unit =
      if (java.nio.file.Files.exists(p)) {
        java.nio.file.Files.walk(p)
          .sorted(java.util.Comparator.reverseOrder())
          .forEach(f => java.nio.file.Files.delete(f))
      }
    rmTree(java.nio.file.Paths.get(s"$dir.v$fork"))
    val e2 = intercept[IllegalStateException] {
      spark.sql("""CALL iceberg.system.publish_changes(
        table => 'maint.cp', wap_id => 'wap_late')""").collect() }
    assert(e2.getMessage.contains("no longer retained"))
  }

  test("remove_orphan_files deletes stranded commit work dirs; " +
    "unknown procedure and non-snapshot targets raise") {
    val (store, dir) = fixture()
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(dir + ".tmp-swap"))
    val res = spark.sql(
      "CALL iceberg.system.remove_orphan_files(table => 'maint.t')")
      .collect()
    assert(res.head.getLong(0) == 1L)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir + ".tmp-swap")))

    intercept[Exception] {
      spark.sql("CALL iceberg.system.nonsense(table => 'maint.t')") }
    store.register("maint", "plain", Seq((1, "a")).toDF("id", "tag"))
    intercept[Exception] {
      spark.sql(
        "CALL iceberg.system.rewrite_data_files(table => 'maint.plain')") }
  }

  test("remove_orphan_files finds stranded stagings of historical " +
    "versions and branches, and keeps the versions and branches") {
    val (_, dir) = fixture()
    Snapshot.writeBranch(Seq((9, "b")).toDF("id", "tag"), dir, "b")
    val stranded = Seq(".branch-b.tmp-swap", ".branch-b.old-swap",
      ".v1.tmp-erase", ".v1.old-erase", ".branch-b.tmp-swap-0a1b2c3d",
      ".v2.old-swap-0a1b2c3d").map(s => java.nio.file.Paths.get(dir + s))
    stranded.foreach(java.nio.file.Files.createDirectories(_))
    val res = spark.sql(
      "CALL iceberg.system.remove_orphan_files(table => 'maint.t')")
      .collect()
    assert(res.head.getLong(0) == stranded.size.toLong)
    assert(stranded.forall(!java.nio.file.Files.exists(_)))
    assert(Snapshot.historicalVersions(dir) == Seq(1L, 2L))
    assert(Snapshot.branches(dir) == Seq("b"))
    assert(Snapshot.readBranch(spark, dir, "b").count() == 1)
  }
}
