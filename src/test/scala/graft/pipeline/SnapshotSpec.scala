package graft.pipeline

import graft.SparkSpec
import java.nio.file.Files
import org.apache.spark.sql.functions.col

/** Executor-reachable gates for the optimistic-commit race test (the
  * task runs in this JVM under local[*], so statics are shared). */
object SnapshotRaceGates {
  @volatile var started: java.util.concurrent.CountDownLatch = _
  @volatile var gate: java.util.concurrent.CountDownLatch = _
  def reset(): Unit = {
    started = new java.util.concurrent.CountDownLatch(1)
    gate = new java.util.concurrent.CountDownLatch(1)
  }
}

/** Snapshot sink: atomic create-or-replace swap + append. */
class SnapshotSpec extends SparkSpec {
  import spark.implicits._

  test("createOrReplace replaces atomically; append accumulates") {
    val dir = Files.createTempDirectory("snap").toString + "/t"
    Snapshot.createOrReplace(Seq(1, 2, 3).toDF("x"), dir)
    assert(Snapshot.read(spark, dir).count() == 3)
    Snapshot.createOrReplace(Seq(9).toDF("x"), dir)
    assert(Snapshot.read(spark, dir).as[Int].collect().toSeq == Seq(9))
    Snapshot.append(Seq(10).toDF("x"), dir)
    assert(Snapshot.read(spark, dir).as[Int].collect().toSet == Set(9, 10))
  }

  test("delete + recreate at the same path serves the new table, not " +
    "a cached plan over the dead files") {
    val dir = Files.createTempDirectory("snapdr").toString + "/t"
    Snapshot.createOrReplace(Seq(1, 2, 3).toDF("x"), dir)
    assert(Snapshot.read(spark, dir).count() == 3)
    // drop the whole table tree (marker version restarts at 1 on
    // recreate — the r19 cache keyed on the version number and served
    // the dead table's file index: FILE_NOT_EXIST)
    def rm(p: java.nio.file.Path): Unit = {
      if (Files.isDirectory(p)) {
        val s = Files.list(p)
        try {
          import scala.jdk.CollectionConverters._
          s.iterator().asScala.toSeq.foreach(rm)
        } finally s.close()
      }
      Files.delete(p)
    }
    rm(java.nio.file.Paths.get(dir))
    Snapshot.createOrReplace(Seq(7, 8).toDF("x"), dir)
    assert(Snapshot.read(spark, dir).as[Int].collect().toSet == Set(7, 8))
  }

  test("partitioned snapshot: a filter on the partition column prunes " +
    "directories at planning time, not row-by-row") {
    val dir = Files.createTempDirectory("snapp").toString + "/events"
    val df = Seq(
      ("2024-01-01", 1L, 10.0), ("2024-01-01", 2L, 20.0),
      ("2024-01-02", 3L, 30.0), ("2024-01-03", 4L, 40.0)
    ).toDF("day", "event_id", "value")
    Snapshot.createOrReplacePartitioned(df, dir, Seq("day"))

    val q = Snapshot.read(spark, dir).filter($"day" === "2024-01-02")
    assert(q.select("event_id").as[Long].collect().toSeq == Seq(3L))
    val plan = q.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("PartitionFilters: [isnotnull(day"),
      s"no partition filter on the scan:\n$plan")
    // replace replaces partitions wholesale too
    Snapshot.createOrReplacePartitioned(
      Seq(("2024-01-05", 9L, 0.0)).toDF("day", "event_id", "value"),
      dir, Seq("day"))
    assert(Snapshot.read(spark, dir).count() == 1)
  }

  test("versioned snapshots: keepVersions retains history, readAsOf " +
    "time-travels, pruning drops only the oldest, live reads are " +
    "unchanged") {
    val dir = Files.createTempDirectory("snapv").toString + "/t"
    for (v <- 1 to 4)
      Snapshot.createOrReplace(Seq(v).toDF("x"), dir, keepVersions = 2)
    assert(Snapshot.currentVersion(dir).contains(4L))
    assert(Snapshot.historicalVersions(dir) == Seq(2L, 3L))
    // live read ignores the version marker file
    assert(Snapshot.read(spark, dir).as[Int].collect().toSeq == Seq(4))
    assert(Snapshot.readAsOf(spark, dir, 4).as[Int].head() == 4)
    assert(Snapshot.readAsOf(spark, dir, 3).as[Int].head() == 3)
    assert(Snapshot.readAsOf(spark, dir, 2).as[Int].head() == 2)
    val err = intercept[java.util.NoSuchElementException] {
      Snapshot.readAsOf(spark, dir, 1) // pruned
    }
    assert(err.getMessage.contains("retained=2,3"))
  }

  test("optimistic commit: a writer whose base version moved while it " +
    "was staging gets a commit conflict, its staging dir cleaned up, " +
    "and the interloper's commit stands") {
    val dir = Files.createTempDirectory("snapcc").toString + "/t"
    Snapshot.createOrReplace(Seq(1).toDF("x"), dir, keepVersions = 3)
    SnapshotRaceGates.reset()
    // a df whose evaluation parks inside the slow writer's staging
    // write until the test releases it
    val slowDf = spark.range(1).map { i =>
      SnapshotRaceGates.started.countDown()
      SnapshotRaceGates.gate.await()
      i
    }.toDF("x")
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val slow = Future {
      Snapshot.createOrReplace(slowDf, dir, keepVersions = 3)
    }
    assert(SnapshotRaceGates.started.await(
      60, java.util.concurrent.TimeUnit.SECONDS))
    // the interloper commits v2 while the slow writer is mid-staging
    Snapshot.createOrReplace(Seq(2).toDF("x"), dir, keepVersions = 3)
    SnapshotRaceGates.gate.countDown()
    val err = intercept[java.util.ConcurrentModificationException] {
      Await.result(slow, scala.concurrent.duration.Duration("120s"))
    }
    assert(err.getMessage.contains("commit conflict"))
    // interloper's state stands; no staged work dirs remain
    assert(Snapshot.currentVersion(dir).contains(2L))
    assert(Snapshot.read(spark, dir).as[Int].collect().toSeq == Seq(2))
    val parent = java.nio.file.Paths.get(dir).getParent
    import scala.jdk.CollectionConverters._
    val s = java.nio.file.Files.list(parent)
    val stranded = try s.iterator().asScala
      .map(_.getFileName.toString)
      .filter(_.contains(".tmp-swap")).toSeq
    finally s.close()
    assert(stranded.isEmpty, s"staging dirs left behind: $stranded")
  }

  test("erase is an optimistic commit: a commit landing while erase " +
    "stages raises a conflict, and the interloper's state stands") {
    val dir = Files.createTempDirectory("snaperase").toString + "/t"
    Snapshot.createOrReplace(Seq(1).toDF("x"), dir, keepVersions = 3)
    SnapshotRaceGates.reset()
    // erase's predicate parks inside its staging write until the test
    // releases it
    val parked = org.apache.spark.sql.functions.udf { (x: Int) =>
      SnapshotRaceGates.started.countDown()
      SnapshotRaceGates.gate.await()
      x == 1
    }
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val erasing = Future { Snapshot.erase(spark, dir, parked(col("x"))) }
    assert(SnapshotRaceGates.started.await(
      60, java.util.concurrent.TimeUnit.SECONDS))
    // keepVersions > 0: the parked reader's file is renamed into
    // history, not deleted
    Snapshot.createOrReplace(Seq(2).toDF("x"), dir, keepVersions = 3)
    SnapshotRaceGates.gate.countDown()
    val err = intercept[java.util.ConcurrentModificationException] {
      Await.result(erasing, scala.concurrent.duration.Duration("120s"))
    }
    assert(err.getMessage.contains("commit conflict"))
    assert(Snapshot.currentVersion(dir).contains(2L))
    assert(Snapshot.read(spark, dir).as[Int].collect().toSeq == Seq(2))
    import scala.jdk.CollectionConverters._
    val s = Files.list(java.nio.file.Paths.get(dir).getParent)
    val stranded = try s.iterator().asScala
      .map(_.getFileName.toString)
      .filter(n => n.contains(".tmp-") || n.contains(".old-")).toSeq
    finally s.close()
    assert(stranded.isEmpty, s"staging dirs left behind: $stranded")
  }

  test("timestamp travel: committedAt is monotone across commits, " +
    "readAsOfTimestamp picks the snapshot current at the instant, and " +
    "SQL TIMESTAMP AS OF resolves through the same path") {
    val dir = Files.createTempDirectory("snapts").toString + "/t"
    for (v <- 1 to 3)
      Snapshot.createOrReplace(Seq(v).toDF("x"), dir, keepVersions = 3)
    val at = (1L to 3L).map(v => Snapshot.committedAt(dir, v).get)
    assert(at == at.sorted && at.distinct == at,
      s"commit instants must be strictly increasing: $at")
    // exactly v2's instant → v2; just before v2 → v1; far future → live
    assert(Snapshot.readAsOfTimestamp(spark, dir, at(1))
      .as[Int].head() == 2)
    assert(Snapshot.readAsOfTimestamp(spark, dir, at(1) - 1)
      .as[Int].head() == 1)
    assert(Snapshot.readAsOfTimestamp(spark, dir, Long.MaxValue)
      .as[Int].head() == 3)
    // an instant predating the first retained commit raises
    val err = intercept[java.util.NoSuchElementException] {
      Snapshot.readAsOfTimestamp(spark, dir, at(0) - 1) }
    assert(err.getMessage.contains("at or before"))
    // SQL surface: string literal resolves via the session (UTC) zone;
    // history/snapshots expose the same instants as made_current_at
    graft.catalog.TableStore.reset(spark)
    new graft.catalog.TableStore(spark).registerSnapshot("tt", "t", dir)
    val s2 = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")
      .withZone(java.time.ZoneOffset.UTC)
      .format(java.time.Instant.ofEpochSecond(
        at(1) / 1000000L, (at(1) % 1000000L) * 1000L))
    assert(spark.sql(s"SELECT x FROM tt.t TIMESTAMP AS OF '$s2'")
      .as[Int].head() == 2)
    val made = spark.sql(
      "SELECT version, made_current_at FROM tt.t.history ORDER BY version")
      .as[(Long, java.sql.Timestamp)].collect()
    assert(made.map(_._1).toSeq == Seq(1L, 2L, 3L))
    assert(made.forall(_._2 != null))
    // ancestors_of: lineage newest first, same instants
    val anc = spark.sql("CALL iceberg.system.ancestors_of('tt.t')")
      .as[(Long, java.sql.Timestamp)].collect()
    assert(anc.map(_._1).toSeq == Seq(3L, 2L, 1L))
    assert(anc.map(_._2.getTime).toSeq ==
      anc.map(_._2.getTime).sorted.reverse.toSeq)
  }

  test("tags: named refs resolve via readAsOfTag and SQL VERSION AS " +
    "OF '<tag>', protect their version from pruning and expiry, and " +
    "reject duplicates/unretained targets") {
    val dir = Files.createTempDirectory("snaptag").toString + "/t"
    Snapshot.createOrReplace(Seq(1).toDF("x"), dir, keepVersions = 2)
    Snapshot.createOrReplace(Seq(2).toDF("x"), dir, keepVersions = 2)
    Snapshot.createTag(dir, "validated", 1)
    assert(Snapshot.tags(dir) == Map("validated" -> 1L))
    assert(Snapshot.readAsOfTag(spark, dir, "validated")
      .as[Int].head() == 1)
    // duplicate rejected unless replace; unretained version rejected
    intercept[IllegalArgumentException] {
      Snapshot.createTag(dir, "validated", 2) }
    intercept[java.util.NoSuchElementException] {
      Snapshot.createTag(dir, "nope", 99) }
    Snapshot.createTag(dir, "validated", 2, replace = true)
    assert(Snapshot.readAsOfTag(spark, dir, "validated")
      .as[Int].head() == 2)
    Snapshot.createTag(dir, "v1", 1)
    // keepVersions=2 pruning would drop v1 after two more commits,
    // but the tag keeps it reachable
    Snapshot.createOrReplace(Seq(3).toDF("x"), dir, keepVersions = 2)
    Snapshot.createOrReplace(Seq(4).toDF("x"), dir, keepVersions = 2)
    assert(Snapshot.readAsOfTag(spark, dir, "v1").as[Int].head() == 1)
    // expireSnapshots skips the tagged version too
    assert(!Snapshot.expireSnapshots(dir, 0).contains(1L))
    assert(Snapshot.readAsOfTag(spark, dir, "v1").as[Int].head() == 1)
    // after dropTag the version is expirable
    Snapshot.dropTag(dir, "v1")
    assert(Snapshot.expireSnapshots(dir, 0).contains(1L))
    intercept[java.util.NoSuchElementException] {
      Snapshot.readAsOfTag(spark, dir, "gone") }
    // SQL surface: CALL create_tag + VERSION AS OF '<tag>'
    graft.catalog.TableStore.reset(spark)
    new graft.catalog.TableStore(spark)
      .registerSnapshot("refs", "t", dir)
    spark.sql("""CALL iceberg.system.create_tag(
      table => 'refs.t', tag => 'live_tag')""")
    assert(spark.sql("SELECT x FROM refs.t VERSION AS OF 'live_tag'")
      .as[Int].head() == 4)
    // the refs metadata table lists main + the tags
    val live = Snapshot.currentVersion(dir).get
    assert(spark.sql(
      "SELECT name, type, version FROM refs.t.refs ORDER BY name")
      .as[(String, String, Long)].collect().toSeq ==
      Seq(("live_tag", "TAG", live), ("main", "BRANCH", live),
        ("validated", "TAG", 2L)))
    assert(spark.sql(
      "CALL system.drop_tag(table => 'refs.t', tag => 'live_tag')")
      .as[Long].head() == Snapshot.currentVersion(dir).get)
  }

  test("branches (write-audit-publish): a staged branch is invisible " +
    "to live reads, auditable by ref, published atomically via " +
    "fast_forward (consuming it), and droppable") {
    val dir = Files.createTempDirectory("snapwap").toString + "/t"
    Snapshot.createOrReplace(Seq(1).toDF("x"), dir, keepVersions = 2)
    Snapshot.writeBranch(Seq(99).toDF("x"), dir, "audit")
    // live untouched; branch readable by API and listed with its fork
    assert(Snapshot.read(spark, dir).as[Int].collect().toSeq == Seq(1))
    assert(Snapshot.branches(dir) == Seq("audit"))
    assert(Snapshot.readBranch(spark, dir, "audit")
      .as[Int].head() == 99)
    assert(Snapshot.branchForkVersion(dir, "audit").contains(1L))
    // rewriting a branch replaces its staging wholesale
    Snapshot.writeBranch(Seq(7, 8).toDF("x"), dir, "audit")
    assert(Snapshot.readBranch(spark, dir, "audit").count() == 2)
    // SQL audit read + refs row, then publish through CALL
    graft.catalog.TableStore.reset(spark)
    new graft.catalog.TableStore(spark).registerSnapshot("wap", "t", dir)
    assert(spark.sql("SELECT x FROM wap.t VERSION AS OF 'audit'")
      .as[Int].collect().sorted.toSeq == Seq(7, 8))
    assert(spark.sql(
      "SELECT name, type, version FROM wap.t.refs ORDER BY name")
      .as[(String, String, Long)].collect().toSeq ==
      Seq(("audit", "BRANCH", 1L), ("main", "BRANCH", 1L)))
    val pub = spark.sql("""CALL iceberg.system.fast_forward(
      table => 'wap.t', branch => 'audit')""")
      .as[(Long, Long)].head()
    assert(pub == ((1L, 2L)))
    // published: live is the branch content, branch consumed, history
    // keeps the pre-publish state
    assert(Snapshot.read(spark, dir).as[Int].collect().sorted.toSeq ==
      Seq(7, 8))
    assert(Snapshot.branches(dir).isEmpty)
    assert(Snapshot.readAsOf(spark, dir, 1).as[Int].head() == 1)
    // unknown refs raise the combined tag/branch message
    val e = intercept[Exception] {
      spark.sql("SELECT x FROM wap.t VERSION AS OF 'nope'").collect() }
    assert(e.getMessage.contains("no such ref"))
    // drop_branch discards a staged branch without publishing
    Snapshot.writeBranch(Seq(0).toDF("x"), dir, "scrap")
    spark.sql(
      "CALL system.drop_branch(table => 'wap.t', branch => 'scrap')")
    assert(Snapshot.branches(dir).isEmpty)
    intercept[java.util.NoSuchElementException] {
      Snapshot.dropBranch(dir, "scrap") }
  }

  test("rollback: restoring a historical version via createOrReplace " +
    "of its frame yields a NEW version with the old content") {
    val dir = Files.createTempDirectory("snapr").toString + "/t"
    Snapshot.createOrReplace(Seq(1).toDF("x"), dir, keepVersions = 3)
    Snapshot.createOrReplace(Seq(2).toDF("x"), dir, keepVersions = 3)
    val v1 = Snapshot.readAsOf(spark, dir, 1)
    Snapshot.createOrReplace(v1, dir, keepVersions = 3)
    assert(Snapshot.currentVersion(dir).contains(3L))
    assert(Snapshot.read(spark, dir).as[Int].collect().toSeq == Seq(1))
    // history keeps the pre-rollback state too
    assert(Snapshot.readAsOf(spark, dir, 2).as[Int].head() == 2)
  }

  test("partitioned snapshots version too: readAsOf returns the old " +
    "partition set with partition pruning intact") {
    val dir = Files.createTempDirectory("snappv").toString + "/e"
    Snapshot.createOrReplacePartitioned(
      Seq(("d1", 1L), ("d2", 2L)).toDF("day", "event_id"),
      dir, Seq("day"), keepVersions = 2)
    Snapshot.createOrReplacePartitioned(
      Seq(("d3", 3L)).toDF("day", "event_id"),
      dir, Seq("day"), keepVersions = 2)
    assert(Snapshot.read(spark, dir).count() == 1)
    val v1 = Snapshot.readAsOf(spark, dir, 1)
    assert(v1.count() == 2)
    assert(v1.filter($"day" === "d2").select("event_id")
      .as[Long].head() == 2L)
  }

  test("partition-spec EVOLUTION: a new version can change partition " +
    "columns; each version reads and PRUNES under its own spec, and " +
    "the metadata tables report per-version fragments") {
    val dir = Files.createTempDirectory("snapev").toString + "/e"
    val df = Seq(
      ("d1", "eu", 1L), ("d1", "us", 2L), ("d2", "eu", 3L)
    ).toDF("day", "region", "event_id")
    def pruned(q: org.apache.spark.sql.DataFrame, c: String): Unit = {
      val plan = q.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      val pf = plan.linesIterator
        .find(_.contains("PartitionFilters:")).getOrElse("")
      assert(pf.contains(s"isnotnull($c#"),
        s"no partition filter on $c:\n$plan")
    }
    // v1 partitioned by day; v2 evolves the spec to (day, region)
    Snapshot.createOrReplacePartitioned(df, dir, Seq("day"),
      keepVersions = 2)
    Snapshot.createOrReplacePartitioned(df, dir, Seq("day", "region"),
      keepVersions = 2)
    // old version: old spec, still pruning on day
    val v1 = Snapshot.readAsOf(spark, dir, 1)
      .filter($"day" === "d1")
    assert(v1.select("event_id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L))
    pruned(v1, "day")
    // live version: new spec prunes on BOTH levels
    val v2 = Snapshot.read(spark, dir)
      .filter($"day" === "d1" && $"region" === "eu")
    assert(v2.select("event_id").as[Long].collect().toSeq == Seq(1L))
    pruned(v2, "day"); pruned(v2, "region")
    // all_files shows each version under its own spec
    graft.catalog.TableStore.reset(spark)
    new graft.catalog.TableStore(spark).registerSnapshot("evo", "e", dir)
    val frags = spark.sql(
      """SELECT version, partition FROM evo.e.all_files
         ORDER BY version, partition""")
      .as[(Long, String)].collect().toSeq
    assert(frags.filter(_._1 == 1L).map(_._2).distinct ==
      Seq("day=d1", "day=d2"))
    assert(frags.filter(_._1 == 2L).map(_._2).distinct ==
      Seq("day=d1/region=eu", "day=d1/region=us", "day=d2/region=eu"))
  }

  test("ALTER-style spec evolution is METADATA-ONLY: the live layout " +
    "survives the ALTER untouched, the next spec-aware commit writes " +
    "the evolved layout, the retained version keeps the old one") {
    val dir = Files.createTempDirectory("snapalter").toString + "/e"
    val df = Seq(
      ("d1", "eu", 1L), ("d1", "us", 2L), ("d2", "eu", 3L)
    ).toDF("day", "region", "event_id")
    Snapshot.createOrReplacePartitioned(df, dir, Seq("day"),
      keepVersions = 3)
    assert(Snapshot.partitionSpec(dir) == Seq("day"))

    // the ALTER: spec evolves, nothing is rewritten — the live dir
    // still carries the single-level layout and the SAME version
    Snapshot.addPartitionField(dir, "region")
    assert(Snapshot.partitionSpec(dir) == Seq("day", "region"))
    assert(Snapshot.currentVersion(dir).contains(1L))
    val liveFrag = java.nio.file.Paths.get(dir, "day=d1")
    assert(Files.exists(liveFrag) &&
      !Files.exists(liveFrag.resolve("region=eu")),
      "ALTER must not rewrite the live layout")

    // next commit writes the evolved two-level layout
    Snapshot.createOrReplaceCurrentSpec(
      df.repartition($"day", $"region"), dir, keepVersions = 3)
    assert(Files.exists(
      java.nio.file.Paths.get(dir, "day=d1", "region=eu")))
    // old files keep the old spec: v1 retained in single-level layout
    assert(Files.exists(
      java.nio.file.Paths.get(s"$dir.v1", "day=d1")) &&
      !Files.exists(
        java.nio.file.Paths.get(s"$dir.v1", "day=d1", "region=eu")))
    assert(Snapshot.readAsOf(spark, dir, 1).count() == 3)

    // DROP PARTITION FIELD: metadata-only again; the following commit
    // returns to the single-level layout
    Snapshot.dropPartitionField(dir, "region")
    assert(Snapshot.partitionSpec(dir) == Seq("day"))
    Snapshot.createOrReplaceCurrentSpec(df, dir, keepVersions = 3)
    val d1 = java.nio.file.Paths.get(dir, "day=d1")
    assert(Files.exists(d1) && !Files.exists(d1.resolve("region=eu")))

    // guard rails
    Snapshot.addPartitionField(dir, "region")
    intercept[IllegalArgumentException](
      Snapshot.addPartitionField(dir, "region"))
    intercept[java.util.NoSuchElementException](
      Snapshot.dropPartitionField(dir, "event_id"))
  }

  test("partition spec and write order COMPOSE on one commit: the " +
    "Hive layout splits by the spec, files inside each partition stay " +
    "locally sorted by the write order") {
    val dir = Files.createTempDirectory("specorder").toString + "/t"
    val rnd = new scala.util.Random(7)
    val df = rnd.shuffle((1 to 400).toList)
      .map(i => (if (i % 2 == 0) "a" else "b", i))
      .toDF("grp", "id")
    Snapshot.createOrReplacePartitioned(df, dir, Seq("grp"))
    Snapshot.setSortOrder(dir, Seq(("id", true)))
    Snapshot.createOrReplaceCurrentSpec(df, dir)
    // layout split by grp
    assert(Files.exists(java.nio.file.Paths.get(dir, "grp=a")) &&
      Files.exists(java.nio.file.Paths.get(dir, "grp=b")))
    // per-file local sort survives the partitionBy split
    val files = Snapshot.read(spark, dir)
      .select(org.apache.spark.sql.functions
        .col("_metadata.file_path").as("f"))
      .distinct().as[String].collect()
    assert(files.nonEmpty)
    files.foreach { f =>
      val ids = spark.read.parquet(f).select("id").as[Int].collect()
      assert(ids.sameElements(ids.sorted), s"file $f lost its sort")
    }
    assert(Snapshot.read(spark, dir).count() == 400)
  }

  test("keepVersions=0 (default) keeps today's plain-replace contract: " +
    "no history dirs accumulate") {
    val dir = Files.createTempDirectory("snap0").toString + "/t"
    Snapshot.createOrReplace(Seq(1).toDF("x"), dir)
    Snapshot.createOrReplace(Seq(2).toDF("x"), dir)
    assert(Snapshot.historicalVersions(dir).isEmpty)
    assert(Snapshot.read(spark, dir).as[Int].collect().toSeq == Seq(2))
  }

  test("erase purges the subject from the live snapshot AND every " +
    "retained historical version; other rows and versioning survive") {
    val dir = Files.createTempDirectory("erase").toString + "/t"
    Snapshot.createOrReplace(
      Seq((1L, "a"), (2L, "b")).toDF("user_id", "v"), dir,
      keepVersions = 2)
    Snapshot.createOrReplace(
      Seq((1L, "a2"), (2L, "b2"), (3L, "c")).toDF("user_id", "v"), dir,
      keepVersions = 2)

    Snapshot.erase(spark, dir, col("user_id") === 1L)

    // live: user 1 gone, others intact
    assert(Snapshot.read(spark, dir)
      .as[(Long, String)].collect().toSet == Set((2L, "b2"), (3L, "c")))
    // history: STILL time-travelable, but the subject is gone there too
    assert(Snapshot.readAsOf(spark, dir, 1)
      .as[(Long, String)].collect().toSet == Set((2L, "b")))
    // erasure is not a new version
    assert(Snapshot.currentVersion(dir).contains(2L))
    assert(Snapshot.historicalVersions(dir) == Seq(1L))
  }

  test("erase preserves commit-meta markers, purges STAGED BRANCHES, " +
    "and keeps a bucketed table's storage-partitioned layout — a " +
    "rewrite that dropped any of the three would replay a committed " +
    "batch, leak the subject via the branch, or demote the join plan") {
    val dir = Files.createTempDirectory("erasex").toString + "/t"
    // a bucketed table committed with a streaming batch marker
    Snapshot.createOrReplaceWithMeta(
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("user_id", "v"), dir,
      keepVersions = 2, "_graft_batch_marker", "stream-b41")
    Snapshot.setPartitionSpec(dir, Seq("bucket(4, user_id)"))
    Snapshot.createOrReplaceCurrentSpec(
      Seq((1L, "a2"), (2L, "b2"), (3L, "c2"), (4L, "d"))
        .toDF("user_id", "v"), dir, keepVersions = 2)
    assert(Snapshot.bucketLayout(dir).isDefined,
      "fixture: the live dir must carry the bucket layout")
    // a staged WAP branch holds a full copy INCLUDING the subject
    Snapshot.writeBranch(
      Seq((1L, "a3"), (5L, "e")).toDF("user_id", "v"), dir, "audit")

    Snapshot.erase(spark, dir, col("user_id") === 1L)

    assert(Snapshot.read(spark, dir)
      .filter(col("user_id") === 1L).isEmpty)
    assert(Snapshot.readBranch(spark, dir, "audit")
      .filter(col("user_id") === 1L).isEmpty,
      "the staged branch must not retain the subject's rows")
    assert(Snapshot.readBranch(spark, dir, "audit")
      .as[(Long, String)].collect().toSet == Set((5L, "e")))
    assert(Snapshot.bucketLayout(dir).isDefined,
      "the live rewrite must keep the storage-partitioned layout")
    assert(Snapshot.commitMeta(s"$dir.v1", "_graft_batch_marker")
      .contains("stream-b41"),
      "the batch-idempotence marker must survive the rewrite — " +
        "dropping it would re-apply a committed batch on crash replay")
  }

  test("diff labels inserts, deletes, updates between versions and " +
    "drops unchanged rows") {
    val dir = Files.createTempDirectory("snapdiff").toString + "/t"
    Snapshot.createOrReplace(
      Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 30))
        .toDF("id", "name", "v"), dir, keepVersions = 3)
    Snapshot.createOrReplace(
      Seq((2L, "b", 99), (3L, "c", 30), (4L, "d", 40))
        .toDF("id", "name", "v"), dir, keepVersions = 3)
    val got = Snapshot.diff(spark, dir, 1, 2, Seq("id"))
      .as[(Long, String)].collect().toSet
    assert(got == Set((1L, "delete"), (2L, "update"), (4L, "insert")))
    // reverse direction flips the labels
    val rev = Snapshot.diff(spark, dir, 2, 1, Seq("id"))
      .as[(Long, String)].collect().toSet
    assert(rev == Set((1L, "insert"), (2L, "update"), (4L, "delete")))
  }

  test("compact: many appended micro-batch files merge to the target " +
    "count, rows identical, pre-compaction snapshot retained") {
    val dir = Files.createTempDirectory("compact").toString + "/t"
    // 8 micro-batch appends → at least 8 small files
    (1 to 8).foreach { b =>
      Snapshot.append(
        Seq((b.toLong, s"batch$b")).toDF("id", "payload")
          .coalesce(1), dir)
    }
    val before = Snapshot.fileCount(dir)
    assert(before >= 8)
    val rowsBefore = Snapshot.read(spark, dir)
      .as[(Long, String)].collect().toSet

    Snapshot.compact(spark, dir, targetFiles = 2, keepVersions = 1)

    assert(Snapshot.fileCount(dir) <= 2)
    assert(Snapshot.read(spark, dir)
      .as[(Long, String)].collect().toSet == rowsBefore)
    // the small-files layout survives as a time-travelable version
    val prev = Snapshot.historicalVersions(dir)
    assert(prev.nonEmpty)
    assert(Snapshot.readAsOf(spark, dir, prev.last)
      .as[(Long, String)].collect().toSet == rowsBefore)
  }

  test("commitsSince classifies the commit window: fast-appends " +
    "expose their sidecar dirs, deletes taint, a rewrite re-bases") {
    val dir = Files.createTempDirectory("cwin").toString + "/t"
    Snapshot.createOrReplace(Seq((1L, "a")).toDF("id", "v"), dir,
      keepVersions = 5)
    // empty window
    assert(Snapshot.commitsSince(dir, 1L)
      == Snapshot.CommitWindow.FastAppends(Nil))
    // two fast-appends: dirs in commit order, union = the delta
    Snapshot.morCommit(spark, dir, None,
      Some(Seq((2L, "b")).toDF("id", "v")), "append")
    Snapshot.morCommit(spark, dir, None,
      Some(Seq((3L, "c")).toDF("id", "v")), "append")
    Snapshot.commitsSince(dir, 1L) match {
      case Snapshot.CommitWindow.FastAppends(dirs) =>
        assert(dirs.size == 2)
        val rows = dirs.map(d => spark.read.parquet(d))
          .reduce(_ unionByName _).as[(Long, String)].collect().toSet
        assert(rows == Set((2L, "b"), (3L, "c")))
      case other => fail(s"expected FastAppends, got $other")
    }
    // a mid-window slice starts past the first append
    Snapshot.commitsSince(dir, 2L) match {
      case Snapshot.CommitWindow.FastAppends(dirs) =>
        assert(dirs.size == 1)
      case other => fail(s"expected FastAppends, got $other")
    }
    // a delete commit taints the window (named by version)
    Snapshot.morCommit(spark, dir,
      Some(Seq((2L, "b")).toDF("id", "v")), None, "delete")
    assert(Snapshot.commitsSince(dir, 1L)
      == Snapshot.CommitWindow.CarriesDeletes(Seq(4L)))
    // …but a window past the delete is clean again
    assert(Snapshot.commitsSince(dir, 4L)
      == Snapshot.CommitWindow.FastAppends(Nil))
    // a copy-on-write replace re-bases every earlier window
    Snapshot.createOrReplace(Seq((9L, "z")).toDF("id", "v"), dir,
      keepVersions = 5)
    assert(Snapshot.commitsSince(dir, 4L)
      == Snapshot.CommitWindow.Rebased(5L))
    // ahead-of-live raises
    intercept[IllegalArgumentException] {
      Snapshot.commitsSince(dir, 99L)
    }
  }

  test("compact on a bucket-spec table preserves the storage-" +
    "partitioned-join layout (marker, fragments, zero-exchange scan)") {
    val dir = Files.createTempDirectory("compactb").toString + "/t"
    Snapshot.setPartitionSpec(dir, Seq("bucket(4,id)"))
    Snapshot.createOrReplaceCurrentSpec(
      (1L to 200L).map(i => (i, s"p$i")).toDF("id", "payload"), dir)
    assert(Snapshot.bucketLayout(dir).isDefined)
    val rowsBefore = Snapshot.read(spark, dir)
      .as[(Long, String)].collect().toSet

    Snapshot.compact(spark, dir, targetFiles = 2, keepVersions = 1)

    // the binpack rewrite must NOT flatten the layout: marker intact,
    // and the scan still reports the murmur3 bucket partitioning (no
    // exchange under a groupBy on the bucket column)
    assert(Snapshot.bucketLayout(dir).contains((4, Seq("id"))),
      "compact dropped the _graft_buckets marker")
    assert(Snapshot.read(spark, dir)
      .as[(Long, String)].collect().toSet == rowsBefore)
    val agg = Snapshot.read(spark, dir).groupBy(col("id"))
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
    agg.collect()
    val plan = agg.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(!plan.contains("Exchange hashpartitioning"),
      s"post-compact scan lost its bucket partitioning:\n$plan")
  }

  test("compact on a WRITE ORDERED table honors targetFiles and " +
    "keeps the range clustering") {
    val dir = Files.createTempDirectory("compacto").toString + "/t"
    Snapshot.setSortOrder(dir, Seq(("id", true)))
    Snapshot.createOrReplaceCurrentSpec(
      (1L to 999L).map(i => (i, s"p$i")).toDF("id", "payload"), dir)
    // scatter small files via appends, then binpack
    Snapshot.append(Seq((1000L, "x")).toDF("id", "payload"), dir)
    Snapshot.compact(spark, dir, targetFiles = 3)
    assert(Snapshot.fileCount(dir) <= 3,
      s"ordered compact must honor targetFiles: ${Snapshot.fileCount(dir)}")
    // files are still range-disjoint on the order key (clustering kept)
    import scala.jdk.CollectionConverters._
    val s = Files.list(java.nio.file.Paths.get(dir))
    val ranges = try s.iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .map { f =>
        val d = spark.read.parquet(f.toString)
          .agg(org.apache.spark.sql.functions.min("id"),
            org.apache.spark.sql.functions.max("id")).head
        (d.getLong(0), d.getLong(1))
      }.toSeq.sortBy(_._1)
    finally s.close()
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) =>
        assert(hi <= lo2, s"files must stay range-disjoint: $ranges")
      case _ =>
    }
    assert(Snapshot.read(spark, dir).count() == 1000L)
  }

  test("compact on a partition-spec table keeps its fragment dirs") {
    val dir = Files.createTempDirectory("compactp").toString + "/t"
    Snapshot.setPartitionSpec(dir, Seq("part"))
    Snapshot.createOrReplaceCurrentSpec(
      Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("id", "part"), dir)
    Snapshot.compact(spark, dir, targetFiles = 1)
    import scala.jdk.CollectionConverters._
    val frags = Files.list(java.nio.file.Paths.get(dir))
      .iterator().asScala.map(_.getFileName.toString)
      .filter(_.contains("=")).toSet
    assert(frags == Set("part=a", "part=b"),
      s"compact flattened the Hive layout: $frags")
    assert(Snapshot.read(spark, dir).count() == 3)
  }

  test("commitsSince bounded by untilVersion excludes commits landing " +
    "after a consumer captured its version (no duplicate deltas)") {
    val dir = Files.createTempDirectory("cwinb").toString + "/t"
    Snapshot.createOrReplace(Seq((1L, "a")).toDF("id", "v"), dir,
      keepVersions = 5)
    Snapshot.morCommit(spark, dir, None,
      Some(Seq((2L, "b")).toDF("id", "v")), "append") // v2
    Snapshot.morCommit(spark, dir, None,
      Some(Seq((3L, "c")).toDF("id", "v")), "append") // v3
    Snapshot.commitsSince(dir, 1L, Some(2L)) match {
      case Snapshot.CommitWindow.FastAppends(dirs) =>
        assert(dirs.size == 1, "the bounded window must hold v2 only")
        val rows = spark.read.parquet(dirs.head)
          .as[(Long, String)].collect().toSet
        assert(rows == Set((2L, "b")))
      case other => fail(s"expected FastAppends, got $other")
    }
    // a delete landing AFTER the bound must not taint the window
    Snapshot.morCommit(spark, dir,
      Some(Seq((2L, "b")).toDF("id", "v")), None, "delete") // v4
    Snapshot.commitsSince(dir, 1L, Some(3L)) match {
      case Snapshot.CommitWindow.FastAppends(dirs) =>
        assert(dirs.size == 2, "the delete at v4 is outside (1, 3]")
      case other => fail(s"expected FastAppends, got $other")
    }
    intercept[IllegalArgumentException] {
      Snapshot.commitsSince(dir, 3L, Some(2L))
    }
  }

  test("layout-only rewrites preserve the commit-meta marker files; " +
    "content rewrites drop them") {
    val dir = Files.createTempDirectory("cmeta").toString + "/t"
    Snapshot.createOrReplaceWithMeta(
      (1 to 100).map(i => (i.toLong, s"v$i")).toDF("id", "v"), dir,
      keepVersions = 5, "_probe_marker", "stream-xyz:7")
    assert(Snapshot.commitMeta(dir, "_probe_marker")
      .contains("stream-xyz:7"))
    // compaction is layout-only: the marker describing the last
    // CONTENT commit must survive it (index build tokens, streaming
    // replay markers)
    Snapshot.compact(spark, dir, targetFiles = 1, keepVersions = 5)
    assert(Snapshot.commitMeta(dir, "_probe_marker")
      .contains("stream-xyz:7"),
      "compact must carry the commit-meta marker forward")
    // MOR compaction too
    Snapshot.morCommit(spark, dir, None,
      Some(Seq((101L, "x")).toDF("id", "v")), "append")
    Snapshot.rewritePositionDeletes(spark, dir, keepVersions = 5)
    assert(Snapshot.commitMeta(dir, "_probe_marker")
      .contains("stream-xyz:7"),
      "rewrite_position_delete_files must carry the marker forward")
    // a CONTENT rewrite (rollback) describes different state — the
    // marker must NOT survive it
    val restoreTo = Snapshot.currentVersion(dir).get - 1
    Snapshot.rollbackTo(spark, dir, restoreTo)
    assert(Snapshot.commitMeta(dir, "_probe_marker").isEmpty,
      "rollback restores other content; a stale marker would let a " +
        "replayed batch be skipped against the wrong state")
  }

  test("composite bucket field names cannot collide with a column " +
    "literally named like the joined sources") {
    val multi = Snapshot.parseSpecField("bucket(4, a, b)")
    val single = Snapshot.parseSpecField("bucket(8, a_b)")
    assert(multi.name == "a-b_bucket", multi)
    assert(single.name == "a_b_bucket", single)
    assert(multi.name != single.name,
      "bucket(n,a,b) and bucket(n,a_b) must derive distinct fields")
    assert(multi.sources == Seq("a", "b"))
  }
}
