package graft.pipeline

import graft.{SparkSpec, Tables}
import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** diffIncremental pins: the sidecar-derived O(window) diff is
  * DIFF-IDENTICAL on every window shape — appends, full-row equality
  * deletes, position deletes, updates, no-op rewrites — and the fast
  * path provably never scans the base table; anything unpriceable
  * (key-scoped deletes, rebases) falls back to the exact diff. */
class DiffIncrementalSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def asSet(df: DataFrame): Set[(Long, String)] =
    df.select(col("order_id").cast("long"), col("op"))
      .as[(Long, String)].collect().toSet

  /** A small keyed table: (order_id, status, amount). */
  private def fixture(n: Int): DataFrame =
    spark.range(1, n + 1)
      .select(col("id").as("order_id"),
        concat(lit("s"), (col("id") % 3).cast("string")).as("status"),
        (col("id") * 10).cast("double").as("amount"))

  test("sidecar fast path is DIFF-IDENTICAL across insert, delete, " +
    "update, and no-op rewrite — and never scans the base files") {
    val root = Files.createTempDirectory("dinc").toString
    val src = s"$root/src"
    Snapshot.createOrReplace(fixture(100), src, keepVersions = 3)
    val from = Snapshot.currentVersion(src).get

    // window: one insert wave, one full-row equality delete, one
    // update (delete+append same key), one NO-OP rewrite (delete +
    // re-append the identical row)
    val inserts = fixture(120).filter(col("order_id") > 100)
    Snapshot.morCommit(spark, src, deletes = None,
      appends = Some(inserts), operation = "append")
    val dead = fixture(100).filter(col("order_id") <= 5)
    Snapshot.morCommit(spark, src, deletes = Some(dead),
      appends = None, operation = "delete")
    val updOld = fixture(100).filter(col("order_id") === 50)
    Snapshot.morCommit(spark, src, deletes = Some(updOld),
      appends = Some(updOld.withColumn("amount", lit(-1.0))),
      operation = "overwrite")
    val noop = fixture(100).filter(col("order_id") === 60)
    Snapshot.morCommit(spark, src, deletes = Some(noop),
      appends = Some(noop), operation = "overwrite")
    val to = Snapshot.currentVersion(src).get

    val fast = Snapshot.diffIncremental(spark, src, from, to,
      Seq("order_id"))
    val slow = Snapshot.diff(spark, src, from, to, Seq("order_id"))
    assert(asSet(fast) == asSet(slow),
      "the sidecar-derived diff must equal the two-version diff")

    // a REVERSED range is not a window the fast path can price — it
    // must fall back to diff (which serves the reverse diff), never
    // silently return an empty changelog
    assert(asSet(Snapshot.diffIncremental(spark, src, to, from,
        Seq("order_id"))) ==
      asSet(Snapshot.diff(spark, src, to, from, Seq("order_id"))),
      "a reversed range must stay diff-identical, not go empty")
    assert(asSet(fast).count(_._2 == "insert") == 20)
    assert(asSet(fast).count(_._2 == "delete") == 5)
    assert(asSet(fast) contains ((50L, "update")))
    assert(!asSet(fast).exists(_._1 == 60L),
      "a rewrite to the identical row must not surface")

    // plan pin: the fast path reads sidecars only — no base data file
    // of the snapshot dir may appear in its scan locations
    val baseFiles = {
      import scala.jdk.CollectionConverters._
      val s = Files.list(java.nio.file.Paths.get(src))
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.endsWith(".parquet")).toSeq
      finally s.close()
    }
    assert(baseFiles.nonEmpty)
    val planStr = fast.queryExecution.executedPlan.toString
    baseFiles.foreach(f => assert(!planStr.contains(f),
      s"the fast path must not scan base file $f"))
  }

  test("position-delete windows price exactly (referenced files only); " +
    "key-scoped equality deletes and rebases fall back to diff") {
    val root = Files.createTempDirectory("dinc2").toString
    val src = s"$root/src"
    Snapshot.createOrReplace(fixture(100), src, keepVersions = 3)
    val from = Snapshot.currentVersion(src).get
    Snapshot.morCommit(spark, src, deletes = None, appends = None,
      operation = "delete", posDeletes = Some(
        Snapshot.readLineage(spark, src)
          .filter(col("order_id") % 10 === 1)))
    val to = Snapshot.currentVersion(src).get
    val fast = Snapshot.diffIncremental(spark, src, from, to,
      Seq("order_id"))
    assert(asSet(fast) ==
      asSet(Snapshot.diff(spark, src, from, to, Seq("order_id"))))
    assert(asSet(fast).forall(_._2 == "delete"))

    // key-scoped equality delete (only the key column): unpriceable
    // for the no-op filter — must fall back, still diff-identical
    Snapshot.morCommit(spark, src,
      deletes = Some(fixture(100).filter(col("order_id") === 7)
        .select("order_id")),
      appends = None, operation = "delete")
    val to2 = Snapshot.currentVersion(src).get
    assert(asSet(Snapshot.diffIncremental(spark, src, from, to2,
        Seq("order_id"))) ==
      asSet(Snapshot.diff(spark, src, from, to2, Seq("order_id"))))

    // rebase inside the window: per-commit deltas gone — fallback
    Snapshot.createOrReplace(fixture(80), src, keepVersions = 5)
    val to3 = Snapshot.currentVersion(src).get
    assert(asSet(Snapshot.diffIncremental(spark, src, from, to3,
        Seq("order_id"))) ==
      asSet(Snapshot.diff(spark, src, from, to3, Seq("order_id"))))
  }

  test("every window pricer agrees with readAsOf on one MOR history: " +
    "appends, position deletes into base and window rows, an update") {
    val root = Files.createTempDirectory("dinc4").toString
    val src = s"$root/src"
    Snapshot.createOrReplace(fixture(100), src, keepVersions = 5)
    val since = Snapshot.currentVersion(src).get
    val app1 = fixture(110).filter(col("order_id") > 100)
    Snapshot.morCommit(spark, src, deletes = None,
      appends = Some(app1), operation = "append")
    // position deletes: one base row, one row the window appended
    Snapshot.morCommit(spark, src, deletes = None, appends = None,
      operation = "delete", posDeletes = Some(
        Snapshot.readLineage(spark, src)
          .filter(col("order_id").isin(1L, 105L))))
    val posOnly = Snapshot.currentVersion(src).get
    // an update: full-row equality delete plus the new image
    val updOld = fixture(100).filter(col("order_id") === 50)
    Snapshot.morCommit(spark, src, deletes = Some(updOld),
      appends = Some(updOld.withColumn("amount", lit(-1.0))),
      operation = "overwrite")
    val app2 = fixture(115).filter(col("order_id") > 110)
    Snapshot.morCommit(spark, src, deletes = None,
      appends = Some(app2), operation = "append")
    val until = Snapshot.currentVersion(src).get

    def rows(df: DataFrame): Seq[(Long, String, Double)] =
      df.select(col("order_id").cast("long"), col("status"),
        col("amount").cast("double")).as[(Long, String, Double)]
        .collect().toSeq.sorted
    def keys(df: DataFrame): Set[Long] =
      df.select(col("order_id").cast("long")).as[Long].collect().toSet
    val atSince = rows(Snapshot.readAsOf(spark, src, since))
    val atUntil = rows(Snapshot.readAsOf(spark, src, until))
    val windowApps = rows(app1.unionByName(app2).unionByName(
      updOld.withColumn("amount", lit(-1.0))))

    assert(Snapshot.commitsSince(src, since, Some(until))
      .isInstanceOf[Snapshot.CommitWindow.CarriesDeletes])
    assert(Snapshot.windowHasEqualityDeletes(src, since, until))
    assert(!Snapshot.windowHasEqualityDeletes(src, since, posOnly))

    // windowChanges: since − deleted keys + net appends == until
    val (net, dels) = Snapshot.windowChanges(spark, src, since, until,
      Seq("order_id"), "pin")
    assert(keys(dels) == Set(1L, 50L, 105L))
    val dk = keys(dels)
    assert((atSince.filterNot(r => dk(r._1)) ++ rows(net)).sorted ==
      atUntil, "keyed net changes must reproduce the until state")

    // diffIncremental is diff-identical
    assert(asSet(Snapshot.diffIncremental(spark, src, since, until,
        Seq("order_id"))) ==
      asSet(Snapshot.diff(spark, src, since, until, Seq("order_id"))))

    // windowRowDelta on the position-only sub-window, as multisets
    val (plus, minus) =
      Snapshot.windowRowDelta(spark, src, since, posOnly, "pin")
    val atPos = rows(Snapshot.readAsOf(spark, src, posOnly))
    assert((atSince.diff(rows(minus)) ++ rows(plus)).sorted == atPos)
    assert(rows(minus).map(_._1) == Seq(1L),
      "a pair into a window append cancels against plus, not minus")

    // windowAppendRows: the raw union of the window's appends
    assert(rows(Snapshot.windowAppendRows(spark, src, since, until,
      "pin")) == windowApps)

    // windowDeleteImages covers every removed row image
    val removed = (atSince ++ windowApps).toSet -- atUntil.toSet
    assert(removed.map(_._1) == Set(1L, 50L, 105L))
    val images = rows(Snapshot.windowDeleteImages(spark, src, since,
      until, "pin")).toSet
    assert(removed.subsetOf(images), s"missing ${removed -- images}")
  }

  test("interleaved lifecycles classify by net state: append-then-" +
    "delete vanishes, delete-then-reappend-identical vanishes, " +
    "bounded window end excludes later commits") {
    val root = Files.createTempDirectory("dinc3").toString
    val src = s"$root/src"
    Snapshot.createOrReplace(fixture(50), src, keepVersions = 3)
    val from = Snapshot.currentVersion(src).get
    // append key 1000, then delete it — net: nothing
    val k1000 = fixture(50).limit(1)
      .withColumn("order_id", lit(1000L))
    Snapshot.morCommit(spark, src, deletes = None,
      appends = Some(k1000), operation = "append")
    Snapshot.morCommit(spark, src, deletes = Some(k1000),
      appends = None, operation = "delete")
    // delete key 3 (value A), re-append identical — net: nothing
    val k3 = fixture(50).filter(col("order_id") === 3)
    Snapshot.morCommit(spark, src, deletes = Some(k3),
      appends = Some(k3), operation = "overwrite")
    val mid = Snapshot.currentVersion(src).get
    // a LATER commit past the bounded window end
    Snapshot.morCommit(spark, src, deletes = None,
      appends = Some(k1000.withColumn("order_id", lit(2000L))),
      operation = "append")
    val fast = Snapshot.diffIncremental(spark, src, from, mid,
      Seq("order_id"))
    assert(asSet(fast).isEmpty,
      s"net-nothing window must diff empty, got ${asSet(fast)}")
    val full = Snapshot.diffIncremental(spark, src, from,
      Snapshot.currentVersion(src).get, Seq("order_id"))
    assert(asSet(full) == Set((2000L, "insert")))
  }
}
