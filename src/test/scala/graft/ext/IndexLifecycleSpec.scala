package graft.ext

import graft.{SparkSpec, Tables}
import graft.pipeline.Snapshot
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The persisted-index lifecycle contract, table-driven over all four
  * families ([[PqIndex]], [[IvfIndex]], [[IvfPqIndex]], [[TextIndex]]):
  * the open step's refusals (never built, STALE, MID-REBUILD, a
  * rebuild that died before its meta write) and the crash replay of a
  * refresh over a delete-plus-append window. */
class IndexLifecycleSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  /** What the contract needs of one family. `foreign` is a small
    * component the MID-REBUILD check re-commits under a foreign build
    * token; `keyed` is the component holding exactly one row per
    * indexed corpus key; `rebuildOther` rebuilds with a different
    * geometry than `build`. */
  private case class Family(name: String, key: String,
      corpus: () => DataFrame,
      build: (String, String) => Unit,
      rebuildOther: (String, String) => Unit,
      refresh: (String, String) => Long,
      search: (String, String) => DataFrame,
      metaFile: String, stamped: String => Option[Long],
      foreign: String => String, keyed: String => String)

  private def vecQueries = Tables.embeddings(spark, sf)
    .filter(col("vec_id") % 100 === 0)
    .select(col("vec_id").as("query_id"),
      col("embedding").as("q_embedding"))

  private def queryTerms = spark.createDataFrame(
    graft.queries.ExtQueries.Bm25Queries).toDF("query_id", "term")

  private val families = Seq(
    Family("PQ", "vec_id", () => Tables.embeddings(spark, sf),
      (c, i) => PqIndex.build(spark, c, i, 8, 8, 16),
      (c, i) => PqIndex.build(spark, c, i, 4, 16, 16),
      (c, i) => PqIndex.refresh(spark, c, i),
      (c, i) => PqIndex.search(spark, c, i, vecQueries, 5, 40),
      "_pq_meta", i => PqIndex.meta(i).map(_.corpusVersion),
      PqIndex.codebookDir, PqIndex.codesDir),
    Family("IVF", "vec_id", () => Tables.embeddings(spark, sf),
      (c, i) => IvfIndex.build(spark, c, i, 8),
      (c, i) => IvfIndex.build(spark, c, i, 4),
      (c, i) => IvfIndex.refresh(spark, c, i),
      (c, i) => IvfIndex.search(spark, c, i, vecQueries, 5, 2),
      "_ivf_meta", i => IvfIndex.meta(i).map(_.corpusVersion),
      IvfIndex.centroidsDir, IvfIndex.cellsDir),
    Family("IVF-PQ", "vec_id", () => Tables.embeddings(spark, sf),
      (c, i) => IvfPqIndex.build(spark, c, i, 8, 8, 8, 16),
      (c, i) => IvfPqIndex.build(spark, c, i, 8, 4, 16, 16),
      (c, i) => IvfPqIndex.refresh(spark, c, i),
      (c, i) => IvfPqIndex.search(spark, c, i, vecQueries, 5, 2, 40),
      "_ivfpq_meta", i => IvfPqIndex.meta(i).map(_.corpusVersion),
      IvfPqIndex.codebookDir, IvfPqIndex.cellsDir),
    Family("text", "doc_id", () => Tables.documents(spark, sf),
      (c, i) => TextIndex.build(spark, c, i),
      (c, i) => TextIndex.build(spark, c, i, termBuckets = 8),
      (c, i) => TextIndex.refresh(spark, c, i),
      (c, i) => TextIndex.search(spark, c, i, queryTerms, 10),
      "_text_meta", i => TextIndex.meta(i).map(_.corpusVersion),
      TextIndex.statsDir, TextIndex.doclensDir))

  private def refused(what: String)(body: => Any): Unit = {
    val e = intercept[IllegalStateException](body)
    assert(e.getMessage.contains(what), e.getMessage)
  }

  families.foreach { f =>
    test(s"${f.name} lifecycle: build first, STALE, MID-REBUILD, and a " +
      "crashed delete-plus-append refresh heals on replay") {
      val root = Files.createTempDirectory("idxlife").toString
      val corpus = s"$root/corpus"
      val idx = s"$root/idx"
      val all = f.corpus()
      val v1 = all.filter(col(f.key) % 10 =!= 7).localCheckpoint()
      val tail = all.filter(col(f.key) % 10 === 7).localCheckpoint()
      Snapshot.createOrReplace(v1, corpus, keepVersions = 3)
      refused("build first")(f.refresh(corpus, idx))
      refused("build first")(f.search(corpus, idx))
      f.build(corpus, idx)

      // the corpus moves by a window that BOTH deletes and appends:
      // reads refuse until a refresh catches up; a crash between the
      // refresh's component commits and its meta write replays as an
      // upsert
      val victim = v1.orderBy(f.key).limit(1).localCheckpoint()
      val victimId = victim.select(f.key).head().getLong(0)
      Snapshot.morCommit(spark, corpus, deletes = Some(victim),
        appends = Some(tail), operation = "overwrite")
      refused("STALE")(f.search(corpus, idx))
      val metaPath = Paths.get(idx, f.metaFile)
      val preMeta = Files.readAllBytes(metaPath)
      val n = tail.count()
      assert(f.refresh(corpus, idx) == n)
      Files.write(metaPath, preMeta)
      assert(f.refresh(corpus, idx) == n, "the replay re-derives the window")
      def keys(df: DataFrame) =
        df.select(f.key).collect().map(_.getLong(0)).sorted.toSeq
      val indexed = keys(Snapshot.read(spark, f.keyed(idx)))
      assert(indexed == keys(Snapshot.read(spark, corpus)),
        "each live key holds exactly one index row after the replay")
      assert(!indexed.contains(victimId), "the deleted key stays deleted")
      assert(f.stamped(idx) == Snapshot.currentVersion(corpus),
        "the healed meta stamps the live corpus version")
      assert(f.search(corpus, idx).count() > 0)

      // one component re-committed under a foreign build token
      val d = f.foreign(idx)
      Snapshot.createOrReplaceWithMeta(
        Snapshot.read(spark, d).localCheckpoint(), d, keepVersions = 1,
        IndexDelta.BuildTokenFile, "foreign-build-token")
      refused("MID-REBUILD")(f.search(corpus, idx))
    }

    test(s"${f.name}: a rebuild with another geometry that died after " +
      "all its component swaps, before its meta write, is refused") {
      val root = Files.createTempDirectory("idxdead").toString
      val corpus = s"$root/corpus"
      val idx = s"$root/idx"
      Snapshot.createOrReplace(f.corpus(), corpus, keepVersions = 2)
      f.build(corpus, idx)
      val metaPath = Paths.get(idx, f.metaFile)
      val oldMeta = Files.readAllBytes(metaPath)
      f.rebuildOther(corpus, idx)
      Files.write(metaPath, oldMeta)
      refused("MID-REBUILD")(f.search(corpus, idx))
    }
  }

  test("text: search after a manual rewritePositionDeletes of the " +
    "postings still serves (layout-only maintenance is not a rebuild)") {
    val docs = Tables.documents(spark, sf)
    val root = Files.createTempDirectory("idxrpd").toString
    val corpus = s"$root/corpus"
    val idx = s"$root/text"
    Snapshot.createOrReplace(docs.filter(col("doc_id") % 10 =!= 7),
      corpus, keepVersions = 3)
    TextIndex.build(spark, corpus, idx)
    Snapshot.morCommit(spark, corpus, deletes = None,
      appends = Some(docs.filter(col("doc_id") % 10 === 7)),
      operation = "append")
    assert(TextIndex.refresh(spark, corpus, idx) > 0L)
    val before = Snapshot.currentVersion(TextIndex.postingsDir(idx))
    Snapshot.rewritePositionDeletes(spark, TextIndex.postingsDir(idx))
    assert(Snapshot.currentVersion(TextIndex.postingsDir(idx)) != before,
      "the rewrite commits a new postings version")
    val got = TextIndex.search(spark, corpus, idx, queryTerms, 10)
      .select("query_id", "rank", "doc_id", "score").collect().toSet
    assert(got == TextOps.bm25TopK(docs, queryTerms, k = 10)
      .select("query_id", "rank", "doc_id", "score").collect().toSet)
  }
}
