package graft.ext

import graft.{SparkSpec, Tables}
import graft.pipeline.Snapshot
import graft.queries.ExtQueries.{Bm25Queries, PhraseQueries}
import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.graft.JobCount
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** Curation searches plan their pruning on the driver: the query
  * terms' buckets and the IVF cell probes are computed without a
  * Spark job, and the answers equal the derive-per-query operators. */
class CurationPlanningSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  /** (docs corpus, positional text index, vector corpus, IVF index) */
  private lazy val built: (String, String, String, String) = {
    val root = Files.createTempDirectory("curplan").toString
    val (docs, text, vecs, ivf) =
      (s"$root/docs", s"$root/text", s"$root/vecs", s"$root/ivf")
    Snapshot.createOrReplace(Tables.documents(spark, sf), docs)
    TextIndex.build(spark, docs, text, positional = true)
    Snapshot.createOrReplace(Tables.embeddings(spark, sf), vecs)
    IvfIndex.build(spark, vecs, ivf, nlist = 16)
    (docs, text, vecs, ivf)
  }

  private def local(rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  private def vectors(seed: Long, n: Int, dim: Int): Seq[Seq[Float]] = {
    val r = new scala.util.Random(seed)
    Seq.fill(n)(Seq.fill(dim)(r.nextGaussian().toFloat))
  }

  test("the driver cell ranking equals assignCentroids: exact dot " +
    "ties, INT ids, double queries, no queries, nprobe past nlist") {
    val cs = vectors(7, 6, 8)
    // two duplicated centroids under larger ids: every dot ties exactly
    val centroids = local(
      (cs ++ cs.take(2)).zipWithIndex.map { case (v, i) => Row(i, v) },
      StructType(Seq(StructField("centroid_id", IntegerType),
        StructField("c_embedding", ArrayType(FloatType)))))
    val qs = vectors(11, 9, 8)
    val floatQs = local(qs.zipWithIndex.map { case (v, i) => Row(i, v) },
      StructType(Seq(StructField("query_id", IntegerType),
        StructField("q_embedding", ArrayType(FloatType)))))
    val doubleQs = local(
      qs.zipWithIndex.map { case (v, i) => Row(i.toLong, v.map(_ * 1.5)) },
      StructType(Seq(StructField("query_id", LongType),
        StructField("q_embedding", ArrayType(DoubleType)))))
    val noQs = floatQs.limit(0)
    def ranked(df: DataFrame) = df.select("query_id", "centroid_id")
      .collect().map(r => (r.get(0), r.get(1))).toSet
    for (queries <- Seq(floatQs, doubleQs, noQs); nprobe <- Seq(1, 3, 10)) {
      val (driver, probes) =
        IndexDelta.nearestCells(spark, queries, centroids, nprobe)
      val spark0 = SimilarityOps.assignCentroids(
          queries.select($"query_id".as("vec_id"),
            $"q_embedding".as("embedding")), centroids, nprobe)
        .select($"vec_id".as("query_id"), $"embedding".as("q_embedding"),
          $"centroid_id")
      assert(driver.schema == spark0.schema)
      assert(ranked(driver) == ranked(spark0), s"nprobe $nprobe")
      assert(driver.collect().toSet == spark0.collect().toSet)
      assert(probes.toSet ==
        ranked(spark0).map(_._2.asInstanceOf[Int].toLong))
    }
  }

  test("index searches equal the derive-per-query operators with " +
    "repeated, absent and empty queries") {
    val (docs, text, _, _) = built
    val corpus = Snapshot.read(spark, docs)
    val terms = (Bm25Queries ++ Seq("k1" -> "data", "k4" -> "zzqqxx",
      "k5" -> "zzqqxx", "k5" -> "spark")).toDF("query_id", "term")
    def topK(df: DataFrame) = df.select("query_id", "rank", "doc_id", "score")
      .collect().toSet
    assert(topK(TextIndex.search(spark, docs, text, terms, k = 10)) ==
      topK(TextOps.bm25TopK(corpus, terms, k = 10)))
    val none = terms.limit(0)
    assert(TextIndex.search(spark, docs, text, none, k = 10).isEmpty &&
      TextOps.bm25TopK(corpus, none, k = 10).isEmpty)
    val phrases = PhraseQueries ++ Seq("p8" -> "data data",
      "p9" -> "zzqqxx data")
    def hits(df: DataFrame) = df.select("phrase_id", "doc_id", "n_hits")
      .collect().toSet
    assert(hits(TextIndex.phraseCount(spark, docs, text, phrases)) ==
      hits(TextOps.phraseCounts(corpus, phrases)))
    val ours = intercept[IllegalArgumentException](
      TextIndex.phraseCount(spark, docs, text, Nil))
    assert(ours.getMessage ==
      intercept[IllegalArgumentException](
        TextOps.phraseCounts(corpus, Nil)).getMessage)
  }

  test("on local query frames the term buckets and cell probes launch " +
    "no Spark job, and each search launches fewer jobs than when it " +
    "probed with jobs") {
    val (docs, text, vecs, ivf) = built
    val terms = Bm25Queries.toDF("query_id", "term")
    val emb = Tables.embeddings(spark, sf).limit(3).collect()
    val queries = local(emb.map(r => Row(r.getLong(0), r.get(1))).toSeq,
      StructType(Seq(StructField("query_id", LongType),
        StructField("q_embedding", ArrayType(FloatType)))))
    val centroids = Snapshot.read(spark, IvfIndex.centroidsDir(ivf))
      .localCheckpoint()
    val cells = local(centroids.collect().toSeq, centroids.schema)
    def jobs(f: => Any): Int = JobCount.of(spark)(f)._2
    assert(jobs(TextIndex.search(spark, docs, text, terms, k = 10)) == 0)
    assert(jobs(TextIndex.phraseCount(spark, docs, text, PhraseQueries))
      == 0)
    assert(jobs(IndexDelta.nearestCells(spark, queries, cells, 4)) == 0)
    // the only job before IVF scoring reads the stored centroids
    assert(jobs(IvfIndex.search(spark, vecs, ivf, queries, 10, 4)) == 1)
    // whole searches, against the counts this fixture measured when
    // the buckets and probes ran as jobs and each scan inferred its
    // schema in one: 12 (BM25), 11 (phrase), 8 (IVF)
    val bm25 = jobs(TextIndex.search(spark, docs, text, terms, 10).collect())
    val phrase = jobs(
      TextIndex.phraseCount(spark, docs, text, PhraseQueries).collect())
    val ann = jobs(IvfIndex.search(spark, vecs, ivf, queries, 10, 4)
      .collect())
    assert(bm25 < 12 && phrase < 11 && ann < 8,
      s"jobs: bm25 $bm25, phrase $phrase, ann $ann")
  }
}
