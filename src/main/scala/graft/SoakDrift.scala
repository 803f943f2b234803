package graft

import graft.ext.{IndexDelta, IvfIndex, SimilarityOps}
import graft.pipeline.Snapshot
import org.apache.spark.sql.functions._

/** IVF drift soak: at each corpus scale, build the index, fast-append
  * a DRIFTED region (six sub-clusters leaning toward one frozen
  * centroid — the skew signal — with orthogonal structure the frozen
  * cells scatter — the recall decay), then `rebalance` with the
  * Lloyd-trained codebook. Records, per scale: the frozen-cell skew
  * ratio, recall@5 of drifted queries BEFORE and AFTER the rebalance,
  * and the rebalance cost. The 100-TB claim: recall decay under drift
  * is repaired by one maintenance call whose cost is one clustered
  * rebuild — and the skew ratio is the cheap trigger that tells an
  * operator WHEN (`CALL rebalance_index(..., threshold => …)`).
  *
  * Usage: `sbt "runMain graft.SoakDrift [mult,mult,…]"` (default
  * 1,4,16 over sf0.1 embeddings — 2k/8k/32k base vectors, drift =
  * 60% of base). Prints one JSON line. */
object SoakDrift {
  def main(args: Array[String]): Unit = {
    val mults = args.headOption
      .map(_.split(",").map(_.trim.toInt).toSeq)
      .getOrElse(Seq(1, 4, 16))
    val sfDir =
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Bench.mkSession()
    import spark.implicits._

    val fixture = Tables.embeddings(spark, sfDir)
      .select("vec_id", "embedding").orderBy("vec_id").localCheckpoint()
    val x0 = fixture.collect().map(r =>
      r.getSeq[Float](1).map(_.toDouble).toArray)

    val out = mults.map { mult =>
      val base =
        if (mult <= 1) fixture
        else (0 until mult).map(k => fixture.withColumn("vec_id",
          col("vec_id") + k * 100000000L)).reduce(_ unionByName _)
          .localCheckpoint()
      val baseRows = base.count()
      val nlist = 16
      val c0 = SimilarityOps.sampleCentroids(base, nlist).limit(1)
        .collect().head.getSeq[Float](1).map(_.toDouble).toArray
      val perSub = (baseRows * 0.6 / 6).toInt
      val drift = (0 until 6).flatMap { j =>
        (0 until perSub).map { t =>
          val sub = x0((100 + j) % x0.length)
          val noise = x0((200 + j * perSub + t) % x0.length)
          val v = (0 until 64).map(i =>
            0.3 * c0(i) + sub(i) + 0.8 * noise(i)).toArray
          val n = math.sqrt(v.map(a => a * a).sum)
          (900000000L + j.toLong * perSub + t,
            v.map(a => (a / n).toFloat).toSeq)
        }
      }.toDF("vec_id", "embedding").localCheckpoint()
      val root = java.nio.file.Files.createTempDirectory(s"sd$mult")
      val corpus = s"$root/corpus"
      val idx = s"$root/ivf"
      Snapshot.createOrReplace(base, corpus, keepVersions = 2)
      IvfIndex.build(spark, corpus, idx, nlist)
      Snapshot.morCommit(spark, corpus, deletes = None,
        appends = Some(drift), operation = "append")
      IvfIndex.refresh(spark, corpus, idx)

      val all = Snapshot.read(spark, corpus).localCheckpoint()
      val queries = all.filter(col("vec_id") >= 900000000L &&
          col("vec_id") % 50 === 0)
        .select(col("vec_id").as("query_id"),
          col("embedding").as("q_embedding")).localCheckpoint()
      val nQ = queries.count()
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id")
        .orderBy(col("score").desc, col("neighbor_id"))
      val exact = all.crossJoin(broadcast(queries))
        .filter(col("query_id") =!= col("vec_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          SimilarityOps.dot(col("q_embedding"), col("embedding"))
            .as("score"))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 5)
        .select("query_id", "neighbor_id")
        .as[(Long, Long)].collect().toSet
      def recall(): Double = {
        val got = IvfIndex.search(spark, corpus, idx, queries, 5, 2)
          .select("query_id", "neighbor_id")
          .as[(Long, Long)].collect().toSet
        got.count(exact.contains).toDouble / (nQ * 5.0)
      }
      val pre = recall()
      val (mx0, med0) = IndexDelta.skewOf(IvfIndex.cellSizes(spark, idx))
      val t0 = System.nanoTime()
      val (fired, _, _) = IvfIndex.rebalance(spark, corpus, idx, 2.0)
      val tReb = (System.nanoTime() - t0) / 1e9
      require(fired, "the drift scenario must cross the skew threshold")
      val post = recall()
      f""""x$mult":{"rows":${baseRows + drift.count()},""" +
        f""""skew":${mx0.toDouble / med0}%.2f,"recall_pre":$pre%.3f,""" +
        f""""recall_post":$post%.3f,"rebalance_sec":$tReb%.2f}"""
    }
    println(s"""{"soak":"ivf_drift_rebalance","nprobe":2,""" +
      out.mkString(",") + "}")
    spark.stop()
  }
}
