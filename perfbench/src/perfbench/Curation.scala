package perfbench

import graft.ext.{DedupOps, IvfIndex, TextIndex}
import graft.pipeline.Snapshot
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.collection.mutable

final case class Doc(id: Long, text: String)

/** What the generator planted in a shard: exact copies and near twins
  * of corpus documents, and near twins of blocklist documents. */
final case class Shard(docs: IndexedSeq[Doc], vectors: IndexedSeq[(Long, Array[Float])],
                       exact: Set[Long], twins: Set[Long], contaminated: Set[Long])

/** Seeded documents in the `documents` fixture's shape (doc_id, text of
  * lowercase space-separated words) and 64-d embeddings clustered
  * around seeded centres. */
final class CorpusGen(seed: Long) {
  private val r = new java.util.Random(seed)
  val vocab: IndexedSeq[String] = {
    val v = new java.util.Random(seed * 17L + 5)
    val syl = for (c <- "bdfgklmnprstvz"; a <- "aeiou") yield s"$c$a"
    Iterator.continually((1 to 2 + v.nextInt(2)).map(_ => syl(v.nextInt(syl.size))).mkString)
      .distinct.take(3000).toIndexedSeq
  }
  val common: Set[String] = vocab.take(40).toSet

  def text(): String =
    (1 to 60 + r.nextInt(81)).map { _ =>
      if (r.nextDouble() < 0.3) vocab(r.nextInt(40))
      else vocab(r.nextInt(vocab.size))
    }.mkString(" ")

  /** `t` with `n` words replaced at seeded positions. */
  def perturb(t: String, n: Int): String = {
    val ws = t.split(" ")
    (1 to n).foreach(_ => ws(r.nextInt(ws.length)) = vocab(r.nextInt(vocab.size)))
    ws.mkString(" ")
  }

  private val Dim = 64
  private val centres = Array.fill(24, Dim)(r.nextGaussian().toFloat)

  def vector(): Array[Float] = {
    val c = centres(r.nextInt(centres.length))
    Array.tabulate(Dim)(i => c(i) + 0.35f * r.nextGaussian().toFloat)
  }

  /** Base vector with seeded noise: the replicated embeddings. */
  def noisy(v: Array[Float]): Array[Float] =
    v.map(x => x + 0.15f * r.nextGaussian().toFloat)

  def nextInt(n: Int): Int = r.nextInt(n)
  def nextDouble(): Double = r.nextDouble()
}

/** `llm_curation`: documents and embeddings arrive in shards. Per shard:
  * exact and near-duplicate detection against the corpus, blocklist
  * decontamination, append of the survivors, and incremental refresh of
  * a positional text index and an IVF index. Read mix: BM25 top-10, a
  * phrase count and an IVF top-10 query. */
final class Curation(spark: SparkSession, rec: Recorder, root: String,
                     seed: Long) extends Workload {
  private val BaseDocs = 2000
  private val ShardDocs = 300
  private val BaseVectors = 1500
  private val ShardVectors = 100
  private val Nlist = 16
  private val Nprobe = 4
  private val MinShards = 3
  private val MaxShards = 80

  private val tr = rec.tracer
  private var dir: String = _
  private var gen: CorpusGen = _
  /** The corpus as the model expects it: base docs plus every survivor. */
  private val corpus = mutable.LinkedHashMap[Long, String]()
  private val vectors = mutable.ArrayBuffer[(Long, Array[Float])]()
  /** Corpus docs that may be copied or twinned, and those that were:
    * only an untouched doc is a safe exact-text query. */
  private val queryable = mutable.ArrayBuffer[Long]()
  private val tainted = mutable.Set[Long]()
  private var blocklist: IndexedSeq[Doc] = IndexedSeq.empty
  private var shardNo = 0
  private var plantedPairs = 0
  private var foundPairs = 0

  private def corpusDir = s"$dir/corpus"
  private def vecDir = s"$dir/vectors"
  private def textDir = s"$dir/text_index"
  private def ivfDir = s"$dir/ivf_index"

  private val DocSchema = StructType(Seq(StructField("doc_id", LongType),
    StructField("text", StringType)))
  private val VecSchema = StructType(Seq(StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType, containsNull = false))))

  private def docFrame(ds: Seq[Doc]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      ds.map(d => Row(d.id, d.text))), DocSchema)

  private def vecFrame(vs: Seq[(Long, Array[Float])]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      vs.map { case (i, v) => Row(i, v.toSeq) }), VecSchema)

  def prepare(rep: Int): Unit = {
    dir = s"$root/rep$rep"
    gen = new CorpusGen(seed)
    corpus.clear(); vectors.clear(); queryable.clear(); tainted.clear()
    shardNo = 0; plantedPairs = 0; foundPairs = 0
    val base = (0 until BaseDocs).map(i => Doc(i.toLong, gen.text()))
    base.foreach(d => corpus.put(d.id, d.text))
    queryable ++= base.map(_.id)
    blocklist = (0 until 20).map(i => Doc(900000L + i, gen.text()))
    vectors ++= (0 until BaseVectors).map(i => (i.toLong, gen.vector()))
    Snapshot.createOrReplace(docFrame(base), corpusDir, keepVersions = 1)
    Snapshot.createOrReplace(vecFrame(vectors.toSeq), vecDir, keepVersions = 1)
    TextIndex.build(spark, corpusDir, textDir, positional = true)
    IvfIndex.build(spark, vecDir, ivfDir, Nlist)
  }

  /** One shard and one read mix, applied like any other. */
  def warmup(): Unit = {
    require(shard(nextShard())(), "warm-up shard disagrees with what was planted")
    require(readMix(), "warm-up reads disagree with the model")
  }

  private def nextShard(): Shard = {
    shardNo += 1
    val base = 100000L * shardNo
    val exact = mutable.Set[Long](); val twins = mutable.Set[Long]()
    val contaminated = mutable.Set[Long]()
    val docs = (0 until ShardDocs).map { j =>
      val id = base + j
      val u = gen.nextDouble()
      val pickBase = queryable(gen.nextInt(queryable.size))
      if (u < 0.05) {
        exact += id; tainted += pickBase; Doc(id, corpus(pickBase))
      } else if (u < 0.15) {
        twins += id; tainted += pickBase
        Doc(id, gen.perturb(corpus(pickBase), 1 + gen.nextInt(2)))
      } else if (u < 0.20) {
        contaminated += id
        Doc(id, gen.perturb(blocklist(gen.nextInt(blocklist.size)).text, 1))
      } else Doc(id, gen.text())
    }
    val vs = (0 until ShardVectors).map { j =>
      (base + j, gen.noisy(vectors(gen.nextInt(BaseVectors))._2))
    }
    Shard(docs, vs, exact.toSet, twins.toSet, contaminated.toSet)
  }

  private def ids(df: DataFrame): Set[Long] =
    df.select("doc_id").collect().map(_.getLong(0)).toSet

  /** One shard through the curation pipeline; the returned check holds
    * when every deterministic outcome matches what was planted. */
  private def shard(s: Shard): () => Boolean = {
    val existing = tr.span("pipeline.read_plan") {
      Snapshot.read(spark, corpusDir).select("doc_id", "text")
    }
    val (afterExact, afterNear, clean) = tr.span("ext.dedup") {
      val afterExact = tr.span("ext.dedup.exact") {
        ids(DedupOps.incrementalExactDedup(existing, docFrame(s.docs)))
      }
      val afterNear = tr.span("ext.dedup.near") {
        ids(DedupOps.decontaminate(docFrame(s.docs.filter(d => afterExact(d.id))),
          existing, broadcastBlocklist = false))
      }
      val clean = tr.span("ext.dedup.decontaminate") {
        ids(DedupOps.decontaminate(docFrame(s.docs.filter(d => afterNear(d.id))),
          docFrame(blocklist)))
      }
      (afterExact, afterNear, clean)
    }
    val survivors = s.docs.filter(d => clean(d.id))
    tr.span("pipeline.append") {
      Snapshot.morCommit(spark, corpusDir, deletes = None,
        appends = Some(docFrame(survivors)), operation = "append")
    }
    tr.span("ext.text_index") { TextIndex.refresh(spark, corpusDir, textDir) }
    tr.span("pipeline.append") {
      Snapshot.morCommit(spark, vecDir, deletes = None,
        appends = Some(vecFrame(s.vectors)), operation = "append")
    }
    tr.span("ext.ann_index") { IvfIndex.refresh(spark, vecDir, ivfDir) }
    () => {
      survivors.foreach(d => corpus.put(d.id, d.text))
      vectors ++= s.vectors
      val flagged = (afterExact -- afterNear) ++ (afterNear -- clean)
      val planted = s.twins ++ s.contaminated
      plantedPairs += planted.size
      foundPairs += (flagged intersect planted).size
      // unique docs never carry a planted twin, so they can serve queries
      queryable ++= survivors.map(_.id).filterNot(planted)
      s.docs.map(_.id).toSet -- afterExact == s.exact && (flagged -- planted).isEmpty
    }
  }

  private def queryDoc(): Long =
    Iterator.continually(queryable(gen.nextInt(queryable.size)))
      .find(d => !tainted(d)).get

  /** BM25 for six words of a query-safe document: it must rank first. */
  private def bm25(): () => Boolean = {
    val id = queryDoc()
    val terms = corpus(id).split(" ").distinct.filterNot(gen.common)
      .take(6).toSeq
    val q = spark.createDataFrame(terms.map(t => ("q", t))).toDF("query_id", "term")
    val top = tr.span("ext.text_search") {
      TextIndex.search(spark, corpusDir, textDir, q, k = 10).collect()
    }
    () => top.find(_.getAs[Int]("rank") == 1).exists(_.getAs[Long]("doc_id") == id)
  }

  /** Occurrences of a three-word phrase of a corpus document, checked
    * against a scan of the model corpus. */
  private def phrase(): () => Boolean = {
    val id = queryDoc()
    val ws = corpus(id).split(" ")
    val at = gen.nextInt(ws.length - 2)
    val p = ws.slice(at, at + 3).toSeq
    val rows = tr.span("ext.text_search") {
      TextIndex.phraseCount(spark, corpusDir, textDir, Seq(("p", p.mkString(" "))))
        .collect()
    }
    () => rows.map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_hits")).toMap ==
      corpus.iterator.map { case (d, t) =>
        d -> t.split(" ").sliding(3).count(_.toSeq == p).toLong
      }.filter(_._2 > 0).toMap
  }

  private def cosine(a: Array[Float], b: Array[Float]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
      i += 1
    }
    d / (math.sqrt(na) * math.sqrt(nb))
  }

  /** IVF top-10 for a noisy copy of a corpus vector: every returned score
    * must be the true cosine; recall against brute force is noted. */
  private def ann(): () => Boolean = {
    val q = gen.noisy(vectors(gen.nextInt(vectors.size))._2)
    val qdf = spark.createDataFrame(spark.sparkContext.parallelize(
        Seq(Row(-1L, q.toSeq))),
      StructType(Seq(StructField("query_id", LongType),
        StructField("q_embedding", ArrayType(FloatType, containsNull = false)))))
    val rows = tr.span("ext.ann_search") {
      IvfIndex.search(spark, vecDir, ivfDir, qdf, k = 10, nprobe = Nprobe).collect()
    }
    () => {
      val got = rows.map(r => r.getAs[Long]("neighbor_id") -> r.getAs[Double]("score")).toMap
      val byId = vectors.toMap
      val truth = vectors.map { case (i, v) => i -> cosine(q, v) }
        .sortBy(t => (-t._2, t._1)).take(10).map(_._1).toSet
      rec.note("ext.ann_recall", (got.keySet intersect truth).size / 10.0)
      got.size == 10 && got.forall { case (i, s) =>
        byId.get(i).exists(v => math.abs(cosine(q, v) - s) < 1e-6) }
    }
  }

  private def readMix(): Boolean = Seq(
    rec.op("read", "bm25", 1)(bm25()),
    rec.op("read", "phrase", 1)(phrase()),
    rec.op("read", "ann", 1)(ann())).forall(identity)

  def run(deadlineNs: Long): Unit = {
    var i = 0
    while (i < MaxShards && (i < MinShards || System.nanoTime() < deadlineNs)) {
      val s = nextShard()
      rec.op("write", "shard", s.docs.size)(shard(s))
      if (rec.tracer.on) rec.note("pipeline.bytes_new", rec.newBytes(root))
      rec.noteStorage(storageDirs, corpus.size)
      readMix()
      i += 1
    }
  }

  def finish(): Unit = {
    rec.check("corpus_state") {
      Snapshot.read(spark, corpusDir).select("doc_id", "text").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap == corpus.toMap
    }
    val recall = if (plantedPairs == 0) 1.0 else foundPairs.toDouble / plantedPairs
    rec.note("ext.near_dup_recall", recall)
    rec.check("near_dup_recall")(recall >= 0.8)
    rec.note("pipeline.files_live", Files.count(corpusDir))
  }

  def storageDirs: Seq[String] = Seq(corpusDir, textDir)
  def liveFrame: DataFrame = Snapshot.read(spark, corpusDir)
}
