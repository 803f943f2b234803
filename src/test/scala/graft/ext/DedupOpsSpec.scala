package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.JobCount
import scala.jdk.CollectionConverters._

class DedupOpsSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bank"),
    (3L, "the quick brown fox jumps over the lazy dog near the river"),
    (4L, "completely different words about spark shuffles and joins here")
  ).toDF("doc_id", "text")

  test("exactDedup keeps lowest id with dup_count") {
    val out = DedupOps.exactDedup(docs)
      .select("doc_id", "dup_count").as[(Long, Long)].collect().toMap
    assert(out(1L) == 2L)      // 1 and 2 identical; 1 survives
    assert(!out.contains(2L))
    assert(out(3L) == 1L && out(4L) == 1L)
  }

  test("nearDuplicates finds exact and near twins, not unrelated docs") {
    val pairs = DedupOps.nearDuplicates(docs, minJaccard = 0.4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    // 3 is doc 1 minus one word → high shingle overlap
    assert(pairs.contains((1L, 3L)) && pairs.contains((2L, 3L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("ngramJaccardPairs: exact Jaccard equals the brute-force set " +
    "computation; LSH pairs are a subset of the exact pairs") {
    val exact = DedupOps.ngramJaccardPairs(docs, minJaccard = 0.4)
      .select("id_a", "id_b", "jaccard")
      .as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    // brute force over collected shingle sets (df cap is a no-op at 4
    // docs with cap 50)
    val sets = docs
      .select($"doc_id", DedupOps.shingleSet($"text").as("sh"))
      .as[(Long, Seq[String])].collect().toMap
    val want = (for {
      a <- sets.keys; b <- sets.keys if a < b
      inter = sets(a).toSet.intersect(sets(b).toSet).size
      j = inter.toDouble /
        (sets(a).size + sets(b).size - inter).toDouble
      if j >= 0.4
    } yield (a, b) -> j).toMap
    assert(exact == want)
    // the probabilistic path never finds a pair the exact path lacks
    val lsh = DedupOps.nearDuplicates(docs, minJaccard = 0.4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(exact.keySet))
  }

  test("FromShingles entry points (shared pre-shingled frame) return " +
    "exactly what the text-input operators return") {
    val shingled = docs
      .select($"doc_id", DedupOps.shingleSet($"text").as("sh"))
      .localCheckpoint()
    val near0 = DedupOps.nearDuplicates(docs, minJaccard = 0.4)
      .as[(Long, Long, Double)].collect().toSet
    val near1 = DedupOps.nearDuplicatesFromShingles(shingled,
        minJaccard = 0.4)
      .as[(Long, Long, Double)].collect().toSet
    assert(near0 == near1)
    val ng0 = DedupOps.ngramJaccardPairs(docs, minJaccard = 0.4)
      .as[(Long, Long, Double)].collect().toSet
    val ng1 = DedupOps.ngramJaccardPairsFromShingles(shingled,
        minJaccard = 0.4)
      .as[(Long, Long, Double)].collect().toSet
    assert(ng0 == ng1)
  }

  test("ngramJaccardPairs df-cap drops ultra-common shingles from " +
    "candidates AND from the Jaccard denominator") {
    // 3 docs sharing one universal shingle; with maxDf=2 that shingle
    // is dropped, so no pair shares anything → no pairs at all
    val uni = Seq(
      (1L, "common phrase here alpha beta gamma"),
      (2L, "common phrase here delta epsilon zeta"),
      (3L, "common phrase here eta theta iota")
    ).toDF("doc_id", "text")
    val capped = DedupOps.ngramJaccardPairs(uni, minJaccard = 0.01,
      maxDf = 2)
    assert(capped.count() == 0)
    // uncapped, every pair shares exactly the universal shingles
    val open = DedupOps.ngramJaccardPairs(uni, minJaccard = 0.01,
      maxDf = 1000)
    assert(open.count() == 3)
  }

  test("decontaminate drops exact and near matches of the blocklist, " +
    "keeps unrelated docs") {
    val corpus = Seq(
      (10L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (11L, "the quick brown fox jumps over the lazy dog near the river"),
      (12L, "completely different words about spark shuffles and joins here"),
      (13L, "yet another unrelated document talking about window functions")
    ).toDF("doc_id", "text")
    val block = Seq(
      (900L, "the quick brown fox jumps over the lazy dog near the river bank")
    ).toDF("doc_id", "text")
    val kept = DedupOps.decontaminate(corpus, block, minJaccard = 0.4)
      .select("doc_id").as[Long].collect().toSet
    // 10 is the blocklist doc verbatim; 11 is a near-dup of it; 12/13
    // are unrelated and must survive
    assert(kept == Set(12L, 13L))
    // an empty blocklist keeps everything
    assert(DedupOps.decontaminate(corpus, block.limit(0),
      minJaccard = 0.4).count() == 4)
  }

  test("exactContamination drops only verbatim n-gram hits — a " +
    "paraphrase with no shared 8-gram survives where Jaccard flags it") {
    val corpus = Seq(
      (10L, "the quick brown fox jumps over the lazy dog near the river bank"),
      // one swap at word 6 (covered by all six 8-gram windows of a
      // 13-word doc): no exact hit anywhere
      (11L, "the quick brown fox jumps above the lazy dog near the river bank"),
      // shares a verbatim 8-gram suffix with the blocklist doc
      (12L, "today we saw that fox jumps over the lazy dog near the river bank"),
      (13L, "completely different words about spark shuffles and joins here")
    ).toDF("doc_id", "text")
    val block = Seq(
      (900L, "the quick brown fox jumps over the lazy dog near the river bank")
    ).toDF("doc_id", "text")
    val kept = DedupOps.exactContamination(corpus, block,
      shingleSize = 8).select("doc_id").as[Long].collect().toSet
    assert(kept == Set(11L, 13L))
    // shuffle path agrees row-for-row
    val viaShuffle = DedupOps.exactContamination(corpus, block,
      shingleSize = 8, broadcastBlocklist = false)
      .select("doc_id").as[Long].collect().toSet
    assert(viaShuffle == kept)
    // minHits raises the bar: doc 12 shares few 8-grams, doc 10 all
    val strict = DedupOps.exactContamination(corpus, block,
      shingleSize = 8, minHits = 4)
      .select("doc_id").as[Long].collect().toSet
    assert(strict == Set(11L, 12L, 13L))
  }

  test("exactContamination survives 64-bit prefilter collisions: a " +
    "hash that collides EVERY shingle still contaminates only verbatim " +
    "hits (the exact confirm, not the hash, decides)") {
    val corpus = Seq(
      (10L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (13L, "completely different words about spark shuffles and joins here")
    ).toDF("doc_id", "text")
    val block = Seq(
      (900L, "the quick brown fox jumps over the lazy dog near the river bank")
    ).toDF("doc_id", "text")
    // adversarial prefilter: all shingles hash to 0 — every corpus
    // shingle is a hash-level "hit" against every blocklist shingle
    for (bcast <- Seq(true, false)) {
      val kept = DedupOps.exactContaminationHashed(corpus, block,
          "doc_id", "text", 8, 1, bcast, _.localCheckpoint(),
          _ => lit(0L))
        .select("doc_id").as[Long].collect().toSet
      assert(kept == Set(13L), s"broadcast=$bcast")
    }
  }

  test("decontaminate shuffle-join path (corpus-sized blocklist) " +
    "matches the broadcast default exactly") {
    // fixture-scale corpus + a blocklist built from it, run through
    // both paths: broadcastBlocklist=false must swap the broadcast
    // hints for plain shuffle joins without changing one row
    val base = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val corpus = graft.queries.ExtQueries.corpusWithTwins(base)
    val block = base.filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"), col("text"))
    val viaBroadcast = DedupOps.decontaminate(corpus, block,
        minJaccard = 0.4)
      .select("doc_id").as[Long].collect().sorted.toSeq
    val viaShuffle = DedupOps.decontaminate(corpus, block,
        minJaccard = 0.4, broadcastBlocklist = false)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(viaBroadcast.nonEmpty)
    assert(viaShuffle == viaBroadcast)
    // the fixture corpus fits the driver bound, so both calls above
    // held it locally; bound 0 forces each distributed plan
    for (bcast <- Seq(true, false)) {
      val distributed = DedupOps.decontaminateBounded(corpus, block,
        "doc_id", "text", 3, 0.4, bcast, _.localCheckpoint(), 0, 0L)
      assert(!distributed.queryExecution.optimizedPlan
        .isInstanceOf[LocalRelation], s"broadcast=$bcast")
      assert(distributed.select("doc_id").as[Long].collect().sorted.toSeq
        == viaBroadcast, s"broadcast=$bcast")
    }
  }

  /** `n` seeded documents over a small vocabulary, so near twins and
    * shared shingles are common. */
  private def seededTexts(seed: Long, n: Int): IndexedSeq[String] = {
    val r = new scala.util.Random(seed)
    val vocab = IndexedSeq.tabulate(40)(i => s"w$i")
    IndexedSeq.fill(n)(Seq.fill(8 + r.nextInt(20))(vocab(r.nextInt(40)))
      .mkString(" "))
  }

  private def perturb(t: String, r: scala.util.Random): String = {
    val ws = t.split(" ")
    ws(r.nextInt(ws.length)) = "zz" + r.nextInt(5)
    ws.mkString(" ")
  }

  private val docSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("text",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("tag",
      org.apache.spark.sql.types.StringType)))

  /** An RDD-backed frame, like an arriving shard: its optimizer
    * estimate is unknown, so only the fetch's row count decides. */
  private def rddFrame(rows: Seq[(java.lang.Long, String, String)])
  : org.apache.spark.sql.DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map { case (i, t, g) => org.apache.spark.sql.Row(i, t, g) }, 3),
      docSchema)

  test("decontaminate's held plan equals both distributed plans on " +
    "seeded corpora: copies, twins, null and empty text, null, " +
    "duplicate and shared ids") {
    def id(i: Long): java.lang.Long = i
    val noId: java.lang.Long = null
    for (seed <- 1L to 3L) {
      val r = new scala.util.Random(seed)
      val blockTexts = seededTexts(seed * 31, 12)
      val block = rddFrame(blockTexts.zipWithIndex.map { case (t, i) =>
        (id(500L + i), t, "b")
      } ++ Seq((noId, blockTexts(0), "b"), (id(501L), null, "b"),
        (id(502L), "", "b")))
      val plain = seededTexts(seed * 31 + 7, 30)
      val corpusRows = plain.zipWithIndex.map { case (t, i) =>
          (id(i.toLong), t, s"plain$i")
        } ++ Seq(
          (id(100L), blockTexts(1), "copy"),
          (id(101L), perturb(blockTexts(2), r), "twin"),
          (id(102L), perturb(blockTexts(3), r), "twin"),
          (id(103L), null, "null text"),
          (id(104L), "", "empty text"),
          (noId, blockTexts(4), "null id, copy"),
          (noId, plain(0), "null id"),
          (id(105L), blockTexts(5), "dup id, copy"),
          (id(105L), plain(1), "dup id"),
          (id(500L), plain(2), "id shared with the blocklist"),
          (id(501L), blockTexts(6), "shared id, copy"))
      val corpus = rddFrame(corpusRows)
      def rowsOf(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toString).sorted.toSeq
      for (bcast <- Seq(true, false)) {
        val held = DedupOps.decontaminate(corpus, block,
          broadcastBlocklist = bcast)
        assert(held.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
        val distributed = DedupOps.decontaminateBounded(corpus, block,
          "doc_id", "text", 3, 0.5, bcast, _.localCheckpoint(), 0, 0L)
        val kept = rowsOf(held)
        assert(kept == rowsOf(distributed), s"seed=$seed broadcast=$bcast")
        val tags = held.select("tag").as[String].collect().toSet
        // a null id never matches, as in a left_anti join; one
        // contaminated row of an id takes its duplicates with it
        assert(Set("null id, copy", "null id", "null text",
          "id shared with the blocklist").subsetOf(tags), s"$seed: $tags")
        assert((tags intersect Set("copy", "dup id, copy", "dup id",
          "shared id, copy", "empty text")).isEmpty, s"$seed: $tags")
      }
    }
  }

  /** The optimized plans the block produced, captured by a rule at the
    * end of the session optimizer's batches. */
  private def optimizedPlans(body: => Any): Seq[LogicalPlan] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[LogicalPlan]()
    val capture = new Rule[LogicalPlan] {
      def apply(p: LogicalPlan): LogicalPlan = { seen.add(p); p }
    }
    val before = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = before :+ capture
    try body finally spark.experimental.extraOptimizations = before
    seen.asScala.toSeq
  }

  /** Per plan, the input relations of each operator evaluating
    * `kernel`, once per occurrence: a repeat is one side's kernel
    * evaluated twice. */
  private def kernelSides(plans: Seq[LogicalPlan],
                          kernel: Class[_]): Seq[Seq[Seq[LogicalPlan]]] =
    plans.map(_.collect { case node =>
      val hits = node.expressions.map(_.collect {
        case e if kernel.isInstance(e) => e }.size).sum
      Seq.fill(hits)(node.collectLeaves())
    }.flatten)

  test("the shingle and MinHash kernels run once per input side in " +
    "every plan of decontaminate, nearDuplicates, exactContamination " +
    "and ngramJaccardPairs (no inferred explode filter re-runs them)") {
    val dir = java.nio.file.Files.createTempDirectory("dedup-pin").toString
    rddFrame(seededTexts(21, 400).zipWithIndex.map { case (t, i) =>
      (java.lang.Long.valueOf(i.toLong), t, "c") }).drop("tag")
      .write.parquet(s"$dir/c")
    val corpus = spark.read.parquet(s"$dir/c")
    // a second scan, so each side has its own input relation
    val block = spark.read.parquet(s"$dir/c").filter(col("doc_id") % 10 === 0)
    val shard = rddFrame(corpus.limit(40).collect().toSeq.map(row =>
      (java.lang.Long.valueOf(row.getLong(0)), row.getString(1), "s")))
      .drop("tag")
    val ops: Seq[(String, () => Any, Boolean)] = Seq(
      ("decontaminate held", () => DedupOps.decontaminate(shard, corpus,
        broadcastBlocklist = false).collect(), true),
      ("decontaminate broadcast", () => DedupOps.decontaminateBounded(
        corpus, block, "doc_id", "text", 3, 0.5, true, _.localCheckpoint(),
        0, 0L).collect(), true),
      ("decontaminate shuffle", () => DedupOps.decontaminateBounded(
        corpus, block, "doc_id", "text", 3, 0.5, false,
        _.localCheckpoint(), 0, 0L).collect(), true),
      ("nearDuplicates", () => DedupOps.nearDuplicates(corpus).collect(),
        true),
      ("exactContamination", () => DedupOps.exactContamination(corpus,
        block, broadcastBlocklist = false).collect(), false),
      ("ngramJaccardPairs", () => DedupOps.ngramJaccardPairs(corpus,
        maxDf = 1000).collect(), false))
    for ((name, op, signs) <- ops) {
      val plans = optimizedPlans(op())
      val kernels = classOf[graft.functions.WordShingles] +:
        (if (signs) Seq(classOf[graft.functions.MinHashSignature]) else Nil)
      for (k <- kernels) {
        val sides = kernelSides(plans, k)
        assert(sides.exists(_.nonEmpty), s"$name: no ${k.getSimpleName}")
        sides.foreach(s => assert(s.distinct.size == s.size,
          s"$name: ${k.getSimpleName} evaluated twice for one side"))
      }
    }
  }

  test("a 300-document RDD shard decontaminated against a parquet " +
    "corpus launches at most 4 jobs") {
    val dir = java.nio.file.Files.createTempDirectory("dedup-jobs").toString
    val texts = seededTexts(11, 1200)
    rddFrame(texts.zipWithIndex.map { case (t, i) =>
      (java.lang.Long.valueOf(i.toLong), t, "c") }).drop("tag")
      .write.parquet(s"$dir/c")
    val corpus = spark.read.parquet(s"$dir/c")
    val r = new scala.util.Random(12)
    val shard = rddFrame((0 until 300).map { j =>
      val t = if (j % 10 == 0) perturb(texts(r.nextInt(texts.size)), r)
        else seededTexts(1000L + j, 1).head
      (java.lang.Long.valueOf(100000L + j), t, "s")
    }).drop("tag")
    val (kept, jobs) = JobCount.of(spark)(
      DedupOps.decontaminate(shard, corpus, broadcastBlocklist = false)
        .select("doc_id").as[Long].collect())
    assert(kept.length < 300)
    // the same spec measured 14 jobs when the corpus was shingled,
    // checkpointed, banded and shuffle-joined against the shard
    assert(jobs <= 4, s"$jobs jobs")
  }

  test("incrementalExactDedup drops archive duplicates, keeps new " +
    "content, and still dedups within the batch") {
    val archive = Seq(
      (1L, "the quick brown fox jumps over the lazy dog")
    ).toDF("doc_id", "text")
    val incoming = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"), // in archive
      (11L, "a genuinely new document about catalyst rules"),
      (12L, "a genuinely new document about catalyst rules"), // batch dup
      (13L, "another new document entirely")
    ).toDF("doc_id", "text")
    val out = DedupOps.incrementalExactDedup(archive, incoming)
      .select("doc_id", "dup_count").as[(Long, Long)].collect().toMap
    assert(out == Map(11L -> 2L, 13L -> 1L))
  }

  test("exactDedup keeps all original columns plus content_hash and " +
    "dup_count, in order") {
    val wide = docs.withColumn("extra", lit("x"))
    val out = DedupOps.exactDedup(wide)
    assert(out.columns.toSeq ==
      Seq("doc_id", "text", "extra", "content_hash", "dup_count"))
  }

  test("nearDuplicates with a table-write materializer (cluster path) " +
    "matches the localCheckpoint default") {
    val dir = java.nio.file.Files.createTempDirectory("sigtbl").toString
    var n = 0
    val tableWrite: org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.DataFrame = { df =>
      n += 1
      val p = s"$dir/m$n"
      df.write.parquet(p)
      spark.read.parquet(p)
    }
    val viaTable = DedupOps
      .nearDuplicates(docs, minJaccard = 0.4, materialize = tableWrite)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val viaCheckpoint = DedupOps.nearDuplicates(docs, minJaccard = 0.4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(n == 2 && viaTable == viaCheckpoint)
  }

  test("nearDuplicates jaccard is 1.0 for identical docs") {
    val j = DedupOps.nearDuplicates(docs, minJaccard = 0.4)
      .filter("id_a = 1 and id_b = 2").select("jaccard")
      .head().getDouble(0)
    assert(j == 1.0)
  }

  test("simhash: identical docs share signatures; near docs are close") {
    val sigs = DedupOps.withSimhash(docs)
      .select("doc_id", "simhash").as[(Long, String)].collect().toMap
    assert(sigs(1L) == sigs(2L))
    assert(sigs.values.forall(s => s.length == 32
      && s.forall(c => c == '0' || c == '1')))
    def hamming(a: String, b: String) =
      a.zip(b).count { case (x, y) => x != y }
    assert(hamming(sigs(1L), sigs(3L)) < hamming(sigs(1L), sigs(4L)))
  }

  test("native minhash_sig is bit-identical to the composable " +
    "array_min(transform) form on the fixture corpus") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val both = docs
      .withColumn("_sh", DedupOps.shingleSet(col("text")))
      .withColumn("_bases", org.apache.spark.sql.functions.transform(
        col("_sh"), x => conv(substring(md5(x), 1, 8), 16, 10)
          .cast("long")))
      .select(
        DedupOps.signatureExpr(col("_bases")).as("native"),
        DedupOps.signatureFold(col("_bases")).as("fold"))
      .as[(Seq[Long], Seq[Long])].collect()
    assert(both.nonEmpty)
    both.foreach { case (n, f) => assert(n == f) }
    // empty-input edge: both forms yield an array of k NULLs (never a
    // NULL array) — reachable via the registered SQL function even
    // though withSignature never produces empty bases
    val empty = Seq(Seq.empty[Long]).toDF("bases")
      .select(DedupOps.signatureExpr(col("bases")).as("native"),
        DedupOps.signatureFold(col("bases")).as("fold"))
      .as[(Seq[Option[Long]], Seq[Option[Long]])].head()
    assert(empty._1 == empty._2)
    assert(empty._1 == Seq.fill(DedupOps.NumHashes)(None))
    // signatures and LSH band keys over the native shingle and md5
    // kernels equal the all-composable pipeline
    def keys(sig: org.apache.spark.sql.Column) =
      (0 until DedupOps.Bands).map { b =>
        md5(concat_ws("|", (b * DedupOps.RowsPerBand until
          (b + 1) * DedupOps.RowsPerBand)
          .map(i => element_at(sig, i + 1).cast("string")): _*))
      }
    val fold = docs
      .withColumn("_b", TextOps.md5PrefixesFold(
        array_distinct(TextOps.shinglesFold(col("text"), 3))))
      .withColumn("_sig", DedupOps.signatureFold(col("_b")))
      .select(col("doc_id") +: col("_sig") +: keys(col("_sig")): _*)
      .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    val native = docs
      .withColumn("_sig", DedupOps.signatureExpr(TextOps.md5Prefixes(
        DedupOps.shingleSet(col("text")))))
      .select(col("doc_id") +: col("_sig") +: keys(col("_sig")): _*)
      .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    assert(fold.nonEmpty && native == fold)
    val banded = DedupOps.bandedSignatures(docs)
      .select("doc_id", "band", "band_key").as[(Long, Int, String)]
      .collect().toSet
    assert(banded == fold.toSeq.flatMap { case (id, v) =>
      v.tail.zipWithIndex.map { case (k, b) => (id, b, k.toString) }
    }.toSet)
  }

  test("native simhash_sig is bit-identical to the 32-aggregate " +
    "composable form on the fixture corpus") {
    val both = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .withColumn("_hx", transform(
        split(col("text"), " "),
        t => substring(md5(t), 1, DedupOps.SimHashBits / 4)))
      .select(DedupOps.simhashExpr(col("_hx")).as("native"),
        DedupOps.simhashFromHexes(col("_hx")).as("fold"))
      .as[(String, String)].collect()
    assert(both.nonEmpty)
    both.foreach { case (n, f) => assert(n == f) }
  }

  test("minhash_sig generates whole-stage code next to codegen-capable " +
    "producers, and is callable from SQL") {
    // A higher-order producer (transform/md5) forces its whole Project
    // to interpreted fallback — there the expression still wins by
    // replacing 16 interpreted traversals with one. Next to a
    // codegen-capable producer (sequence), doGenCode must engage:
    val df = spark.range(1, 200)
      .select(DedupOps.signatureExpr(
        sequence(col("id"), col("id") + 63)).as("sig"))
    df.collect()
    val gen = org.apache.spark.sql.execution.debug.codegenString(
      df.queryExecution.executedPlan)
    assert(gen.contains("minhashA"), gen.take(2000))
    // and the codegen'd result equals the interpreted fold
    val folded = spark.range(1, 200)
      .select(DedupOps.signatureFold(
        sequence(col("id"), col("id") + 63)).as("sig"))
    assert(df.as[Seq[Long]].collect().toSeq ==
      folded.as[Seq[Long]].collect().toSeq)

    docs.createOrReplaceTempView("mh_docs")
    val viaSql = spark.sql(
      """SELECT minhash_sig(transform(split(text, ' '),
         t -> CAST(conv(substring(md5(t), 1, 8), 16, 10) AS BIGINT)))
         FROM mh_docs""").count()
    assert(viaSql == docs.count())
  }

  test("simhashPairsMulti recall: rotation recovers a near pair whose " +
    "differing bit lies inside the single-table prefix, and the " +
    "multi-table pair set is a superset of the single-table set") {
    // seeded: docs 1/2 differ at simhash bit 6 ONLY (verified against
    // the md5 bit-vote arithmetic) — inside the 8-bit prefix, so the
    // single-table bucketing separates them; every rotated table's
    // window avoids bit 6, so the multi-table path must pair them
    val seeded = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (2L, "the quick alpha fox jumps over the lazy dog near the river bank today"),
      (3L, "completely different words about spark shuffles and joins here")
    ).toDF("doc_id", "text")
    val single = DedupOps.simhashPairs(seeded, 6)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val multi = DedupOps.simhashPairsMulti(seeded, 6)
      .select("id_a", "id_b", "hamming")
      .as[(Long, Long, Int)].collect()
    assert(!single.contains((1L, 2L)),
      "fixture invalid: single prefix should miss the seeded pair")
    assert(multi.map(p => (p._1, p._2)).contains((1L, 2L)))
    assert(multi.collectFirst {
      case (1L, 2L, h) => h }.contains(1)) // exactly bit 6 differs
    assert(single.subsetOf(multi.map(p => (p._1, p._2)).toSet))
    // fixture corpus: superset holds there too (verify is identical,
    // so extra tables can only add pairs)
    val docsT = graft.queries.ExtQueries.corpusWithTwins(
      graft.Tables.documents(spark, "/root/testdata/sf0.001"))
    val s1 = DedupOps.simhashPairs(docsT, 6)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val sm = DedupOps.simhashPairsMulti(docsT, 6)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(s1.subsetOf(sm))
  }

  test("simhashPairs: identical docs pair at hamming 0; hammingDist " +
    "column matches the scala reference") {
    val sigs = DedupOps.withSimhash(docs)
      .select("doc_id", "simhash").as[(Long, String)].collect().toMap
    val pairs = DedupOps.simhashPairs(docs, maxDist = 32)
      .as[(Long, Long, Int)].collect()
    assert(pairs.exists { case (a, b, h) => a == 1L && b == 2L && h == 0 })
    pairs.foreach { case (a, b, h) =>
      assert(h == sigs(a).zip(sigs(b)).count { case (x, y) => x != y })
      assert(sigs(a).take(8) == sigs(b).take(8)) // bucket contract
    }
  }

  test("minhashEstimates: identical docs estimate 1.0 exactly; every " +
    "candidate's estimate is k-quantized and within [0,1]") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (3L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
      (4L, "unrelated words entirely different from the other documents")
    ).toDF("doc_id", "text")
    val est = DedupOps.minhashEstimates(corpus)
      .select("id_a", "id_b", "matches", "est_jaccard", "jaccard",
        "abs_err")
      .as[(Long, Long, Int, Double, Double, Double)].collect()
    val byPair = est.map(r => (r._1, r._2) -> r).toMap
    val ident = byPair((1L, 2L))
    assert(ident._3 == DedupOps.NumHashes && ident._4 == 1.0 &&
      ident._5 == 1.0 && ident._6 == 0.0)
    est.foreach { r =>
      assert(r._4 == r._3.toDouble / DedupOps.NumHashes)
      assert(r._4 >= 0.0 && r._4 <= 1.0 && r._6 >= 0.0)
    }
    // the near pair (one word differs) is a candidate and its exact
    // jaccard is high
    assert(byPair.contains((1L, 3L)) && byPair((1L, 3L))._5 > 0.6)
  }

  test("editDistancePairs: identical candidates at 0, a one-word edit " +
    "costs its length, beyond-cap pairs drop") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val corpus = Seq(
      (1L, base),
      (2L, base),                                   // identical → 0
      (3L, base.replace("kappa", "kXppa")),         // 1 substitution
      (4L, "unrelated words entirely different from the other documents")
    ).toDF("doc_id", "text")
    val pairs = DedupOps.editDistancePairs(corpus, maxDist = 20)
      .select("id_a", "id_b", "edit_dist")
      .as[(Long, Long, Int)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(pairs((1L, 2L)) == 0)
    assert(pairs.get((1L, 3L)).contains(1))
    assert(!pairs.keySet.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("spanDuplicates finds a passage shared by otherwise-different " +
    "docs; containment 1.0 when one side is the passage itself") {
    val passage = "the quick brown fox jumps over the lazy dog today"
    val corpus = Seq(
      (1L, s"alpha beta gamma delta $passage epsilon zeta eta theta"),
      (2L, s"one two three four five $passage six seven eight nine"),
      (3L, passage),
      (4L, "completely unrelated text with no overlap at all here now")
    ).toDF("doc_id", "text")
    val pairs = DedupOps.spanDuplicates(corpus, minShared = 2)
      .select("id_a", "id_b", "containment")
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, c) => (a, b) -> c }.toMap
    // every pair among {1,2,3} shares the planted passage; 4 pairs with
    // nobody
    assert(pairs.keySet == Set((1L, 2L), (1L, 3L), (2L, 3L)))
    // doc 3 IS the passage: every one of its fingerprints recurs in 1
    // and 2
    assert(pairs((1L, 3L)) == 1.0 && pairs((2L, 3L)) == 1.0)
  }

  test("spanDuplicates df-cap drops boilerplate shared by everything") {
    // 60 docs all share the same boilerplate; only 2 share a real
    // passage beyond it. With maxDf=50 the boilerplate fingerprints are
    // dropped, so only the real pair survives.
    val boiler = "standard license header text goes here every time"
    val real = "rare duplicated analytical passage appearing twice only"
    val corpus = ((1L to 58L).map(i =>
      (i, s"$boiler unique$i filler$i word$i")) ++ Seq(
      (97L, s"$boiler $real left tail"),
      (98L, s"$boiler $real right tail"))).toDF("doc_id", "text")
    val pairs = DedupOps.spanDuplicates(corpus, minShared = 2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((97L, 98L)))
  }

  test("df-cap cliff guard: a corpus whose EVERY fingerprint exceeds " +
    "the cap raises instead of silently returning zero pairs; the " +
    "audit census reports the drop exactly") {
    // 60 identical docs — family size 60 > maxDf 50, so every
    // fingerprint is heavy: the r10 100× soak's silent-zero shape
    val text = "the same duplicated document body repeated everywhere " +
      "with enough words to winnow into several fingerprints"
    val flood = (1L to 60L).map(i => (i, text)).toDF("doc_id", "text")
    val e = intercept[IllegalStateException] {
      DedupOps.spanDuplicates(flood, minShared = 2).collect() }
    assert(e.getMessage.contains("dropped ALL"))
    val e2 = intercept[IllegalStateException] {
      DedupOps.ngramJaccardPairs(flood, minJaccard = 0.5).collect() }
    assert(e2.getMessage.contains("dropped ALL"))

    // the audit quantifies it: every distinct fp dropped, all mass
    val audit = DedupOps.spanDuplicateAudit(flood)
      .as[(String, Long)].collect().toMap
    assert(audit("fp_distinct") > 0)
    assert(audit("fp_dropped_distinct") == audit("fp_distinct"))
    assert(audit("fp_dropped_postings") == audit("fp_postings"))
    assert(audit("fp_postings") == 60L * audit("fp_distinct"),
      "every doc contributes the identical fingerprint set")

    // a mixed corpus keeps working (warn path, no raise) and the audit
    // splits dropped vs kept mass
    val mixed = flood.unionByName(
      Seq((101L, "one unique document standing completely apart " +
        "from the flood with its own words")).toDF("doc_id", "text"))
    val mixedAudit = DedupOps.spanDuplicateAudit(mixed)
      .as[(String, Long)].collect().toMap
    assert(mixedAudit("fp_dropped_distinct") == audit("fp_distinct"))
    assert(mixedAudit("fp_distinct") > mixedAudit("fp_dropped_distinct"))
  }
}
