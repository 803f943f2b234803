package graft.ext

import graft.pipeline.Snapshot
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** PERSISTED inverted text index — the keyword-retrieval sibling of
  * the ANN index family ([[PqIndex]]/[[IvfIndex]]/[[IvfPqIndex]]).
  * [[TextOps.bm25TopK]] derives its postings inside each query, which
  * re-tokenizes the corpus per search; at 100 TB you tokenize once and
  * serve many, so this materializes the inverted index as snapshot
  * tables beside the corpus:
  *
  * ```
  * <indexDir>/postings  (term, doc_id, tf, dl) BY term_bucket
  * <indexDir>/doclens   (doc_id, dl)           BY doc_bucket
  * <indexDir>/stats     1 row (n_docs, dl_sum)
  * <indexDir>/_text_meta  corpus version + bucket geometry (atomic)
  * ```
  *
  * The scale property a derived-per-query BM25 can never have: the
  * postings are STORED Hive-partitioned on an md5 term bucket, so a
  * search maps its query terms to their buckets and reads ONLY those
  * fragments — partition pruning at plan time, O(postings of queried
  * terms' buckets) bytes instead of a corpus tokenize (the
  * [[IvfIndex]] cell-pruning property, for text). The doclens table
  * (one (doc_id, dl) row per doc, partitioned on `doc_id % B`) exists
  * for DELETE maintenance: subtracting a removed doc's length from the
  * corpus stats is a fragment-pruned lookup, never a postings scan.
  *
  * The lifecycle (build token, open step, change discovery, crash
  * replay) is [[IndexDelta]]'s; what is text-specific:
  *  - [[refresh]] commits to TWO MOR tables: a delete-carrying window
  *    PROPAGATES as a doc-keyed equality delete on postings AND
  *    doclens (df and the corpus stats shift with it — BM25 scores of
  *    the surviving docs change correctly, TextIndexSpec pins it).
  *    The 1-row stats table maintains by SIGNED INCREMENT (appended
  *    count/length from the delta itself, removed length from the
  *    bucket-pruned doclens lookup) — never recomputed from the
  *    corpus. A refresh that crashed between its table commits and
  *    the meta write is detected from the recorded component versions
  *    and replays as a self-healing UPSERT (delete every touched doc
  *    key, re-append), recomputing stats from the healed doclens —
  *    the one honest O(doc-count) read, on the rare path only.
  *  - [[search]] scores the BM25 formula ([[TextOps.bm25Rank]] — the
  *    SAME code path as the derive-per-query operator, so results are
  *    bit-identical by construction) over the pruned postings.
  *
  * Corpus contract: a versioned snapshot table with `doc_id` (BIGINT,
  * unique) and `text` (whitespace-tokenized) columns — the
  * `documents` fixture shape (`/root/testdata/sf0.01/documents.parquet`;
  * the reference models derived tables beside base tables the same
  * way, `/root/reference/README.md` bronze→silver). */
object TextIndex {

  /** `postingsVersion`/`doclensVersion` record where the last
    * successful build/refresh left each component — the crash
    * detector ([[PqIndex.Meta]]'s contract, per component).
    * `positional` indexes carry a per-posting sorted positions array
    * (build flag; refresh reads it from here so delta postings match
    * the stored schema). */
  final case class Meta(corpusVersion: Long, postingsVersion: Long,
                        doclensVersion: Long, termBuckets: Int,
                        docBuckets: Int, positional: Boolean,
                        buildToken: String) extends IndexDelta.Stamp

  def postingsDir(indexDir: String): String = s"$indexDir/postings"
  def doclensDir(indexDir: String): String = s"$indexDir/doclens"
  def statsDir(indexDir: String): String = s"$indexDir/stats"

  private val Family = new IndexDelta.Family[Meta]("text", "TextIndex",
    "_text_meta", 7, p => Meta(p(0).toLong, p(1).toLong, p(2).toLong,
      p(3).toInt, p(4).toInt, p(5) == "1", p(6)),
    d => Seq(postingsDir(d), doclensDir(d), statsDir(d)))

  def meta(indexDir: String): Option[Meta] = Family.meta(indexDir)

  /** md5-derived term bucket — the same engine-portable coin as the
    * hidden `bucket()` partition transform, so an external engine
    * could recompute which fragment a term lives in. */
  private def termBucket(term: Column, n: Int): Column =
    pmod(conv(substring(md5(term), 1, 8), 16, 10).cast("long"),
      lit(n.toLong))

  /** doc_id is BIGINT by contract — plain modulo buckets it. */
  private def docBucket(id: Column, n: Int): Column =
    pmod(id.cast("long"), lit(n.toLong))

  /** Hive partition inference narrows the bucket columns to INT; pin
    * them back to the LONG every consumer computes. */
  private def postingsRead(spark: SparkSession,
                           indexDir: String): DataFrame =
    Snapshot.read(spark, postingsDir(indexDir))
      .withColumn("term_bucket", col("term_bucket").cast("long"))

  private def doclensRead(spark: SparkSession,
                          indexDir: String): DataFrame =
    Snapshot.read(spark, doclensDir(indexDir))
      .withColumn("doc_bucket", col("doc_bucket").cast("long"))

  /** The postings of the queried `term`s of `terms`, pruned on the
    * driver: the terms are collected (a local query frame costs no
    * job) and their buckets are the same [[termBucket]] column over a
    * local relation, which the optimizer folds on the driver — no
    * job, and the postings' own hash by construction. The scan then
    * filters on literal bucket and term lists: the buckets drop whole
    * fragments at plan time, the terms keep only the queried posting
    * lists. Exact: a term's whole posting list lives in its bucket. */
  private def queriedPostings(spark: SparkSession, indexDir: String,
                              im: Meta, terms: DataFrame): DataFrame = {
    import spark.implicits._
    val qt = terms.select("term").collect().map(_.getString(0))
      .filter(_ != null).distinct.toSeq
    val buckets = qt.toDF("term")
      .select(termBucket(col("term"), im.termBuckets))
      .collect().map(_.getLong(0)).distinct.toSeq
    postingsRead(spark, indexDir)
      .filter(col("term_bucket").isin(buckets: _*) &&
        col("term").isin(qt: _*))
  }

  /** (term_bucket, term, doc_id, tf, dl) — the [[TextOps.bm25TopK]]
    * tf frame with the bucket layout column; a POSITIONAL index adds
    * the sorted 0-based `positions` array per posting (the phrase /
    * proximity read's input — Lucene's positions file, as a column). */
  private def postingsOf(docs: DataFrame, termBuckets: Int,
                         positional: Boolean): DataFrame = {
    val base =
      if (!positional)
        docs.select(col("doc_id"),
            size(TextOps.tokens(col("text"))).cast("long").as("dl"),
            explode(TextOps.tokens(col("text"))).as("term"))
          .groupBy("doc_id", "dl", "term")
          .agg(count(lit(1)).as("tf"))
      else
        docs.select(col("doc_id"),
            size(TextOps.tokens(col("text"))).cast("long").as("dl"),
            posexplode(TextOps.tokens(col("text")))
              .as(Seq("pos", "term")))
          .groupBy("doc_id", "dl", "term")
          .agg(count(lit(1)).as("tf"),
            sort_array(collect_list(col("pos").cast("long")))
              .as("positions"))
    base.withColumn("term_bucket", termBucket(col("term"), termBuckets))
  }

  private def doclensOf(docs: DataFrame, docBuckets: Int): DataFrame =
    docs.select(col("doc_id"),
        size(TextOps.tokens(col("text"))).cast("long").as("dl"))
      .withColumn("doc_bucket", docBucket(col("doc_id"), docBuckets))

  /** The corpus stats BM25 needs, aggregated from a doclens frame —
    * O(doc count) over two columns; used at build and on the crash
    * replay, never on the happy refresh path (signed increments). */
  private def statsFrom(doclens: DataFrame): DataFrame =
    doclens.agg(count(lit(1)).as("n_docs"),
      coalesce(sum(col("dl")), lit(0L)).as("dl_sum"))

  private def componentVersions(indexDir: String): (Long, Long) = (
    Snapshot.currentVersion(postingsDir(indexDir)).getOrElse(0L),
    Snapshot.currentVersion(doclensDir(indexDir)).getOrElse(0L))

  /** Build (or rebuild) the index: tokenize the live corpus into the
    * bucket-partitioned postings + doclens + stats, stamp the corpus
    * version. @return docs indexed */
  def build(spark: SparkSession, corpusPath: String, indexDir: String,
            termBuckets: Int = 16, docBuckets: Int = 16,
            positional: Boolean = false): Long = {
    require(termBuckets > 0 && docBuckets > 0,
      s"bucket counts must be positive: $termBuckets/$docBuckets")
    val version = Family.corpusVersionOf(corpusPath)
    // tokenize+explode+partial-agg is the build's CPU-heavy map stage
    // and a small corpus snapshot arrives in 1-3 splits — r20
    // per-job trace: the postings exchange's map stage ran 1.39 s on ONE
    // task of 32. Widen when the size estimate says the scan is
    // narrow; a big corpus passes through untouched (guide §2.5).
    val corpus = Spread.widen(Snapshot.read(spark, corpusPath))
    // postings and doclens are independent tables written together;
    // stats aggregate the freshly written doclens
    Family.commitBuild(indexDir,
      Seq(IndexDelta.component(postingsDir(indexDir), "term_bucket")(
          postingsOf(corpus, termBuckets, positional)),
        IndexDelta.component(doclensDir(indexDir), "doc_bucket")(
          doclensOf(corpus, docBuckets))),
      Seq(IndexDelta.component(statsDir(indexDir))(
        statsFrom(doclensRead(spark, indexDir))))) { token =>
      val (pv, dv) = componentVersions(indexDir)
      Meta(version, pv, dv, termBuckets, docBuckets, positional, token)
    }
    // the doc count was already aggregated into the 1-row stats
    // table — re-scanning doclens for the return value would double
    // the build's doclens read
    Snapshot.read(spark, statsDir(indexDir))
      .select("n_docs").head().getLong(0)
  }

  /** Incrementally apply corpus changes since the index last saw it —
    * O(window delta) discovery ([[IndexDelta.changesSince]]), doc-keyed
    * equality-delete propagation, signed-increment stats, upsert crash
    * replay. @return newly indexed docs */
  def refresh(spark: SparkSession, corpusPath: String,
              indexDir: String, compactAfterCommits: Int = 64): Long = {
    val (im, version) = Family.open(indexDir, corpusPath, read = false)
    if (version == im.corpusVersion) return 0L
    val (pv0, dv0) = componentVersions(indexDir)
    val crashed = pv0 != im.postingsVersion || dv0 != im.doclensVersion
    // the family's shared window protocol (IndexDelta.windowApply):
    // change discovery, delete-key resolution, and the crash-replay
    // upsert rule are one definition across the ANN and text indexes
    val w = IndexDelta.windowApply(spark, corpusPath, im.corpusVersion,
      version, "text index", keyCol = "doc_id", crashed = crashed)
    val delta = w.delta.select("doc_id", "text")
    // the stats decrement reads the doclens rows of the deleted keys
    // BEFORE the delete commits — bucket-pruned to their fragments
    // (distinct buckets are bounded by docBuckets, one tiny collect)
    val removed: Option[(Long, Long)] =
      if (crashed) None  // stats recompute from the healed table below
      else w.delKeys.map { k =>
        val bs = k.select(docBucket(col("doc_id"), im.docBuckets)
            .as("b")).distinct().collect().map(_.getLong(0)).toSeq
        val r = doclensRead(spark, indexDir)
          .filter(col("doc_bucket").isin(bs: _*))
          .join(k, Seq("doc_id"), "left_semi")
          .agg(count(lit(1)).as("c"),
            coalesce(sum(col("dl")), lit(0L)).as("s"))
          .head()
        (r.getLong(0), r.getLong(1))
      }
    val added: (Long, Long) =
      if (w.n == 0) (0L, 0L)
      else {
        val r = delta
          .select(size(TextOps.tokens(col("text"))).cast("long").as("dl"))
          .agg(count(lit(1)).as("c"),
            coalesce(sum(col("dl")), lit(0L)).as("s")).head()
        (r.getLong(0), r.getLong(1))
      }
    if (w.n > 0 || w.touched.isDefined) {
      // independent component commits — overlap (guide §2.6); a
      // crash between them was already a recoverable state
      graft.pipeline.Par.both(
        Snapshot.morCommit(spark, postingsDir(indexDir),
          deletes = w.touched,
          appends =
            if (w.n > 0)
              Some(postingsOf(delta, im.termBuckets, im.positional))
            else None,
          operation = w.op),
        Snapshot.morCommit(spark, doclensDir(indexDir),
          deletes = w.touched,
          appends =
            if (w.n > 0) Some(doclensOf(delta, im.docBuckets)) else None,
          operation = w.op))
    }
    // READ-TAX BOUND (the family's sawtooth contract) on BOTH MOR
    // components — spec-aware, best-effort
    Seq(postingsDir(indexDir), doclensDir(indexDir)).foreach(
      Snapshot.compactIfStacked(spark, _, compactAfterCommits))
    val newStats =
      if (crashed) statsFrom(doclensRead(spark, indexDir))
      else {
        val cur = Snapshot.read(spark, statsDir(indexDir))
          .select("n_docs", "dl_sum").head()
        val (remN, remDl) = removed.getOrElse((0L, 0L))
        spark.range(1).select(
          lit(cur.getLong(0) - remN + added._1).as("n_docs"),
          lit(cur.getLong(1) - remDl + added._2).as("dl_sum"))
      }
    IndexDelta.component(statsDir(indexDir))(newStats)(im.buildToken)
    val (pv, dv) = componentVersions(indexDir)
    Family.writeMeta(indexDir,
      im.copy(corpusVersion = version, postingsVersion = pv,
        doclensVersion = dv))
    w.n
  }

  /** BM25 top-k from the PERSISTED index: query terms map to their
    * buckets on the driver, without a job ([[queriedPostings]]), the
    * postings scan prunes to those fragments at plan time, df
    * aggregates over the pruned postings (exact — a term's whole
    * posting list lives in its bucket), and [[TextOps.bm25Rank]]
    * scores identically to the derive-per-query operator. Raises when
    * the index is stale.
    * @param queryTerms (query_id, term)
    * @return (query_id, doc_id, rank, score) */
  def search(spark: SparkSession, corpusPath: String, indexDir: String,
             queryTerms: DataFrame, k: Int, k1: Double = 1.2,
             b: Double = 0.75): DataFrame = {
    val (im, _) = Family.open(indexDir, corpusPath, read = true)
    val tf = queriedPostings(spark, indexDir, im, queryTerms)
      .select(col("doc_id"), col("dl"), col("term"), col("tf"))
    val docFreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val stats = Snapshot.read(spark, statsDir(indexDir))
      .select(col("n_docs").as("_n"), col("dl_sum").as("_dlsum"))
    TextOps.bm25Rank(tf, queryTerms, docFreq, stats, k, k1, b,
      "doc_id")
  }

  /** X4e''' — exact phrase occurrence counts from a POSITIONAL index
    * ([[build]] with `positional = true`): the phrase terms map to
    * their buckets, the postings scan prunes to those fragments, the
    * stored positions explode, and [[TextOps.phraseHits]] runs the
    * same anchor check as the derive-per-query scan — identical
    * result, O(queried posting lists) read. Raises when the index is
    * stale or carries no positions.
    * @param phrases (phrase_id, space-separated phrase)
    * @return (phrase_id, doc_id, n_hits) */
  def phraseCount(spark: SparkSession, corpusPath: String,
                  indexDir: String,
                  phrases: Seq[(String, String)]): DataFrame = {
    val (im, _) = Family.open(indexDir, corpusPath, read = true)
    if (!im.positional)
      throw new IllegalStateException(
        s"text index at $indexDir carries no positions — phrase " +
          "search needs TextIndex.build(..., positional = true)")
    val (pt, pl) = TextOps.phraseFrames(spark, phrases)
    val occ = queriedPostings(spark, indexDir, im, pt)
      .select(col("doc_id"), col("term"),
        explode(col("positions")).as("pos"))
    TextOps.phraseHits(occ, pt, pl)
  }
}
