package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis operators for a training-data pipeline (SURVEY §2.7 X4):
  * tokenization, word counts, tf-idf, n-gram language ID, quality
  * scoring, token counting, document fingerprinting.
  *
  * All scalar work is built-in Catalyst expressions or the native
  * kernels of `graft.functions` (whole-stage codegen); the only
  * shuffles are the groupBy/join aggregations that genuinely need
  * them. Everything is deterministic and mirrored 1:1 in
  * DuckDB oracle SQL (`graft.queries.ExtQueries`).
  *
  * Cross-engine float discipline: scores are built from integer counts
  * with IEEE-exact ops (`/`, `*` are correctly rounded and thus
  * bit-identical across engines); `ln` appears only in tf-idf where the
  * output is quantized through DECIMAL(18,6) and compared as DOUBLE on
  * both sides (DECIMAL's physical bytes differ across engines).
  *
  * Scale: token explode multiplies rows by tokens-per-doc — word-count
  * and tf-idf shuffle on the word key, which is low-cardinality; a
  * two-level partial aggregation (map-side combine) keeps the exchange
  * small. Nothing here collects to the driver.
  */
object TextOps {

  /** Whitespace tokenization (documents are space-separated words). */
  def tokens(text: Column): Column = split(text, " ")

  /** "BPE-ish" regex token count: alpha runs, digit runs, and single
    * non-space symbols each count as one token. POSIX-safe pattern so
    * Java regex and DuckDB RE2 agree. */
  val TokenRegex = "[a-z]+|[0-9]+|[^a-z0-9 ]"
  def regexTokenCount(text: Column): Column =
    size(regexp_extract_all(lower(text), lit(TokenRegex), lit(0)))

  /** Per-word global counts: explode → groupBy(word) → count. */
  def wordCounts(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(explode(tokens(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))

  /** X4j — hashing-trick featurizer [Weinberger et al., ICML 2009; the
    * fastText/Vowpal-Wabbit input shape]: token → md5-derived bucket in
    * [0, dim), emitted as sparse (doc_id, bucket, tf) rows. Fixed
    * output dimensionality with NO vocabulary pass and no dictionary
    * broadcast — the property that lets a quality classifier featurize
    * a 100-TB corpus in one scan (collisions are the accepted trade;
    * dim is the knob). One partial-agg shuffle on (doc, bucket); the
    * md5 bucket is the engine-portable [[graft.ext.Sampling]] coin, so
    * the featurization is oracle-checkable. */
  def featureHash(docs: DataFrame, dim: Int, textCol: String = "text",
                  idCol: String = "doc_id"): DataFrame = {
    require(dim > 0, s"dim must be positive: $dim")
    docs.select(col(idCol), explode(tokens(col(textCol))).as("tok"))
      .withColumn("bucket",
        pmod(conv(substring(md5(col("tok")), 1, 8), 16, 10)
          .cast("long"), lit(dim.toLong)))
      .groupBy(col(idCol), col("bucket"))
      .agg(count(lit(1)).as("tf"))
  }

  /** Classic tf-idf over (doc, word): tf = in-doc term count,
    * df = #docs containing the word, idf = ln((N+1)/(df+1)) + 1
    * (smoothed). Returns (doc_id, word, tf, df, tfidf DOUBLE).
    *
    * The score quantizes ln() through DECIMAL(18,6) and casts back to
    * DOUBLE so both engines hash the identical float64 bits (DECIMAL's
    * physical representation differs between Spark parquet and DuckDB
    * even when values are equal).
    *
    * N (corpus size) is computed IN-PLAN as a 1-row aggregate cross-
    * joined in — no driver-side action at plan-build time, so the
    * operator composes lazily and the corpus is scanned exactly once
    * per materialization.
    *
    * Two shuffles: (doc, word) count, then word-keyed df join — the df
    * side is tiny (vocabulary) and broadcast, as is the 1-row N frame.
    */
  def tfidf(docs: DataFrame, idCol: String = "doc_id",
            textCol: String = "text"): DataFrame = {
    val nDocs = docs.agg(countDistinct(col(idCol)).as("_n"))
    val termFreq = docs
      .select(col(idCol), explode(tokens(col(textCol))).as("word"))
      .groupBy(col(idCol), col("word")).agg(count(lit(1)).as("tf"))
    val docFreq = termFreq.groupBy("word")
      .agg(count(lit(1)).as("df"))
    termFreq.join(broadcast(docFreq), "word")
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf",
        (col("tf") * (log((col("_n") + 1.0) / (col("df") + 1.0)) + 1.0))
          .cast(DecimalType(18, 6)).cast(DoubleType))
      .select(col(idCol), col("word"), col("tf"), col("df"), col("tfidf"))
  }

  /** X4e — BM25 ranked keyword retrieval (Robertson et al., TREC-3;
    * the Lucene-smoothed idf ln(1 + (N−df+0.5)/(df+0.5)) so scores
    * stay positive). The inverted-index side of search, complementing
    * the embedding ANN family: score(q, d) = Σ_t idf(t) · tf·(k1+1) /
    * (tf + k1·(1−b + b·dl/avgdl)).
    *
    * Scale shape: one (doc, term) partial-agg count, a broadcast join
    * against the tiny query-term table FIRST (so only postings of
    * queried terms survive — the 100-TB point: scoring touches the
    * posting lists, never the corpus), then broadcast df + 1-row
    * corpus stats; the final per-(query, doc) sum aggregates exact
    * DECIMAL(18,6)-quantized term scores, so accumulation order can't
    * drift the float, and the top-k window ranks per query.
    *
    * Constants stay symbolic on both engines ((k1+1.0) is an IEEE
    * ADD at runtime in Spark AND the oracle — never pre-folded in
    * Scala, where a differently-rounded literal would diverge).
    *
    * @param queryTerms (query_id, term) — one row per query keyword
    * @return (query_id, doc_id, rank, score), rank 1..k by
    *         (score DESC, doc id ASC) */
  def bm25TopK(docs: DataFrame, queryTerms: DataFrame, k: Int = 10,
               k1: Double = 1.2, b: Double = 0.75,
               idCol: String = "doc_id",
               textCol: String = "text"): DataFrame = {
    // Prune BEFORE aggregating: the broadcast query-term join drops
    // every non-queried token scan-side, so the (doc, term) tf
    // aggregation — the only corpus-sized exchange — carries postings
    // of queried terms only, not the whole vocabulary.
    val postings = docs.select(col(idCol),
        size(tokens(col(textCol))).cast("long").as("dl"),
        explode(tokens(col(textCol))).as("term"))
      .join(broadcast(queryTerms.select("term").distinct()), "term")
    val tf = postings
      .groupBy(col(idCol), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
    // Document frequency from the pruned postings is the TRUE corpus
    // df of each queried term (pruning keeps every doc containing it).
    val docFreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val stats = docs.agg(
      countDistinct(col(idCol)).as("_n"),
      sum(size(tokens(col(textCol))).cast("long")).as("_dlsum"))
    bm25Rank(tf, queryTerms, docFreq, stats, k, k1, b, idCol)
  }

  /** The BM25 scoring tail [[bm25TopK]] and the persisted
    * [[TextIndex]] read path share — ONE definition of the formula, so
    * an index search is bit-identical to the derive-per-query path by
    * construction (TextIndexSpec pins it).
    * @param tf      (idCol, dl, term, tf) pruned postings
    * @param docFreq (term, df) — true corpus df of each queried term
    * @param stats   1 row (_n = corpus doc count, _dlsum = Σ dl) */
  private[graft] def bm25Rank(tf: DataFrame, queryTerms: DataFrame,
                              docFreq: DataFrame, stats: DataFrame,
                              k: Int, k1: Double, b: Double,
                              idCol: String): DataFrame = {
    val termScore =
      log(lit(1.0) + (col("_n") - col("df") + lit(0.5))
          / (col("df") + lit(0.5))) *
        (col("tf") * (lit(k1) + lit(1.0))) /
        (col("tf") + lit(k1) * (lit(1.0) - lit(b)
          + lit(b) * col("dl") / col("_avgdl")))
    val scored = tf
      .join(broadcast(queryTerms), "term")  // re-attach query ids
      .join(broadcast(docFreq), "term")
      .crossJoin(broadcast(stats))
      .withColumn("_avgdl", col("_dlsum").cast("double") / col("_n"))
      .withColumn("_s", termScore.cast(DecimalType(18, 6)))
      .groupBy(col("query_id"), col(idCol))
      .agg(sum(col("_s")).cast(DoubleType).as("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
      .orderBy(col("score").desc, col(idCol))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col(idCol), col("rank"), col("score"))
  }

  /** The (phrase_id, term_idx, term) and (phrase_id, n) frames of a
    * phrase set — `n` is the term count the anchor check must reach.
    * Shared by the naive scan ([[phraseCounts]]) and the positional
    * index read ([[TextIndex.phraseCount]]). */
  private[graft] def phraseFrames(
      spark: org.apache.spark.sql.SparkSession,
      phrases: Seq[(String, String)]): (DataFrame, DataFrame) = {
    import spark.implicits._
    require(phrases.nonEmpty, "no phrases given")
    val terms = phrases.flatMap { case (id, p) =>
      val ws = p.trim.split("\\s+").toSeq
      require(ws.nonEmpty && ws.forall(_.nonEmpty),
        s"empty phrase: '$p'")
      ws.zipWithIndex.map { case (t, i) => (id, i.toLong, t) }
    }
    (terms.toDF("phrase_id", "term_idx", "term"),
      phrases.map { case (id, p) =>
        (id, p.trim.split("\\s+").length.toLong)
      }.toDF("phrase_id", "n"))
  }

  /** The ANCHOR method both phrase paths share: a phrase of n terms
    * occurs at position a iff for EVERY term_idx i its term appears
    * at a + i — so each (doc, term, pos) occurrence votes for anchor
    * `pos − term_idx`, and an anchor with n DISTINCT voting indexes
    * is one occurrence (a repeated word in the phrase votes once per
    * index, never double-counted). One partial-agg shuffle on
    * (phrase, doc, anchor); the phrase tables broadcast.
    * @param occ (doc_id, term, pos) occurrences, pos 0-based LONG
    * @return (phrase_id, doc_id, n_hits) — docs with ≥1 occurrence */
  private[graft] def phraseHits(occ: DataFrame, phraseTerms: DataFrame,
                                phraseLens: DataFrame): DataFrame =
    occ.join(broadcast(phraseTerms), "term")
      .select(col("phrase_id"), col("doc_id"),
        (col("pos") - col("term_idx")).as("anchor"), col("term_idx"))
      .groupBy("phrase_id", "doc_id", "anchor")
      .agg(countDistinct(col("term_idx")).as("k"))
      .join(broadcast(phraseLens), "phrase_id")
      .filter(col("k") === col("n"))
      .groupBy("phrase_id", "doc_id")
      .agg(count(lit(1)).as("n_hits"))

  /** X4e''' — exact phrase occurrence counts by full corpus scan (the
    * derive-per-query twin of the positional-index read): tokenize
    * with positions, then the shared anchor check.
    * @return (phrase_id, doc_id, n_hits) */
  def phraseCounts(docs: DataFrame, phrases: Seq[(String, String)],
                   idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame = {
    val (pt, pl) = phraseFrames(docs.sparkSession, phrases)
    val occ = docs.select(col(idCol).as("doc_id"),
        posexplode(tokens(col(textCol))).as(Seq("pos", "term")))
      .withColumn("pos", col("pos").cast("long"))
    phraseHits(occ, pt, pl)
  }

  /** X4f — unigram negative-log-likelihood scoring: the
    * perplexity-style quality gate (CCNet's LM filter with the corpus
    * itself as the unigram model). score(d) = −Σ ln p(wᵢ) / n, with
    * p(w) = corpus count of w / total tokens — low = bland/common
    * text, high = rare-token-heavy (gibberish, code, non-language);
    * both tails are the usual cut candidates.
    *
    * Scale shape: one occurrence-sized partial-agg count builds the
    * unigram table; it joins back BROADCAST (a bounded vocabulary —
    * for an unbounded web vocab swap in a shuffle join keyed on the
    * word plus a df-cap, X2d's pattern); the per-doc sum aggregates
    * DECIMAL-quantized log-probs, so accumulation order can't drift
    * the float, then one doc-keyed exchange.
    *
    * @return (idCol, n_tokens, nll) — nll = avg −ln p, DOUBLE */
  def unigramNll(docs: DataFrame, idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame = {
    val toks = docs.select(col(idCol),
      explode(tokens(col(textCol))).as("word"))
    val counts = toks.groupBy("word").agg(count(lit(1)).as("wc"))
    val total = toks.agg(count(lit(1)).as("_t"))
    toks
      .join(broadcast(counts), "word")
      .crossJoin(broadcast(total))
      .withColumn("_nlp",
        (-log(col("wc") / col("_t"))).cast(DecimalType(18, 6)))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("_nlp")).as("_sum"))
      .select(col(idCol), col("n_tokens"),
        (col("_sum").cast(DoubleType) / col("n_tokens")).as("nll"))
  }

  /** X4g — BPE pair statistics: adjacent-symbol pair counts over the
    * corpus's word-frequency table (each word weighted by its corpus
    * frequency) — round 1 of byte-pair-encoding tokenizer induction.
    * The design point for 100 TB: the only occurrence-sized pass is
    * the word count; pair counting runs over the VOCABULARY (bounded,
    * orders of magnitude smaller), exactly how production BPE trainers
    * are structured. */
  def bpePairCounts(docs: DataFrame,
                    textCol: String = "text"): DataFrame =
    bpePairs(wordSymbols(docs, textCol))

  /** Word-frequency table with each word split to single-char symbols. */
  private def wordSymbols(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(tokens(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .select(split(col("word"), "").as("sym"), col("freq"))

  /** Frequency-weighted adjacent pair counts of a (sym, freq) table. */
  private def bpePairs(vocab: DataFrame): DataFrame =
    vocab.filter(size(col("sym")) >= 2)
      .select(col("freq"), explode(
        transform(sequence(lit(0), size(col("sym")) - 2),
          i => struct(element_at(col("sym"), i + 1).as("lsym"),
            element_at(col("sym"), i + 2).as("rsym")))).as("p"))
      .groupBy(col("p.lsym").as("lsym"), col("p.rsym").as("rsym"))
      .agg(sum("freq").as("pair_count"))

  /** Greedy leftmost merge of adjacent (l, r) symbol pairs in one
    * array — the BPE apply step, as a pure fold expression (no UDF):
    * if the accumulator's last symbol is `l` and the next is `r`,
    * replace the last with the merged symbol, else append. The fold
    * naturally implements non-overlapping leftmost matching ("aaaa"
    * with (a,a) → [aa, aa], never [a, aa, a]). */
  private def mergePair(sym: Column, l: String, r: String): Column =
    aggregate(sym,
      array().cast(ArrayType(StringType)),
      (out, x) =>
        when(size(out) > 0 && element_at(out, -1) === lit(l)
            && x === lit(r),
          concat(slice(out, lit(1), size(out) - 1), array(lit(l + r))))
        .otherwise(concat(out, array(x))))

  /** X4g'' — apply a learned merge table: per-word BPE token count
    * under `merges` (applied in learn order, greedy leftmost — the
    * exact inverse of [[bpeTrain]]'s apply step, same fold). Pure
    * scan-side expression work: zero shuffles, composes with the
    * packing planner as the "real tokenizer" token count. */
  def bpeTokenCount(text: Column,
                    merges: Seq[(String, String)]): Column = {
    val perWord = transform(tokens(text), w => {
      val merged = merges.foldLeft(split(w, "")) {
        case (s, (l, r)) => mergePair(s, l, r)
      }
      size(merged)
    })
    aggregate(perWord, lit(0), (acc, x) => acc + x)
  }

  /** X4g' — BPE merge trainer: `merges` rounds of (count pairs →
    * take the arg-max → merge it through the vocabulary). Driver-
    * coordinated like the connected-components BSP ([[graft.ext
    * .Clusters]]): each round is one vocab-sized aggregation plus ONE
    * 1-row action (the arg-max), with `localCheckpoint` truncating
    * lineage per round; the corpus itself is scanned exactly once (the
    * word count). Ties break (count DESC, lsym, rsym) so the merge
    * table is deterministic.
    *
    * @return (rank, lsym, rsym, merged, pair_count) — one row per
    *         learned merge, rank 1..merges in learn order */
  def bpeTrain(docs: DataFrame, merges: Int,
               textCol: String = "text"): DataFrame = {
    require(merges >= 1, s"merges must be >= 1, got $merges")
    val spark = docs.sparkSession
    var vocab = wordSymbols(docs, textCol).localCheckpoint()
    val learned = scala.collection.mutable.Buffer
      .empty[(Int, String, String, String, Long)]
    var exhausted = false
    for (rank <- 1 to merges if !exhausted) {
      val top = bpePairs(vocab)
        .orderBy(col("pair_count").desc, col("lsym"), col("rsym"))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (l, r, c) = (top(0).getString(0), top(0).getString(1),
          top(0).getLong(2))
        learned += ((rank, l, r, l + r, c))
        vocab = vocab
          .withColumn("sym", mergePair(col("sym"), l, r))
          .localCheckpoint()
      }
    }
    spark.createDataFrame(learned.toSeq)
      .toDF("rank", "lsym", "rsym", "merged", "pair_count")
  }

  /** Marker-word table for the n-gram language-ID heuristic. Public so
    * the oracle SQL generator uses the exact same table. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "fast", "slow"),
    "es" -> Seq("data", "table", "value"),
    "de" -> Seq("group", "order", "sort"),
    "fr" -> Seq("merge", "join", "key"),
    "zh" -> Seq("spark", "stream", "vector")
  )

  /** Heuristic language ID: score(lang) = #tokens in that language's
    * marker set; predict the arg-max, ties broken by first entry in
    * [[LangMarkers]] (the fold keeps the earlier language on equal
    * scores — the oracle SQL and TextOpsSpec encode the same rule).
    * (A real system uses char n-gram profiles; the fixture vocabulary is
    * synthetic, so marker sets stand in for the profile table — the
    * operator shape, scoring and arg-max resolution are the real thing.)
    */
  def langScores(text: Column): Seq[(String, Column)] = {
    val toks = tokens(text)
    LangMarkers.map { case (lang, markers) =>
      lang -> size(array_intersect(toks,
        array(markers.map(lit): _*)))
    }
  }

  def langId(text: Column): Column = {
    val scored = langScores(text)
    // arg-max, first LangMarkers entry wins ties: strictly-greater fold.
    scored.tail.foldLeft((scored.head._2, lit(scored.head._1))) {
      case ((bestScore, bestLang), (lang, score)) =>
        (when(score > bestScore, score).otherwise(bestScore),
          when(score > bestScore, lit(lang)).otherwise(bestLang))
    }._2
  }

  val Stopwords: Seq[String] = Seq("a", "the")

  /** Quality features per document: token count, char count, mean token
    * length, stopword ratio, distinct-token ratio. All ratios are
    * int-over-int IEEE divisions — bit-identical across engines. */
  def qualityFeatures(docs: DataFrame, idCol: String = "doc_id",
                      textCol: String = "text"): DataFrame = {
    val toks = tokens(col(textCol))
    val nTok = size(toks).cast(DoubleType)
    docs.select(
      col(idCol),
      size(toks).as("n_tokens"),
      length(col(textCol)).as("n_chars"),
      ((length(col(textCol)) - size(toks) + 1).cast(DoubleType) / nTok)
        .as("mean_token_len"),
      (size(array_intersect(toks, array(Stopwords.map(lit): _*)))
        .cast(DoubleType) / nTok).as("stopword_presence"),
      (size(array_distinct(toks)).cast(DoubleType) / nTok)
        .as("distinct_ratio"),
      size(regexp_extract_all(lower(col(textCol)), lit(TokenRegex), lit(0)))
        .as("regex_tokens"))
  }

  /** Repetition signals — the Gopher/MassiveText-style quality gates
    * that catch boilerplate and degenerate (looping) text: top-token
    * fraction, duplicate-bigram fraction, distinct-token ratio.
    *
    * Zero shuffle: every signal is an array-lambda over the row's own
    * token list, so the whole operator is scan-local and embarrassingly
    * parallel at 100 TB. The nested count-per-distinct-token lambda is
    * O(tokens·distinct) per row — CPU-bound but never materializes an
    * exploded (doc, token) relation or pays a token-keyed exchange like
    * the tf-idf path does.
    *
    * All ratios are int-over-int IEEE divisions — bit-identical across
    * engines, no DECIMAL quantization needed. */
  def repetitionFeatures(docs: DataFrame, idCol: String = "doc_id",
                         textCol: String = "text"): DataFrame = {
    val toks = tokens(col(textCol))
    val nTok = size(toks).cast(DoubleType)
    val grams = shingles(col(textCol), 2)
    docs.select(
      col(idCol),
      size(toks).as("n_tokens"),
      (array_max(transform(array_distinct(toks),
        x => size(filter(toks, y => y === x)))).cast(DoubleType) / nTok)
        .as("top_token_frac"),
      ((size(grams) - size(array_distinct(grams))).cast(DoubleType)
        / size(grams).cast(DoubleType)).as("dup_bigram_frac"),
      (size(array_distinct(toks)).cast(DoubleType) / nTok)
        .as("distinct_ratio"))
  }

  /** Corpus length histogram: token-count buckets of `width` tokens per
    * group — the length-distribution diagnostic run before choosing
    * truncation/packing lengths. One partial-agg shuffle on
    * (group, bucket); the bucket id is computed scan-side. */
  def lengthHistogram(docs: DataFrame, byCol: String = "lang",
                      textCol: String = "text", width: Int = 8): DataFrame =
    docs.select(col(byCol),
        floor(size(tokens(col(textCol))) / lit(width.toDouble)).as("bucket"))
      .groupBy(col(byCol), col("bucket")).agg(count(lit(1)).as("cnt"))

  /** Content fingerprint: sha-256 of the normalized (lower, trimmed)
    * text — the X1 exact-dedup key and the stable document ID a 100-TB
    * pipeline partitions by. */
  def fingerprint(text: Column): Column =
    sha2(trim(lower(text)), 256)

  /** Word n-gram shingles (the MinHash input): contiguous `n`-token
    * windows of [[tokens]] joined by ' ', and a text of fewer than `n`
    * tokens as itself. The native one-pass
    * [[graft.functions.WordShingles]] — linear in the text, where
    * [[shinglesFold]] re-splits it once per window; bit-identical to
    * it, asserted in TextOpsSpec. */
  def shingles(text: Column, n: Int): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.WordShingles(
        org.apache.spark.sql.graft.ColumnBridge.expression(text), n))

  /** The composable reference form of [[shingles]]: array built-ins
    * only, the twin the native expression is tested against. */
  def shinglesFold(text: Column, n: Int): Column = {
    val toks = tokens(text)
    when(size(toks) < n, array(concat_ws(" ", toks)))
      .otherwise(transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
  }

  /** 32-bit md5 prefix of every element of a string array, as
    * array<long>: the native [[graft.functions.Md5Prefix]], one digest
    * per element; bit-identical to [[md5PrefixesFold]]. */
  def md5Prefixes(strings: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.Md5Prefix(
        org.apache.spark.sql.graft.ColumnBridge.expression(strings)))

  /** The composable reference form of [[md5Prefixes]]: the first 8
    * hex digits of each md5, parsed as an unsigned 32-bit value. */
  def md5PrefixesFold(strings: Column): Column =
    transform(strings,
      s => conv(substring(md5(s), 1, 8), 16, 10).cast("long"))

  /** 32-bit rolling hash per `k`-gram (md5 prefix), as array<long>. */
  def kgramHashes(text: Column, k: Int = 3): Column =
    md5Prefixes(shingles(text, k))

  /** Native one-pass winnowing (monotonic-deque sliding minimum,
    * O(n) vs the composable form's O(n·w) interpreted lambdas) —
    * bit-identical to [[winnowFromHashes]], asserted in TextOpsSpec. */
  def winnowExpr(hashes: Column, w: Int = 4): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.WinnowMinima(
        org.apache.spark.sql.graft.ColumnBridge.expression(hashes), w))

  /** Winnowing selection over an ALREADY-BOUND hash-array column:
    * slide a window of `w` consecutive hashes, keep each window's
    * minimum, dedupe, sort — the composable reference form.
    *
    * `hashes` must be a column reference (bind [[kgramHashes]] with
    * `withColumn` first): the window lambda slices it per window, and a
    * nested non-attribute expression would be RE-EVALUATED per window —
    * measured 30× slower when the md5 pipeline was inlined here.
    * [[fingerprintTable]] wires the two stages correctly. */
  def winnowFromHashes(hashes: Column, w: Int = 4): Column = {
    val mins = when(size(hashes) < w, array(array_min(hashes)))
      .otherwise(transform(sequence(lit(0), size(hashes) - w),
        i => array_min(slice(hashes, i + 1, lit(w)))))
    sort_array(array_distinct(mins))
  }

  /** X4i — overlapping-window document chunker (the RAG-ingestion
    * splitter): each document becomes ⌈(n−c)/(c−o)⌉+1 chunks of up to
    * `chunkTokens` tokens, consecutive chunks sharing `overlap` tokens
    * so a retrieval hit never loses its sentence boundary. Chunk ids,
    * token offsets, and lengths are emitted so downstream embedding /
    * packing stages can address spans without re-tokenizing.
    *
    * Scale: pure scan-side expression work — tokenize, one `sequence`+
    * `explode`, per-chunk `slice` — ZERO shuffles at any corpus size
    * (PlanSpec-pinned); the natural upstream of the embedding table
    * and [[graft.ext.Packing]]'s budgeted sequences.
    *
    * @return (idCol, chunk_id, start_tok, n_tok, chunk_text) */
  def chunkDocs(docs: DataFrame, idCol: String = "doc_id",
                textCol: String = "text", chunkTokens: Int = 64,
                overlap: Int = 16): DataFrame = {
    require(chunkTokens >= 1, s"chunkTokens must be >= 1, got $chunkTokens")
    require(overlap >= 0 && overlap < chunkTokens,
      s"need 0 <= overlap < chunkTokens, got $overlap")
    val step = chunkTokens - overlap
    val n = size(col("_t"))
    val nChunks = when(n <= chunkTokens, lit(1L)).otherwise(
      floor((n - lit(chunkTokens) + lit(step) - 1).cast("double")
        / lit(step.toDouble)).cast("long") + 1)
    docs
      .withColumn("_t", tokens(col(textCol)))
      .select(col(idCol),
        explode(sequence(lit(0L), nChunks - 1)).as("chunk_id"),
        col("_t"))
      .withColumn("_start", col("chunk_id") * step)
      .withColumn("_chunk",
        slice(col("_t"), col("_start") + 1, lit(chunkTokens)))
      .select(col(idCol), col("chunk_id"),
        col("_start").as("start_tok"),
        size(col("_chunk")).cast("long").as("n_tok"),
        concat_ws(" ", col("_chunk")).as("chunk_text"))
  }

  /** Winnowing fingerprints (the rolling-hash document-fingerprint
    * scheme of MOSS), exploded to (idCol, fp) rows. Robust to local
    * edits — shared fingerprints locate overlapping passages without
    * comparing full documents. Scale: per-row compute, no shuffle; a
    * matching pipeline then shuffles (fp) longs, never text. */
  def fingerprintTable(docs: DataFrame, idCol: String = "doc_id",
                       textCol: String = "text", k: Int = 3,
                       w: Int = 4): DataFrame =
    docs
      .withColumn("_hs", kgramHashes(col(textCol), k))
      .select(col(idCol),
        explode(winnowExpr(col("_hs"), w)).as("fp"))
}
