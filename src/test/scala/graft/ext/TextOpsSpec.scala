package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

class TextOpsSpec extends SparkSpec {
  import spark.implicits._

  private def one(text: String) = Seq((1L, text)).toDF("doc_id", "text")

  test("shingles: contiguous 3-grams; short docs collapse to one") {
    val sh = one("a b c d").select(TextOps.shingles(col("text"), 3))
      .head().getSeq[String](0)
    assert(sh == Seq("a b c", "b c d"))
    val short = one("a b").select(TextOps.shingles(col("text"), 3))
      .head().getSeq[String](0)
    assert(short == Seq("a b"))
  }

  /** Seeded texts of 1-40 words over ASCII and multibyte words, with
    * runs of one to three spaces between them. */
  private def seededTexts(seed: Long, n: Int): Seq[String] = {
    val r = new scala.util.Random(seed)
    val words = IndexedSeq("a", "bb", "ccc", "héllo", "wörld", "日本語",
      "テキスト", "😀", "x1", "the", "quick", "fox")
    Seq.fill(n)(Seq.fill(1 + r.nextInt(40))(words(r.nextInt(words.size)))
      .mkString(" " * (1 + r.nextInt(3))))
  }

  test("native word shingles are bit-identical to the split/slice " +
    "form for n = 1…5, on seeded texts and on edge texts") {
    val edges = Seq("", "a", "a b", "a b c d e f", "a  b", "  a b  ",
      " ", "a b ", " a b", "héllo wörld ünïcode 日本語 テキスト 😀 x",
      "x  y   z    w", null)
    val texts = edges.map(Option(_)).toDF("text")
      .union(seededTexts(5, 300).toDF("text"))
    for (n <- 1 to 5) {
      val both = texts
        .select(col("text"), TextOps.shingles(col("text"), n).as("native"),
          TextOps.shinglesFold(col("text"), n).as("fold"))
        .as[(Option[String], Option[Seq[String]], Option[Seq[String]])]
        .collect()
      assert(both.length > edges.length)
      both.foreach { case (t, native, fold) =>
        assert(native == fold, s"n=$n text=$t")
      }
      // the driver-side (interpreted) evaluation agrees with the
      // whole-stage (generated) one
      val interpreted = edges.map(t => graft.functions.WordShingles(
          org.apache.spark.sql.catalyst.expressions.Literal(
            org.apache.spark.unsafe.types.UTF8String.fromString(t),
            org.apache.spark.sql.types.StringType), n).eval())
        .map(a => Option(a).map(_.asInstanceOf[
          org.apache.spark.sql.catalyst.util.ArrayData]
          .toSeq[org.apache.spark.unsafe.types.UTF8String](
            org.apache.spark.sql.types.StringType).map(_.toString)))
      assert(interpreted == both.take(edges.length).map(_._3).toSeq, s"n=$n")
    }
    // the edges the composable form defines: fewer than n tokens is the
    // text itself, empty tokens are tokens, null stays null
    val sh = one("a  b").select(TextOps.shingles(col("text"), 2))
      .head().getSeq[String](0)
    assert(sh == Seq("a ", " b"))
    assert(one("a b").select(TextOps.shingles(col("text"), 3))
      .head().getSeq[String](0) == Seq("a b"))
  }

  test("native md5 prefixes are bit-identical to conv(substring(md5(x), " +
    "1, 8), 16, 10), null elements included") {
    val arrays = Seq(Some(Seq(Some("a"), None, Some(""), Some("héllo"))),
      Some(Seq.empty[Option[String]]), None,
      Some(Seq(Some("the quick brown"), Some("quick brown fox"))))
      .toDF("xs")
      .union(seededTexts(6, 300).toDF("text")
        .select(TextOps.shinglesFold(col("text"), 3).as("xs")))
    val both = arrays
      .select(TextOps.md5Prefixes(col("xs")).as("native"),
        TextOps.md5PrefixesFold(col("xs")).as("fold"))
      .as[(Option[Seq[Option[Long]]], Option[Seq[Option[Long]]])].collect()
    assert(both.length > 4)
    both.foreach { case (n, f) => assert(n == f) }
    assert(both.head._1.get(1).isEmpty && both(2)._1.isEmpty)
    // every prefix is an unsigned 32-bit value
    assert(both.flatMap(_._1.toSeq.flatten.flatten)
      .forall(h => h >= 0L && h < (1L << 32)))
  }

  test("regex token count: words, numbers, symbols") {
    val n = one("ab 12 c-d").select(
      TextOps.regexTokenCount(col("text"))).head().getInt(0)
    assert(n == 5) // ab, 12, c, -, d
  }

  test("langId picks the max-marker language, first entry wins ties") {
    val en = one("the a fast x").select(TextOps.langId(col("text")))
      .head().getString(0)
    assert(en == "en")
    // no markers at all → scores all 0 → first entry (en)
    val none = one("zzz yyy").select(TextOps.langId(col("text")))
      .head().getString(0)
    assert(none == TextOps.LangMarkers.head._1)
  }

  test("tfidf: common word scores below rare word for same tf") {
    val docs = Seq(
      (1L, "spark common"), (2L, "flink common"), (3L, "trino common")
    ).toDF("doc_id", "text")
    val out = TextOps.tfidf(docs).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getDouble(4))
      .toMap
    assert(out((1L, "spark")) > out((1L, "common")))
  }

  test("wordCounts aggregates globally") {
    val wc = TextOps.wordCounts(Seq((1L, "a b a"), (2L, "a"))
      .toDF("doc_id", "text"))
      .as[(String, Long)].collect().toMap
    assert(wc == Map("a" -> 3L, "b" -> 1L))
  }

  test("fingerprint normalizes case and whitespace edges") {
    val fp = Seq(("A b C", "a b c "))
      .toDF("t1", "t2")
      .select(TextOps.fingerprint(col("t1")) ===
        TextOps.fingerprint(col("t2")))
      .head().getBoolean(0)
    assert(fp)
  }

  test("native winnow is bit-identical to the composable form on the " +
    "fixture corpus and on short/empty edges") {
    val both = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .withColumn("_hs", TextOps.kgramHashes(col("text")))
      .select(TextOps.winnowExpr(col("_hs")).as("native"),
        TextOps.winnowFromHashes(col("_hs")).as("fold"))
      .as[(Seq[Long], Seq[Long])].collect()
    assert(both.nonEmpty)
    both.foreach { case (n, f) => assert(n == f) }
    // short array (n < w), duplicate-min, and empty edges
    val edge = Seq(Seq(7L, 3L), Seq(5L, 5L, 5L, 5L, 5L),
      Seq(9L, 1L, 9L, 1L, 9L, 1L), Seq.empty[Long])
      .toDF("hs")
      .select(TextOps.winnowExpr(col("hs")).as("n"),
        TextOps.winnowFromHashes(col("hs")).as("f"))
      .as[(Seq[Option[Long]], Seq[Option[Long]])].collect()
    edge.foreach { case (n, f) => assert(n == f) }
  }

  test("winnow SQL rejects a non-literal window with an analysis-time " +
    "error, not a ClassCastException") {
    val err = intercept[Exception] {
      spark.sql("SELECT winnow(array(1L, 2L), 'four')").collect()
    }
    assert(!err.isInstanceOf[ClassCastException], err.toString)
    val errCol = intercept[Exception] {
      spark.sql("SELECT winnow(array(1L, 2L), id) FROM range(3)").collect()
    }
    assert(!errCol.isInstanceOf[ClassCastException], errCol.toString)
    // BIGINT literal widens cleanly
    val ok = spark.sql("SELECT winnow(array(4L, 2L, 9L), 2L)")
      .as[Seq[Long]].head()
    assert(ok == Seq(2L))
  }

  test("repetitionFeatures: degenerate looping text scores high, " +
    "diverse text scores low") {
    val docs = Seq(
      (1L, "spam spam spam spam spam spam"),   // fully degenerate
      (2L, "a b c d e f"),                      // fully diverse
      (3L, "x y x y x y")                       // repeated bigram loop
    ).toDF("doc_id", "text")
    val f = TextOps.repetitionFeatures(docs)
      .orderBy("doc_id")
      .select($"n_tokens", $"top_token_frac", $"dup_bigram_frac",
        $"distinct_ratio")
      .as[(Int, Double, Double, Double)].collect()
    assert(f(0) == ((6, 1.0, 0.8, 1.0 / 6)))   // 5 bigrams, 1 distinct
    assert(f(1) == ((6, 1.0 / 6, 0.0, 1.0)))
    // "x y x y x y": 5 bigrams = [xy, yx, xy, yx, xy] → 2 distinct
    assert(f(2) == ((6, 0.5, 0.6, 2.0 / 6)))
  }

  test("lengthHistogram buckets sum back to the corpus count") {
    val docs = Seq(
      (1L, "en", "a b c"), (2L, "en", "a b c d e f g h i"),
      (3L, "de", "a")).toDF("doc_id", "lang", "text")
    val h = TextOps.lengthHistogram(docs, width = 4)
      .as[(String, Long, Long)].collect().toSet
    // 3 tokens → bucket 0; 9 tokens → bucket 2; 1 token → bucket 0
    assert(h == Set(("en", 0L, 1L), ("en", 2L, 1L), ("de", 0L, 1L)))
  }

  test("bpePairCounts: frequency-weighted adjacent char pairs, no " +
    "empty symbols") {
    val docs = Seq((1L, "ab ab cd"), (2L, "ab")).toDF("doc_id", "text")
    // word freqs: ab=3, cd=1 → pairs: (a,b)=3, (c,d)=1
    val pairs = TextOps.bpePairCounts(docs)
      .as[(String, String, Long)].collect().toSet
    assert(pairs == Set(("a", "b", 3L), ("c", "d", 1L)))
  }

  test("bpeTrain learns the classic merges in frequency order and " +
    "merges greedily leftmost") {
    // 'aaab' x3, 'ab' x1 → round 1: (a,a)=6 ('aaab' has two a-a pairs)
    // wait: greedy pair COUNTS are per occurrence: 'aaab' = a,a,a,b →
    // pairs (a,a),(a,a),(a,b) → (a,a)=6 across 3 copies, (a,b)=4.
    // After merging (a,a): 'aaab' → [aa, a, b]; round 2 counts
    // (aa,a)=3, (a,b)=4 → learns (a,b).
    val docs = Seq((1L, "aaab aaab aaab ab")).toDF("doc_id", "text")
    val merges = TextOps.bpeTrain(docs, merges = 2)
      .select("rank", "lsym", "rsym", "merged", "pair_count")
      .as[(Int, String, String, String, Long)].collect().sortBy(_._1)
    assert(merges(0) == ((1, "a", "a", "aa", 6L)))
    assert(merges(1) == ((2, "a", "b", "ab", 4L)))
  }

  test("bpeTokenCount applies merges in order, greedy leftmost") {
    val docs = Seq((1L, "aaab xy")).toDF("doc_id", "text")
    // (a,a) then (a,b): 'aaab' → [aa,a,b] → [aa,ab] = 2 tokens;
    // 'xy' untouched = 2 tokens → 4 total
    val n = docs.select(TextOps.bpeTokenCount(col("text"),
      Seq(("a", "a"), ("a", "b"))).as("n")).as[Int].head()
    assert(n == 4)
    // without merges: plain char count 4 + 2 = 6
    val n0 = docs.select(TextOps.bpeTokenCount(col("text"),
      Seq.empty).as("n")).as[Int].head()
    assert(n0 == 6)
  }

  test("unigramNll: rare-token documents score higher than common-token " +
    "ones; n_tokens is the doc length") {
    val docs = Seq(
      (1L, "the the the the"),
      (2L, "the the zyx the")).toDF("doc_id", "text")
    val r = TextOps.unigramNll(docs)
      .select("doc_id", "n_tokens", "nll")
      .as[(Long, Long, Double)].collect()
      .map(t => t._1 -> (t._2, t._3)).toMap
    assert(r(1L)._1 == 4 && r(2L)._1 == 4)
    assert(r(2L)._2 > r(1L)._2) // the rare 'zyx' raises doc 2's surprise
  }

  test("bm25TopK: doc matching both terms outranks single-term doc; " +
    "non-matching docs never appear") {
    val docs = Seq(
      (1L, "data table data value"),
      (2L, "data word word word"),
      (3L, "unrelated text entirely")).toDF("doc_id", "text")
    val qt = Seq(("q", "data"), ("q", "table")).toDF("query_id", "term")
    val r = TextOps.bm25TopK(docs, qt, k = 10)
      .select("doc_id", "rank").as[(Long, Int)].collect().toMap
    assert(r == Map(1L -> 1, 2L -> 2))
  }

  test("bm25TopK term-frequency saturation: tf grows the score " +
    "sublinearly, never linearly") {
    val docs = Seq(
      (1L, "data x x x"),
      (2L, "data data x x"),
      (3L, "data data data x")).toDF("doc_id", "text")
    val qt = Seq(("q", "data")).toDF("query_id", "term")
    val s = TextOps.bm25TopK(docs, qt, k = 10)
      .select("doc_id", "score").as[(Long, Double)].collect().toMap
    assert(s(1L) < s(2L) && s(2L) < s(3L))
    assert(s(3L) - s(2L) < s(2L) - s(1L)) // saturating increments
  }

  test("chunkDocs: overlapping windows cover every token, overlap is " +
    "exact, and short docs stay whole") {
    val words = (0 until 100).map(i => s"w$i")
    val docs = Seq((1L, words.mkString(" ")), (2L, "a b c"))
      .toDF("doc_id", "text")
    val chunks = TextOps.chunkDocs(docs, chunkTokens = 10, overlap = 2)
      .orderBy("doc_id", "chunk_id")
      .select("doc_id", "chunk_id", "start_tok", "n_tok", "chunk_text")
      .as[(Long, Long, Long, Long, String)].collect()
    val big = chunks.filter(_._1 == 1L)
    // starts advance by step=8; ceil((100-10)/8)+1 = 13 chunks
    assert(big.length == 13)
    assert(big.map(_._3).toSeq == (0 until 13).map(_ * 8L))
    // consecutive chunks share exactly `overlap` tokens
    big.sliding(2).foreach { case Array(a, b) =>
      val at = a._5.split(" ").toSeq
      val bt = b._5.split(" ").toSeq
      assert(at.takeRight(2) == bt.take(2) || a._4 < 10)
    }
    // dropping each chunk's leading overlap (after the first)
    // reconstructs the document exactly — no token lost or duplicated
    val rebuilt = big.head._5.split(" ").toSeq ++
      big.tail.toSeq.flatMap(_._5.split(" ").drop(2).toSeq)
    assert(rebuilt == words)
    // short doc: one whole chunk
    val small = chunks.filter(_._1 == 2L)
    assert(small.toSeq == Seq((2L, 0L, 0L, 3L, "a b c")))
  }
}
