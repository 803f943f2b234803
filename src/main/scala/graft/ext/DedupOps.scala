package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for a training-data pipeline (SURVEY §2.7
  * X1/X2): exact content-hash dedup, MinHash+LSH near-dup, SimHash.
  *
  * Scale discipline (the whole point of these designs):
  *  - exact dedup is one hash-shuffle on the 256-bit content hash;
  *  - near-dup NEVER does an all-pairs join — candidates come from a
  *    band-bucket equi-join (LSH), so the shuffle key is (band, bucket)
  *    and only colliding documents meet; the exact Jaccard check runs on
  *    candidate pairs only;
  *  - shingle-set arrays cross only BROADCAST joins: a shuffle carries
  *    ids and band keys, and the sets are re-joined by id after it;
  *  - a side small enough for the driver lives there:
  *    [[decontaminate]] fetches a driver-sized corpus side once, under
  *    the shared [[org.apache.spark.sql.graft.DriverFetch]] bound, and
  *    holds it as a local relation, so only the other side is scanned,
  *    once, and nothing of either side is shuffled;
  *  - every kernel runs once per input side: a computed array is
  *    exploded with `explode_outer`, because an inner `explode` makes
  *    the optimizer infer a `size(array) > 0` filter, push it below the
  *    projection and evaluate the whole kernel twice;
  *  - SimHash reduces a document to one 32-bit signature; its bit-prefix
  *    buckets drive the same banded-join pattern.
  *
  * Built-in expressions plus the native kernels of `graft.functions`
  * (word shingles, md5 prefixes, MinHash and SimHash signatures), each
  * bit-identical to a composable twin — deterministic, mirrored in
  * DuckDB oracle SQL.
  */
object DedupOps {

  /** X1 — exact dedup on content hash. Keeps the lowest `idCol` per
    * normalized-text hash; emits the survivor with its duplicate count.
    *
    * Skew-immune by construction: the per-hash survivor id and count
    * come from `groupBy(content_hash).agg(min(id), count)` — partial
    * aggregation collapses even a degenerate dup group (10⁷+ copies of
    * an empty/boilerplate page at web scale) to one row per map task
    * before the exchange, so no reducer ever sees a whole group. The
    * survivor's full row is then fetched with ONE equi-join on the
    * unique id (high-cardinality key — no skew possible). A window
    * (`row_number` over the hash) would instead serialize each dup
    * group on a single reducer. */
  def exactDedup(docs: DataFrame, idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame = {
    val hashed = docs.withColumn("content_hash",
      TextOps.fingerprint(col(textCol)))
    val survivors = hashed
      .groupBy("content_hash")
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("dup_count"))
      .select(col(idCol), col("dup_count"))
    hashed
      .join(survivors, Seq(idCol))
      .select(docs.columns.toIndexedSeq.map(col) :+ col("content_hash")
        :+ col("dup_count"): _*)
  }

  /** X1' — INCREMENTAL exact dedup: the nightly-ingest case. Survivors
    * among `incoming` that are (a) first of their content within the
    * batch ([[exactDedup]] semantics, dup_count = within-batch count)
    * and (b) NOT already present in `existing` by content hash.
    *
    * Scale: the existing corpus contributes only a partial-agg DISTINCT
    * of its 64-hex content hashes (map-side combined — degenerate dup
    * groups in the archive collapse before the exchange), and the
    * anti-join is hash-keyed — nothing about the archive's size lands
    * on a single reducer, and no text crosses any exchange. The
    * near-dup twin of this operation is [[decontaminate]] with
    * `existing` as the blocklist (`broadcastBlocklist = false` when the
    * archive is large). */
  def incrementalExactDedup(existing: DataFrame, incoming: DataFrame,
                            idCol: String = "doc_id",
                            textCol: String = "text"): DataFrame = {
    val seen = existing
      .select(TextOps.fingerprint(col(textCol)).as("content_hash"))
      .distinct()
    exactDedup(incoming, idCol, textCol)
      .join(seen, Seq("content_hash"), "left_anti")
  }

  /** MinHash signature size and LSH banding: Bands * RowsPerBand =
    * NumHashes. With b=4, r=4 the collision-probability curve
    * (1-(1-s^r)^b) crosses 1/2 near s≈0.7 — tuned for near-dup (not
    * loose-similarity) detection. */
  val NumHashes = 16
  val Bands = 4
  val RowsPerBand = 4

  /** Modulus for the affine MinHash family: smallest prime > 2^32. */
  val MinHashPrime = 4294967311L

  /** Affine family h_i(x) = (a_i·x + b_i) mod P over ONE 32-bit base
    * hash per shingle — the classic k-permutations-from-one-hash trick.
    * a_i < 2^16 and base < 2^32 keep a_i·x + b_i < 2^48: exact in BIGINT
    * arithmetic in BOTH engines (DuckDB errors on overflow; none here).
    * One md5 per shingle instead of NumHashes of them — 16× less
    * hashing, the dominant cost of signature generation. */
  def hashParams(i: Int): (Long, Long) =
    ((2L * i + 1) * 769L + 7L, 104729L * i + 13L)

  /** 32-bit base hash per shingle (first 8 md5 hex digits). */
  private def baseHashes(shingleCol: Column): Column =
    TextOps.md5Prefixes(shingleCol)

  /** Distinct word-shingle set for a document. */
  def shingleSet(text: Column, shingleSize: Int = 3): Column =
    array_distinct(TextOps.shingles(text, shingleSize))

  /** One row per distinct shingle of each document's text, as column
    * `sh`; a null text gives no row. The set is never empty otherwise,
    * so `explode_outer` emits exactly `explode`'s rows without the
    * inferred filter that would shingle every text twice. */
  private def explodeShingles(docs: DataFrame, cols: Seq[Column],
                              text: Column, shingleSize: Int): DataFrame =
    docs.select(cols :+ explode_outer(shingleSet(text, shingleSize))
        .as("sh"): _*)
      .filter(col("sh").isNotNull)

  /** All `NumHashes` affine minima in ONE array pass — the native
    * codegen'd [[graft.functions.MinHashSignature]] (bit-identical to
    * [[signatureFold]], asserted in DedupOpsSpec). */
  def signatureExpr(bases: Column): Column = {
    val (as, bs) = (0 until NumHashes).map(hashParams).unzip
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.MinHashSignature(
        org.apache.spark.sql.graft.ColumnBridge.expression(bases),
        as, bs, MinHashPrime))
  }

  /** The composable reference form: one interpreted
    * `array_min(transform(…))` pass per hash function. Kept as the
    * no-custom-code twin the native expression is tested against. */
  def signatureFold(bases: Column): Column =
    array((0 until NumHashes).map { i =>
      val (a, b) = hashParams(i)
      array_min(transform(bases, h => (h * a + b) % MinHashPrime))
    }: _*)

  /** MinHash signature as `NumHashes` columns `mh0..mhN` (plus
    * `_shingles`). */
  def withSignature(docs: DataFrame, textCol: String = "text",
                    shingleSize: Int = 3): DataFrame = {
    val withSig = docs
      .withColumn("_shingles", shingleSet(col(textCol), shingleSize))
      .withColumn("_sig", signatureExpr(baseHashes(col("_shingles"))))
    (0 until NumHashes).foldLeft(withSig) { (df, i) =>
      df.withColumn(s"mh$i", element_at(col("_sig"), i + 1))
    }.drop("_sig")
  }

  /** LSH band keys: md5 over each band's minhash slice. One row per
    * (doc, band): (idCol, band, band_key). */
  def bandedSignatures(docs: DataFrame, idCol: String = "doc_id",
                       textCol: String = "text",
                       shingleSize: Int = 3): DataFrame = {
    val signed = withSignature(docs, textCol, shingleSize)
    val bandKeys = (0 until Bands).map { b =>
      val cols = (b * RowsPerBand until (b + 1) * RowsPerBand)
        .map(i => col(s"mh$i").cast("string"))
      struct(lit(b).as("band"), md5(concat_ws("|", cols: _*)).as("band_key"))
    }
    signed
      .withColumn("_bk", explode_outer(array(bandKeys: _*)))
      .select(col(idCol), col("_bk.band").as("band"),
        col("_bk.band_key").as("band_key"))
  }

  /** X2h — MinHash estimate-quality audit: for every banded candidate
    * pair, the signature-agreement Jaccard estimate (matching positions
    * / NumHashes — the unbiased MinHash estimator: each position
    * matches with probability J) laid beside the exact Jaccard, with
    * the absolute error. The measured dial-vs-accuracy evidence for
    * sizing NumHashes — the X3d recall-audit idea applied to X2: a
    * deployment that wants to SKIP the exact-verify join at 100 TB
    * (where re-joining shingle sets is the expensive step) reads this
    * table to see what error that buys at the current signature width.
    *
    * Deterministic end-to-end (affine minima, integer agreement counts,
    * int/int IEEE divisions), so the estimates themselves are
    * oracle-checked. Scale shape = [[nearDuplicates]]: signatures
    * materialized once, candidates from the banded self-join, and the
    * audit join moves (sig, shingles) by id — at audit time one usually
    * samples candidates first; the operator composes with any filter on
    * the candidate table.
    *
    * @return (id_a, id_b, matches, est_jaccard, jaccard, abs_err) */
  def minhashEstimates(docs: DataFrame, idCol: String = "doc_id",
                       textCol: String = "text", shingleSize: Int = 3,
                       materialize: DataFrame => DataFrame =
                         _.localCheckpoint()): DataFrame = {
    val spread = Spread.widen(docs)
    val signed = materialize(spread
      .withColumn("_shingles", shingleSet(col(textCol), shingleSize))
      .select(col(idCol).as("id"), col("_shingles").as("sh"),
        signatureExpr(baseHashes(col("_shingles"))).as("sig")))
    val bandKeys = (0 until Bands).map { b =>
      val parts = (b * RowsPerBand until (b + 1) * RowsPerBand)
        .map(i => element_at(col("sig"), i + 1).cast("string"))
      struct(lit(b).as("band"),
        md5(concat_ws("|", parts: _*)).as("band_key"))
    }
    val bands = signed
      .select(col("id"), explode(array(bandKeys: _*)).as("_bk"))
      .select(col("id"), col("_bk.band").as("band"),
        col("_bk.band_key").as("band_key"))
    val cand = bands.as("a").join(bands.as("b"), Seq("band", "band_key"))
      .filter(col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b")).distinct()
    val matches = (0 until NumHashes).map(i =>
      when(element_at(col("_sa"), i + 1) === element_at(col("_sb"), i + 1),
        lit(1)).otherwise(lit(0))).reduce(_ + _)
    val inter = size(array_intersect(col("_ha"), col("_hb")))
    cand
      .join(signed.select(col("id").as("id_a"), col("sig").as("_sa"),
        col("sh").as("_ha")), "id_a")
      .join(signed.select(col("id").as("id_b"), col("sig").as("_sb"),
        col("sh").as("_hb")), "id_b")
      .withColumn("matches", matches)
      .withColumn("est_jaccard",
        col("matches").cast("double") / lit(NumHashes.toDouble))
      .withColumn("jaccard", inter.cast("double") /
        (size(col("_ha")) + size(col("_hb")) - inter).cast("double"))
      .withColumn("abs_err", abs(col("est_jaccard") - col("jaccard")))
      .select("id_a", "id_b", "matches", "est_jaccard", "jaccard",
        "abs_err")
  }

  /** X2i — edit-distance verified pairs (the record-linkage / fuzzy-
    * match member of the dedup family): banded LSH candidates scored
    * with Levenshtein distance over a bounded prefix. Where Jaccard
    * sees bags of shingles, edit distance sees ORDER — transposed or
    * lightly-reworded near-copies score close here even when shingle
    * overlap drops.
    *
    * Scale discipline: candidates come from the same banded self-join
    * as [[nearDuplicates]] (never all-pairs), and the quadratic-cost
    * Levenshtein runs on `prefixLen`-bounded prefixes — O(prefixLen²)
    * per pair regardless of document size, the standard windowed-edit-
    * distance bound a linkage system sets (raise it for short fields
    * like titles where full-string distance is the point). Only ids
    * and bounded prefixes cross the candidate join.
    *
    * @return (id_a, id_b, edit_dist) with edit_dist <= maxDist */
  def editDistancePairs(docs: DataFrame, idCol: String = "doc_id",
                        textCol: String = "text", prefixLen: Int = 400,
                        maxDist: Int = 100, shingleSize: Int = 3,
                        materialize: DataFrame => DataFrame =
                          _.localCheckpoint()): DataFrame = {
    val spread = Spread.widen(docs)
    val banded = materialize(
      bandedSignatures(spread, idCol, textCol, shingleSize))
    val cand = banded.as("a").join(banded.as("b"), Seq("band", "band_key"))
      .filter(col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .distinct()
    val pfx = docs.select(col(idCol),
      substring(col(textCol), 1, prefixLen).as("_p"))
    cand
      .join(pfx.select(col(idCol).as("id_a"), col("_p").as("_pa")), "id_a")
      .join(pfx.select(col(idCol).as("id_b"), col("_p").as("_pb")), "id_b")
      .withColumn("edit_dist", levenshtein(col("_pa"), col("_pb")))
      .filter(col("edit_dist") <= maxDist)
      .select("id_a", "id_b", "edit_dist")
  }

  /** X2 — MinHash/LSH near-duplicate pairs with exact Jaccard verify.
    *
    * Candidates: self-equi-join on (band, band_key) with `a.id < b.id`
    * — the ONLY quadratic-capable step, and its key is the LSH bucket,
    * so cost is sum-over-buckets of bucket², never n². Verification
    * re-joins each side's shingle set by id (ids, not arrays, cross the
    * band shuffle) and filters on true Jaccard.
    *
    * @param materialize how to pin the twice-consumed intermediates
    *   (banded signatures, shingle sets). Default `localCheckpoint` is
    *   right for a single-driver session; a cluster deployment passes a
    *   write-parquet-then-read-back materializer so the signatures
    *   become a durable table (which an LSH pipeline wants anyway) and
    *   survive executor loss.
    */
  def nearDuplicates(docs: DataFrame, idCol: String = "doc_id",
                     textCol: String = "text", shingleSize: Int = 3,
                     minJaccard: Double = 0.5,
                     materialize: DataFrame => DataFrame =
                       _.localCheckpoint()): DataFrame = {
    // Shingle ONCE (r20, guide §1.2): the shingle sets feed both the
    // signature/band pipeline and the exact-Jaccard verify — r19
    // computed them independently on each path, scanning and
    // re-shingling the corpus twice. The corpus is spread to full
    // parallelism first — a small parquet arrives in few splits and
    // would otherwise sign on 3 of 32 cores.
    val spread = Spread.widen(docs)
    val shingled = materialize(spread.select(col(idCol),
      shingleSet(col(textCol), shingleSize).as("sh")))
    nearDuplicatesFromShingles(shingled, idCol, "sh", minJaccard,
      materialize)
  }

  /** [[nearDuplicates]] over a PRE-SHINGLED frame (idCol, shCol) — the
    * entry point a multi-detector pipeline uses so one materialized
    * shingle table feeds every detector. Pair set and Jaccard values
    * are identical to [[nearDuplicates]] (same band keys, same exact
    * verify; asserted in DedupOpsSpec). The caller materializes
    * `shingled`; the banded frame is still materialized here because
    * the self-join consumes it twice (measured 18× slower un-cached). */
  def nearDuplicatesFromShingles(shingled: DataFrame,
                                 idCol: String = "doc_id",
                                 shCol: String = "sh",
                                 minJaccard: Double = 0.5,
                                 materialize: DataFrame => DataFrame =
                                   _.localCheckpoint()): DataFrame = {
    val banded = materialize(bandedFromShingled(shingled, idCol, shCol))
    val pairs = banded.as("a")
      .join(banded.as("b"), Seq("band", "band_key"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .filter(col("id_a") < col("id_b"))
      .dropDuplicates("id_a", "id_b")

    val sets = shingled.select(col(idCol), col(shCol).as("sh"))
    val joined = pairs
      .join(sets.select(col(idCol).as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sets.select(col(idCol).as("id_b"), col("sh").as("sh_b")), "id_b")

    val inter = size(array_intersect(col("sh_a"), col("sh_b")))
    val union = size(col("sh_a")) + size(col("sh_b")) - inter
    joined
      .withColumn("jaccard", inter.cast("double") / union.cast("double"))
      .filter(col("jaccard") >= minJaccard)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Banded LSH keys from a pre-shingled frame — band keys are
    * bit-identical to [[bandedSignatures]]'s (same md5 over the same
    * minhash slice strings), just built without re-shingling. */
  private def bandedFromShingled(shingled: DataFrame, idCol: String,
                                 shCol: String): DataFrame =
    withBandKeys(shingled, shCol)
      .select(col(idCol) +: explodeBands(col("_bk")): _*)

  /** `df` plus `_bk`, the `Bands` LSH band keys of the shingle set in
    * `shCol` as array<string> (band b at index b): md5 over each band's
    * minhash slice. The signature is bound in its own projection, so
    * the kernel runs once per row and not once per band element. */
  private def withBandKeys(df: DataFrame, shCol: String): DataFrame = {
    val signed = df
      .withColumn("_sig", signatureExpr(baseHashes(col(shCol))))
    val keys = (0 until Bands).map { b =>
      val cols = (b * RowsPerBand until (b + 1) * RowsPerBand)
        .map(i => element_at(col("_sig"), i + 1).cast("string"))
      md5(concat_ws("|", cols: _*))
    }
    signed.withColumn("_bk", array(keys: _*)).drop("_sig")
  }

  /** (band, band_key) rows of a band-key array. It always holds `Bands`
    * keys, so `explode_outer` emits exactly `explode`'s rows, without
    * the inferred `size > 0` filter that re-signs every document. */
  private def explodeBands(bk: Column): Seq[Column] =
    Seq(posexplode_outer(bk).as(Seq("band", "band_key")))

  /** One signed row per document of `docs`: the `keep` columns, the
    * distinct shingle set `_sh` and the band keys `_bk`. */
  private def signedDocs(docs: DataFrame, keep: Seq[String],
                         textCol: String, shingleSize: Int): DataFrame =
    withBandKeys(docs.select(keep.map(col) :+
      shingleSet(col(textCol), shingleSize).as("_sh"): _*), "_sh")

  private def jaccardAtLeast(a: Column, b: Column,
                             minJaccard: Double): Column = {
    val inter = size(array_intersect(a, b))
    val union = size(a) + size(b) - inter
    inter.cast("double") / union.cast("double") >= minJaccard
  }

  /** X2e — DECONTAMINATION: drop from `corpus` every document that is
    * a near-duplicate of ANY blocklist document — the training-data
    * hygiene pass that keeps benchmark/eval text out of a training set.
    * Asymmetric X2: banded MinHash candidates ACROSS the two relations
    * (corpus bands × blocklist bands on (band, band_key) — never
    * all-pairs), then an exact-Jaccard verify of each candidate pair.
    * Every plan below uses the same shingle sets, band keys and Jaccard
    * expression; they differ only in join strategy and in where the
    * rows live, so their outputs are identical (asserted in
    * DedupOpsSpec).
    *
    * Where the rows live:
    *  - a corpus side within the driver bound (an arriving shard, an
    *    eval split) is signed in ONE distributed pass inside the
    *    bounded [[org.apache.spark.sql.graft.DriverFetch]] and held on
    *    the driver as a local relation. The blocklist is then streamed
    *    once: signed, its bands exploded and broadcast-joined to the
    *    local bands, which carry their shingle sets, and the Jaccard
    *    verify runs at the join. The contaminated ids — a subset of
    *    the held side — come back through a partition-level distinct,
    *    and the held corpus minus them is returned without a job
    *    (null-id rows are kept, as a `left_anti` join keeps them).
    *    This is the incremental-ingest shape: a small arriving side
    *    against an archive read once, whatever `broadcastBlocklist`
    *    says;
    *  - otherwise, with the default `broadcastBlocklist = true` (a
    *    benchmark suite against a web crawl), the blocklist's bands
    *    broadcast with their shingle sets and the corpus streams past
    *    them once; only contaminated ids reach the anti-join's
    *    exchange;
    *  - otherwise, with `broadcastBlocklist = false` (eval-suite unions
    *    running to many GB), each side is signed into ONE materialized
    *    (id, shingle set, band keys) frame; the candidate join shuffles
    *    (band, band_key, id) rows, and the shingle sets are re-joined
    *    by id after it, so no array crosses a shuffle.
    *
    * @param materialize how to pin the twice-consumed signed frames of
    *   the `broadcastBlocklist = false` plan; the other two plans
    *   consume each side once and never call it.
    */
  def decontaminate(corpus: DataFrame, blocklist: DataFrame,
                    idCol: String = "doc_id", textCol: String = "text",
                    shingleSize: Int = 3, minJaccard: Double = 0.5,
                    broadcastBlocklist: Boolean = true,
                    materialize: DataFrame => DataFrame =
                      _.localCheckpoint()): DataFrame =
    decontaminateBounded(corpus, blocklist, idCol, textCol, shingleSize,
      minJaccard, broadcastBlocklist, materialize,
      org.apache.spark.sql.graft.DriverFetch.MaxRows,
      org.apache.spark.sql.graft.DriverFetch.MaxBytes)

  /** [[decontaminate]] with the driver bound as a parameter — the test
    * hook that forces the distributed plans (bound 0). */
  private[ext] def decontaminateBounded(
      corpus: DataFrame, blocklist: DataFrame, idCol: String,
      textCol: String, shingleSize: Int, minJaccard: Double,
      broadcastBlocklist: Boolean, materialize: DataFrame => DataFrame,
      maxRows: Int, maxBytes: Long): DataFrame = {
    // the corpus is spread to full parallelism before it is signed — a
    // small parquet arrives in few splits and would sign on few cores
    val spread = Spread.widen(corpus)
    val heldSig = signedDocs(spread, corpus.columns.toIndexedSeq, textCol,
      shingleSize)
    val held =
      if (!heldIdType(corpus.schema(idCol).dataType)) None
      else org.apache.spark.sql.graft.DriverFetch.rows(heldSig, maxRows,
        maxBytes)
    val blockSig = signedDocs(blocklist, Seq(idCol), textCol, shingleSize)
    held match {
      case Some(rows) =>
        decontaminateHeld(corpus.schema, heldSig.schema, rows, blockSig,
          idCol, minJaccard)
      case None if broadcastBlocklist =>
        val contaminated = broadcastHits(
            signedDocs(spread, Seq(idCol), textCol, shingleSize), blockSig,
            idCol, minJaccard, broadcastCorpus = false)
          .select(col("cid").as(idCol)).distinct()
        corpus.join(contaminated, Seq(idCol), "left_anti")
      case None =>
        val corpusSig = materialize(signedDocs(spread, Seq(idCol),
          textCol, shingleSize))
        val blockSide = materialize(blockSig)
        val cand = corpusSig
          .select(col(idCol).as("cid") +: explodeBands(col("_bk")): _*)
          .join(blockSide.select(col(idCol).as("bid") +:
            explodeBands(col("_bk")): _*), Seq("band", "band_key"))
          .select("cid", "bid")
          .dropDuplicates("cid", "bid")
        val contaminated = cand
          .join(corpusSig.select(col(idCol).as("cid"),
            col("_sh").as("sh_c")), "cid")
          .join(blockSide.select(col(idCol).as("bid"),
            col("_sh").as("sh_b")), "bid")
          .filter(jaccardAtLeast(col("sh_c"), col("sh_b"), minJaccard))
          .select(col("cid").as(idCol)).distinct()
        corpus.join(contaminated, Seq(idCol), "left_anti")
    }
  }

  /** Corpus ids `cid` (with repeats) of the verified candidate pairs of
    * two signed frames, whose band rows carry their shingle sets into
    * ONE band join that broadcasts the corpus side when
    * `broadcastCorpus`, else the blocklist side. */
  private def broadcastHits(corpusSig: DataFrame, blockSig: DataFrame,
                            idCol: String, minJaccard: Double,
                            broadcastCorpus: Boolean): DataFrame = {
    def bands(sig: DataFrame, id: String, sh: String) =
      sig.select(col(idCol).as(id) +: col("_sh").as(sh) +:
        explodeBands(col("_bk")): _*)
    val c = bands(corpusSig, "cid", "sh_c")
    val b = bands(blockSig, "bid", "sh_b")
    val joined =
      if (broadcastCorpus) b.join(broadcast(c), Seq("band", "band_key"))
      else c.join(broadcast(b), Seq("band", "band_key"))
    joined.filter(jaccardAtLeast(col("sh_c"), col("sh_b"), minJaccard))
      .select("cid")
  }

  /** Id types whose driver-side equality is the join's: integral,
    * binary-collated strings, dates and timestamps. Any other id type
    * takes the distributed plans. */
  private def heldIdType(t: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    t match {
      case ByteType | ShortType | IntegerType | LongType | DateType |
           TimestampType | TimestampNTZType => true
      case st: StringType => st == StringType
      case _ => false
    }
  }

  /** The held plan of [[decontaminate]]: `rows` (schema `heldSchema`)
    * are the corpus's rows (schema `schema`), each followed by its
    * shingle set and band keys. The blocklist streams past them once;
    * the held rows minus the contaminated ids are returned as a local
    * relation. */
  private def decontaminateHeld(
      schema: org.apache.spark.sql.types.StructType,
      heldSchema: org.apache.spark.sql.types.StructType,
      rows: Array[org.apache.spark.sql.catalyst.InternalRow],
      blockSig: DataFrame, idCol: String, minJaccard: Double): DataFrame = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{BoundReference,
      UnsafeProjection}
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes
    import org.apache.spark.sql.graft.PlanBridge
    val spark = blockSig.sparkSession
    val heldSig = PlanBridge.ofRows(spark,
      LocalRelation(toAttributes(heldSchema), rows.toSeq))
    val hits = broadcastHits(heldSig, blockSig, idCol, minJaccard,
      broadcastCorpus = true)
    val idAt = schema.fieldIndex(idCol)
    val idType = schema(idAt).dataType
    val contaminated: Set[Any] = hits.queryExecution.toRdd
      .mapPartitions { it =>
        val seen = scala.collection.mutable.HashSet.empty[Any]
        it.foreach(r => if (!r.isNullAt(0))
          seen += InternalRow.copyValue(r.get(0, idType)))
        seen.iterator
      }.collect().toSet
    val project = UnsafeProjection.create(schema.fields.toIndexedSeq
      .zipWithIndex.map { case (f, i) =>
        BoundReference(i, f.dataType, f.nullable) })
    val kept = rows.iterator
      .filter(r => r.isNullAt(idAt) || !contaminated(r.get(idAt, idType)))
      .map(r => project(r).copy()).toIndexedSeq
    PlanBridge.ofRows(spark, LocalRelation(toAttributes(schema), kept))
  }

  /** X2j — EXACT n-gram contamination scrub: drop every corpus
    * document sharing at least `minHits` exact word n-grams with the
    * blocklist — the membership-style decontamination large-model
    * training reports use (a verbatim 8/13-gram hit means the eval
    * text leaked), complementing [[decontaminate]]'s Jaccard
    * THRESHOLD (which catches paraphrase-level overlap an exact hit
    * misses, and vice versa).
    *
    * The join key is the full 32-hex `md5` of the shingle: exact
    * (collision odds ~2^-64), engine-portable, and fixed-width — no
    * raw document text enters an exchange. With the default
    * `broadcastBlocklist = true` the distinct blocklist shingle
    * hashes broadcast and the corpus never shuffles for the probe
    * (hits alone reach the count aggregation); `false` switches to a
    * plain hash-shuffle join for eval-suite unions too big to
    * broadcast — linear in corpus shingle occurrences, uniformly
    * keyed by the hash.
    */
  def exactContamination(corpus: DataFrame, blocklist: DataFrame,
                         idCol: String = "doc_id",
                         textCol: String = "text",
                         shingleSize: Int = 8, minHits: Int = 1,
                         broadcastBlocklist: Boolean = true,
                         materialize: DataFrame => DataFrame =
                           _.localCheckpoint()): DataFrame =
    exactContaminationHashed(corpus, blocklist, idCol, textCol,
      shingleSize, minHits, broadcastBlocklist, materialize,
      xxhash64(_))

  /** [[exactContamination]] with an injectable prefilter hash — the
    * test hook that pins collision behavior (a deliberately colliding
    * hash must not mark a clean doc contaminated). */
  private[ext] def exactContaminationHashed(
      corpus: DataFrame, blocklist: DataFrame, idCol: String,
      textCol: String, shingleSize: Int, minHits: Int,
      broadcastBlocklist: Boolean,
      materialize: DataFrame => DataFrame,
      hashFn: Column => Column): DataFrame = {
    val side: DataFrame => DataFrame =
      if (broadcastBlocklist) broadcast else materialize
    // join key = xxhash64 LONG (not an md5 string): the broadcast
    // side is ~shingle-count keys, and a long key broadcast builds a
    // LongHashedRelation — measured ~2.5 s of single-threaded driver
    // time at 1M 32-char md5 keys vs negligible for longs (r19). The
    // hash is a PREFILTER only (r20): the shingle strings ride along
    // and an equality filter at the join confirms every hit EXACTLY —
    // a 64-bit hash has birthday collisions near ~4B distinct
    // shingles, plausible at this operator's design scale, and a
    // collision must never mark a clean doc contaminated. On the
    // broadcast path the string never crosses an exchange (the join
    // is broadcast, the hits count partial-aggregates on cid before
    // its shuffle); on the shuffle path it rides the h-keyed exchange
    // — the honest price of exactness.
    val corpusSh = explodeShingles(corpus, Seq(col(idCol).as("cid")),
        col(textCol), shingleSize)
      .select(col("cid"), hashFn(col("sh")).as("h"), col("sh"))
    val blockSh = explodeShingles(blocklist, Nil, col(textCol), shingleSize)
      .select(col("sh").as("sh_b"))
      .distinct()
      .select(hashFn(col("sh_b")).as("h"), col("sh_b"))
    // shingle sets are per-doc distinct and blocklist shingles are
    // distinct, so each corpus shingle matches at most one confirmed
    // row: hits-per-doc is a plain partial-agg count
    val contaminated = corpusSh.join(side(blockSh), Seq("h"))
      .filter(col("sh") === col("sh_b"))
      .groupBy("cid").agg(count(lit(1)).as("hits"))
      .filter(col("hits") >= minHits)
      .select(col("cid").as(idCol))
    corpus.join(contaminated, Seq(idCol), "left_anti")
  }

  /** X2d — EXACT n-gram Jaccard near-duplicate pairs via an inverted
    * shingle index (no MinHash, no probability): every pair sharing at
    * least one retained shingle is a candidate (posting-list self-join
    * on the shingle), the intersection size falls out of one count
    * aggregation, and Jaccard = inter / (|A| + |B| - inter). The
    * deterministic audit path next to X2's banded recall — run it on a
    * sample to measure what the LSH bands miss.
    *
    * Scale contract: the candidate join's key is the shingle, so cost
    * is Σ df(shingle)² — ultra-common shingles are what blows that up,
    * and `maxDf` drops any shingle appearing in more than that many
    * documents (the standard posting-list cap; a shingle shared by
    * thousands of documents carries no discriminative mass). Jaccard is
    * then EXACT over the retained (df ≤ maxDf) shingle sets — document
    * sizes are counted after the cap on both engines, so the quantity
    * is well-defined, not approximated.
    */
  def ngramJaccardPairs(docs: DataFrame, idCol: String = "doc_id",
                        textCol: String = "text", shingleSize: Int = 3,
                        minJaccard: Double = 0.5,
                        maxDf: Int = 50,
                        materialize: DataFrame => DataFrame =
                          _.localCheckpoint()): DataFrame = {
    val spread = Spread.widen(docs)
    // The exploded posting table has THREE consumers (the df census,
    // the per-doc sizes, the candidate self-join); materialized once it
    // is scanned three times instead of re-shingling the corpus three
    // times — on a cluster this is the durable inverted-index table an
    // exact-Jaccard pipeline wants anyway (pass a write-then-read
    // materializer, as with [[nearDuplicates]]).
    val posting = materialize(explodeShingles(spread,
        Seq(col(idCol).as("id")), col(textCol), shingleSize)
      .select(col("id"), col("sh").as("shingle")))
    ngramJaccardFromPosting(posting, minJaccard, maxDf)
  }

  /** [[ngramJaccardPairs]] over a PRE-SHINGLED frame (idCol, shCol) —
    * one shared shingle table feeds the posting explode instead of
    * re-shingling the corpus; pairs and Jaccard values are identical. */
  def ngramJaccardPairsFromShingles(shingled: DataFrame,
                                    idCol: String = "doc_id",
                                    shCol: String = "sh",
                                    minJaccard: Double = 0.5,
                                    maxDf: Int = 50,
                                    materialize: DataFrame => DataFrame =
                                      _.localCheckpoint()): DataFrame = {
    val posting = materialize(shingled
      .select(col(idCol).as("id"), explode(col(shCol)).as("shingle")))
    ngramJaccardFromPosting(posting, minJaccard, maxDf)
  }

  /** Shared tail of the exact-Jaccard pipeline: df census + posting
    * cap, per-doc sizes, SHUFFLE_HASH candidate self-join, exact
    * Jaccard filter — over an already-materialized (id, shingle)
    * posting table. */
  private def ngramJaccardFromPosting(posting: DataFrame,
                                      minJaccard: Double,
                                      maxDf: Int): DataFrame = {
    // posting-cap: document frequency via partial-aggregated groupBy —
    // map-side combine collapses a stop-word shingle ("one of the",
    // df ≈ corpus size at web scale) to one row per map task, so no
    // reducer ever materializes a full posting list. The heavy tail
    // (df > maxDf) is a SMALL set by definition of the cap, so it
    // broadcasts, and a LEFT ANTI join drops its postings without
    // co-locating them. A count().over(Window.partitionBy(shingle))
    // would instead put every posting of the hottest shingle on ONE
    // reducer before the filter could discard it.
    val dfs = posting.groupBy("shingle").agg(count(lit(1)).as("df"))
    guardDfCapCliff(dfs, maxDf, "ngramJaccardPairs", "shingle")
    val heavyShingles = dfs
      .filter(col("df") > maxDf)
      .select("shingle")
    val byShingle = posting
      .join(broadcast(heavyShingles), Seq("shingle"), "left_anti")
    val sizes = byShingle.groupBy("id").agg(count(lit(1)).as("sz"))
    // the candidate self-join must NEVER broadcast a posting list: from
    // a small pre-explode stage AQE's runtime stats would happily build
    // a hash relation of the whole inverted index (measured 16× slower
    // on a checkpoint-backed corpus; fatal at 100 TB, where the posting
    // list IS the corpus). SHUFFLE_HASH pins the shingle-keyed exchange
    // the join wants anyway — per-partition builds stay bounded because
    // the df-cap bounds every posting list — without SHUFFLE_MERGE's
    // sort; the two sides' identical subplans collapse into one
    // ReusedExchange.
    val postings = byShingle.hint("shuffle_hash")
    val inter = postings.as("a")
      .join(postings.as("b"), Seq("shingle"))
      .filter(col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("id").as("id_a"), col("sz").as("sz_a")), "id_a")
      .join(sizes.select(col("id").as("id_b"), col("sz").as("sz_b")), "id_b")
      .withColumn("jaccard", col("inter").cast("double") /
        (col("sz_a") + col("sz_b") - col("inter")).cast("double"))
      .filter(col("jaccard") >= minJaccard)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** X2g — duplicated-passage pairs (the cross-document substring-
    * duplication shape of Lee et al. 2022, "Deduplicating Training Data
    * Makes Language Models Better", arXiv:2107.06499 — re-expressed over
    * winnowing fingerprints instead of a suffix array, which has no
    * distributed formulation): two documents sharing a winnow
    * fingerprint share a k-gram passage window (MOSS's guarantee), so
    * pairs with `shared_fps >= minShared` have repeated spans — the
    * boilerplate/template/licence-text class exact-dedup (X1, whole-doc
    * hash) and near-dedup (X2, whole-doc signature) both miss when the
    * rest of the document differs.
    *
    * Scale shape — identical discipline to [[ngramJaccardPairs]]: the
    * posting list carries (fp LONG, id) only, never text; document
    * frequency is a partial-aggregated groupBy and the heavy tail
    * (df > maxDf — boilerplate shared by everything) broadcasts into a
    * LEFT ANTI, so no reducer materializes a hot fingerprint's posting
    * list; the candidate self-join is pinned SHUFFLE_HASH so AQE never
    * builds a hash relation of the inverted index; per-pair work after
    * the cap is bounded by maxDf².
    *
    * @return (id_a, id_b, shared_fps, containment) with id_a < id_b;
    *         containment = shared / min(|fps_a|, |fps_b|) over the
    *         capped fingerprint sets (1.0 = the smaller document's
    *         every fingerprinted span recurs in the larger) */
  def spanDuplicates(docs: DataFrame, idCol: String = "doc_id",
                     textCol: String = "text", k: Int = 3, w: Int = 4,
                     minShared: Int = 2, maxDf: Int = 50,
                     materialize: DataFrame => DataFrame =
                       _.localCheckpoint()): DataFrame = {
    // Same three-consumer discipline as [[ngramJaccardPairs]]: the
    // fingerprint posting table is materialized once, not re-winnowed
    // per consumer.
    val posting = materialize(TextOps
      .fingerprintTable(docs.repartition(
        docs.sparkSession.sparkContext.defaultParallelism),
        idCol, textCol, k, w)
      .select(col(idCol).as("id"), col("fp")))
    val dfs = posting.groupBy("fp").agg(count(lit(1)).as("df"))
    guardDfCapCliff(dfs, maxDf, "spanDuplicates", "fp")
    val heavy = dfs.filter(col("df") > maxDf).select("fp")
    val kept = posting.join(broadcast(heavy), Seq("fp"), "left_anti")
    val sizes = kept.groupBy("id").agg(count(lit(1)).as("n"))
    val postings = kept.hint("shuffle_hash")
    postings.as("a").join(postings.as("b"), Seq("fp"))
      .filter(col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("shared_fps"))
      .filter(col("shared_fps") >= minShared)
      .join(sizes.select(col("id").as("id_a"), col("n").as("_na")), "id_a")
      .join(sizes.select(col("id").as("id_b"), col("n").as("_nb")), "id_b")
      .select(col("id_a"), col("id_b"), col("shared_fps"),
        (col("shared_fps").cast("double") /
          least(col("_na"), col("_nb")).cast("double")).as("containment"))
  }

  @transient private lazy val log =
    org.slf4j.LoggerFactory.getLogger(getClass)

  /** The df-cap CLIFF guard (the r10 100× soak finding): when true
    * duplication family size exceeds `maxDf`, the heavy-key anti-join
    * drops EVERY shared posting and the pair detector returns zero
    * rows — silently, which reads as "no duplicates" when the corpus
    * is in fact maximally duplicated. One cheap driver read of the
    * already-grouped census (the posting table is materialized, so
    * this re-scans a checkpoint, not the corpus): 100% of keys capped
    * raises with guidance; a majority capped logs a warning. */
  private def guardDfCapCliff(dfs: DataFrame, maxDf: Int,
                              op: String, keyName: String): Unit = {
    val census = dfs.agg(
      count(lit(1)).as("n"),
      coalesce(sum(when(col("df") > maxDf, 1L)), lit(0L)).as("dropped"))
      .head()
    val (n, dropped) = (census.getLong(0), census.getLong(1))
    if (n > 0 && dropped == n)
      throw new IllegalStateException(
        s"$op: the df-cap (maxDf=$maxDf) dropped ALL $n distinct " +
          s"${keyName}s — every span is shared more widely than the " +
          "cap, so the result would be silently empty (zero recall). " +
          "Raise maxDf, or exact-dedup the corpus first; " +
          "spanDuplicateAudit/ngramJaccardAudit report the census.")
    else if (n > 0 && dropped * 2 >= n)
      log.warn(s"$op: df-cap (maxDf=$maxDf) dropped $dropped of $n " +
        s"distinct ${keyName}s (>=50%) — recall on heavily-duplicated " +
        "families is degraded; see the audit operator for the census")
  }

  /** Posting census behind the cliff guard, as the X6 metrics shape
    * (metric, value) — integer-exact so the numbers oracle-check:
    * total postings, distinct keys, and how much the df-cap drops.
    * `fp_dropped_postings / fp_postings` is the mass fraction the pair
    * detectors never see. */
  private def postingCapAudit(posting: DataFrame, keyCol: String,
                              maxDf: Int): DataFrame = {
    posting.groupBy(keyCol).agg(count(lit(1)).as("df"))
      .agg(
        coalesce(sum(col("df")), lit(0L)).as("fp_postings"),
        count(lit(1)).as("fp_distinct"),
        coalesce(sum(when(col("df") > maxDf, 1L)), lit(0L))
          .as("fp_dropped_distinct"),
        coalesce(sum(when(col("df") > maxDf, col("df"))), lit(0L))
          .as("fp_dropped_postings"))
      .selectExpr("""stack(4,
        'fp_postings',          fp_postings,
        'fp_distinct',          fp_distinct,
        'fp_dropped_distinct',  fp_dropped_distinct,
        'fp_dropped_postings',  fp_dropped_postings) AS (metric, value)""")
  }

  /** X2g' — [[spanDuplicates]]' observability twin: the winnow-
    * fingerprint posting census under the SAME df-cap, so an operator
    * can see — before trusting zero pairs — whether the cap is
    * swallowing the corpus. */
  def spanDuplicateAudit(docs: DataFrame, idCol: String = "doc_id",
                         textCol: String = "text", k: Int = 3,
                         w: Int = 4, maxDf: Int = 50): DataFrame =
    postingCapAudit(TextOps.fingerprintTable(docs, idCol, textCol, k, w)
      .select(col(idCol).as("id"), col("fp")), "fp", maxDf)

  /** X2d' — [[ngramJaccardPairs]]' observability twin over the shingle
    * posting table. */
  def ngramJaccardAudit(docs: DataFrame, idCol: String = "doc_id",
                        textCol: String = "text", shingleSize: Int = 3,
                        maxDf: Int = 50): DataFrame =
    postingCapAudit(explodeShingles(docs, Seq(col(idCol).as("id")),
        col(textCol), shingleSize)
      .select(col("id"), col("sh").as("shingle")), "shingle", maxDf)

  /** SimHash bit width: 32 (8 md5 hex digits × 4 bits). */
  val SimHashBits = 32

  /** X2b — 32-bit SimHash as a '0'/'1' bit-string (emitted as a string
    * because cross-engine integer hex parsing differs; the string IS the
    * signature and buckets/prefixes derive from it).
    *
    * Per token: h = first 8 hex digits of md5(token). Per bit b: digit
    * value of hex char b/4 (via `conv(_,16,10)`; DuckDB mirrors with
    * `strpos('0123456789abcdef',_)-1`), test bit 3-b%4; each token votes
    * +1/-1; bit is 1 iff the vote sum is positive.
    */
  def simhash(text: Column): Column =
    simhashExpr(transform(TextOps.tokens(text),
      t => substring(md5(t), 1, SimHashBits / 4)))

  /** All [[SimHashBits]] bit votes in ONE pass — the native codegen'd
    * [[graft.functions.SimHashSignature]]; bit-identical to
    * [[simhashFromHexes]] (asserted in DedupOpsSpec), and without the
    * seconds of codegen/JIT the 32-aggregate form pays cold. */
  def simhashExpr(hexes: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.SimHashSignature(
        org.apache.spark.sql.graft.ColumnBridge.expression(hexes),
        SimHashBits))

  /** SimHash bit voting over an md5-hex-prefix array — the composable
    * reference form (32 per-bit interpreted aggregates). Bind the hex
    * array with `withColumn` before calling when performance matters —
    * a nested non-attribute expression would re-run the md5 pipeline
    * 32× per row ([[withSimhash]] wires it correctly). */
  def simhashFromHexes(hexes: Column): Column = {
    val bitChars = (0 until SimHashBits).map { b =>
      val digitPos = b / 4 + 1
      val shift = 3 - b % 4
      val votes = aggregate(hexes, lit(0), (acc, h) =>
        acc + (shiftright(
          conv(substring(h, digitPos, 1), 16, 10).cast("int"), shift)
          % 2) * 2 - 1)
      when(votes > 0, lit("1")).otherwise(lit("0"))
    }
    concat(bitChars: _*)
  }

  /** Per-document SimHash frame: (idCol, simhash, bucket = first 8 bits)
    * — the bucket column is the banded-join key for simhash-based
    * near-dup candidate generation. */
  def withSimhash(docs: DataFrame, idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame =
    docs
      .withColumn("_hx", transform(TextOps.tokens(col(textCol)),
        t => substring(md5(t), 1, SimHashBits / 4)))
      .select(col(idCol), simhashExpr(col("_hx")).as("simhash"))
      .withColumn("bucket", substring(col("simhash"), 1, 8))

  /** Hamming distance between two [[SimHashBits]]-char bit-strings. */
  def hammingDist(a: Column, b: Column): Column =
    (1 to SimHashBits).map(i =>
      when(substring(a, i, 1) =!= substring(b, i, 1), 1).otherwise(0))
      .reduce(_ + _)

  /** X2b' — SimHash near-dup pairs: candidates share the 8-bit prefix
    * bucket (same banded-candidate shape as MinHash — never all-pairs),
    * kept when the full 32-bit hamming distance is ≤ `maxDist`. Prefix
    * bucketing trades recall for that bound: pairs differing inside the
    * first 8 bits are missed — the standard multi-table rotation fix
    * applies if needed.
    *
    * Per-pair cost is ONE `bit_count(xor)` on a per-doc-precomputed
    * long (32× cheaper than comparing the bit-string per position —
    * the string compare survives as [[hammingDist]] and as the oracle's
    * formula; values are identical). Signatures are materialized before
    * the self-join, like [[nearDuplicates]]: both join sides would
    * otherwise re-run the 32-aggregate signature pipeline (measured 6×
    * slower); `materialize` swaps `localCheckpoint` for a table write
    * on a cluster. */
  def simhashPairs(docs: DataFrame, maxDist: Int,
                   idCol: String = "doc_id",
                   textCol: String = "text",
                   materialize: DataFrame => DataFrame =
                     _.localCheckpoint()): DataFrame = {
    val sigs = materialize(withSimhash(docs, idCol, textCol)
      .withColumn("_shi", conv(col("simhash"), 2, 10).cast("long")))
    val a = sigs.select(col(idCol).as("id_a"),
      col("_shi").as("sig_a"), col("bucket"))
    val b = sigs.select(col(idCol).as("id_b"),
      col("_shi").as("sig_b"), col("bucket"))
    a.join(b, Seq("bucket")).filter(col("id_a") < col("id_b"))
      .withColumn("hamming",
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast("int"))
      .filter(col("hamming") <= maxDist)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** X2b'' — SimHash near-dup pairs with MULTI-TABLE prefix rotation:
    * the recall fix [[simhashPairs]]'s Scaladoc names. Table t buckets
    * on the 8-bit prefix of the signature ROTATED left by
    * t·(32/tables) bits (a string rotation: 8 chars of the doubled
    * bit-string starting at the offset), so a near pair whose
    * differing bits fall inside one table's prefix still collides in
    * another table. Candidates are the union of the per-table bucket
    * self-joins, deduplicated on the pair key; the exact
    * `bit_count(xor)` verify is unchanged, so extra tables add recall,
    * never false positives.
    *
    * Scale shape is [[simhashPairs]] × tables: one row per (doc,
    * table) crosses the candidate shuffle — ids and one long each,
    * never text — and Σ bucket² stays bounded because each table's
    * buckets are 8 bits over a different signature slice. Cross-table
    * duplicates are removed WITHOUT a pair-keyed shuffle (multi-probe
    * dedup): a pair is kept only in the FIRST table whose prefixes
    * collide — for table t a scan-side bit-arithmetic filter checks
    * that every earlier table's rotated prefixes differ — so the
    * per-table candidate streams are disjoint by construction and the
    * union is exact. */
  def simhashPairsMulti(docs: DataFrame, maxDist: Int, tables: Int = 4,
                        idCol: String = "doc_id",
                        textCol: String = "text",
                        materialize: DataFrame => DataFrame =
                          _.localCheckpoint()): DataFrame = {
    require(tables >= 1 && SimHashBits % tables == 0,
      s"tables must divide $SimHashBits, got $tables")
    val sigs = materialize(withSimhash(docs, idCol, textCol)
      .withColumn("_shi", conv(col("simhash"), 2, 10).cast("long")))
    val doubled = concat(col("simhash"), col("simhash"))
    val step = SimHashBits / tables
    val tb = (0 until tables).map { t =>
      struct(lit(t).as("tbl"),
        substring(doubled, t * step + 1, 8).as("bucket"))
    }
    val banded = sigs
      .withColumn("_tb", explode(array(tb: _*)))
      .select(col(idCol), col("_shi"),
        col("_tb.tbl").as("tbl"), col("_tb.bucket").as("bucket"))
    val a = banded.select(col(idCol).as("id_a"),
      col("_shi").as("sig_a"), col("tbl"), col("bucket"))
    val b = banded.select(col(idCol).as("id_b"),
      col("_shi").as("sig_b"), col("tbl"), col("bucket"))
    // 8-bit prefix of the signature rotated left by r bits, as long
    // arithmetic over the 32-bit value (bit 0 = MSB of the bit-string)
    def prefixAt(sig: org.apache.spark.sql.Column, r: Int) =
      shiftright(
        (shiftleft(sig, r).bitwiseOR(shiftright(sig, SimHashBits - r)))
          .bitwiseAND(lit(0xFFFFFFFFL)), SimHashBits - 8)
    // per-row: for the row's table t, every earlier table's prefixes
    // must differ (else the pair was already emitted there)
    val earlierDiffer = (0 until tables).map { t =>
      val checks = (0 until t).map { tp =>
        prefixAt(col("sig_a"), tp * step) =!=
          prefixAt(col("sig_b"), tp * step)
      }
      lit(t) -> checks.foldLeft(lit(true))(_ && _)
    }
    val keepFirst = earlierDiffer.foldRight(lit(false)) {
      case ((t, cond), acc) => when(col("tbl") === t, cond).otherwise(acc)
    }
    a.join(b, Seq("tbl", "bucket")).filter(col("id_a") < col("id_b"))
      .filter(keepFirst)
      .withColumn("hamming",
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast("int"))
      .filter(col("hamming") <= maxDist)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }
}
