package graft.ext

import graft.pipeline.{FsCommit, Snapshot}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import java.nio.file.Paths

/** Commit-maintained id-membership structure for a snapshot table —
  * the O(batch) overlap guard of the streaming maintenance loops
  * ([[graft.streaming.StreamingIndex]]).
  *
  * The naive exact guard anti-joins every micro-batch against the
  * table's column-pruned id column: correct, but O(corpus) per batch —
  * at a billion-id corpus the stream pays a full id-column scan for
  * every few thousand arriving rows. This module maintains a BLOOM
  * sidecar over the table's ids, kept current from the table's own
  * COMMIT WINDOW ([[IndexDelta.changesSince]] — O(delta) per catch-up,
  * the same primitive every persisted index refreshes from), so the
  * per-batch cost is:
  *
  *  - an O(batch) bloom probe — driver-side for ordinary-sized
  *    batches (the ids collect, hash, and probe their own shard's
  *    in-memory filter: zero bytes shipped), distributed (the sketch
  *    rides a scalar subquery, same expressions as Spark's own
  *    `InjectRuntimeFilter`) only for bulk batches — plus
  *  - an exact confirmation of the bloom-POSITIVE rows only (false
  *    positives + true duplicates) against the id column READ UNDER
  *    AN `IN (suspect ids)` PUSHDOWN — parquet min/max (and bloom,
  *    when written) prune the lookup to the files that can hold
  *    those ids; paid only when a batch actually carries suspects,
  *    never on the fresh-id steady state.
  *
  * Correctness never rests on the bloom: a bloom "no" is exact (the
  * sidecar always covers every id committed at its stamped version —
  * its stamp is never ahead of its bytes, and it only ever lags,
  * which the catch-up folds), and a bloom "yes" is confirmed exactly.
  * Deletes cannot leave a bloom, so a deleted-then-restreamed id
  * probes positive and the confirmation correctly re-admits it — the
  * sidecar is a monotone SUPERSET of the live id set, which is the
  * safe direction.
  *
  * Sizing is ADAPTIVE AND SHARDED (r17): the bootstrap sizes the
  * sketch at 2× the live id count (~16 bits/item → ~0.05% false
  * positives), catch-ups track approximate item counts as they fold
  * appends, and when the count outgrows the geometry the sketch
  * rebuilds at the next size from the full id column — geometric,
  * amortized O(1) per streamed row. A SINGLE sketch caps at
  * [[MaxItems]] (16 MB): every byte of one monolithic filter is paid
  * on every distributed probe and fold, so an uncapped 38M-id corpus
  * would ride a 77 MB sketch costing more per batch than the
  * anti-join it replaces. Past the cap the id space SPLITS into
  * hash-range shards (top bits of the same xxhash64 the probe uses),
  * each its own ≤16 MB filter — negatives stay EXACT at any corpus
  * size (10⁹ ids is 64 shards, not a saturated prefilter), and the
  * steady-state batch loop stays O(batch):
  *
  *  - folds putLong into per-shard DESERIALIZED filters cached in
  *    the driver ([[filterCache]]) — one deserialization per shard
  *    per process, never a per-batch reserialize of every shard;
  *  - probes read the same filters, loading ONLY the shards the
  *    batch's ids land in;
  *  - the sidecar FILE persists lazily (every [[PersistEveryItems]]
  *    folded ids, and on every rebuild): its stamp is never ahead of
  *    its bytes, so a crash simply re-folds the gap from the commit
  *    window.
  *
  * Only the bulk distributed paths (batches past
  * [[MaxDriverFoldRows]], or key types with no driver-side hash
  * twin) serialize and ship shard bytes, amortized over the batch
  * that needs them. */
object IdMembership {

  /** Sizing floor — sketches never start smaller than this many
    * expected items (4 MB at 8 bits/item). */
  val MinItems: Long = 1L << 22

  /** Per-SHARD sizing cap — 16 MB of sketch at 8 bits/item (~16.7M
    * items): the largest single filter whose shipping/fold/persist
    * cost stays well under the exact confirm it saves (object doc).
    * A corpus past the cap splits into hash-range shards of at most
    * this capacity each. */
  val MaxItems: Long = 1L << 24

  /** Test hooks: shrink the geometry so specs exercise splits and
    * saturation without multi-million-row fixtures. */
  private[graft] var minItemsForTests: Option[Long] = None
  private[graft] var maxItemsForTests: Option[Long] = None
  private def minItems: Long = minItemsForTests.getOrElse(MinItems)
  private def maxItems: Long = maxItemsForTests.getOrElse(MaxItems)

  /** Shard deserializations — the "touches only matching shards"
    * spec pin counts these. */
  private[graft] val shardLoads =
    new java.util.concurrent.atomic.AtomicLong

  private def numBits(items: Long): Long = items * 8

  /** Suspect sets up to this size confirm under an `IN` pushdown
    * (driver-bounded by the BATCH size, not the corpus); larger ones
    * fall back to the plain anti-join scan. */
  private val MaxInListSuspects = 16384

  private def sidecar(tableDir: String) = Paths.get(tableDir, "_id_bloom")

  /** `capacity` is PER SHARD; `shards` has `1 << shardBits` entries,
    * shard i holding the ids whose xxhash64 top `shardBits` bits
    * equal i. `shardBits == 0` is the ordinary single-sketch state.
    * NOTE: between persists, entries of [[filterCache]] SUPERSEDE the
    * byte arrays here — read bytes through [[synced]]. */
  private[graft] final case class State(version: Long, capacity: Long,
                                        shardBits: Int,
                                        approxItems: Vector[Long],
                                        shards: Vector[Array[Byte]]) {
    def shardCount: Int = 1 << shardBits
  }

  /** One state cached per table dir — the steady-state batch loop
    * re-reads the sidecar only when another writer advanced it. */
  private val cache = scala.collection.concurrent.TrieMap
    .empty[String, State]

  /** Live DESERIALIZED shard filters per table — the driver fold's
    * mutable target and the driver probe's read path: one
    * deserialization per shard per process, O(batch) putLongs per
    * fold. Entries supersede the cached State's byte arrays until
    * [[synced]] re-serializes them (persist / bulk paths). Mutation
    * and probe are serialized per table via [[lockFor]] (BloomFilter
    * is not thread-safe). Dropped wholesale on load/rebuild/
    * invalidate — never on persist (the bytes just written came FROM
    * these filters, so they stay valid). */
  private val filterCache = scala.collection.concurrent.TrieMap
    .empty[String, scala.collection.concurrent.TrieMap[Int,
      org.apache.spark.util.sketch.BloomFilter]]

  private val locks = scala.collection.concurrent.TrieMap
    .empty[String, Object]
  private def lockFor(tableDir: String): Object =
    locks.getOrElseUpdate(tableDir, new Object)

  /** xxhash64's seed — must match `functions.xxhash64`. */
  private val HashSeed = 42L

  private def shardOfHash(h: Long, bits: Int): Int =
    if (bits == 0) 0 else (h >>> (64 - bits)).toInt

  /** The shard index of `keyCol` as a Column — the SQL twin of
    * [[shardOfHash]] over the SAME hash the probe uses. */
  private def shardCol(keyCol: String, bits: Int): Column =
    if (bits == 0) lit(0)
    else shiftrightunsigned(xxhash64(col(keyCol)), 64 - bits)
      .cast("int")

  private def serializeFilter(
      f: org.apache.spark.util.sketch.BloomFilter): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    f.writeTo(out)
    out.toByteArray
  }

  private def deserializeFilter(
      b: Array[Byte]): org.apache.spark.util.sketch.BloomFilter = {
    shardLoads.incrementAndGet()
    org.apache.spark.util.sketch.BloomFilter
      .readFrom(new java.io.ByteArrayInputStream(b))
  }

  /** `s` with any live filter-cache entries re-serialized into its
    * byte arrays — the bytes every persist and bulk (distributed)
    * path must read. Call under [[lockFor]]. */
  private def synced(tableDir: String, s: State): State =
    filterCache.get(tableDir).filter(_.nonEmpty).fold(s) { m =>
      s.copy(shards = Vector.tabulate(s.shardCount)(i =>
        m.get(i).map(serializeFilter).getOrElse(s.shards(i))))
    }

  /** The BloomFilterAggregate column at this module's geometry. */
  private def bloomAgg(keyCol: String, items: Long): Column =
    ColumnBridge.column(
      new BloomFilterAggregate(
        ColumnBridge.expression(xxhash64(col(keyCol))),
        Literal(items), Literal(numBits(items)))
        .toAggregateExpression())

  /** Run `body` over a CLONED session with the two
    * BloomFilterAggregate clamp limits raised to cover `items`.
    * [[BloomFilterAggregate]] SILENTLY clamps to
    * `spark.sql.optimizer.runtime.bloomFilter.{maxNumItems,maxNumBits}`
    * (defaults sized for its join-filter role, not an id corpus):
    * past ~4M ids the sketch would be capped and over-full while the
    * caller believes it got the requested capacity. The clamp reads
    * the SUBMITTING session's conf, so the clone isolates the raise —
    * no lock held across a (potentially tens-of-seconds) corpus
    * aggregation, no mutation of the user session, no leak into
    * unrelated runtime-filter planning. */
  private def withRaisedLimits[T](df: DataFrame, items: Long)(
      body: DataFrame => T): T = {
    val itemsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumItems"
    val bitsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumBits"
    // a non-numeric user-set value reads as 0 (the raise then simply
    // covers the request)
    def asLong(s: String): Long =
      try s.toLong catch { case _: NumberFormatException => 0L }
    val ss = org.apache.spark.sql.graft.PlanBridge
      .cloneSession(df.sparkSession)
    ss.conf.set(itemsKey,
      math.max(items, asLong(ss.conf.get(itemsKey))))
    ss.conf.set(bitsKey,
      math.max(numBits(items), asLong(ss.conf.get(bitsKey))))
    body(org.apache.spark.sql.graft.PlanBridge
      .ofRows(ss, df.queryExecution.logical))
  }

  /** Serialized bloom over `xxhash64(keyCol)` plus the row count, in
    * ONE pass over `df`. Bloom is None when `df` is empty. Callers
    * read the REAL capacity off the serialized sketch
    * ([[capacityOf]]) rather than trusting the request. */
  private def bloomAndCount(df: DataFrame, keyCol: String,
                            items: Long): (Option[Array[Byte]], Long) = {
    val row = withRaisedLimits(df, items)(
      _.select(bloomAgg(keyCol, items).as("bf"),
        count(lit(1)).as("n")).head())
    (Option(row.getAs[Array[Byte]](0)), row.getLong(1))
  }

  /** Per-shard blooms of `df`'s ids in ONE pass: REPARTITION by the
    * shard index first so the partial aggregate sees (almost) one
    * group per task — without it every mapper would allocate a
    * capacity-sized buffer PER SHARD (shards × 16 MB × tasks of
    * churn). @return shard → (bloom, count), absent shards omitted */
  private def bloomsByShard(df: DataFrame, keyCol: String, bits: Int,
                            items: Long)
      : Map[Int, (Array[Byte], Long)] = {
    if (bits == 0)
      // single-sketch state: there is nothing to group by, and the
      // shard repartition below would funnel the whole bulk window
      // through ONE task for both partial and final aggregation —
      // aggregate at full input parallelism instead
      return bloomAndCount(df, keyCol, items) match {
        case (Some(b), n) => Map(0 -> (b, n))
        case _ => Map.empty
      }
    val shards = 1 << bits
    val keyed = df.withColumn("_graft_sh", shardCol(keyCol, bits))
      .repartition(shards, col("_graft_sh"))
    val rows = withRaisedLimits(keyed, items)(
      _.groupBy("_graft_sh")
        .agg(bloomAgg(keyCol, items).as("bf"), count(lit(1)).as("n"))
        .collect())
    rows.flatMap { r =>
      Option(r.getAs[Array[Byte]]("bf"))
        .map(b => r.getInt(0) -> (b, r.getLong(2)))
    }.toMap
  }

  /** The item capacity the serialized sketch ACTUALLY has, from its
    * bit size under this module's 8-bits/item sizing — the ground
    * truth the resize trigger compares against (a clamped or
    * foreign-built sketch must resize by its real geometry, not the
    * requested one). Read from the 12-byte header (V1 format: int
    * version, int numHashFunctions, int word count), NOT by a full
    * readFrom — deserializing a 16 MB sketch just for its bit size
    * would tax every sidecar load; any unexpected version falls back
    * to the real deserializer. */
  private def capacityOf(bloom: Array[Byte]): Long = {
    if (bloom.length >= 12) {
      val buf = java.nio.ByteBuffer.wrap(bloom)
      val (version, _, words) = (buf.getInt, buf.getInt, buf.getInt)
      // the word count must account for the byte length EXACTLY — a
      // future layout that keeps version==1 but adds fields would
      // otherwise mis-compute capacity silently; any mismatch falls
      // through to the real deserializer
      if (version == 1 && words >= 0 &&
          bloom.length == 12 + words.toLong * 8)
        return words.toLong * 64 / 8
    }
    org.apache.spark.util.sketch.BloomFilter
      .readFrom(new java.io.ByteArrayInputStream(bloom)).bitSize() / 8
  }

  private def emptyBloom(items: Long): Array[Byte] =
    serializeFilter(org.apache.spark.util.sketch.BloomFilter
      .create(items, numBits(items)))

  private def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    val fa = org.apache.spark.util.sketch.BloomFilter
      .readFrom(new java.io.ByteArrayInputStream(a))
    fa.mergeInPlace(org.apache.spark.util.sketch.BloomFilter
      .readFrom(new java.io.ByteArrayInputStream(b)))
    serializeFilter(fa)
  }

  private def capacityFor(n: Long): Long =
    math.min(maxItems, math.max(minItems, 2 * n))

  /** The smallest shard count whose per-shard 2× headroom fits the
    * cap: `2n / 2^bits <= maxItems`. */
  private def shardBitsFor(n: Long): Int = {
    var bits = 0
    while ((2 * n) >> bits > maxItems) bits += 1
    bits
  }

  /** Windows up to this many rows fold DRIVER-SIDE (collect the ids,
    * putLong into the cached filters): a distributed fold allocates a
    * capacity-sized bloom buffer per partial-aggregate task — at a
    * 38M-id corpus that is 32 × 76 MB of churn to insert a 5k-row
    * batch. The driver fold is O(window) and the steady-state batch
    * loop never leaves it; only bulk windows pay the distributed
    * aggregate. Driver-side PROBES share the bound. */
  private val MaxDriverFoldRows = 1L << 18

  /** Sidecar layout v2 marker — v1 files (single sketch, 24-byte
    * header) predate sharding and still load. */
  private val Magic = 0x4752414654494432L // "GRAFTID2"

  /** Folded-but-unpersisted item count per table — sharded sidecars
    * persist LAZILY: the in-process cache is authoritative, the file
    * only ever LAGS (its stamp is never ahead of its bytes, so a
    * restart's catch-up re-folds the gap from the commit window —
    * exactness never rests on the write). Without this, every 5k-row
    * batch against a 64-shard corpus would re-serialize and rewrite
    * hundreds of MB of sidecar — O(sketch), not O(batch). */
  private val unpersisted = scala.collection.concurrent.TrieMap
    .empty[String, Long]

  /** Persist a sharded fold once this many ids accumulate — one
    * multi-shard file write per ~million streamed ids, amortized
    * O(1) per row. */
  private val PersistEveryItems = 1L << 20

  /** Atomic sidecar write of a SYNCED state. V2 layout: magic,
    * stamped version, shardBits, per-shard capacity, then per shard
    * (approxItems, byte length, bloom bytes). The stamp is the table
    * version whose full id set the sharded bloom is a superset of. */
  private def persist(tableDir: String, s: State): Unit = {
    val total = 32 + s.shards.map(16 + _.length).sum
    val buf = java.nio.ByteBuffer.allocate(total)
    buf.putLong(Magic).putLong(s.version)
      .putLong(s.shardBits.toLong).putLong(s.capacity)
    s.approxItems.zip(s.shards).foreach { case (n, b) =>
      buf.putLong(n).putLong(b.length.toLong).put(b)
    }
    FsCommit.replace(sidecar(tableDir), buf.array())
    cache.put(tableDir, s)
  }

  private def load(tableDir: String): Option[State] = {
    val read = FsCommit.readBytes(sidecar(tableDir))
    if (read.isEmpty) None
    else {
      val bytes = read.get
      if (bytes.length <= 24) None // torn/empty → rebuild
      else {
        val buf = java.nio.ByteBuffer.wrap(bytes)
        val first = buf.getLong
        try {
          if (first == Magic) {
            val version = buf.getLong
            val bits = buf.getLong.toInt
            val cap = buf.getLong
            if (bits < 0 || bits > 16) return None // corrupt → rebuild
            val shards = Vector.newBuilder[Array[Byte]]
            val items = Vector.newBuilder[Long]
            (0 until (1 << bits)).foreach { _ =>
              items += buf.getLong
              val len = buf.getLong.toInt
              val b = new Array[Byte](len)
              buf.get(b)
              shards += b
            }
            Some(State(version, cap, bits, items.result(),
              shards.result()))
          } else {
            // v1: version, capacity, approxItems, bloom — capacity
            // from the sketch's REAL geometry, not the stored
            // request: a sidecar written under a clamped build
            // records a capacity its bits cannot honor — trusting it
            // would suppress the resize forever
            val (_, approx) = (buf.getLong, buf.getLong)
            val bloom =
              java.util.Arrays.copyOfRange(bytes, 24, bytes.length)
            Some(State(first, capacityOf(bloom), 0, Vector(approx),
              Vector(bloom)))
          }
        } catch {
          case _: java.io.IOException => None // corrupt → rebuild
          case _: java.nio.BufferUnderflowException => None
        }
      }
    }
  }

  /** Full rebuild from the live id column — the bootstrap, the
    * unrecoverable-window fallback, the geometric re-size, and the
    * past-the-cap SPLIT share it. Capacity = 2× the live count per
    * shard, so steady streaming burns half its false-positive budget
    * before the next re-size. */
  private def rebuild(spark: SparkSession, tableDir: String,
                      keyCol: String, live: Long): State = {
    val ids = Snapshot.read(spark, tableDir).select(keyCol)
    val probe = ids.limit(1).count()
    if (probe == 0)
      return State(live, minItems, 0, Vector(0L),
        Vector(emptyBloom(minItems)))
    val n = ids.count()
    val bits = shardBitsFor(n)
    if (bits == 0) {
      val cap = capacityFor(n)
      val (bf, _) = bloomAndCount(ids, keyCol, cap)
      val bloom = bf.getOrElse(emptyBloom(cap))
      // record what the sketch REALLY holds (== cap under the raised
      // confs; the honest trigger if anything ever clamps the build)
      State(live, capacityOf(bloom), 0, Vector(n), Vector(bloom))
    } else {
      val shards = 1 << bits
      val cap = capacityFor(n / shards + 1)
      val built = bloomsByShard(ids, keyCol, bits, cap)
      val blooms = Vector.tabulate(shards)(i =>
        built.get(i).map(_._1).getOrElse(emptyBloom(cap)))
      val items = Vector.tabulate(shards)(i =>
        built.get(i).map(_._2).getOrElse(0L))
      State(live, blooms.map(capacityOf).min, bits, items, blooms)
    }
  }

  private def driverHashable(dt: org.apache.spark.sql.types.DataType)
      : Boolean = {
    import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
    dt == LongType || dt == IntegerType || dt == StringType
  }

  /** xxhash64 of one driver-side value — the exact probe protocol
    * (strings hash as UTF8String). */
  private def hashValue(v: Any,
                        dt: org.apache.spark.sql.types.DataType): Long = {
    val internal = v match {
      case s: String =>
        org.apache.spark.unsafe.types.UTF8String.fromString(s)
      case x => x
    }
    org.apache.spark.sql.catalyst.expressions.XxHash64Function
      .hash(internal, dt, HashSeed)
  }

  /** Driver-side fold of a SMALL window: collect the ids and putLong
    * their xxhash64 into the cached filters — no capacity-sized task
    * buffers, ONLY the shards the window's ids land in deserialize
    * (once per process, [[filterCache]]), and nothing re-serializes.
    * None when the window is too large or the key type has no
    * driver-side hash twin (→ the distributed fold). Call under
    * [[lockFor]]. @return per-shard added counts */
  private def foldDriverSide(win: DataFrame, keyCol: String,
                             tableDir: String,
                             s: State): Option[Vector[Long]] = {
    val dt = win.schema(keyCol).dataType
    if (!driverHashable(dt)) return None
    val rows = win.select(keyCol).limit(MaxDriverFoldRows.toInt + 1)
      .collect()
    if (rows.length > MaxDriverFoldRows) return None
    val m = filterCache.getOrElseUpdate(tableDir,
      scala.collection.concurrent.TrieMap.empty)
    val added = Array.fill(s.shardCount)(0L)
    rows.foreach { r =>
      val v = r.get(0)
      if (v != null) {
        val h = hashValue(v, dt)
        val i = shardOfHash(h, s.shardBits)
        m.getOrElseUpdate(i, deserializeFilter(s.shards(i))).putLong(h)
        added(i) += 1
      }
    }
    Some(Vector.tabulate(s.shardCount)(added(_)))
  }

  /** Bring the sidecar current to the table's live version and return
    * it: fold the commit window's appended ids (O(delta)); rebuild
    * from the full id column only on bootstrap, an unrecoverable
    * window, or when the folded item count outgrows the geometry —
    * growing the capacity below the cap, SPLITTING into more shards
    * at it (both geometric — amortized O(1) per row). Deleted ids
    * stay in the bloom — a superset is the safe direction
    * (object doc). */
  private[graft] def ensureCurrent(spark: SparkSession,
                                   tableDir: String,
                                   keyCol: String): State = {
    val live = Snapshot.currentVersion(tableDir).getOrElse(
      throw new IllegalStateException(
        s"no snapshot table at $tableDir — nothing to guard"))
    val stored = cache.get(tableDir).orElse(
      load(tableDir).map { s =>
        lockFor(tableDir).synchronized(filterCache.remove(tableDir))
        cache.put(tableDir, s); s })
    stored.filter(_.version == live).getOrElse {
      var foldedIds = -1L // -1 = rebuild, else the fold's added count
      val next = stored.filter(_.version < live) match {
        case Some(s) =>
          try {
            val w = IndexDelta.changesSince(spark, tableDir, s.version,
              live, "id membership", keyCol)
            val win = w.appended.select(keyCol)
            val (added, shardsAfter) =
              lockFor(tableDir).synchronized {
                // re-check under the lock: the lock covers each fold,
                // not the read-decide-fold sequence, so a concurrent
                // ensureCurrent may have folded this same window
                // already — folding again keeps the bloom a safe
                // superset (putLong is idempotent) but double-counts
                // approxItems, skewing the lazy-persist cadence and
                // the resize trigger; skip to the advanced state
                cache.get(tableDir).filter(_.version >= live)
                  .foreach(cur => return cur)
                foldDriverSide(win, keyCol, tableDir, s) match {
                  case Some(a) =>
                    // filters mutated in place — they supersede the
                    // carried byte arrays until the next sync
                    (a, s.shards)
                  case None =>
                    // bulk window: sync the live filters into bytes,
                    // run the distributed grouped fold, merge — and
                    // drop the now-stale filters (the rare path
                    // re-deserializes)
                    val sb = synced(tableDir, s)
                    filterCache.remove(tableDir)
                    val built = bloomsByShard(win, keyCol,
                      s.shardBits, s.capacity)
                    (Vector.tabulate(s.shardCount)(i =>
                      built.get(i).map(_._2).getOrElse(0L)),
                      Vector.tabulate(s.shardCount)(i =>
                        built.get(i)
                          .map(b => merge(sb.shards(i), b._1))
                          .getOrElse(sb.shards(i))))
                }
              }
            val grown = s.approxItems.zip(added)
              .map(t => t._1 + t._2)
            // geometric re-size ONLY when the rebuild would actually
            // change the geometry (more capacity below the cap, more
            // shards at it): a skew-overflowed shard whose total
            // would rebuild into the SAME shape folds forever —
            // saturation is absorbed by the exact confirm, never by
            // futile per-window rebuilds
            val overflow = grown.exists(_ > s.capacity)
            if (overflow && wouldRegrow(grown.sum, s)) {
              lockFor(tableDir).synchronized(
                filterCache.remove(tableDir))
              rebuild(spark, tableDir, keyCol, live)
            } else {
              foldedIds = added.sum
              State(live, s.capacity, s.shardBits, grown, shardsAfter)
            }
          } catch {
            // compaction/rebase past the stamp: the window is
            // unrecoverable — the amortized full rebuild
            case _: IllegalStateException =>
              lockFor(tableDir).synchronized(
                filterCache.remove(tableDir))
              rebuild(spark, tableDir, keyCol, live)
            // a legacy sidecar built under the clamped aggregate has
            // geometry a correctly-sized window sketch cannot merge
            // with — heal by rebuilding at the honest size
            case _: org.apache.spark.util.sketch.IncompatibleMergeException =>
              lockFor(tableDir).synchronized(
                filterCache.remove(tableDir))
              rebuild(spark, tableDir, keyCol, live)
          }
        case _ => rebuild(spark, tableDir, keyCol, live)
      }
      lockFor(tableDir).synchronized {
        val pending = unpersisted.getOrElse(tableDir, 0L) +
          math.max(foldedIds, 0L)
        if (foldedIds >= 0 && next.shardBits > 0 &&
            pending < PersistEveryItems) {
          // lazy: cache only — the sidecar file keeps its older
          // stamp and a restart re-folds the gap (its stamp is never
          // ahead of its bytes)
          unpersisted.put(tableDir, pending)
          cache.put(tableDir, next)
        } else {
          unpersisted.put(tableDir, 0L)
          persist(tableDir, synced(tableDir, next))
        }
      }
      next
    }
  }

  /** Would a rebuild at `n` total items MATERIALLY change the sketch
    * geometry — more shards, or at least a DOUBLED per-shard
    * capacity? The doubling bar is the geometric-growth contract: an
    * unskewed overflow always clears it (capacity was 2× the count
    * at the last rebuild, so overflowing means the count doubled),
    * while a hash-skewed shard that overflows early keeps FOLDING —
    * without the bar, every subsequent window would "regrow" by a
    * few items and pay an O(corpus) rebuild apiece. */
  private def wouldRegrow(n: Long, s: State): Boolean = {
    val bits = shardBitsFor(n)
    bits > s.shardBits ||
      capacityFor(n / (1L << bits) + 1) >= 2 * s.capacity
  }

  /** `might_contain(bloom, xxhash64(key))` as a Column — false ⇒
    * DEFINITELY absent from the guarded table; true ⇒ confirm
    * exactly. The sketch rides a SCALAR SUBQUERY over a one-row local
    * relation, NOT a binary literal: plan-string rendering (AQE
    * updates, the UI, explain) hex-dumps literals, so a multi-MB
    * bloom literal turns every plan render into minutes of
    * StringBuilder — the subquery form (Spark's own
    * `InjectRuntimeFilter` shape, [[BloomJoin]] too) keeps the bytes
    * out of every plan string and canonicalization. */
  def mightContain(spark: SparkSession, bloom: Array[Byte],
                   key: Column): Column = {
    val bfPlan = {
      import spark.implicits._
      Seq(bloom).toDF("bf").queryExecution.analyzed
    }
    ColumnBridge.column(BloomFilterMightContain(
      org.apache.spark.sql.catalyst.expressions.ScalarSubquery(bfPlan),
      ColumnBridge.expression(xxhash64(key))))
  }

  /** The sharded probe as a Column — each row consults its own
    * shard's filter (CASE over the hash's top bits), built over ONLY
    * the shards in `hit` (the batch's own shard set): at 64 shards
    * the full chain would embed every serialized filter — ~1 GB of
    * plan literals per bulk probe — even when the batch touches two
    * of them. A row landing OUTSIDE the listed shards (possible only
    * if the batch re-evaluates nondeterministically between the
    * shard-set aggregate and the probe) defaults to SUSPECT, which
    * the exact confirm resolves — never silently fresh. Used only on
    * the bulk distributed path; ordinary batches probe driver-side. */
  private def mightContainSharded(spark: SparkSession, s: State,
                                  key: Column, hit: Seq[Int]): Column =
    if (s.shardBits == 0) mightContain(spark, s.shards(0), key)
    else hit.filter(i => i >= 0 && i < s.shardCount) match {
      case Seq() => lit(true)
      case h +: t =>
        val sh = shiftrightunsigned(xxhash64(key), 64 - s.shardBits)
        t.foldLeft(when(sh === lit(h.toLong),
            mightContain(spark, s.shards(h), key))) {
          (acc, i) => acc.when(sh === lit(i.toLong),
            mightContain(spark, s.shards(i), key))
        }.otherwise(lit(true))
    }

  /** Driver-side probe of a SMALL batch: collect the DISTINCT ids,
    * hash, and consult ONLY the shards they land in (deserialized
    * once per process, [[filterCache]]). None when the batch is too
    * large or the key type has no driver-side hash twin.
    * @return the bloom-positive (suspect) id values */
  private def probeDriverSide(batch: DataFrame, keyCol: String,
                              tableDir: String,
                              s: State): Option[Array[Any]] = {
    val dt = batch.schema(keyCol).dataType
    if (!driverHashable(dt)) return None
    val ids = batch.select(keyCol).distinct()
      .limit(MaxDriverFoldRows.toInt + 1).collect()
    if (ids.length > MaxDriverFoldRows) return None
    Some(lockFor(tableDir).synchronized {
      val m = filterCache.getOrElseUpdate(tableDir,
        scala.collection.concurrent.TrieMap.empty)
      ids.flatMap { r =>
        val v = r.get(0)
        if (v == null) None
        else {
          val h = hashValue(v, dt)
          val i = shardOfHash(h, s.shardBits)
          val f = m.getOrElseUpdate(i, deserializeFilter(s.shards(i)))
          if (f.mightContainLong(h)) Some(v) else None
        }
      }
    })
  }

  /** The rows of `batch` whose `keyCol` is NOT in the table: bloom
    * negatives pass outright (exact — see [[mightContain]]); bloom
    * positives are confirmed against the id column read under an
    * `IN (suspect ids)` pushdown (min/max / parquet-bloom pruned),
    * touched ONLY when such suspects exist. Result is exactly
    * `batch WHERE keyCol NOT IN (table ids)` — identical to the full
    * anti-join, at O(batch) steady-state cost. */
  def freshOnly(spark: SparkSession, tableDir: String, batch: DataFrame,
                keyCol: String): DataFrame = {
    val s = ensureCurrent(spark, tableDir, keyCol)
    val suspectIds: Array[Any] =
      probeDriverSide(batch, keyCol, tableDir, s).getOrElse {
        // bulk path: ONE distributed bloom evaluation per batch over
        // synced shard bytes (the probe deserializes per task —
        // materialize the suspects once). One cheap aggregate first
        // finds the shard indices this batch actually hits, so the
        // probe plan embeds only those shards' filters
        val sb = lockFor(tableDir).synchronized(synced(tableDir, s))
        val hit: Seq[Int] =
          if (sb.shardBits == 0) Seq(0)
          else batch.select(shardCol(keyCol, sb.shardBits).as("_sh"))
            .distinct().collect().map(_.getInt(0)).toSeq.sorted
        val mc = mightContainSharded(spark, sb, col(keyCol), hit)
        batch.filter(mc).select(keyCol).distinct()
          .limit(MaxInListSuspects + 1).collect().map(_.get(0))
      }
    if (suspectIds.isEmpty) batch
    else {
      val corpusIds = Snapshot.read(spark, tableDir).select(keyCol)
      // the IN pushdown lets a manifest-carrying, key-clustered
      // corpus prune the confirm to the files that can hold the
      // suspect ids (StatsPruningFileIndex any-of skipping)
      val (confirmSrc, suspects) =
        if (suspectIds.length > MaxInListSuspects)
          (corpusIds, batch) // rare bulk overflow: plain scan
        else (corpusIds.filter(
            col(keyCol).isin(suspectIds.toIndexedSeq: _*)),
          batch.filter(col(keyCol).isin(suspectIds.toIndexedSeq: _*)))
      val dups = suspects.join(confirmSrc, Seq(keyCol), "left_semi")
        .select(keyCol).distinct().localCheckpoint()
      batch.join(dups, Seq(keyCol), "left_anti")
    }
  }

  /** Test/ops hook: drop the cached sidecar state (e.g. after a
    * foreign process replaced the table dir wholesale). */
  private[graft] def invalidate(tableDir: String): Unit =
    lockFor(tableDir).synchronized {
      cache.remove(tableDir)
      filterCache.remove(tableDir)
      unpersisted.remove(tableDir)
    }
}
