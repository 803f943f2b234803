package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column handling (SURVEY §2.7 X5): media as opaque BINARY
  * payloads with a typed metadata struct, flowing through relational
  * operators untouched.
  *
  * Two decode arms:
  *  - IMAGE (r10, REAL): the JDK's own PNG codec (javax.imageio) —
  *    [[imageTable]] renders real PNGs, [[decodeImages]] reads the
  *    bytes back through the actual decoder in the mapPartitions batch
  *    shape; oracle-checked end-to-end (PNG is lossless, features are
  *    exact integers).
  *  - other media (audio/video): the container has no codecs, so
  *    `decodeStub` remains a clearly-marked deterministic FAKE; the
  *    Spark-side plumbing — binary columns, metadata schema,
  *    batch-shaped feature extraction, partition behavior — is real
  *    and oracle-checked. Swapping the stub for a real codec (an
  *    `mapInPandas`/`mapInArrow` Python worker or a JNI call inside
  *    `mapPartitions`) changes ONE function, exactly as the image arm
  *    demonstrates; every schema and operator stays.
  *
  * Scale: payloads never explode, never join on themselves, and flow as
  * opaque bytes — only the small metadata/feature columns participate in
  * shuffles. Feature extraction is per-row scalar expressions (or at
  * worst one `mapPartitions` batch), embarrassingly parallel.
  */
object Multimodal {

  // JDK codec setup: ImageIO defaults to DISK-BACKED stream caching —
  // without this flag every in-memory decode/encode spills through a
  // temp file, so a 45k-call codec batch pays 45k file create/write/
  // delete cycles and its wall time rides /tmp pressure (the
  // q_frame_sample drift r14 flagged: 4.8 → 8.4 s on untouched code).
  // Memory-backed streams are strictly right for byte-array payloads.
  // Object-init runs once per JVM, executor-side too (the codec
  // closures reference this object).
  javax.imageio.ImageIO.setUseCache(false)

  /** Metadata carried with every media payload. */
  val metadataSchema: StructType = StructType(Seq(
    StructField("media_type", StringType),
    StructField("n_bytes", LongType),
    StructField("checksum", StringType)
  ))

  /** Build a media table from documents: payload = UTF-8 bytes of the
    * text (stands in for image/audio bytes), metadata derived from the
    * payload. Deterministic — the oracle rebuilds it byte-identically. */
  def mediaTable(docs: DataFrame, idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame = {
    val payload = encode(col(textCol), "UTF-8")
    docs.select(
      col(idCol).as("media_id"),
      payload.as("payload"),
      struct(
        lit("text/plain").as("media_type"),
        octet_length(payload).cast(LongType).as("n_bytes"),
        md5(payload).as("checksum")
      ).as("meta"))
  }

  /** FAKE DECODER — deterministic stand-in for an image decode.
    *
    * A real deployment replaces this body with a codec call; the
    * signature (binary in, fixed-width feature struct out) is the
    * contract. The fake derives "width"/"height" from payload bytes and
    * a 4-element "histogram" from the md5 digest — all built-in
    * expressions, so the plumbing is testable end-to-end today.
    */
  def decodeStub(payload: Column): Column = {
    val hexDigest = md5(payload)
    def hexAt(pos: Int): Column =
      conv(substring(hexDigest, pos, 2), 16, 10).cast(IntegerType)
    struct(
      (hexAt(1) % 64 + 1).as("width"),
      (hexAt(3) % 64 + 1).as("height"),
      array(hexAt(5), hexAt(7), hexAt(9), hexAt(11)).as("histogram"))
  }

  /** Feature extraction over a media table: metadata + decoded features
    * as flat columns. The shape a downstream trainer consumes. */
  def extractFeatures(media: DataFrame): DataFrame = {
    val f = decodeStub(col("payload"))
    media.select(
      col("media_id"),
      col("meta.media_type").as("media_type"),
      col("meta.n_bytes").as("n_bytes"),
      col("meta.checksum").as("checksum"),
      f.getField("width").as("width"),
      f.getField("height").as("height"),
      f.getField("histogram").as("histogram"))
  }

  /** "Frame sampling" over a byte payload: every `stride`-th byte of the
    * first `n` bytes as an int array (stands in for video frame
    * sampling; same slicing pattern, real arrays). */
  def sampleBytes(payload: Column, n: Int, stride: Int): Column =
    transform(sequence(lit(1), lit(n), lit(stride)),
      i => conv(substring(hex(payload), i * 2 - 1, lit(2)), 16, 10)
        .cast(IntegerType))

  // -------------------------------------------------------------------
  // REAL image path (r10): the JDK ships a genuine PNG codec
  // (javax.imageio — no external image libraries needed), so the decode
  // kernel no longer has to be a stub for the image arm. The table
  // builder RENDERS a deterministic two-band PNG per row (every
  // parameter a closed-form function of the id, so the DuckDB oracle
  // recomputes the expected features without decoding anything), and
  // the decoder reads the ACTUAL bytes back through the actual codec in
  // the documented mapPartitions batch shape. PNG is lossless, so the
  // decoded per-channel pixel sums are exact integers — engine-portable
  // with no float discipline needed.
  // -------------------------------------------------------------------

  /** Deterministic render parameters for id: size and the two band
    * colors. Height is always even so the bands split exactly. */
  private[ext] def renderParams(id: Long)
      : (Int, Int, Int, Int, Int, Int, Int, Int) = {
    def m(k: Long, n: Long) = (((id * k) % n + n) % n).toInt
    val w = m(1, 48) + 16
    val h = m(1, 16) * 2 + 16
    (w, h, m(7, 256), m(11, 256), m(17, 256),
      m(19, 256), m(23, 256), m(29, 256))
  }

  /** Render the two-band PNG for `id` — real bytes through the real
    * encoder. ~16×16 to 63×46 pixels: big enough to exercise the
    * codec, small enough that a 100-TB corpus of them is still
    * payload-bounded, not pixel-bounded. */
  private[ext] def renderPng(id: Long): Array[Byte] = {
    val (w, h, ra, ga, ba, rb, gb, bb) = renderParams(id)
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val top = (ra << 16) | (ga << 8) | ba
    val bottom = (rb << 16) | (gb << 8) | bb
    var y = 0
    while (y < h) {
      val rgb = if (y < h / 2) top else bottom
      var x = 0
      while (x < w) { img.setRGB(x, y, rgb); x += 1 }
      y += 1
    }
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  /** Media table with REAL PNG payloads, rendered per-partition (the
    * encoder initializes per batch like any codec). Same metadata
    * struct as [[mediaTable]]. */
  def imageTable(docs: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // only the 8-byte ids shuffle when widened; payloads are
    // generated — and decoded — partition-local
    Spread.widen(docs.select(col(idCol).cast(LongType))).as[Long]
      .mapPartitions { ids =>
        ids.map { id => (id, renderPng(id)) }
      }
      .toDF("media_id", "payload")
      .select(col("media_id"), col("payload"),
        struct(
          lit("image/png").as("media_type"),
          octet_length(col("payload")).cast(LongType).as("n_bytes"),
          md5(col("payload")).as("checksum")).as("meta"))
  }

  /** REAL decode: ImageIO parses the PNG bytes and the features are
    * width, height and exact per-channel pixel SUMS — the batch-shaped
    * kernel the stub documented, now with an actual codec behind it.
    * Payloads stay partition-local (decode before any shuffle); only
    * the fixed-width feature row moves on. */
  def decodeImages(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { batch =>
        batch.map { case (id, bytes) =>
          val img = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(bytes))
          require(img != null, s"undecodable payload for media_id=$id")
          val (w, h) = (img.getWidth, img.getHeight)
          var (sr, sg, sb) = (0L, 0L, 0L)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val rgb = img.getRGB(x, y)
              sr += (rgb >> 16) & 0xff
              sg += (rgb >> 8) & 0xff
              sb += rgb & 0xff
              x += 1
            }
            y += 1
          }
          (id, w, h, sr, sg, sb)
        }
      }
      .toDF("media_id", "width", "height", "sum_r", "sum_g", "sum_b")
  }

  /** REAL resize: decode, nearest-neighbor sample to `tw`×`th` (manual
    * loop — exact and deterministic, no interpolation/AA ambiguity
    * across JDKs), re-ENCODE as PNG. The thumbnailing step every
    * vision-data pipeline runs before feature extraction; payload in,
    * payload out, so it composes with [[decodeImages]] downstream —
    * and because the re-encode is lossless the decode→resize→encode→
    * decode round trip is oracle-checkable end-to-end. */
  def resizeImages(media: DataFrame, tw: Int, th: Int): DataFrame = {
    require(tw > 0 && th > 0, s"target size must be positive: $tw x $th")
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { batch =>
        batch.map { case (id, bytes) =>
          val img = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(bytes))
          require(img != null, s"undecodable payload for media_id=$id")
          val (w, h) = (img.getWidth, img.getHeight)
          val out = new java.awt.image.BufferedImage(tw, th,
            java.awt.image.BufferedImage.TYPE_INT_RGB)
          var y = 0
          while (y < th) {
            val sy = (y.toLong * h / th).toInt
            var x = 0
            while (x < tw) {
              out.setRGB(x, y, img.getRGB((x.toLong * w / tw).toInt, sy))
              x += 1
            }
            y += 1
          }
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(out, "png", bos)
          (id, bos.toByteArray)
        }
      }
      .toDF("media_id", "payload")
      .select(col("media_id"), col("payload"),
        struct(
          lit("image/png").as("media_type"),
          octet_length(col("payload")).cast(LongType).as("n_bytes"),
          md5(col("payload")).as("checksum")).as("meta"))
  }

  /** "Video" payloads: a frame-count header followed by length-prefixed
    * PNG frames — the container-format shape (without a real mux) that
    * makes strided FRAME SAMPLING meaningful. Frame f of id renders
    * with parameter seed `id * 31 + f`, so every frame's features stay
    * closed-form for the oracle. */
  def videoTable(docs: DataFrame, frames: Int = 6,
                 idCol: String = "doc_id"): DataFrame = {
    require(frames > 0, s"frames must be positive: $frames")
    val spark = docs.sparkSession
    import spark.implicits._
    Spread.widen(docs.select(col(idCol).cast(LongType))).as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val bos = new java.io.ByteArrayOutputStream()
          val out = new java.io.DataOutputStream(bos)
          out.writeInt(frames)
          (0 until frames).foreach { f =>
            val png = renderPng(id * 31 + f)
            out.writeInt(png.length)
            out.write(png)
          }
          out.flush()
          (id, bos.toByteArray)
        }
      }
      .toDF("media_id", "payload")
      .select(col("media_id"), col("payload"),
        struct(
          lit("video/x-png-frames").as("media_type"),
          octet_length(col("payload")).cast(LongType).as("n_bytes"),
          md5(col("payload")).as("checksum")).as("meta"))
  }

  /** STRIDED FRAME SAMPLING with real decode: demux the payload, decode
    * every `stride`-th frame through the JDK codec, skip the rest
    * WITHOUT decoding them (the point of sampling — undecoded frames
    * cost one length-prefixed skip, no pixel work), and emit one
    * feature row per sampled frame. Batch shape like [[decodeImages]];
    * payloads never shuffle, the exploded rows are fixed-width. */
  def sampleFrames(media: DataFrame, stride: Int): DataFrame = {
    require(stride > 0, s"stride must be positive: $stride")
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { batch =>
        batch.flatMap { case (id, bytes) =>
          val in = new java.io.DataInputStream(
            new java.io.ByteArrayInputStream(bytes))
          val n = in.readInt()
          (0 until n).iterator.flatMap { f =>
            val len = in.readInt()
            if (f % stride != 0) { in.skipBytes(len); Iterator.empty }
            else {
              val frame = new Array[Byte](len)
              in.readFully(frame)
              val img = javax.imageio.ImageIO.read(
                new java.io.ByteArrayInputStream(frame))
              require(img != null,
                s"undecodable frame $f for media_id=$id")
              val (w, h) = (img.getWidth, img.getHeight)
              var (sr, sg, sb) = (0L, 0L, 0L)
              var y = 0
              while (y < h) {
                var x = 0
                while (x < w) {
                  val rgb = img.getRGB(x, y)
                  sr += (rgb >> 16) & 0xff
                  sg += (rgb >> 8) & 0xff
                  sb += rgb & 0xff
                  x += 1
                }
                y += 1
              }
              Iterator.single((id, f, w, h, sr, sg, sb))
            }
          }.toSeq
        }
      }
      .toDF("media_id", "frame_idx", "width", "height",
        "sum_r", "sum_g", "sum_b")
  }

  // -------------------------------------------------------------------
  // REAL audio path (r10): javax.sound.sampled is also pure JDK — WAV
  // (PCM) encodes and decodes with no external codec. Samples are a
  // closed-form function of (id, index), so the oracle recomputes the
  // expected amplitude statistics in SQL over a generated index range.
  // With this, every X5 modality arm (image, video frames, audio) runs
  // a real codec end-to-end; nothing is stubbed.
  // -------------------------------------------------------------------

  private val AudioRate = 8000f
  private[ext] val AudioSamples = 800

  /** Closed-form PCM16 sample i of id: a sawtooth-ish deterministic
    * signal in [-1024, 1023]. */
  private[ext] def audioSample(id: Long, i: Int): Int =
    ((id * 31 + i.toLong * 7) % 2048).toInt - 1024

  /** Render the WAV for `id` through the JDK's own WAVE writer. */
  private[ext] def renderWav(id: Long): Array[Byte] = {
    val pcm = new Array[Byte](AudioSamples * 2)
    var i = 0
    while (i < AudioSamples) {
      val s = audioSample(id, i)
      pcm(2 * i) = (s & 0xff).toByte          // little-endian PCM16
      pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(
      AudioRate, 16, 1, true, false)
    val stream = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, AudioSamples.toLong)
    val out = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(stream,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
    out.toByteArray
  }

  /** Media table with REAL WAV payloads. */
  def audioTable(docs: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // NO repartition here, unlike the PNG arms: renderWav is a cheap
    // kernel (3.2 KB of PCM + a header — no entropy coding), so the
    // id shuffle + 32 near-empty tasks cost more than the render
    // itself (r19 measured 1.22 → 2.83 s from adding it, and an
    // 8-core/32-core scaling ratio of 1.1 — never parallelism-bound).
    docs.select(col(idCol).cast(LongType)).as[Long]
      .mapPartitions(ids => ids.map(id => (id, renderWav(id))))
      .toDF("media_id", "payload")
      .select(col("media_id"), col("payload"),
        struct(
          lit("audio/wav").as("media_type"),
          octet_length(col("payload")).cast(LongType).as("n_bytes"),
          md5(col("payload")).as("checksum")).as("meta"))
  }

  /** REAL audio decode: the JDK's WAV reader parses the header and the
    * PCM frames; features are the format fields plus the exact
    * sum of absolute amplitudes — integers end-to-end. */
  def decodeAudio(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { batch =>
        batch.map { case (id, bytes) =>
          val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
            new java.io.ByteArrayInputStream(bytes))
          val fmt = in.getFormat
          val data = in.readAllBytes()
          val n = data.length / 2
          var sumAbs = 0L
          var i = 0
          while (i < n) {
            val lo = data(2 * i) & 0xff
            val hi = data(2 * i + 1)
            sumAbs += math.abs((hi << 8) | lo)
            i += 1
          }
          (id, fmt.getSampleRate.toInt, fmt.getChannels, n.toLong, sumAbs)
        }
      }
      .toDF("media_id", "sample_rate", "channels", "n_samples", "sum_abs")
  }

  /** Batch-shaped decode path: the `mapPartitions` integration point
    * where a REAL codec (JNI library, or a Python worker via
    * `mapInPandas`/`mapInArrow` from PySpark) plugs in — the iterator
    * processes a whole partition per call, so codec init is amortized
    * per-batch, exactly like a pandas-UDF batch. The decode itself is
    * the same clearly-marked deterministic FAKE as [[decodeStub]]
    * (byte-derived), keeping the plumbing testable without codecs.
    *
    * Prefer [[extractFeatures]] (pure Catalyst expressions, codegen,
    * no serialization boundary) whenever the decode can be expressed as
    * expressions; this path exists for decoders that can't. */
  def decodeBatched(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { batch =>
        // real codec would be initialized HERE, once per partition
        batch.map { case (id, bytes) =>
          val digest = java.security.MessageDigest.getInstance("MD5")
            .digest(bytes)
          (id, bytes.length.toLong,
            (digest(0) & 0xff) % 64 + 1, (digest(1) & 0xff) % 64 + 1)
        }
      }
      .toDF("media_id", "n_bytes", "width", "height")
  }

  // -------------------------------------------------------------------
  // X5p (r11): perceptual-hash image dedup — the multimodal twin of the
  // X2 near-dup family. Byte-level dedup (X1 on the payload checksum)
  // misses a re-encoded or brightness-shifted copy of the same picture;
  // a difference hash (dHash) over the DECODED pixels catches it,
  // because dHash depends only on local gradient SIGNS, which survive
  // uniform brightness shifts and lossless re-encodes. The fixture
  // renders gradient-RAMP PNGs (the two-band images are gradient-free —
  // every dHash would degenerate to a constant), with every ramp
  // parameter closed-form in the id so the oracle recomputes the hash
  // without decoding; the Spark side computes it from the REAL decoded
  // bytes, so the hash-compare proves codec + downsample + hash.
  // -------------------------------------------------------------------

  /** Twin-namespace offsets: id+1e6 = brightness-shifted copy of
    * id (same gradients → dHash-identical), id+2e6 = re-rendered
    * jitter copy (ramp offset +1 → the mod-wrap positions move →
    * a few dHash bits flip). */
  val RampBrightTwin = 1000000L
  val RampJitterTwin = 2000000L

  /** Closed-form ramp parameters (w, h, a, bx, by, shift) for id. The
    * gradient coefficients are floored at 3/2 so every image wraps the
    * mod-96 ramp several times — a wrap-free image would give the
    * jitter twin an identical hash and the fixture nothing to find. */
  private[ext] def rampParams(id: Long): (Int, Int, Int, Int, Int, Int) = {
    val base = id % RampBrightTwin
    val kind = (id / RampBrightTwin).toInt
    def m(k: Long, n: Long) = (((base * k) % n + n) % n).toInt
    (m(3, 48) + 16, m(5, 31) + 16,
      m(13, 96) + (if (kind == 2) 1 else 0),
      m(7, 9) + 3, m(11, 13) + 2,
      if (kind == 1) 24 else 0)
  }

  /** Ramp gray value at (x, y): ((a + bx·x + by·y + (x·y)/7) mod 96)
    * + shift — the +24 brightness shift never clamps (max 95+24). */
  private[ext] def rampGray(id: Long, x: Int, y: Int): Int = {
    val (_, _, a, bx, by, shift) = rampParams(id)
    (a + bx * x + by * y + (x * y) / 7) % 96 + shift
  }

  /** Render the grayscale ramp PNG for `id` (r = g = b = rampGray). */
  private[ext] def renderRampPng(id: Long): Array[Byte] = {
    val (w, h, _, _, _, _) = rampParams(id)
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val v = rampGray(id, x, y)
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
        x += 1
      }
      y += 1
    }
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  /** Ramp-image corpus with planted perceptual duplicates: every 50th
    * document gets a brightness-shifted twin (different PNG bytes,
    * IDENTICAL dHash) and every 70th a jitter twin (small Hamming
    * distance) — the copies [[imageTable]]-style checksum dedup cannot
    * see. Real PNG bytes through the real encoder, per partition. */
  def rampImageTable(docs: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    Spread.widen(docs.select(col(idCol).cast(LongType))).as[Long]
      .flatMap { id =>
        val twins =
          (if (id % 50 == 0) Seq(id + RampBrightTwin) else Nil) ++
            (if (id % 70 == 0) Seq(id + RampJitterTwin) else Nil)
        (id +: twins).map(i => (i, renderRampPng(i)))
      }
      .toDF("media_id", "payload")
      .select(col("media_id"), col("payload"),
        struct(
          lit("image/png").as("media_type"),
          octet_length(col("payload")).cast(LongType).as("n_bytes"),
          md5(col("payload")).as("checksum")).as("meta"))
  }

  /** dHash bit width: an 8×8 grid of horizontal gradient signs over a
    * 9×8 nearest-neighbor downsample. */
  val DHashBits = 64

  /** X5p — difference hash over REAL decoded pixels: decode the PNG,
    * nearest-neighbor sample a 9×8 grayscale grid (gray = (r+g+b)/3,
    * same integer division as the oracle), emit bit (y,x) = 1 iff
    * grid(x+1,y) > grid(x,y), row-major, as a 64-char '0'/'1' string
    * (the SimHash signature convention — cross-engine integer hex
    * parsing differs, the string IS the signature).
    *
    * Scale shape: pixels never leave the partition — the payload is
    * decoded and collapsed to 64 bits in one mapPartitions batch
    * (embarrassingly parallel, codec init amortized per batch); only
    * (media_id, 64-char string) rows move on. Invariant by
    * construction under uniform brightness shift and any lossless
    * re-encode — the two duplicate classes byte equality misses. */
  def imageDHash(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { batch =>
        batch.map { case (id, bytes) =>
          val img = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(bytes))
          require(img != null, s"undecodable payload for media_id=$id")
          val (w, h) = (img.getWidth, img.getHeight)
          def gray(x: Int, y: Int): Int = {
            val rgb = img.getRGB(x, y)
            (((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)) / 3
          }
          val sb = new java.lang.StringBuilder(DHashBits)
          var y = 0
          while (y < 8) {
            val sy = y * h / 8
            var x = 0
            while (x < 8) {
              val g0 = gray(x * w / 9, sy)
              val g1 = gray((x + 1) * w / 9, sy)
              sb.append(if (g1 > g0) '1' else '0')
              x += 1
            }
            y += 1
          }
          (id, sb.toString)
        }
      }
      .toDF("media_id", "dhash")
  }

  /** X5p' — perceptual near-dup pairs: candidates share the first
    * `prefixBits` of the dHash (the SimHash prefix-bucket shape — never
    * all-pairs; Σ bucket² bounds the join), verified by the full 64-bit
    * Hamming distance computed as TWO `bit_count(xor)` calls over the
    * 32-bit halves (one long op per half instead of 64 string
    * compares). Brightness twins collide at distance 0 in every
    * bucket scheme; jitter twins survive when their flipped bits fall
    * outside the prefix — the standard multi-table rotation fix
    * ([[DedupOps.simhashPairsMulti]]) applies unchanged if a corpus
    * needs more recall. */
  def dhashPairs(hashes: DataFrame, maxDist: Int,
                 prefixBits: Int = 16): DataFrame = {
    val sigs = hashes
      .withColumn("_hi",
        conv(substring(col("dhash"), 1, 32), 2, 10).cast("long"))
      .withColumn("_lo",
        conv(substring(col("dhash"), 33, 32), 2, 10).cast("long"))
      .withColumn("bucket", substring(col("dhash"), 1, prefixBits))
    val a = sigs.select(col("bucket"), col("media_id").as("id_a"),
      col("_hi").as("hi_a"), col("_lo").as("lo_a"))
    val b = sigs.select(col("bucket"), col("media_id").as("id_b"),
      col("_hi").as("hi_b"), col("_lo").as("lo_b"))
    a.join(b, Seq("bucket")).filter(col("id_a") < col("id_b"))
      .withColumn("hamming",
        (bit_count(col("hi_a").bitwiseXOR(col("hi_b"))) +
          bit_count(col("lo_a").bitwiseXOR(col("lo_b")))).cast("int"))
      .filter(col("hamming") <= maxDist)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }
}
