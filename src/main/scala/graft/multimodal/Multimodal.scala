package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal column support (north star: image/audio/video at
  * 100 TB).
  *
  * Model: media is an opaque `BINARY` content column plus a typed
  * metadata struct; all pipeline stages are DataFrame→DataFrame so
  * the binary payloads stream through the same partitioned scans,
  * joins and sinks as every other column. Heavy per-item work
  * (decode, resize, frame sampling) runs in `mapPartitions` so a
  * real decoder would amortize native-library init per partition —
  * the batch shape a Pandas-UDF/`mapInPandas` pipeline has in
  * PySpark.
  *
  * The container ships no image/audio codecs (zero egress), so the
  * DECODE STEP IS A DETERMINISTIC STUB — clearly marked below. The
  * Spark-side plumbing (schema, partitioning, batch iteration,
  * feature schema) is real and is what the tests/queries exercise.
  */
object Multimodal {

  /** Typed media record: opaque bytes + metadata. */
  case class MediaRecord(doc_id: Long, mime: String, content: Array[Byte],
                         width: Int, height: Int, duration_ms: Long)

  /** Extracted features: exact payload statistics (entropy in integer
    * micro-bits, run-length shape) + the normalized coarse histogram.
    */
  case class MediaFeatures(doc_id: Long, mime: String, n_bytes: Int,
                           entropy_ubits: Long, n_runs: Int, max_run: Int,
                           features: Array[Double])

  private val Mimes = Array("image/png", "audio/wav", "video/mp4")

  /** Deterministically synthesize a media table from `documents`
    * (text bytes stand in for encoded media payloads; metadata is a
    * pure function of doc_id / n_chars so every engine can recompute
    * it).
    */
  def fromDocuments(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      element_at(lit(Mimes), (col("doc_id") % 3).cast("int") + 1).as("mime"),
      encode(col("text"), "UTF-8").as("content"),
      (col("n_chars") % 640 + 1).cast("int").as("width"),
      (col("n_chars") % 480 + 1).cast("int").as("height"),
      (col("n_chars") * 40).as("duration_ms"))

  /** REAL byte analysis of the opaque payload (one pass):
    *
    *  - Shannon entropy of the 256-value byte histogram, accumulated
    *    as exact integer MICRO-BITS: each distinct byte value's term
    *    −p·log2(p) is quantized to 1e-6 before the (order-free BIGINT)
    *    sum, so partial-agg order can't drift the result and the
    *    DuckDB oracle reproduces it term-for-term (the repo's
    *    quantize-before-sum rule for anything float-iterative);
    *  - exact maximal-run statistics (n_runs, max_run) — the
    *    compressibility signal a media-dedup heuristic keys on;
    *  - the 8-bucket normalized coarse histogram (legacy feature
    *    vector kept for the facade/spec surface).
    *
    * A real deployment would ALSO run a native codec here
    * (libjpeg/ffmpeg); none exists in this container — that decode
    * remains the documented stub, but everything computed above is a
    * true function of the payload bytes.
    */
  def analyzeBytes(bytes: Array[Byte]): (Array[Double], Long, Int, Int) = {
    val counts = new Array[Int](256)
    var nRuns = 0; var maxRun = 0; var cur = 0; var prev = -1
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i) & 0xff
      counts(b) += 1
      if (b == prev) cur += 1 else { nRuns += 1; cur = 1; prev = b }
      if (cur > maxRun) maxRun = cur
      i += 1
    }
    val n = bytes.length
    val hist = new Array[Double](8)
    var entU = 0L
    val ln2 = math.log(2.0)
    var v = 0
    while (v < 256) {
      val c = counts(v)
      if (c > 0) {
        val p = c.toDouble / n
        // same op order as the oracle: (−p · ln p) / ln 2
        entU += math.floor(-p * math.log(p) / ln2 * 1000000 + 0.5).toLong
        hist(v >> 5) += c
      }
      v += 1
    }
    if (n > 0) { var j = 0; while (j < 8) { hist(j) /= n; j += 1 } }
    (hist, entU, nRuns, maxRun)
  }

  /** Per-partition feature extraction over the opaque content column
    * (the `mapInPandas` batch shape, Scala-side).
    */
  def extractFeatures(media: DataFrame): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select("doc_id", "mime", "content").as[(Long, String, Array[Byte])]
      .mapPartitions { rows =>
        // per-partition init would happen here (codec handles etc.)
        rows.map { case (id, mime, bytes) =>
          val (hist, entU, nRuns, maxRun) = analyzeBytes(bytes)
          MediaFeatures(id, mime, bytes.length, entU, nRuns, maxRun, hist)
        }
      }
  }

  /** Per-doc block-mean hash record (see [[blockHash]]). */
  case class MediaBlockHash(doc_id: Long, mime: String, n_bytes: Int,
                            blockhash: Long)

  /** Block-mean perceptual hash (blockhash-style, decode-free): the
    * payload is split into `b` equal byte ranges (boundaries
    * `(i·n) / b` with integer floor); bit i is set iff block i's mean
    * byte value exceeds the whole-payload mean. Means are compared
    * CROSS-MULTIPLIED in exact integer arithmetic
    * (`blockSum·n > totalSum·blockLen`) — no division, no float
    * boundary, so every engine agrees bit-for-bit. On decoded pixels
    * this is the classic blockhash image fingerprint; over the opaque
    * payload it is the same near-dup signature on encoded bytes —
    * small edits flip only their own block's bit, so Hamming distance
    * on the signature ranks near-duplicate payloads. Exact up to
    * payloads of ~2^27 bytes (blockSum·n < 2^63 at byte values ≤255).
    */
  def blockHash(bytes: Array[Byte], b: Int): Long = {
    val n = bytes.length
    var total = 0L
    var i = 0
    while (i < n) { total += bytes(i) & 0xff; i += 1 }
    var hash = 0L
    var blk = 0
    while (blk < b) {
      val st = (blk.toLong * n / b).toInt
      val en = ((blk + 1).toLong * n / b).toInt
      var s = 0L
      var j = st
      while (j < en) { s += bytes(j) & 0xff; j += 1 }
      val len = en - st
      if (len > 0 && s * n > total * len) hash |= 1L << blk
      blk += 1
    }
    hash
  }

  /** Per-partition block-hash extraction (same `mapInPandas` batch
    * shape as [[extractFeatures]]; a real deployment would decode to
    * pixels per partition before hashing — that decode is the
    * documented stub, the hashing is real byte work).
    */
  def blockHashes(media: DataFrame, b: Int): Dataset[MediaBlockHash] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select("doc_id", "mime", "content").as[(Long, String, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, mime, bytes) =>
          MediaBlockHash(id, mime, bytes.length, blockHash(bytes, b))
        }
      }
  }

  /** DCT-II basis for the 8-point pHash, micro-quantized: entry
    * (u·8 + r) = floor(cos(π(2r+1)u/16)·1e6 + 0.5) for u ∈ 0..3,
    * r ∈ 0..7. Evaluated ONCE driver-side and interpolated into BOTH
    * engines as integer literals (the ts_spectral_peak protocol —
    * neither engine evaluates a transcendental), which is what makes
    * the sign tests below engine-identical.
    */
  val dctBasisMicro: Array[Long] = {
    val a = new Array[Long](32)
    var u = 0
    while (u < 4) {
      var r = 0
      while (r < 8) {
        a(u * 8 + r) = math.floor(
          math.cos(math.Pi * (2 * r + 1) * u / 16.0) * 1000000 + 0.5)
          .toLong
        r += 1
      }
      u += 1
    }
    a
  }

  /** Per-doc DCT perceptual-hash record (see [[dctPhash]]). */
  case class MediaDctHash(doc_id: Long, mime: String, n_bytes: Int,
                          dct_phash: Long)

  /** DCT perceptual hash (pHash-style, decode-free): an 8×8 tile of
    * payload bytes (position i·mod·n — short payloads wrap), the 2-D
    * DCT-II of the tile via the micro-quantized integer basis, and
    * one sign bit per low-frequency AC coefficient (u, v ∈ 0..3,
    * (0,0) DC excluded ⇒ 15 bits). Where blockHash keys on the
    * coarse luminance LAYOUT, the DCT hash keys on the coarse
    * frequency SHAPE — the classic pHash pair. All integer: byte ≤
    * 255 × two 1e6-unit basis factors × 64 terms < 1.6e16 ≪ 2^63;
    * bit set iff F > 0 strictly (an exactly-zero coefficient — e.g.
    * every AC term of a constant tile — reads 0, pinned).
    */
  def dctPhash(bytes: Array[Byte], basis: Array[Long]): Long = {
    val n = bytes.length
    if (n == 0) return 0L
    val tile = new Array[Long](64)
    var i = 0
    while (i < 64) { tile(i) = bytes(i % n) & 0xff; i += 1 }
    var hash = 0L
    var u = 0
    while (u < 4) {
      var v = 0
      while (v < 4) {
        if (u != 0 || v != 0) {
          var f = 0L
          var r = 0
          while (r < 8) {
            var c = 0
            while (c < 8) {
              f += tile(r * 8 + c) * basis(u * 8 + r) * basis(v * 8 + c)
              c += 1
            }
            r += 1
          }
          if (f > 0) hash |= 1L << (u * 4 + v - 1)
        }
        v += 1
      }
      u += 1
    }
    hash
  }

  /** Per-partition DCT-hash extraction (same batch shape as
    * [[blockHashes]]; the pixel decode stays the documented stub,
    * the frequency-domain hash is real byte work).
    */
  def dctPhashes(media: DataFrame): Dataset[MediaDctHash] = {
    val spark = media.sparkSession
    import spark.implicits._
    val basis = dctBasisMicro
    media.select("doc_id", "mime", "content").as[(Long, String, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, mime, bytes) =>
          MediaDctHash(id, mime, bytes.length, dctPhash(bytes, basis))
        }
      }
  }

  /** Per-doc Haar wavelet-hash record (see [[waveletHash]]). */
  case class MediaWaveletHash(doc_id: Long, mime: String, n_bytes: Int,
                              whash: Long)

  /** Haar wavelet perceptual hash (wHash-style, decode-free): the
    * same wrapped 8×8 byte tile as [[dctPhash]], two levels of
    * UNNORMALIZED 2-D Haar (sums/differences only — the whole hash
    * is EXACT integer arithmetic, no basis literals needed, the
    * property that distinguishes it from the DCT sibling). Each
    * level-2 coefficient is a ±1-weighted sum over one 4×4 pixel
    * quadrant: LL2 = plain sum, HL2/LH2/HH2 weight by the column/
    * row half signs. 16 bits: 4 quadrant-vs-global-mean bits
    * (4·LL2 > total, cross-multiplied — no division) + 12 detail
    * sign bits (> 0 strictly; a constant tile reads EXACTLY 0 on
    * every band, pinned). Where blockhash keys on the 1-D byte
    * LAYOUT and dctPhash on the frequency SHAPE, the Haar hash keys
    * on the 2-D multiresolution EDGE structure — the third member
    * of the classic perceptual-hash family. Detail bits are
    * DC-shift invariant (each ±1 weight set sums to 0 — pinned).
    * Pairing at scale: `blockHashPairs(bits = 16, bands = 4)`
    * exactly like the block-mean hash.
    */
  def waveletHash(bytes: Array[Byte]): Long = {
    val n = bytes.length
    if (n == 0) return 0L
    val t = new Array[Long](64)
    var i = 0
    while (i < 64) { t(i) = bytes(i % n) & 0xff; i += 1 }
    val ll = new Array[Long](4); val hl = new Array[Long](4)
    val lh = new Array[Long](4); val hh = new Array[Long](4)
    var total = 0L
    i = 0
    while (i < 64) {
      val r = i / 8; val c = i % 8
      val q = (r / 4) * 2 + (c / 4)
      val sh = if (c % 4 < 2) 1L else -1L
      val sv = if (r % 4 < 2) 1L else -1L
      ll(q) += t(i); hl(q) += sh * t(i); lh(q) += sv * t(i)
      hh(q) += sh * sv * t(i); total += t(i)
      i += 1
    }
    var hash = 0L
    var q = 0
    while (q < 4) {
      if (4L * ll(q) > total) hash |= 1L << q
      if (hl(q) > 0) hash |= 1L << (4 + q)
      if (lh(q) > 0) hash |= 1L << (8 + q)
      if (hh(q) > 0) hash |= 1L << (12 + q)
      q += 1
    }
    hash
  }

  case class MediaDHash(doc_id: Long, mime: String, n_bytes: Int,
                        dhash: Long)

  /** Gradient-direction hash (dHash-style, decode-free): the same
    * wrapped 8×8 byte tile, bit r·7+c set iff t(r, c+1) > t(r, c) —
    * 56 bits of pure integer comparisons, the CHEAPEST member of
    * the perceptual family (no sums, no basis, one pass over the
    * tile) and the most robust to uniform brightness shifts, which
    * cancel in every difference (shift invariance pinned in
    * ClosedFormProps alongside the constant-tile-0 pin). Where
    * blockhash keys on block MEANS, dctPhash on frequency SHAPE and
    * the Haar hash on multiresolution EDGES, dHash keys on local
    * gradient DIRECTION. Pairing at scale:
    * `blockHashPairs(bits = 56, bands = 4)`.
    */
  def dHash(bytes: Array[Byte]): Long = {
    val n = bytes.length
    if (n == 0) return 0L
    val t = new Array[Int](64)
    var i = 0
    while (i < 64) { t(i) = bytes(i % n) & 0xff; i += 1 }
    var hash = 0L
    var r = 0
    while (r < 8) {
      var c = 0
      while (c < 7) {
        if (t(r * 8 + c + 1) > t(r * 8 + c)) hash |= 1L << (r * 7 + c)
        c += 1
      }
      r += 1
    }
    hash
  }

  /** Per-partition dHash extraction (same batch shape as
    * [[dctPhashes]]).
    */
  def dHashes(media: DataFrame): Dataset[MediaDHash] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select("doc_id", "mime", "content").as[(Long, String, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, mime, bytes) =>
          MediaDHash(id, mime, bytes.length, dHash(bytes))
        }
      }
  }

  case class MediaAHash(doc_id: Long, mime: String, n_bytes: Int,
                        ahash: Long)

  /** Average hash (aHash-style, decode-free): the same wrapped 8×8
    * byte tile, bit p set iff t(p)·64 > Σtile — strict comparison
    * against the tile MEAN, cross-multiplied so no division ever
    * happens. 63 bits (bit 63 stays clear — it is the BIGINT sign
    * bit in both engines; cell 63 still enters the mean), the
    * classic baseline of the perceptual family: where blockhash
    * keys on 16 BLOCK means, aHash keys on every cell against the
    * GLOBAL mean — coarser than dHash's gradients, more detail than
    * blockhash. A uniform non-wrapping byte shift moves every cell
    * and the mean together, so the hash is DC-shift invariant
    * (pinned in ClosedFormProps with the constant-tile-0 pin).
    */
  def aHash(bytes: Array[Byte]): Long = {
    val n = bytes.length
    if (n == 0) return 0L
    val t = new Array[Int](64)
    var i = 0
    var s = 0L
    while (i < 64) { t(i) = bytes(i % n) & 0xff; s += t(i); i += 1 }
    var hash = 0L
    i = 0
    while (i < 63) {
      if (t(i) * 64L > s) hash |= 1L << i
      i += 1
    }
    hash
  }

  /** Per-partition aHash extraction (same batch shape as
    * [[dctPhashes]]).
    */
  def aHashes(media: DataFrame): Dataset[MediaAHash] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select("doc_id", "mime", "content").as[(Long, String, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, mime, bytes) =>
          MediaAHash(id, mime, bytes.length, aHash(bytes))
        }
      }
  }

  /** Per-partition wavelet-hash extraction (same batch shape as
    * [[dctPhashes]]).
    */
  def waveletHashes(media: DataFrame): Dataset[MediaWaveletHash] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select("doc_id", "mime", "content").as[(Long, String, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, mime, bytes) =>
          MediaWaveletHash(id, mime, bytes.length, waveletHash(bytes))
        }
      }
  }

  /** STUB resize: metadata-only transform (a real impl would re-encode
    * content); keeps the binary payload and rewrites dimensions.
    */
  def resizeStub(media: DataFrame, maxW: Int, maxH: Int): DataFrame =
    media.withColumn("scale",
        least(lit(1.0), least(lit(maxW) / col("width"), lit(maxH) / col("height"))))
      .withColumn("width", ceil(col("width") * col("scale")).cast("int"))
      .withColumn("height", ceil(col("height") * col("scale")).cast("int"))
      .drop("scale")

  /** STUB frame sampler: emits one row per sampled frame index at the
    * requested fps over the (fake) duration — the explode shape a
    * video pipeline uses to fan a clip out to frames.
    */
  def sampleFramesStub(media: DataFrame, everyMs: Long): DataFrame =
    media.filter(col("mime") === "video/mp4")
      // zero-length media emits zero frames (sequence() would throw on
      // start > stop, so filter first)
      .filter(col("duration_ms") > 0)
      .select(col("doc_id"), col("duration_ms"),
        explode(sequence(lit(0L), col("duration_ms") - 1, lit(everyMs)))
          .as("frame_ts_ms"))
}
