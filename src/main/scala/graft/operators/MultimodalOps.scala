package graft.operators

import graft.CkptOps

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.TestData
import graft.multimodal.Multimodal

/** Declared queries over the multimodal media pipeline
  * (`graft.multimodal.Multimodal`): metadata projection, frame
  * fan-out, and byte-level payload features. All oracle-checked —
  * the feature extractor's entropy/run-length statistics are exact
  * integer arithmetic mirrored over the fixture's all-ASCII payload
  * (only the codec decode itself remains a stub; MultimodalSpec
  * keeps the batch-shape invariants).
  */
object MultimodalOps {
  type Q = (SparkSession, String) => DataFrame

  /** Hamming-≤-`maxHamming` near-dup pairs over 16-bit block hashes —
    * the media sibling of `dedup_simhash_pairs` (same Manku '07
    * pigeonhole): 4×4-bit bands, so any pair within Hamming ≤ 3 keeps
    * at least one band identical and the (mime, band index, band
    * value) equi-join is a SOUND candidate generator; the exact
    * popcount verify runs on candidates only. Pairs never cross mime
    * (an image re-encode is compared to images). `sigs` must carry
    * (doc_id, mime, blockhash). Signature width is PARAMETERIZED
    * (round 9): the declared key keeps the fixture's 16-bit / 4×4-bit
    * shape; at 100 TB call with `bits = 64, bands = 4` (16-bit band
    * values ⇒ a 65 536-way universe per band — a real block key at
    * web scale, vs the 4-bit bands' 16-way). Pigeonhole soundness
    * (any pair within Hamming ≤ bands−1 keeps ≥1 band identical)
    * holds at every width and is property-tested at BOTH 16-bit and
    * 64-bit in DedupSpec; the join shape is width-independent.
    */
  def blockHashPairs(sigs: DataFrame, maxHamming: Int = 2,
                     bits: Int = 16, bands: Int = 4): DataFrame = {
    require(bands >= 1 && bits % bands == 0 && bits / bands <= 32,
      "bits must split into bands of <= 32 bits")
    require(maxHamming < bands,
      s"$bands-band pigeonhole is sound only for Hamming <= ${bands - 1}")
    val bw = bits / bands
    val mask = (1L << bw) - 1
    val banded = sigs.select(col("doc_id"), col("mime"), col("blockhash"),
        posexplode(expr(
          s"transform(sequence(0, ${bands - 1}), " +
            s"i -> shiftright(blockhash, $bw * i) & $mask)")))
      .select(col("doc_id"), col("mime"), col("blockhash"),
        col("pos").as("band_i"), col("col").as("band_v"))
    val a = banded.select(col("doc_id").as("id_a"), col("mime").as("ma"),
      col("blockhash").as("ha"), col("band_i"), col("band_v"))
    val b = banded.select(col("doc_id").as("id_b"), col("mime").as("mb"),
      col("blockhash").as("hb"), col("band_i").as("bi2"),
      col("band_v").as("bv2"))
    a.join(b, col("ma") === col("mb") && col("band_i") === col("bi2")
        && col("band_v") === col("bv2") && col("id_a") < col("id_b"))
      .select(col("ma").as("mime"), col("id_a"), col("id_b"),
        col("ha"), col("hb"))
      .distinct()
      .withColumn("hamming", bit_count(col("ha").bitwiseXOR(col("hb"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("mime"), col("id_a"), col("id_b"), col("hamming"))
  }

  /** Per-(session, fixture) memo of the blockhash signature /
    * Hamming-pair frames: THREE declared keys (`multimodal_blockhash
    * _pairs`, `multimodal_dedup_components`, plus the facade parity
    * specs) consume the same pure-function-of-fixture results — the
    * fixtureJaccardPairs / fixtureKnnEdges convention. Tag-keyed, so
    * a regenerated fixture recomputes.
    */
  private val sigsMemo = new graft.SessionMemo[DataFrame]
  private val pairsMemo = new graft.SessionMemo[DataFrame]
  private val componentsMemo = new graft.SessionMemo[DataFrame]

  private def fixtureBlockhashSigs(s: SparkSession, d: String): DataFrame =
    sigsMemo.getOrElseUpdate(s,
      graft.sources.WriteOnce.inputTag(d, "documents"),
      defs("multimodal_blockhash")(s, d).ckpt())

  private val dctSigsMemo = new graft.SessionMemo[DataFrame]

  private def fixtureDctSigs(s: SparkSession, d: String): DataFrame =
    dctSigsMemo.getOrElseUpdate(s,
      graft.sources.WriteOnce.inputTag(d, "documents"),
      defs("multimodal_dct_phash")(s, d).ckpt())

  private def fixtureBlockhashPairs(s: SparkSession, d: String): DataFrame =
    pairsMemo.getOrElseUpdate(s,
      graft.sources.WriteOnce.inputTag(d, "documents"),
      blockHashPairs(fixtureBlockhashSigs(s, d), 2).ckpt())

  private def fixtureMediaComponents(s: SparkSession, d: String): DataFrame =
    componentsMemo.getOrElseUpdate(s,
      graft.sources.WriteOnce.inputTag(d, "documents"),
      GraphOps.connectedComponents(
        fixtureBlockhashSigs(s, d).select(col("doc_id").as("id")),
        fixtureBlockhashPairs(s, d)
          .select(col("id_a").as("src"), col("id_b").as("dst"))))

  /** Nearest-aspect-ratio bucket counts and mean sizes over (doc_id, w, h)
    * images. Shared with `GraftEngine.aspectBucket`.
    */
  private[graft] def aspectBucketCore(images: DataFrame): DataFrame = {
    import images.sparkSession.implicits._
    val anchors = Seq((405L, "9:16"), (540L, "3:4"), (720L, "1:1"),
      (960L, "4:3"), (1280L, "16:9")).toDF("anchor", "bucket")
    val W = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id")
      .orderBy(abs(col("ar_u") - col("anchor")), col("anchor"))
    images
      .withColumn("ar_u", expr("(w * 720) DIV h"))
      .crossJoin(broadcast(anchors))
      .withColumn("rn", row_number().over(W))
      .filter(col("rn") === 1)
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_images"),
        sum("w").as("sw"), sum("h").as("sh"))
      .withColumn("avg_width",
        TestData.r4(col("sw").cast("double") / col("n_images")))
      .withColumn("avg_height",
        TestData.r4(col("sh").cast("double") / col("n_images")))
      .select("bucket", "n_images", "avg_width", "avg_height")
      .orderBy("bucket")
  }

  val defs: Map[String, Q] = Map(
    "multimodal_meta" -> ((s, d) =>
      Multimodal.fromDocuments(TestData.documents(s, d))
        .select(col("doc_id"), col("mime"),
          length(col("content")).as("n_bytes"),
          col("width"), col("height"), col("duration_ms"))
        .orderBy("doc_id")),

    "multimodal_frame_sample" -> ((s, d) =>
      Multimodal.sampleFramesStub(
          Multimodal.fromDocuments(TestData.documents(s, d)), 1000L)
        .select("doc_id", "frame_ts_ms")
        .orderBy("doc_id", "frame_ts_ms")),

    // ASPECT-RATIO BUCKETING (round 10): assign every image to the
    // nearest standard training bucket {9:16, 3:4, 1:1, 4:3, 16:9} —
    // the batch-shape grouping an image-training pipeline does so a
    // batch shares one resize target (mixed aspect ratios waste
    // padding). ALL-INTEGER nearest-anchor: the ratio is scaled to
    // 720ths ((w·720) DIV h — 720 is divisible by every anchor
    // denominator, so anchors are exact integers) and the argmin is
    // a rank over the 5-row broadcast anchor table partitioned per
    // image (5 rows per image, never corpus-wide); ties break to the
    // smaller anchor. No logs, no floats until the per-bucket avg
    // readout (r4). The truncating DIV is part of the spec — both
    // engines mirror it exactly.
    "multimodal_aspect_bucket" -> ((s, d) => aspectBucketCore(
      Multimodal.fromDocuments(TestData.documents(s, d))
        .filter(col("mime") === "image/png")
        .select(col("doc_id"), col("width").cast("long").as("w"),
          col("height").cast("long").as("h")))),

    // Bounded-fit resize to 320×240: the metadata arithmetic (scale
    // factor, ceil'd output dims) is the verifiable part — the pixel
    // re-encode is the documented stub. Aspect ratio preserved by a
    // single shared scale; payload untouched.
    "multimodal_resize" -> ((s, d) =>
      Multimodal.resizeStub(
          Multimodal.fromDocuments(TestData.documents(s, d)), 320, 240)
        .select(col("doc_id"), col("mime"), col("width"), col("height"),
          length(col("content")).as("n_bytes"))
        .orderBy("doc_id")),

    // Payload-hash dedup over the BINARY column: one hash-groupBy of
    // md5(content) per mime — exact media dedup (re-uploaded files,
    // mirrored assets) in the same one-shuffle shape as
    // dedup_exact_hash. The oracle hashes the source text: the
    // payload IS its UTF-8 bytes, and DuckDB 1.0 has no BLOB md5.
    "multimodal_dedup" -> ((s, d) =>
      Multimodal.fromDocuments(TestData.documents(s, d))
        .groupBy(col("mime"), md5(col("content")).as("h"))
        .agg(min(col("doc_id")).as("survivor_id"),
             count(lit(1)).as("n_copies"))
        .select("mime", "survivor_id", "n_copies")
        .orderBy("mime", "survivor_id")),

    // Byte-range chunking of the payload (fixed 256-byte ranges):
    // the blob-processing primitive for chunked upload, content-
    // defined storage, and per-range checksumming — map-side
    // substring arithmetic over the BINARY column, no shuffle. The
    // fixture payload is ASCII text bytes, so the oracle mirrors with
    // text substring (byte ≡ char there); Spark computes on BINARY.
    "multimodal_chunk" -> ((s, d) =>
      Multimodal.fromDocuments(TestData.documents(s, d))
        .withColumn("nb", length(col("content")))
        .withColumn("nc", expr("IF(nb <= 256, 1, ((nb - 1) DIV 256) + 1)"))
        .select(col("doc_id"), posexplode(expr(
          "transform(sequence(0, nc - 1), i -> struct(" +
            "md5(substring(content, i * 256 + 1, 256)) AS h, " +
            "length(substring(content, i * 256 + 1, 256)) AS len))")))
        .select(col("doc_id"), col("pos").as("chunk_id"),
          col("col.h").as("chunk_md5"), col("col.len").as("n_bytes"))
        .orderBy("doc_id", "chunk_id")),

    // Sliding AUDIO feature windows (500 ms width / 250 ms stride)
    // over the duration metadata — the ASR/audio-embedding windowing
    // pass. Pure map-side sequence arithmetic (no shuffle, no decode):
    // at 100 TB the explode fans out per-window WORK UNITS that the
    // (stubbed) decoder consumes partition-locally, exactly like
    // multimodal_frame_sample's frame fan-out.
    "multimodal_audio_windows" -> ((s, d) =>
      Multimodal.fromDocuments(TestData.documents(s, d))
        .filter(col("mime") === "audio/wav")
        .select(col("doc_id"), col("duration_ms"),
          posexplode(expr("sequence(0L, duration_ms - 1, 250L)")))
        .select(col("doc_id"), col("pos").as("win_id"),
          col("col").as("start_ms"),
          least(col("col") + 500L, col("duration_ms")).as("end_ms"))
        .orderBy("doc_id", "win_id")),

    // REAL payload features through the mapPartitions extractor
    // (oracle-checked since r6): byte-histogram Shannon entropy as
    // exact integer micro-bits + exact run-length stats — true
    // functions of the payload bytes, mirrored in DuckDB over the
    // (all-ASCII) text the payload encodes. Only the codec decode
    // itself remains a stub; MultimodalSpec keeps the batch-shape
    // invariants.
    // Block-mean perceptual hash over the BINARY payload (round 7):
    // the image/media NEAR-dup signature (multimodal_dedup is the
    // exact-copy pass; this catches re-encodes/crops that keep the
    // coarse luminance layout). 16 equal byte ranges, bit i = block
    // mean > payload mean, compared cross-multiplied in exact integer
    // arithmetic — map-side only, no shuffle, so hashing 100 TB of
    // media costs one scan; dedup then groups on (mime, blockhash)
    // or Hamming-joins signatures exactly like ann_hamming_topk.
    "multimodal_blockhash" -> ((s, d) =>
      Multimodal.blockHashes(
          Multimodal.fromDocuments(TestData.documents(s, d)), 16)
        .toDF()
        .select(col("doc_id"), col("mime"),
          col("n_bytes").cast("long").as("n_bytes"), col("blockhash"))
        .orderBy("doc_id")),

    // DCT PERCEPTUAL HASH (round 11): the frequency-domain sibling
    // of multimodal_blockhash — pHash's recipe (8×8 tile → 2-D
    // DCT-II → sign of the 15 low-frequency AC coefficients) over
    // the opaque payload bytes. The trig basis is evaluated ONCE in
    // Scala, micro-quantized, and interpolated into BOTH engines as
    // integer literals (ts_spectral_peak protocol), so the whole
    // hash is exact integer arithmetic end-to-end — map-side only,
    // one scan at any corpus size; Hamming pairing reuses the
    // blockHashPairs pigeonhole machinery (15-bit / 3×5-bit bands).
    "multimodal_dct_phash" -> ((s, d) =>
      Multimodal.dctPhashes(
          Multimodal.fromDocuments(TestData.documents(s, d)))
        .toDF()
        .select(col("doc_id"), col("mime"),
          col("n_bytes").cast("long").as("n_bytes"), col("dct_phash"))
        .orderBy("doc_id")),

    // HAAR WAVELET HASH (round 12): the third perceptual-hash family
    // member — blockhash keys on the 1-D byte layout, dctPhash on
    // the frequency shape, the Haar hash on 2-D multiresolution EDGE
    // structure (which quadrant is brighter, where the level-2
    // detail energy points). Two levels of unnormalized Haar =
    // sums/differences ONLY, so unlike the DCT there is no basis to
    // quantize — the hash is exact integer arithmetic end-to-end in
    // both engines. 16 bits: 4 quadrant-vs-global (4·LL2 > total,
    // cross-multiplied) + 12 level-2 detail signs. Map-side one
    // scan; pairs at scale via blockHashPairs(bits=16, bands=4).
    // Constant-tile-0 + DC-shift detail invariance pinned in
    // ClosedFormProps.
    "multimodal_wavelet_hash" -> ((s, d) =>
      Multimodal.waveletHashes(
          Multimodal.fromDocuments(TestData.documents(s, d)))
        .toDF()
        .select(col("doc_id"), col("mime"),
          col("n_bytes").cast("long").as("n_bytes"), col("whash"))
        .orderBy("doc_id")),

    // AVERAGE HASH (round 16): the fifth perceptual-hash member and
    // the family's classic baseline — every wrapped-tile cell
    // compared against the GLOBAL tile mean (cross-multiplied
    // t·64 > Σ, no division), 63 bits (bit 63 = the BIGINT sign bit
    // stays clear; the cell still enters the mean). Sits between
    // blockhash (16 block means) and dhash (56 gradients) on the
    // detail/robustness curve; DC-shift invariant like both.
    // Constant-tile-0 + shift invariance pinned in ClosedFormProps;
    // pairs at scale via blockHashPairs(bits = 63, bands = 4).
    "multimodal_ahash" -> ((s, d) =>
      Multimodal.aHashes(
          Multimodal.fromDocuments(TestData.documents(s, d)))
        .toDF()
        .select(col("doc_id"), col("mime"),
          col("n_bytes").cast("long").as("n_bytes"), col("ahash"))
        .orderBy("doc_id")),

    // GRADIENT DIFFERENCE HASH (round 13): the fourth perceptual-
    // hash family member — dHash keys on local gradient DIRECTION
    // (bit = right neighbor brighter), the cheapest and the most
    // brightness-shift-robust signature (a uniform DC shift cancels
    // in every difference, unlike block means). 56 bits of pure
    // integer comparisons over the wrapped 8×8 tile — no sums, no
    // basis, map-side one scan at any corpus; pairs at scale via
    // blockHashPairs(bits = 56, bands = 4). Shift invariance +
    // constant-tile-0 pinned in ClosedFormProps.
    "multimodal_dhash" -> ((s, d) =>
      Multimodal.dHashes(
          Multimodal.fromDocuments(TestData.documents(s, d)))
        .toDF()
        .select(col("doc_id"), col("mime"),
          col("n_bytes").cast("long").as("n_bytes"), col("dhash"))
        .orderBy("doc_id")),

    // MEDIA DETECTOR AUC (round 14): the eval_detector_auc protocol
    // applied to the PERCEPTUAL-HASH family — which of blockhash
    // (16-bit brightness means) and dhash (56-bit gradients) better
    // separates planted byte-level near-dup media from random
    // same-mime pairs, ranked threshold-free by exact ROC-AUC +
    // step-form PR-AUC. Planting: every 5th doc's payload gets 12
    // appended bytes (id + 1.5e6 — ≡ 0 mod 3, so the variant KEEPS
    // its mime and the positive pair survives the same-mime pair
    // population). Scores are bit-agreement (bits − Hamming); the
    // readout is the shared TextOps.detectorAuc cell grid. Same
    // eval-sample shape as the text AUC (all same-mime pairs of the
    // labeled corpus). The dhash-beats-blockhash ordering on this
    // corpus is pinned in PropertySpec (56 gradient bits vs 16 mean
    // bits — more bits, locality-sensitive to byte edits).
    "eval_media_detector_auc" -> ((s, d) => {
      val docs = TestData.documents(s, d)
        .select("doc_id", "text", "n_chars")
      val planted = docs.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 1500000L).as("doc_id"),
          concat(col("text"), lit(" zq1 zq2 zq3")).as("text"),
          (col("n_chars") + 12).as("n_chars"))
      val media = Multimodal.fromDocuments(docs.unionAll(planted))
        .ckpt() // two hash extractions
      def scoredPairs(sig: DataFrame, hcol: String, bits: Int,
                      name: String): DataFrame = {
        val a = sig.select(col("doc_id").as("id_a"),
          col("mime").as("ma"), col(hcol).as("ha"))
        val b = sig.select(col("doc_id").as("id_b"),
          col("mime").as("mb"), col(hcol).as("hb"))
        a.join(b.hint("shuffle_hash"),
            col("ma") === col("mb") && col("id_a") < col("id_b"))
          .select(col("id_a"), col("id_b"), lit(name).as("detector"),
            (lit(bits.toLong) - bit_count(col("ha")
              .bitwiseXOR(col("hb"))).cast("long")).as("score_u"))
      }
      // NOT ckpt'd (r19, measured): persisting bh/dh to spare the
      // self-join's second hash-kernel pass ran WORSE (runs=6
      // interleaved: 1.38/1.50 -> 1.67/1.58) — the per-doc hash
      // kernels over the ckpt'd media frame are cheaper than the
      // persist round-trip.
      val bh = Multimodal.blockHashes(media, 16).toDF()
        .select("doc_id", "mime", "blockhash")
      val dh = Multimodal.dHashes(media).toDF()
        .select("doc_id", "mime", "dhash")
      val scored = scoredPairs(bh, "blockhash", 16, "blockhash")
        .unionByName(scoredPairs(dh, "dhash", 56, "dhash"))
        .withColumn("is_pos",
          when(col("id_b") === col("id_a") + 1500000L
            && col("id_a") % 5 === 0, 1L).otherwise(0L))
      TextOps.detectorAuc(scored).orderBy("detector")
    }),

    // DCT-HASH NEAR-DUP PAIRS (round 11): Hamming-≤-2 pairs over the
    // 15-bit DCT perceptual hash via the same pigeonhole machinery
    // (3×5-bit bands ⇒ any pair within Hamming ≤ 2 keeps one band
    // identical — sound candidates, exact popcount verify). The
    // 5-bit band universe (32 values) is fixture-sized; at 100 TB
    // compute a 64-bit phash (8×8 AC block) and call blockHashPairs
    // with bits=64, bands=4 exactly as the blockhash docs say.
    // Signatures memoized like the blockhash chain.
    "multimodal_phash_pairs" -> ((s, d) =>
      blockHashPairs(fixtureDctSigs(s, d)
          .select(col("doc_id"), col("mime"),
            col("dct_phash").as("blockhash")),
        maxHamming = 2, bits = 15, bands = 3)
        .orderBy("id_a", "id_b")),

    // MEDIA NEAR-DUP PAIRS (round 8): Hamming-≤-2 pairs over the
    // block-mean perceptual hash via the 4-band pigeonhole join — see
    // `blockHashPairs`. The signature branch is localCheckpoint'd (a
    // self-join recomputes the payload byte-sum per branch otherwise).
    // Oracle stays UNBLOCKED (brute-force popcount over the blockhash
    // CTE) per the blocking-soundness rule.
    "multimodal_blockhash_pairs" -> ((s, d) =>
      fixtureBlockhashPairs(s, d).orderBy("id_a", "id_b")),

    // MEDIA DEDUP GROUPS (round 8): the Hamming-≤-2 pair list closed
    // into connected components — the asset-grain "these N uploads
    // are the same image" verdict a crawl pipeline stores, completing
    // the media dedup story (exact copies → multimodal_dedup,
    // near-dup pairs → blockhash_pairs, GROUPS → here) exactly as
    // dedup_components closes dedup_jaccard_pairs for text. Reuses
    // GraphOps.connectedComponents (the pair list fits its driver
    // finish, so one union-find on the driver); component id = min
    // doc_id, the same survivor convention as every dedup family.
    "multimodal_dedup_components" -> ((s, d) =>
      fixtureMediaComponents(s, d)
        .select(col("id").as("doc_id"), col("comp").as("component"))
        .orderBy("doc_id")),

    // HAMMING THRESHOLD SWEEP (round 13): how many near-dup pairs
    // does each blockhash radius admit, per mime — the
    // threshold-tuning curve a media-dedup rollout reads before
    // picking its radius (the dedup_lsh_tuning analog for Hamming
    // space). Rides the MEMOIZED banded pair frame (sound for the
    // swept radii: 4-band pigeonhole covers Hamming ≤ 3 ⊇ {0,1,2});
    // thresholds expand from that one frame, and a (mime × radius)
    // dimension join keeps empty cells as explicit zeros. Counts are
    // exact integers — nothing to quantize.
    "multimodal_hamming_sweep" -> ((s, d) => {
      import s.implicits._
      val tagged = fixtureBlockhashPairs(s, d)
        .select(col("mime"), col("hamming"),
          explode(array(Seq(0, 1, 2).map(t => lit(t.toLong)): _*))
            .as("radius"))
        .filter(col("hamming") <= col("radius"))
        .groupBy("mime", "radius").agg(count(lit(1)).as("n_pairs"))
      Multimodal.fromDocuments(TestData.documents(s, d))
        .select("mime").distinct()
        .crossJoin(Seq(0L, 1L, 2L).toDF("radius"))
        .join(tagged, Seq("mime", "radius"), "left")
        .withColumn("n_pairs", coalesce(col("n_pairs"), lit(0L)))
        .select("mime", "radius", "n_pairs")
        .orderBy("mime", "radius")
    }),

    // DEDUP SAVINGS (round 13): the storage-ROI line a media-dedup
    // run reports — if every perceptual-dup component collapses to
    // its min-id survivor (the dedup_survivors convention), how many
    // bytes disappear. Consumes the SAME memoized component labels as
    // multimodal_dedup_components (zero extra blockhash work);
    // survivor bytes come from one min(struct(id, bytes)) per
    // component — struct ordering puts min id first, so the pick is
    // the canonical member without a second join. Exact BIGINT byte
    // sums; one r4'd percentage.
    "multimodal_dedup_savings" -> ((s, d) => {
      val sizes = Multimodal.fromDocuments(TestData.documents(s, d))
        .select(col("doc_id").as("id"),
          length(col("content")).cast("long").as("n_bytes"))
      fixtureMediaComponents(s, d)
        .join(sizes, "id")
        .groupBy("comp")
        .agg(count(lit(1)).as("n_items"), sum("n_bytes").as("bytes"),
          min(struct(col("id"), col("n_bytes"))).getField("n_bytes")
            .as("kept"))
        .agg(sum("n_items").as("n_items"),
          count(lit(1)).as("n_components"),
          sum("bytes").as("total_bytes"),
          sum("kept").as("kept_bytes"))
        .withColumn("saved_bytes", col("total_bytes") - col("kept_bytes"))
        .withColumn("savings_pct", when(col("total_bytes") > 0,
          TestData.r4(col("saved_bytes").cast("double")
            / col("total_bytes").cast("double"))))
        .select("n_items", "n_components", "total_bytes", "kept_bytes",
          "saved_bytes", "savings_pct")
    }),

    "multimodal_features" -> ((s, d) =>
      Multimodal.extractFeatures(
          Multimodal.fromDocuments(TestData.documents(s, d)))
        .toDF()
        .select(col("doc_id"), col("mime"),
          col("n_bytes").cast("long").as("n_bytes"),
          col("entropy_ubits"),
          col("n_runs").cast("long").as("n_runs"),
          col("max_run").cast("long").as("max_run"))
        .orderBy("doc_id"))
  )

  /** Shared blockhash derivation (doc → 16-bit perceptual hash), the
    * oracle-side mirror of `Multimodal.blockHashes` — one definition
    * feeds both the signature key and the pairs key so they cannot
    * drift.
    */
  /** Shared DuckDB CTE chain ending in `ph(doc_id, mime, n_bytes,
    * dct_phash)` — the integer DCT pHash over the wrapped 8×8 byte
    * tile with the Scala-computed micro basis interpolated in.
    */
  private val dctPhashCtes: String =
    s"""m AS (
      |  SELECT doc_id,
      |    ['image/png', 'audio/wav', 'video/mp4'][(doc_id % 3)::INT + 1]
      |      AS mime,
      |    text, length(text) AS n
      |  FROM documents),
      |co AS (SELECT [${graft.multimodal.Multimodal.dctBasisMicro
                        .mkString(", ")}] AS cu),
      |pos AS (
      |  SELECT doc_id, mime, n, p,
      |    ascii(text[((p % n) + 1)::INT : ((p % n) + 1)::INT])::BIGINT
      |      AS bv
      |  FROM m, LATERAL (SELECT unnest(range(0, 64)) AS p)),
      |f AS (
      |  SELECT doc_id, mime, n, u, v,
      |    sum(bv * cu[(u * 8 + (p // 8) + 1)::INT]
      |           * cu[(v * 8 + (p % 8) + 1)::INT])::BIGINT AS fv
      |  FROM pos, co,
      |    LATERAL (SELECT unnest(range(0, 4)) AS u),
      |    LATERAL (SELECT unnest(range(0, 4)) AS v)
      |  WHERE u <> 0 OR v <> 0
      |  GROUP BY 1, 2, 3, 4, 5),
      |ph AS (
      |  SELECT doc_id, mime, n::BIGINT AS n_bytes,
      |    sum(CASE WHEN fv > 0 THEN 1::BIGINT << (u * 4 + v - 1)::INT
      |        ELSE 0 END)::BIGINT AS dct_phash
      |  FROM f GROUP BY 1, 2, 3)""".stripMargin

  /** dHash oracle CTEs (gradient hash, 56 bits), parameterized by
    * the (doc_id, text) source CTE so the planted media-AUC corpus
    * can reuse them verbatim.
    */
  private def dhashCtes(src: String = "documents"): String =
    s"""dm AS (
      |  SELECT doc_id,
      |    ['image/png', 'audio/wav', 'video/mp4'][(doc_id % 3)::INT + 1]
      |      AS mime,
      |    text, length(text) AS n
      |  FROM $src),
      |dpos AS (
      |  SELECT doc_id, mime, n,
      |    (p // 8) * 7 + (p % 8) AS bitpos,
      |    ascii(text[((p % n) + 1)::INT : ((p % n) + 1)::INT])::BIGINT
      |      AS bv,
      |    ascii(text[(((p + 1) % n) + 1)::INT
      |      : (((p + 1) % n) + 1)::INT])::BIGINT AS bnext
      |  FROM dm, LATERAL (SELECT unnest(range(0, 64)) AS p)
      |  WHERE p % 8 < 7),
      |dh AS (
      |  SELECT doc_id, mime, n::BIGINT AS n_bytes,
      |    sum(CASE WHEN bnext > bv
      |      THEN 1::BIGINT << bitpos::INT ELSE 0 END)::BIGINT AS dhash
      |  FROM dpos GROUP BY 1, 2, 3)""".stripMargin

  private def blockhashCtes(src: String = "documents"): String =
    s"""m AS (
      |  SELECT doc_id,
      |    ['image/png', 'audio/wav', 'video/mp4'][(doc_id % 3)::INT + 1] AS mime,
      |    text, length(text) AS n,
      |    list_sum(list_transform(range(1, length(text) + 1),
      |      j -> ascii(text[j:j])))::BIGINT AS tsum
      |  FROM $src),
      |s AS (
      |  SELECT doc_id, mime, n, tsum, i,
      |    ((i + 1) * n) // 16 - (i * n) // 16 AS blen,
      |    CASE WHEN ((i + 1) * n) // 16 > (i * n) // 16 THEN
      |      list_sum(list_transform(
      |        range((i * n) // 16 + 1, ((i + 1) * n) // 16 + 1),
      |        j -> ascii(text[j:j])))::BIGINT
      |    ELSE 0 END AS bsum
      |  FROM m, LATERAL (SELECT unnest(range(16)) AS i)),
      |bh AS (
      |  SELECT doc_id, mime, n AS n_bytes,
      |    sum(CASE WHEN blen > 0 AND bsum * n > tsum * blen
      |        THEN 1::BIGINT << i ELSE 0 END)::BIGINT AS blockhash
      |  FROM s GROUP BY doc_id, mime, n)""".stripMargin

  val oracles: Map[String, String] = Map(
    "multimodal_meta" ->
      """SELECT doc_id,
        |  ['image/png', 'audio/wav', 'video/mp4'][(doc_id % 3)::INT + 1] AS mime,
        |  octet_length(encode(text)) AS n_bytes,
        |  ((n_chars % 640) + 1)::INT AS width,
        |  ((n_chars % 480) + 1)::INT AS height,
        |  n_chars * 40 AS duration_ms
        |FROM documents ORDER BY doc_id""".stripMargin,
    // Same 720ths integer ratio + 5-row anchor rank, mirrored DIV.
    "multimodal_aspect_bucket" ->
      """WITH img AS (
        |  SELECT doc_id, ((n_chars % 640) + 1)::BIGINT AS w,
        |    ((n_chars % 480) + 1)::BIGINT AS h
        |  FROM documents WHERE doc_id % 3 = 0),
        |ar AS (SELECT doc_id, w, h, ((w * 720) // h)::BIGINT AS ar_u
        |       FROM img),
        |an AS (SELECT * FROM (VALUES (405, '9:16'), (540, '3:4'),
        |  (720, '1:1'), (960, '4:3'), (1280, '16:9')) t(anchor, bucket)),
        |rk AS (
        |  SELECT ar.doc_id, ar.w, ar.h, an.bucket,
        |    row_number() OVER (PARTITION BY ar.doc_id
        |      ORDER BY abs(ar.ar_u - an.anchor), an.anchor) AS rn
        |  FROM ar CROSS JOIN an)
        |SELECT bucket, count(*)::BIGINT AS n_images,
        |  floor(sum(w)::DOUBLE / count(*)::DOUBLE * 10000 + 0.5) / 10000
        |    AS avg_width,
        |  floor(sum(h)::DOUBLE / count(*)::DOUBLE * 10000 + 0.5) / 10000
        |    AS avg_height
        |FROM rk WHERE rn = 1 GROUP BY 1 ORDER BY bucket""".stripMargin,
    "multimodal_frame_sample" ->
      """SELECT doc_id, unnest(range(0, n_chars * 40, 1000)) AS frame_ts_ms
        |FROM documents WHERE (doc_id % 3) = 2
        |ORDER BY doc_id, frame_ts_ms""".stripMargin,
    "multimodal_audio_windows" ->
      """WITH m AS (
        |  SELECT doc_id, n_chars * 40 AS duration_ms FROM documents
        |  WHERE (doc_id % 3) = 1),
        |w AS (
        |  SELECT doc_id, duration_ms,
        |    unnest(range(0, duration_ms, 250)) AS start_ms FROM m)
        |SELECT doc_id, (start_ms // 250)::INT AS win_id, start_ms,
        |  least(start_ms + 500, duration_ms) AS end_ms
        |FROM w ORDER BY doc_id, win_id""".stripMargin,
    "multimodal_resize" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    ['image/png', 'audio/wav', 'video/mp4'][(doc_id % 3)::INT + 1] AS mime,
        |    ((n_chars % 640) + 1)::INT AS w0,
        |    ((n_chars % 480) + 1)::INT AS h0,
        |    octet_length(encode(text)) AS n_bytes
        |  FROM documents),
        |r AS (
        |  SELECT *, least(1.0, least(320.0 / w0, 240.0 / h0)) AS scale FROM m)
        |SELECT doc_id, mime,
        |  ceil(w0 * scale)::INT AS width, ceil(h0 * scale)::INT AS height,
        |  n_bytes
        |FROM r ORDER BY doc_id""".stripMargin,
    "multimodal_dedup" ->
      """SELECT ['image/png', 'audio/wav', 'video/mp4'][(doc_id % 3)::INT + 1] AS mime,
        |  min(doc_id) AS survivor_id, count(*)::BIGINT AS n_copies
        |FROM documents
        |GROUP BY 1, md5(text)
        |ORDER BY mime, survivor_id""".stripMargin,
    "multimodal_chunk" ->
      """WITH t AS (
        |  SELECT doc_id, text, length(text) AS nb FROM documents),
        |n AS (
        |  SELECT doc_id, text,
        |    CASE WHEN nb <= 256 THEN 1 ELSE ((nb - 1) // 256) + 1 END AS nc
        |  FROM t)
        |SELECT doc_id, i AS chunk_id,
        |  md5(substring(text, (i * 256 + 1)::INT, 256)) AS chunk_md5,
        |  length(substring(text, (i * 256 + 1)::INT, 256)) AS n_bytes
        |FROM n, LATERAL (SELECT unnest(range(0, nc)) AS i)
        |ORDER BY doc_id, chunk_id""".stripMargin,
    // Byte ≡ char on the all-ASCII fixture; block bounds (i·n)//16
    // and the cross-multiplied mean compare are pure integer
    // arithmetic on both engines. list_sum floats through DOUBLE in
    // DuckDB → ::BIGINT at every sum (values ≪ 2^53, exact).
    "multimodal_blockhash" ->
      s"""WITH ${blockhashCtes()}
        |SELECT doc_id, mime, n_bytes, blockhash
        |FROM bh ORDER BY doc_id""".stripMargin,
    // Byte ≡ char on the all-ASCII fixture; the DCT basis enters as
    // the SAME Scala-computed integer literals the key uses (no
    // transcendental in either engine); tile wraps at (p % n) + 1.
    "multimodal_dct_phash" ->
      s"""WITH $dctPhashCtes
        |SELECT doc_id, mime, n_bytes, dct_phash
        |FROM ph ORDER BY doc_id""".stripMargin,
    // Unnormalized Haar = integer sums/differences only: each level-2
    // coefficient is a ±1-weighted quadrant sum; the quadrant bit is
    // the cross-multiplied 4·LL2 > total compare. Tile wraps at
    // (p % n) + 1 like the DCT oracle.
    "multimodal_wavelet_hash" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    ['image/png', 'audio/wav', 'video/mp4'][(doc_id % 3)::INT + 1]
        |      AS mime,
        |    text, length(text) AS n
        |  FROM documents),
        |pos AS (
        |  SELECT doc_id, mime, n,
        |    ascii(text[((p % n) + 1)::INT : ((p % n) + 1)::INT])::BIGINT
        |      AS bv,
        |    ((p // 8) // 4) * 2 + ((p % 8) // 4) AS q,
        |    CASE WHEN (p % 8) % 4 < 2 THEN 1 ELSE -1 END AS sh,
        |    CASE WHEN (p // 8) % 4 < 2 THEN 1 ELSE -1 END AS sv
        |  FROM m, LATERAL (SELECT unnest(range(0, 64)) AS p)),
        |qs AS (
        |  SELECT doc_id, mime, n, q,
        |    sum(bv)::BIGINT AS ll, sum(sh * bv)::BIGINT AS hl,
        |    sum(sv * bv)::BIGINT AS lh, sum(sh * sv * bv)::BIGINT AS hh,
        |    (sum(sum(bv)) OVER (PARTITION BY doc_id))::BIGINT AS total
        |  FROM pos GROUP BY 1, 2, 3, 4),
        |wh AS (
        |  SELECT doc_id, mime, n::BIGINT AS n_bytes,
        |    sum(
        |      (CASE WHEN 4 * ll > total
        |         THEN 1::BIGINT << q::INT ELSE 0 END)
        |      + (CASE WHEN hl > 0
        |         THEN 1::BIGINT << (4 + q)::INT ELSE 0 END)
        |      + (CASE WHEN lh > 0
        |         THEN 1::BIGINT << (8 + q)::INT ELSE 0 END)
        |      + (CASE WHEN hh > 0
        |         THEN 1::BIGINT << (12 + q)::INT ELSE 0 END))::BIGINT
        |      AS whash
        |  FROM qs GROUP BY 1, 2, 3)
        |SELECT doc_id, mime, n_bytes, whash
        |FROM wh ORDER BY doc_id""".stripMargin,
    // Pure integer neighbor compares over the wrapped tile; bit
    // index r·7+c from the 0..55 gradient positions.
    "multimodal_dhash" ->
      s"""WITH ${dhashCtes()}
        |SELECT doc_id, mime, n_bytes, dhash
        |FROM dh ORDER BY doc_id""".stripMargin,
    // Wrapped tile, cell-vs-global-mean cross-multiplied, 63 bits.
    "multimodal_ahash" ->
      """WITH am AS (
        |  SELECT doc_id,
        |    ['image/png', 'audio/wav', 'video/mp4'][(doc_id % 3)::INT + 1]
        |      AS mime,
        |    text, length(text) AS n,
        |    list_sum(list_transform(range(0, 64),
        |      p -> ascii(text[((p % length(text)) + 1)::INT
        |        : ((p % length(text)) + 1)::INT])))::BIGINT AS ts64
        |  FROM documents),
        |apos AS (
        |  SELECT doc_id, mime, n, ts64, p,
        |    ascii(text[((p % n) + 1)::INT : ((p % n) + 1)::INT])::BIGINT
        |      AS bv
        |  FROM am, LATERAL (SELECT unnest(range(0, 63)) AS p)),
        |ah AS (
        |  SELECT doc_id, mime, n::BIGINT AS n_bytes,
        |    sum(CASE WHEN bv * 64 > ts64
        |      THEN 1::BIGINT << p::INT ELSE 0 END)::BIGINT AS ahash
        |  FROM apos GROUP BY 1, 2, 3)
        |SELECT doc_id, mime, n_bytes, ahash
        |FROM ah ORDER BY doc_id""".stripMargin,
    // Planted byte-variant corpus (offset 1.5e6 keeps the mime),
    // both hash CTEs re-run over it, bit-agreement scores, then the
    // shared detector-AUC cell-grid readout.
    "eval_media_detector_auc" ->
      s"""WITH pcorpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1500000, text || ' zq1 zq2 zq3'
        |  FROM documents WHERE doc_id % 5 = 0),
        |${blockhashCtes("pcorpus")},
        |${dhashCtes("pcorpus")},
        |bp AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    'blockhash' AS detector,
        |    (16 - bit_count(xor(a.blockhash, b.blockhash)))::BIGINT
        |      AS score_u
        |  FROM bh a JOIN bh b ON a.mime = b.mime AND a.doc_id < b.doc_id),
        |dp AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, 'dhash' AS detector,
        |    (56 - bit_count(xor(a.dhash, b.dhash)))::BIGINT AS score_u
        |  FROM dh a JOIN dh b ON a.mime = b.mime AND a.doc_id < b.doc_id),
        |scored AS (
        |  SELECT detector, score_u,
        |    CASE WHEN id_b = id_a + 1500000 AND id_a % 5 = 0
        |      THEN 1 ELSE 0 END AS is_pos
        |  FROM (SELECT * FROM bp UNION ALL SELECT * FROM dp))
        |${TextOps.DetectorAucReadoutSql}""".stripMargin,
    // Brute-force popcount over the SAME dct-phash CTEs — the Spark
    // side's 3×5-bit pigeonhole banding is sound (candidates ⊇
    // matches within Hamming ≤ 2), so the oracle stays unblocked.
    "multimodal_phash_pairs" ->
      s"""WITH $dctPhashCtes
        |SELECT a.mime AS mime, a.doc_id AS id_a, b.doc_id AS id_b,
        |  bit_count(xor(a.dct_phash, b.dct_phash))::INT AS hamming
        |FROM ph a JOIN ph b
        |  ON a.mime = b.mime AND a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.dct_phash, b.dct_phash)) <= 2
        |ORDER BY id_a, id_b""".stripMargin,
    // Brute-force popcount pairs over the SAME blockhash CTEs — the
    // Spark side's band blocking is sound (candidates ⊇ matches), so
    // the oracle stays unblocked. bit_count returns TINYINT → ::INT
    // to match Spark's int.
    "multimodal_blockhash_pairs" ->
      s"""WITH ${blockhashCtes()}
        |SELECT a.mime AS mime, a.doc_id AS id_a, b.doc_id AS id_b,
        |  bit_count(xor(a.blockhash, b.blockhash))::INT AS hamming
        |FROM bh a JOIN bh b
        |  ON a.mime = b.mime AND a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.blockhash, b.blockhash)) <= 2
        |ORDER BY id_a, id_b""".stripMargin,
    // Transitive closure over the same brute-force pair edges
    // (dedup_components recursive-CTE precedent); edges stay
    // intra-mime by construction.
    // UNBLOCKED brute-force pairs per the blocking-soundness rule;
    // mime dimension from the fixture's mime expression.
    "multimodal_hamming_sweep" ->
      s"""WITH ${blockhashCtes()},
        |pairs AS (
        |  SELECT a.mime,
        |    bit_count(xor(a.blockhash, b.blockhash)) AS hamming
        |  FROM bh a JOIN bh b ON a.mime = b.mime AND a.doc_id < b.doc_id),
        |tg AS (
        |  SELECT mime, radius, count(*)::BIGINT AS n_pairs
        |  FROM pairs, LATERAL (SELECT unnest([0, 1, 2]) AS radius)
        |  WHERE hamming <= radius GROUP BY 1, 2),
        |md AS (
        |  SELECT DISTINCT
        |    ['image/png', 'audio/wav', 'video/mp4'][(doc_id % 3)::INT + 1]
        |      AS mime
        |  FROM documents),
        |dim AS (
        |  SELECT mime, radius
        |  FROM md, LATERAL (SELECT unnest([0, 1, 2]) AS radius))
        |SELECT dim.mime, dim.radius::BIGINT AS radius,
        |  coalesce(tg.n_pairs, 0)::BIGINT AS n_pairs
        |FROM dim LEFT JOIN tg
        |  ON dim.mime = tg.mime AND dim.radius = tg.radius
        |ORDER BY dim.mime, dim.radius""".stripMargin,
    // Same recursive component closure; survivor = min doc_id member;
    // byte ≡ char on the all-ASCII fixture (the features precedent).
    "multimodal_dedup_savings" ->
      s"""WITH RECURSIVE ${blockhashCtes()},
        |edges AS (
        |  SELECT a.doc_id AS src, b.doc_id AS dst
        |  FROM bh a JOIN bh b ON a.mime = b.mime AND a.doc_id <> b.doc_id
        |  WHERE bit_count(xor(a.blockhash, b.blockhash)) <= 2),
        |reach(a, b) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src),
        |comp AS (SELECT a AS id, min(b) AS comp FROM reach GROUP BY a),
        |sz AS (SELECT doc_id AS id, length(text)::BIGINT AS n_bytes
        |       FROM documents),
        |j AS (SELECT comp.comp, comp.id, sz.n_bytes
        |      FROM comp JOIN sz USING (id)),
        |per AS (
        |  SELECT comp, count(*)::BIGINT AS n_items,
        |    sum(n_bytes)::BIGINT AS bytes,
        |    arg_min(n_bytes, id)::BIGINT AS kept
        |  FROM j GROUP BY 1),
        |a AS (
        |  SELECT sum(n_items)::BIGINT AS n_items,
        |    count(*)::BIGINT AS n_components,
        |    sum(bytes)::BIGINT AS total_bytes,
        |    sum(kept)::BIGINT AS kept_bytes
        |  FROM per)
        |SELECT n_items, n_components, total_bytes, kept_bytes,
        |  (total_bytes - kept_bytes)::BIGINT AS saved_bytes,
        |  CASE WHEN total_bytes > 0 THEN
        |    floor((total_bytes - kept_bytes)::DOUBLE / total_bytes::DOUBLE
        |      * 10000 + 0.5) / 10000 END AS savings_pct
        |FROM a""".stripMargin,
    "multimodal_dedup_components" ->
      s"""WITH RECURSIVE ${blockhashCtes()},
        |edges AS (
        |  SELECT a.doc_id AS src, b.doc_id AS dst
        |  FROM bh a JOIN bh b ON a.mime = b.mime AND a.doc_id <> b.doc_id
        |  WHERE bit_count(xor(a.blockhash, b.blockhash)) <= 2),
        |reach(a, b) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src)
        |SELECT a AS doc_id, min(b) AS component
        |FROM reach GROUP BY a ORDER BY doc_id""".stripMargin,
    // Byte ≡ char on this fixture (verified all-ASCII), so the text
    // mirrors the BINARY payload exactly. Entropy terms quantized to
    // integer micro-bits BEFORE the sum on both sides — identical op
    // order (−p·ln p)/ln 2 — so the aggregate is order-free exact.
    "multimodal_features" ->
      """WITH b AS (
        |  SELECT doc_id, text, length(text) AS n FROM documents),
        |ch AS (
        |  SELECT doc_id, n, i, substring(text, i::INT, 1) AS c
        |  FROM b, LATERAL (SELECT unnest(range(1, n + 1)) AS i)),
        |hist AS (
        |  SELECT doc_id, any_value(n) AS n, count(*) AS cnt
        |  FROM ch GROUP BY doc_id, c),
        |ent AS (
        |  SELECT doc_id,
        |    sum(floor((-(cnt::DOUBLE / n) * ln(cnt::DOUBLE / n) / ln(2))
        |        * 1000000 + 0.5))::BIGINT AS entropy_ubits
        |  FROM hist GROUP BY doc_id),
        |r AS (
        |  SELECT doc_id, i, c,
        |    CASE WHEN lag(c) OVER (PARTITION BY doc_id ORDER BY i)
        |              IS DISTINCT FROM c THEN 1 ELSE 0 END AS brk
        |  FROM ch),
        |g AS (SELECT doc_id,
        |        sum(brk) OVER (PARTITION BY doc_id ORDER BY i) AS grp FROM r),
        |rl AS (SELECT doc_id, grp, count(*) AS rl FROM g GROUP BY doc_id, grp),
        |rs AS (SELECT doc_id, count(*)::BIGINT AS n_runs,
        |         max(rl)::BIGINT AS max_run FROM rl GROUP BY doc_id)
        |SELECT b.doc_id AS doc_id,
        |  ['image/png', 'audio/wav', 'video/mp4'][(b.doc_id % 3)::INT + 1] AS mime,
        |  b.n::BIGINT AS n_bytes,
        |  coalesce(ent.entropy_ubits, 0) AS entropy_ubits,
        |  coalesce(rs.n_runs, 0) AS n_runs,
        |  coalesce(rs.max_run, 0) AS max_run
        |FROM b LEFT JOIN ent ON b.doc_id = ent.doc_id
        |LEFT JOIN rs ON b.doc_id = rs.doc_id
        |ORDER BY doc_id""".stripMargin
  )
}
