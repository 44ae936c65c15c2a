package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: media (image/audio/video) as opaque `binary`
  * payload columns plus typed metadata, with decode / feature-extraction
  * staged as a `mapPartitions` over the binary batch (SURVEY §2b).
  *
  * The actual codec is STUBBED — this container has no image/audio
  * libraries — with a deterministic fake decoder, so the Spark-side contract
  * (schema, batch iteration, partitioning, feature array shape) is real and
  * tested while the codec is swappable.
  *
  * Scale notes: payloads never enter a shuffle — decode happens map-side
  * straight off the scan, and only the (small) features/metadata survive
  * into downstream joins. Partition sizing for fat binary rows is the same
  * concern as the meter raw table (46 KB/row): bound
  * spark.sql.files.maxPartitionBytes so a partition of payloads fits in
  * executor memory.
  */
object Multimodal {

  case class MediaRow(doc_id: Long, payload: Array[Byte], media_type: String)
  case class DecodedRow(doc_id: Long, media_type: String, n_bytes: Int,
      width: Int, height: Int, features: Array[Float])

  /** The decoder seam (round-10): a real codec (ImageIO, a JNI binding,
    * an Arrow-batched native lib) drops in by implementing this ONE
    * method; every downstream contract — schema, mapPartitions batch
    * shape, map-side-only placement, feature-array sizing — is
    * decoder-agnostic and stays certified as-is (mm1–mm3 run against
    * whatever decoder is passed; the gate pins the stub). Instances ship
    * inside task closures, hence Serializable; implementations must be
    * thread-safe (one instance serves a whole executor). */
  trait ImageDecoder extends Serializable {
    /** payload bytes → (width, height, feature vector). */
    def decode(payload: Array[Byte]): (Int, Int, Array[Float])

    /** 9×8 grayscale grid (72 cells, each 0..255, row-major) — the
      * canonical input of difference-hashing ([[dHash]]). Real codecs
      * box-downsample true luma ([[ImageIoDecoder]]); the stub derives
      * the grid deterministically from payload bytes so the gate's SQL
      * oracle can replay the whole hash from the stored payload. */
    def grayGrid(payload: Array[Byte]): Array[Int]
  }

  /** The environment-bound default for the GATE rows: the oracle must
    * replay features in SQL, so the deterministic stub stands in there.
    * [[ImageIoDecoder]] below is the real-bytes drop-in. */
  object StubImageDecoder extends ImageDecoder {
    def decode(payload: Array[Byte]): (Int, Int, Array[Float]) =
      decodeStub(payload)

    /** Stub grid: cell c = (Σ payload bytes at positions ≡ c mod 72)
      * mod 256 — byte stripes, like [[decodeStub]]'s features but at
      * dHash's 72-cell geometry. Pure integer byte arithmetic: the
      * oracle replays it with ord() over the stored text payload. */
    def grayGrid(payload: Array[Byte]): Array[Int] = {
      val out = new Array[Int](72)
      val acc = new Array[Long](72)
      var p = 0
      while (p < payload.length) {
        acc(p % 72) += (payload(p) & 0xff)
        p += 1
      }
      var c = 0
      while (c < 72) { out(c) = (acc(c) % 256L).toInt; c += 1 }
      out
    }
  }

  /** REAL image decoder over the JDK's own codec (`javax.imageio` —
    * PNG/JPEG/GIF/BMP ship with every JRE; no external library, works
    * offline): parses the payload into a BufferedImage and emits true
    * (width, height) plus an 8-bin luma histogram, L1-normalized — a
    * deterministic, resolution-independent feature (the round-10 seam's
    * promised drop-in). Decode failures THROW with the media context
    * rather than fabricating pixels — a curation pipeline wants corrupt
    * payloads surfaced (filter or quarantine upstream), not silently
    * embedded. Thread-safe: `ImageIO.read` allocates a fresh reader per
    * call; the in-memory stream avoids ImageIO's global disk cache. */
  object ImageIoDecoder extends ImageDecoder {
    private def readImage(payload: Array[Byte]): java.awt.image.BufferedImage = {
      val img = javax.imageio.ImageIO.read(
        new javax.imageio.stream.MemoryCacheImageInputStream(
          new java.io.ByteArrayInputStream(payload)))
      if (img == null) {
        throw new IllegalArgumentException(
          s"ImageIoDecoder: unrecognized image payload (${payload.length} bytes)")
      }
      img
    }

    def decode(payload: Array[Byte]): (Int, Int, Array[Float]) = {
      val img = readImage(payload)
      val w = img.getWidth
      val h = img.getHeight
      // one bulk conversion per image (per-pixel getRGB(x, y) pays a
      // ColorModel conversion PER CALL — dominant on 3BYTE_BGR JPEGs)
      val px = img.getRGB(0, 0, w, h, null, 0, w)
      val hist = new Array[Long](8)
      var i = 0
      while (i < px.length) {
        val rgb = px(i)
        // integer BT.601 luma in [0, 255] → 8 bins of 32
        val luma = (299 * ((rgb >> 16) & 0xff) + 587 * ((rgb >> 8) & 0xff)
          + 114 * (rgb & 0xff)) / 1000
        hist(luma >> 5) += 1
        i += 1
      }
      val n = (w.toLong * h).toFloat
      (w, h, hist.map(_ / n))
    }

    /** True dHash geometry: box-average integer BT.601 luma into 9×8
      * cells (each box at least one pixel — boxes cover the image for
      * any w ≥ 9, h ≥ 8 and degrade to pixel-sampling below that). */
    def grayGrid(payload: Array[Byte]): Array[Int] = {
      val img = readImage(payload)
      val w = img.getWidth
      val h = img.getHeight
      val px = img.getRGB(0, 0, w, h, null, 0, w)
      val out = new Array[Int](72)
      var r = 0
      while (r < 8) {
        var c = 0
        while (c < 9) {
          val x0 = c * w / 9; val x1 = math.max((c + 1) * w / 9, x0 + 1)
          val y0 = r * h / 8; val y1 = math.max((r + 1) * h / 8, y0 + 1)
          var sum = 0L
          var y = y0
          while (y < y1) {
            var x = x0
            while (x < x1) {
              val rgb = px(y * w + x)
              sum += (299 * ((rgb >> 16) & 0xff) + 587 * ((rgb >> 8) & 0xff)
                + 114 * (rgb & 0xff)) / 1000
              x += 1
            }
            y += 1
          }
          out(r * 9 + c) = (sum / ((x1 - x0).toLong * (y1 - y0))).toInt
          c += 1
        }
        r += 1
      }
      out
    }
  }

  /** STUB decoder — deterministic fake standing in for an image codec.
    * Real implementation would parse the container format here. */
  def decodeStub(payload: Array[Byte]): (Int, Int, Array[Float]) = {
    val n = payload.length
    val width = 16 + (n % 624)   // fake dimensions derived from size
    val height = 16 + ((n / 7) % 464)
    val features = Array.tabulate(8) { i =>
      // fake feature: byte-sum of the i-th stripe, normalized
      var s = 0L
      var j = i
      while (j < n) { s += (payload(j) & 0xff); j += 8 }
      (s % 1000L).toFloat / 1000.0f
    }
    (width, height, features)
  }

  /** Attach a binary payload column (here: utf-8 bytes of a text column as
    * the stand-in payload; real pipelines read files or blob columns). */
  def withPayload(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("payload", encode(col(textCol), "UTF-8"))
      .withColumn("media_type", lit("image/fake"))

  /** Batch decode via mapPartitions: one JVM-side pass per partition,
    * mirroring an Arrow-batched UDF's shape (iterator in → iterator out). */
  def decode(media: Dataset[MediaRow],
      decoder: ImageDecoder = StubImageDecoder): Dataset[DecodedRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.map { r =>
        val (w, h, feats) = decoder.decode(r.payload)
        DecodedRow(r.doc_id, r.media_type, r.payload.length, w, h, feats)
      }
    }
  }

  /** End-to-end: documents → payload → decode → features table. */
  def featureTable(spark: SparkSession, docs: DataFrame,
      decoder: ImageDecoder = StubImageDecoder): DataFrame = {
    import spark.implicits._
    val media = withPayload(docs, "text")
      .select(col("doc_id"), col("payload"), col("media_type"))
      .as[MediaRow]
    decode(media, decoder).toDF()
  }

  case class PHashRow(doc_id: Long, ph_lo: Long, ph_hi: Long)

  /** Perceptual difference-hash (dHash): 64 bits, bit (r, c) set iff
    * grayGrid cell (r, c+1) is strictly brighter than (r, c) over the
    * decoder's 9×8 grid — the standard image near-dup fingerprint
    * (aHash/dHash/pHash family; dHash is the gradient variant that
    * survives brightness/contrast shifts). Held as two 32-bit words in
    * BIGINTs, the e14 sign-sketch layout (no 1<<63 sign edge case, and
    * the same XOR+popcount pairing machinery applies).
    *
    * Runs in the justified mapPartitions decode stage (payload bytes →
    * 16 bytes; payloads never shuffle); with [[StubImageDecoder]] the
    * grid is replayable byte arithmetic for the gate oracle, with
    * [[ImageIoDecoder]] it is true box-downsampled luma. */
  def dHash(media: Dataset[MediaRow],
      decoder: ImageDecoder = StubImageDecoder): DataFrame = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.map { r =>
        val (lo, hi) = packDHash(decoder.grayGrid(r.payload))
        PHashRow(r.doc_id, lo, hi)
      }
    }.toDF()
  }

  /** Integer per-mille byte-sum energy of `payload[lo, hi)` — the
    * single home of the STUB frame-energy arithmetic (a real codec's
    * PCM RMS / frame luminance swaps in here), shared by
    * [[sampleAudioFrames]], [[keyframeHashes]], and
    * [[audioFingerprints]] so the three framings can never drift
    * byte-wise from each other or their oracles. */
  private def frameEnergyPm(payload: Array[Byte], lo: Int, hi: Int): Long = {
    var s = 0L
    var j = lo
    while (j < hi) { s += (payload(j) & 0xff); j += 1 }
    s * 1000L / (255L * (hi - lo))
  }

  /** The 72-cell grid → two 32-bit gradient words — the single home of
    * the dHash bit layout, shared by [[dHash]] (whole images) and
    * [[keyframeHashes]] (per-scene video keyframes). */
  private def packDHash(g: Array[Int]): (Long, Long) = {
    var lo = 0L
    var hi = 0L
    var b = 0
    while (b < 64) {
      val row = b / 8
      val c = b % 8
      if (g(row * 9 + c + 1) > g(row * 9 + c)) {
        if (b < 32) lo |= 1L << b else hi |= 1L << (b - 32)
      }
      b += 1
    }
    (lo, hi)
  }

  /** [[dHash]] rows exploded into the 4×16-bit chunk layout the shared
    * SimHash banded machinery consumes. */
  private def phashChunks(hashes: DataFrame): DataFrame =
    hashes.select(col("doc_id").as("id"),
      col("ph_lo"), col("ph_hi"),
      posexplode(array(
        col("ph_lo").bitwiseAND(lit(65535L)),
        shiftright(col("ph_lo"), 16).bitwiseAND(lit(65535L)),
        col("ph_hi").bitwiseAND(lit(65535L)),
        shiftright(col("ph_hi"), 16).bitwiseAND(lit(65535L))))
        .as(Seq("chunk", "chunk_val")))

  private def twoWordHamming: Column =
    (bit_count(col("ph_lo_a").bitwiseXOR(col("ph_lo_b"))) +
      bit_count(col("ph_hi_a").bitwiseXOR(col("ph_hi_b"))))

  /** Near-duplicate image pairs by Hamming distance over [[dHash]]es:
    * the 64-bit hash splits into four 16-bit chunks, so any pair within
    * Hamming distance 3 shares at least one exact chunk (pigeonhole —
    * the SimHash d8/d13 chunk-join contract); candidate pairs come from
    * a bucket self-join on (chunk index, chunk value) and only they pay
    * the exact XOR+popcount verify. `maxBucket` df-caps a degenerate
    * bucket (near-constant images: a flat corpus would otherwise make
    * one bucket quadratic — d6's BETWEEN 2 AND cap contract; capped
    * buckets drop their candidates, trading recall for the hard bound).
    *
    * 100 TB shape: only (doc_id, 16-byte hash, chunk) rows shuffle;
    * cost Σ bucket² bounded by maxBucket²·buckets; the verify is
    * integer-only. */
  def phashPairs(hashes: DataFrame, maxHamming: Int = 3,
      maxBucket: Int = 100): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"4-chunk pigeonhole guarantees recall only to Hamming 3, got $maxHamming")
    // the shared SimHash banded machinery does the df-cap + bucket
    // self-join; only the chunk layout (two 32-bit words) and the
    // two-word Hamming verify are dHash-specific
    SimHash.bucketSelfJoin(phashChunks(hashes), maxBucket)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
        twoWordHamming.as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** The archive-side chunk INDEX for incremental image pairing:
    * [[dHash]] rows chunk-exploded with the df-cap applied ONCE, at
    * snapshot build — the d21 persisted-index contract (the cap is a
    * property of the archive snapshot; degenerate flat-image buckets
    * are excluded here and never rediscovered per batch). Persist or
    * localCheckpoint the result; [[phashProbePairs]] consumes it with
    * NO archive-side aggregation. */
  def phashChunkIndex(archiveHashes: DataFrame,
      maxBucket: Int = 100): DataFrame =
    capChunkRows(phashChunks(archiveHashes), maxBucket)

  /** The bucket-cap tail shared by [[phashChunkIndex]] (build) and
    * [[videoIndexRetract]] (delete): the capped serving index IS this
    * derived view of uncapped chunk rows, held once so the two faces
    * cannot diverge on cap semantics. */
  private def capChunkRows(rows: DataFrame, maxBucket: Int): DataFrame = {
    val ok = rows.groupBy("chunk", "chunk_val")
      .agg(count(lit(1)).as("nb"))
      .filter(col("nb") <= maxBucket)
      .select("chunk", "chunk_val")
    rows.join(ok, Seq("chunk", "chunk_val"))
  }

  /** The UNCAPPED retractable archive sketch behind [[phashChunkIndex]]
    * — the image/audio-hash twin of [[videoKeyframeSketch]], for the
    * same reason: the bucket cap destroys information a retraction
    * needs (a degenerate bucket capped out at build falls back under
    * `maxBucket` once its occupants are retracted — a rebuild re-admits
    * the surviving chunk rows, a capped index lost them). A production
    * archive persists THIS and derives the capped serving index as a
    * view; the extra storage is exactly the capped-out slice. */
  def phashChunkSketch(archiveHashes: DataFrame): DataFrame =
    phashChunks(archiveHashes)

  /** RETRACTION face of the image/audio hash-index artifact — the flat
    * (unpacked) sibling of [[videoIndexRetract]], completing the delete
    * column of the modality dedup matrix: chunk ids here ARE doc ids,
    * so retraction is one doc-id anti-join over the uncapped
    * [[phashChunkSketch]] plus one bucket recount — O(|sketch|) per
    * takedown batch, payloads never re-decoded or re-hashed, and
    * exactly `phashChunkIndex(surviving hashes, maxBucket)` (spec +
    * gates mm12/mm13, including bucket resurrection in the spec).
    * Because [[audioFingerprints]] emits the same two-word PHashRow
    * face as [[dHash]], this ONE face serves both modalities. */
  def phashIndexRetract(sketch: DataFrame, removedIds: DataFrame,
      maxBucket: Int = 100): DataFrame =
    phashServingIndex(phashSketchRetract(sketch, removedIds), maxBucket)

  /** The sketch-maintenance HALF of [[phashIndexRetract]]: the uncapped
    * survivor sketch a takedown batch leaves behind — what a streaming
    * retract sink persists as the NEXT batch's retractable artifact
    * (the s23 read-predecessor chain). One doc-id anti-join; no cap
    * (the cap is a property of the SERVING view, not the artifact). */
  def phashSketchRetract(sketch: DataFrame,
      removedIds: DataFrame): DataFrame = {
    val rem = Dedup.normalizeRemovedIds(removedIds)
    sketch.join(rem, col("id") === col("rid"), "left_anti")
  }

  /** Base-snapshot faces for the hash family's O(delta) chain
    * ([[graft.pipeline.DeltaUpdate]] — re-encodes and takedowns alike,
    * a takedown being an update to an empty version): uncapped chunk
    * sketch, per-(chunk, chunk_val) build bucket counts, and the capped
    * serving view — derived through the one shared [[phashServingIndex]]
    * tail. No extra face: a chunk row already carries everything the
    * serving index needs (id, both hash words, chunk, chunk_val), so a
    * re-admitted row is serving-shaped as-is. Serves image AND audio
    * (both emit the two-word PHashRow face). */
  def phashDeltaBase(sp: SparkSession, hashes: DataFrame,
      baseDir: String, maxBucket: Int = 100): Unit = {
    DeltaRetract.initBase(sp, baseDir, phashChunkSketch(hashes),
      Seq("chunk", "chunk_val"), extraFaces = Seq(
        _ => DeltaRetract.writeMeta(sp, baseDir,
          Map("max_bucket" -> maxBucket.toLong))))(
      phashServingIndex(_, maxBucket))
    ()
  }

  /** UPDATE face of the image/audio hash-sketch artifact — the
    * re-crawl edit path for re-encoded or re-fetched media: a changed
    * payload is a retract of the doc's OLD chunk rows composed with an
    * append of its NEW fingerprint's, against the same persisted
    * uncapped sketch. Composition order fixed HERE (retract-then-
    * append, the d58 ordering contract — the reverse drops the doc
    * from the index entirely). `newHashes` carries the RE-FINGERPRINTED
    * payloads (the only stage that touches bytes, upstream map-side);
    * result ≡ `phashChunkSketch(updated corpus hashes)` (gate mm14),
    * at O(|updated docs|) cost. Upserts compose cleanly.
    *
    * `updatedIds` is the EXPLICIT changed-doc list (ADVICE r16): the
    * retract leg must not be derived from `newHashes`' doc ids,
    * because a re-crawl whose new payload fingerprints to ZERO rows
    * would then never retract — its stale postings serve forever,
    * diverging from the rebuild-with-new-payloads contract. */
  def phashSketchUpdate(sketch: DataFrame, newHashes: DataFrame,
      updatedIds: DataFrame): DataFrame =
    phashSketchRetract(sketch, updatedIds)
      .unionByName(phashChunkSketch(newHashes))

  /** [[phashSketchUpdate]] deriving the retract ids from `newHashes`.
    * PRECONDITION: every updated doc fingerprints to at least one row
    * (true for [[dHash]]/[[audioFingerprints]], which emit one row per
    * media row regardless of payload length) — otherwise use the
    * explicit-ids overload. */
  def phashSketchUpdate(sketch: DataFrame,
      newHashes: DataFrame): DataFrame =
    phashSketchUpdate(sketch, newHashes,
      newHashes.select("doc_id").distinct())

  /** UPDATE face of the two-face video-sketch artifact: retract the
    * changed videos' packed chunk rows AND scene counts, then append
    * the new versions' (a re-edited video changes BOTH faces — its
    * scene segmentation moves, so the coverage denominators must move
    * with the postings or the half-coverage rollup silently divides by
    * the stale cut count). Same fixed retract-then-append ordering as
    * every update face (d58 contract); ≡ `videoKeyframeSketch(updated
    * corpus keyframes)` on both faces (gate mm15). */
  def videoSketchUpdate(sketch: VideoIndex, newKeyframes: DataFrame,
      updatedIds: DataFrame): VideoIndex = {
    val surv = videoSketchRetract(sketch, updatedIds)
    val inc = videoKeyframeSketch(newKeyframes)
    VideoIndex(surv.chunks.unionByName(inc.chunks),
      surv.counts.unionByName(inc.counts))
  }

  /** [[videoSketchUpdate]] deriving the retract ids from
    * `newKeyframes`' doc ids. PRECONDITION (ADVICE r16): every updated
    * video segments to at least one keyframe — an emptied/truncated
    * payload yields ZERO rows in [[keyframeHashes]] and would never be
    * retracted here, silently serving its stale scenes; such re-crawls
    * must go through the explicit-ids overload (the streaming sink
    * does). */
  def videoSketchUpdate(sketch: VideoIndex,
      newKeyframes: DataFrame): VideoIndex =
    videoSketchUpdate(sketch, newKeyframes,
      newKeyframes.select("doc_id").distinct())

  /** The capped SERVING view of an uncapped [[phashChunkSketch]] — the
    * same cap tail [[phashChunkIndex]] bakes at build, exposed so a
    * pipeline that persists the sketch and derives the index (the
    * streaming retract sink) goes through the one shared cap
    * implementation and cannot drift from the batch faces. */
  def phashServingIndex(sketch: DataFrame,
      maxBucket: Int = 100): DataFrame =
    capChunkRows(sketch, maxBucket)

  /** Incremental [[phashPairs]]: new images (probe) matched against a
    * prebuilt [[phashChunkIndex]] through [[SimHash.bucketProbeJoin]] —
    * the archive is never re-decoded, re-hashed, re-capped, or
    * re-paired with itself, so per-batch cost is |probe| × bounded
    * archive fan-out regardless of archive size (the d21 contract for
    * the image family). Returns (new_id, corpus_id, hamming ≤
    * maxHamming). */
  def phashProbePairs(probeHashes: DataFrame, archIndex: DataFrame,
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"4-chunk pigeonhole guarantees recall only to Hamming 3, got $maxHamming")
    SimHash.bucketProbeJoin(phashChunks(probeHashes), archIndex)
      .select(col("id_a").as("new_id"), col("id_b").as("corpus_id"),
        twoWordHamming.as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  case class KeyframeHashRow(doc_id: Long, scene_id: Long,
      ph_lo: Long, ph_hi: Long)

  /** Per-scene keyframe dHash — the VIDEO near-dup fingerprint: cut the
    * payload into `frameBytes` stub frames, segment on energy change
    * (the [[sceneCuts]] arithmetic: integer per-mille byte-sum energy,
    * a new scene where |Δ| ≥ `cutPm`), then dHash each scene's FIRST
    * frame (its keyframe) through the decoder grid. One row per
    * (video, scene).
    *
    * The default `frameBytes = 72` matches the grid's 72 cells, so with
    * [[StubImageDecoder]] every stripe holds exactly one keyframe byte
    * and the full 64-bit gradient hash is live (a 16-byte frame would
    * zero 56 cells and collapse three of the four pigeonhole chunks).
    *
    * Runs as ONE map-side pass per video — segmentation is a per-video
    * sequential fold, so unlike the [[sceneCuts]] gate face (generic
    * over any frame table, one doc-keyed shuffle) nothing shuffles at
    * all here, payloads included; the per-video scene count is bounded
    * by payload/`frameBytes`. Scene ids are the 1-based running cut
    * count — row-identical to [[sceneCuts]]'s `scene_id` (spec
    * cross-validated). */
  def keyframeHashes(media: Dataset[MediaRow], frameBytes: Int = 72,
      cutPm: Long = 8L,
      decoder: ImageDecoder = StubImageDecoder): Dataset[KeyframeHashRow] = {
    require(frameBytes >= 1, s"frameBytes=$frameBytes must be positive")
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.flatMap { r =>
        val n = r.payload.length
        val nFrames = (n + frameBytes - 1) / frameBytes
        // scene ids pack into 16 bits downstream ([[videoDupPairs]])
        require(nFrames < 65536,
          s"video ${r.doc_id}: $nFrames frames overflow the 16-bit scene id")
        var prevEpm = 0L
        var scene = 0L
        var f = 0
        val out = scala.collection.mutable.ArrayBuffer.empty[KeyframeHashRow]
        while (f < nFrames) {
          val lo = f * frameBytes
          val hi = math.min(n, lo + frameBytes)
          val epm = frameEnergyPm(r.payload, lo, hi)
          if (f == 0 || math.abs(epm - prevEpm) >= cutPm) {
            scene += 1
            val (phLo, phHi) =
              packDHash(decoder.grayGrid(
                java.util.Arrays.copyOfRange(r.payload, lo, hi)))
            out += KeyframeHashRow(r.doc_id, scene, phLo, phHi)
          }
          prevEpm = epm
          f += 1
        }
        out.iterator
      }
    }
  }

  /** Keyframe identity packed as `doc_id·2^16 + scene_id` in the
    * hash-table (doc_id, ph_lo, ph_hi) layout — the row-level twin of
    * [[keyframeHashes]]' producer-side bound: keyframe tables are also
    * caller-suppliable, and a scene_id outside 16 bits would silently
    * ALIAS distinct keyframes onto one packed id, so it fails loudly
    * instead. Shared by [[videoDupPairs]], [[videoKeyframeIndex]], and
    * [[videoProbePairs]]. */
  private def packKids(keyframes: DataFrame): DataFrame = {
    val packed = when(col("scene_id").between(0L, 65535L),
        col("doc_id") * lit(65536L) + col("scene_id"))
      .otherwise(raise_error(concat(
        lit("video keyframes: scene_id outside 0..65535 for doc "),
        col("doc_id").cast("string"))))
    keyframes.select(packed.as("doc_id"), col("ph_lo"), col("ph_hi"))
  }

  /** Near-duplicate VIDEO pairs over [[keyframeHashes]] — the
    * multimodal dedup face for the video modality: keyframes pair
    * through the same 4×16-bit chunk-pigeonhole machinery as
    * [[phashPairs]] (df-capped buckets, exact XOR+popcount verify at
    * `maxHamming`), then matched keyframes roll up per video pair and
    * a pair is emitted when the matches cover at least HALF of either
    * side's scenes (containment-style, the d41 contract — a clip
    * embedded in a longer video still surfaces).
    *
    * Keyframe identity travels as `doc_id·2^16 + scene_id` through the
    * shared bucket join (the 16-bit bound [[keyframeHashes]] enforces),
    * so cross-video candidate order is plain id order. Output:
    * (doc_a, doc_b, n_scenes_a, n_scenes_b, matched_a, matched_b),
    * doc_a < doc_b.
    *
    * 100 TB shape: only (kid, 16-byte hash) rows shuffle; bucket cost
    * is bounded by maxBucket²·buckets; the rollup groups the verified
    * pair list (already near-dup-sparse) and the per-video scene count
    * join is a plain doc-keyed shuffle — no payload, no quadratic. */
  def videoDupPairs(keyframes: DataFrame, maxHamming: Int = 3,
      maxBucket: Int = 100): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"4-chunk pigeonhole guarantees recall only to Hamming 3, got $maxHamming")
    // materialized once: the lineage behind a keyframes plan is the
    // full payload decode + segmentation pass ([[keyframeHashes]]),
    // and three consumers read it below (two bucket-join sides via
    // phashChunks, the per-video counts) — un-checkpointed, the
    // decode re-runs per consumer
    val kf = keyframes.localCheckpoint(false)
    val kfPairs = SimHash.bucketSelfJoin(phashChunks(packKids(kf)),
      maxBucket)
      .select(col("id_a"), col("id_b"), twoWordHamming.as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
    val scenePairs = kfPairs.select(
        expr("id_a div 65536").as("doc_a"), (col("id_a") % 65536L).as("scene_a"),
        expr("id_b div 65536").as("doc_b"), (col("id_b") % 65536L).as("scene_b"))
      .filter(col("doc_a") =!= col("doc_b"))
    val counts = kf.groupBy("doc_id")
      .agg(count(lit(1)).as("n_scenes"))
    scenePairs.groupBy("doc_a", "doc_b")
      .agg(countDistinct(col("scene_a")).as("matched_a"),
        countDistinct(col("scene_b")).as("matched_b"))
      .join(counts.select(col("doc_id").as("doc_a"),
        col("n_scenes").as("n_scenes_a")), Seq("doc_a"))
      .join(counts.select(col("doc_id").as("doc_b"),
        col("n_scenes").as("n_scenes_b")), Seq("doc_b"))
      .filter(col("matched_a") * 2 >= col("n_scenes_a") ||
        col("matched_b") * 2 >= col("n_scenes_b"))
      .select(col("doc_a"), col("doc_b"), col("n_scenes_a"),
        col("n_scenes_b"), col("matched_a"), col("matched_b"))
  }

  /** Persisted archive state for INCREMENTAL video dedup — everything
    * a probe batch reads, baked ONCE at snapshot build (the d21
    * persisted-index contract: increments never re-decode, re-cap, or
    * re-pair the archive): the df-capped chunk index over packed
    * keyframe ids, plus the per-video scene counts the coverage filter
    * divides by. Both faces are plain DataFrames (parquet-persistable,
    * no driver-format side-channel — the NndIndex convention). */
  final case class VideoIndex(chunks: DataFrame, counts: DataFrame)

  def videoKeyframeIndex(keyframes: DataFrame,
      maxBucket: Int = 100): VideoIndex = {
    // one decode pass feeds both faces (the videoDupPairs note)
    val kf = keyframes.localCheckpoint(false)
    VideoIndex(phashChunkIndex(packKids(kf), maxBucket),
      kf.groupBy("doc_id").agg(count(lit(1)).as("n_scenes")))
  }

  /** The UNCAPPED retractable archive sketch behind
    * [[videoKeyframeIndex]] — the video-family twin of
    * `TextAnalysis.winnowSketch`, and for the same reason: the
    * bucket cap destroys information a retraction needs (a degenerate
    * bucket capped out at build can fall back under `maxBucket` once
    * its occupants are retracted — a rebuild re-admits the surviving
    * chunk rows, a capped index lost them). A production archive
    * persists THIS (chunks uncapped + counts) and derives the capped
    * serving index as a view; the extra storage is exactly the
    * capped-out slice, bounded by construction. */
  def videoKeyframeSketch(keyframes: DataFrame): VideoIndex = {
    val kf = keyframes.localCheckpoint(false)
    VideoIndex(phashChunks(packKids(kf)),
      kf.groupBy("doc_id").agg(count(lit(1)).as("n_scenes")))
  }

  /** Base-snapshot faces for the video family's O(delta) chain
    * ([[graft.pipeline.DeltaUpdate]] — re-edits and takedowns alike, a
    * takedown being an update to an empty version): the uncapped
    * packed-keyframe chunk sketch with its bucket build counts and
    * capped serving view (the generic three faces), plus the
    * family-specific `counts` face — (doc_id, n_scenes), the coverage
    * denominators a probe's half-coverage rollup reads.
    * [[videoUpdateServing]] serves base counts for untouched videos
    * and re-derives the touched ones' from their latest chunk rows (a
    * taken-down video has none, so it drops out). */
  def videoDeltaBase(sp: SparkSession, keyframes: DataFrame,
      baseDir: String, maxBucket: Int = 100): Unit = {
    val kf = keyframes.localCheckpoint(false)
    try {
      // counts derive from the checkpointed keyframes (not the
      // sketch), meta from constants — both independent of the
      // stats/index legs, so they ride the same concurrent batch
      DeltaRetract.initBase(sp, baseDir, phashChunks(packKids(kf)),
        Seq("chunk", "chunk_val"), extraFaces = Seq(
          _ => kf.groupBy("doc_id").agg(count(lit(1)).as("n_scenes"))
            .write.mode("overwrite").parquet(s"$baseDir/counts"),
          _ => DeltaRetract.writeMeta(sp, baseDir,
            Map("max_bucket" -> maxBucket.toLong))))(
        phashServingIndex(_, maxBucket))
      ()
    } finally { kf.unpersist(blocking = false); () }
  }

  /** The uncapped PACKED chunk rows of a keyframe table — the video
    * family's `newRows` face for the [[DeltaUpdate]] chain (the same
    * rows [[videoKeyframeSketch]] puts in its chunks face, without
    * deriving the counts face the update chain does not persist:
    * current scene counts re-derive from the latest chunk rows at view
    * time, [[videoUpdateServing]]). */
  def videoChunkRows(keyframes: DataFrame): DataFrame =
    phashChunks(packKids(keyframes))

  /** The video family's serving [[VideoIndex]] over the delta chain
    * ([[DeltaUpdate]]) after batch `upTo`: the generic capped-
    * chunk view (tombstone/update matching on the PACKED id's document
    * half) paired with the CURRENT scene counts — base counts for
    * never-touched videos plus counts derived from the touched videos'
    * latest chunk rows (a re-edit moves the coverage denominators with
    * the postings; one distinct packed id = one scene, so the count is
    * a delta-sized aggregate, no per-batch counts face needed; a
    * taken-down video has no latest rows and drops out of both faces).
    * Base faces from [[videoDeltaBase]]. */
  def videoUpdateServing(sp: SparkSession, artDir: String,
      initName: String, upTo: Long, maxBucket: Int = 100): VideoIndex = {
    val docHalf = expr("id div 65536")
    val updDocs = DeltaUpdate.touchedDocs(sp, artDir, upTo)
    val curCounts = graft.pipeline.DeltaRetract.readFace(sp, Seq(s"$artDir/$initName/counts"))
      .join(updDocs, col("doc_id") === col("rid"), "left_anti")
      .unionByName(DeltaUpdate.latestRows(sp, artDir, upTo, docHalf)
        .select(docHalf.as("doc_id"), col("id")).distinct()
        .groupBy("doc_id").agg(count(lit(1)).as("n_scenes")))
    VideoIndex(
      DeltaUpdate.servingView(sp, artDir, initName, upTo,
        Seq("chunk", "chunk_val"), maxBucket, docHalf, Some(updDocs))(
        identity),
      curCounts)
  }

  /** Video-family COMPACTION of the delta chain
    * ([[DeltaUpdate.compact]]): fold the chunk faces over the
    * current-corpus rows (base minus touched docs plus latest
    * versions), then re-derive the `counts` face from the compacted
    * sketch — a re-edit MOVES scene counts (one distinct-packed-id
    * aggregate over rows already being rewritten; taken-down videos
    * are absent from it). Compacted base ≡
    * [[videoDeltaBase]] over the corpus with every video's latest cut
    * (spec-pinned, DeltaUpdateSpec). */
  def videoUpdateCompact(sp: SparkSession, artDir: String,
      initName: String, upTo: Long, newBaseDir: String,
      maxBucket: Int = 100): Unit = {
    val docHalf = expr("id div 65536")
    DeltaUpdate.compact(sp, artDir, initName, upTo, newBaseDir,
      Seq("chunk", "chunk_val"), docHalf, extraFaces = Seq(
        sk => sk.select(docHalf.as("doc_id"), col("id")).distinct()
          .groupBy("doc_id").agg(count(lit(1)).as("n_scenes"))
          .write.mode("overwrite").parquet(s"$newBaseDir/counts"),
        _ => DeltaRetract.writeMeta(sp, newBaseDir,
          Map("max_bucket" -> maxBucket.toLong))))(
      phashServingIndex(_, maxBucket))
    ()
  }

  /** RETRACTION face of the video-index artifact — the multimodal
    * sibling of `winnowIndexRetract` (same algebra, video grain):
    * drop the retracted videos' keyframe chunk rows and scene counts
    * by doc id (chunk ids are PACKED doc·65536+scene, so the anti-join
    * keys on `id div 65536`), then re-apply the bucket cap over the
    * surviving chunk rows. One anti-join + one bucket recount —
    * O(|sketch|), payloads never re-decoded, re-segmented, or
    * re-hashed — and exactly `videoKeyframeIndex(surviving keyframes,
    * maxBucket)` on both faces (spec + gate mm11, including the
    * bucket-resurrection direction in the spec). */
  def videoIndexRetract(sketch: VideoIndex, removedDocIds: DataFrame,
      maxBucket: Int = 100): VideoIndex = {
    val surv = videoSketchRetract(sketch, removedDocIds)
    VideoIndex(capChunkRows(surv.chunks, maxBucket), surv.counts)
  }

  /** The sketch-maintenance HALF of [[videoIndexRetract]] — the
    * video-family twin of [[phashSketchRetract]]: the uncapped
    * survivor sketch pair (chunks + scene counts) a takedown batch
    * leaves behind, persisted by the s26 streaming retract sink as the
    * NEXT batch's retractable artifact. Chunk ids are PACKED
    * doc·65536+scene, so the chunk anti-join keys on `id div 65536`;
    * no cap (the bucket cap is a property of the SERVING view —
    * bucket resurrection needs the uncapped rows). */
  def videoSketchRetract(sketch: VideoIndex,
      removedDocIds: DataFrame): VideoIndex = {
    val rem = Dedup.normalizeRemovedIds(removedDocIds)
    VideoIndex(
      sketch.chunks
        .join(rem, expr("id div 65536") === col("rid"), "left_anti"),
      sketch.counts.join(rem, sketch.counts("doc_id") === col("rid"),
        "left_anti"))
  }

  /** Incremental [[videoDupPairs]]: NEW videos' keyframes probe a
    * persisted archive [[VideoIndex]] — per-batch cost is
    * |probe keyframes| × bounded archive bucket fan-out, the archive
    * is never re-derived. The coverage rollup reads the increment's
    * own scene counts plus the index's persisted archive counts.
    * PRECONDITION (the s17/d21 shape): probe doc ids are disjoint from
    * the archive's. Output: (doc_new, doc_arch, n_new, n_arch,
    * matched_new, matched_arch) at ≥ half-coverage of either side. */
  def videoProbePairs(newKeyframes: DataFrame, index: VideoIndex,
      maxHamming: Int = 3): DataFrame =
    videoProbePairsOn(newKeyframes.localCheckpoint(false), index, maxHamming)

  /** [[videoProbePairs]] over an ALREADY-materialized probe keyframe
    * frame — the caller owns the checkpoint lifetime. The public face
    * above pins one for the query's duration (the bench/verify sweep
    * reclaims it); the streaming sink
    * ([[graft.streaming.CurationStream.videoDedupSink]]) instead
    * releases its per-micro-batch checkpoint after each write, so a
    * long-running stream never accumulates dead keyframe blocks. */
  private[graft] def videoProbePairsOn(kf: DataFrame, index: VideoIndex,
      maxHamming: Int): DataFrame = {
    val scenePairs = phashProbePairs(packKids(kf), index.chunks, maxHamming)
      .select(expr("new_id div 65536").as("doc_new"),
        (col("new_id") % 65536L).as("scene_new"),
        expr("corpus_id div 65536").as("doc_arch"),
        (col("corpus_id") % 65536L).as("scene_arch"))
    val newCounts = kf.groupBy("doc_id").agg(count(lit(1)).as("n_new"))
    scenePairs.groupBy("doc_new", "doc_arch")
      .agg(countDistinct(col("scene_new")).as("matched_new"),
        countDistinct(col("scene_arch")).as("matched_arch"))
      .join(newCounts.select(col("doc_id").as("doc_new"), col("n_new")),
        Seq("doc_new"))
      .join(index.counts.select(col("doc_id").as("doc_arch"),
        col("n_scenes").as("n_arch")), Seq("doc_arch"))
      .filter(col("matched_new") * 2 >= col("n_new") ||
        col("matched_arch") * 2 >= col("n_arch"))
      .select(col("doc_new"), col("doc_arch"), col("n_new"),
        col("n_arch"), col("matched_new"), col("matched_arch"))
  }

  /** Acoustic fingerprint — the AUDIO near-dup sketch completing the
    * modality matrix (text shingles, image [[dHash]], video
    * [[keyframeHashes]]): 64 bits where bit f is set iff frame f+1's
    * energy exceeds frame f's — the [[dHash]] gradient idea applied in
    * the TIME domain over the [[sampleAudioFrames]] energy sequence
    * (real acoustic fingerprints difference spectral bands the same
    * way; the byte-sum energy is the marked decode stub). Only the
    * first 65 frames contribute (a 64-bit prefix fingerprint — clips
    * align at their starts, the containment face is
    * [[videoDupPairs]]'s job); frames past the payload contribute 0
    * bits, so short clips hash consistently (the [[dHash]] zero-cell
    * rule, with the df-cap absorbing the resulting degenerate
    * zero-chunk buckets).
    *
    * Output is the (doc_id, ph_lo, ph_hi) two-word [[PHashRow]] layout,
    * so the ENTIRE image pairing stack — [[phashPairs]],
    * [[phashChunkIndex]], the streaming probe — serves audio
    * unchanged. Map-side only; payloads never shuffle. */
  def audioFingerprints(media: Dataset[MediaRow],
      frameBytes: Int = 8): DataFrame = {
    require(frameBytes >= 1, s"frameBytes=$frameBytes must be positive")
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.map { r =>
        val n = r.payload.length
        val nFrames = (n + frameBytes - 1) / frameBytes
        val e = new Array[Long](math.min(nFrames, 65))
        var f = 0
        while (f < e.length) {
          e(f) = frameEnergyPm(r.payload, f * frameBytes,
            math.min(n, f * frameBytes + frameBytes))
          f += 1
        }
        var lo = 0L
        var hi = 0L
        var b = 0
        while (b < 64 && b + 1 < e.length) {
          if (e(b + 1) > e(b)) {
            if (b < 32) lo |= 1L << b else hi |= 1L << (b - 32)
          }
          b += 1
        }
        PHashRow(r.doc_id, lo, hi)
      }
    }.toDF()
  }

  case class ResizedRow(doc_id: Long, width: Int, height: Int,
      out_w: Int, out_h: Int, pixels: Array[Float])

  /** STUB resize — real codec would interpolate pixels; the stub emits a
    * deterministic out_w×out_h grid from the fake decode. The Spark
    * contract it exercises is the real one: fat rows in, bounded-size rows
    * out, map-side only (payloads never shuffle). */
  def resize(media: Dataset[MediaRow], outW: Int, outH: Int,
      decoder: ImageDecoder = StubImageDecoder): Dataset[ResizedRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.map { r =>
        val (w, h, feats) = decoder.decode(r.payload)
        val px = Array.tabulate(outW * outH) { i =>
          feats(i % feats.length) * ((i / feats.length + 1).toFloat /
            (outW * outH / feats.length + 1))
        }
        ResizedRow(r.doc_id, w, h, outW, outH, px)
      }
    }
  }

  case class AudioFrameRow(doc_id: Long, frame_idx: Int,
      n_bytes_frame: Int, energy_pm: Long, active: Int)

  /** STUB audio framing — the voice-activity-detection front half every
    * audio curation pipeline runs (silence stripping, segment-level
    * dedup): the payload is treated as fake PCM, cut into contiguous
    * `frameBytes`-byte frames, and each frame scores an integer
    * per-mille energy (byte-sum · 1000 div (255 · frame length)) with an
    * `active` flag at `activePm`. All integer arithmetic — a SQL oracle
    * replays it byte-for-byte (the fixture payloads are ASCII text, so
    * byte p ≡ ord of character p). Real codecs swap in at the marked
    * line; the Spark contract (map-side 1→N framing off the scan, no
    * payload shuffle, bounded output rows) is the tested part. */
  def sampleAudioFrames(media: Dataset[MediaRow], frameBytes: Int = 64,
      activePm: Long = 400L): Dataset[AudioFrameRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.flatMap { r =>
        val n = r.payload.length
        val nFrames = (n + frameBytes - 1) / frameBytes
        (0 until nFrames).iterator.map { f =>
          val lo = f * frameBytes
          val hi = math.min(n, lo + frameBytes)
          // STUB decode: byte-sum energy stands in for PCM RMS
          val energyPm = frameEnergyPm(r.payload, lo, hi)
          AudioFrameRow(r.doc_id, f, hi - lo, energyPm,
            if (energyPm >= activePm) 1 else 0)
        }
      }
    }
  }

  /** Active/silence segmentation over [[sampleAudioFrames]] output — the
    * run-length half of VAD: consecutive frames with the same `active`
    * flag collapse into one segment (flag-change running sum, the same
    * window shape as batch sessionization but keyed on state change, not
    * time gaps). Returns one row per (doc, segment): flag, frame span,
    * frame count. One doc-keyed shuffle; frames are (long, int, int)
    * triples — payloads are long gone by this stage. */
  def audioSegments(frames: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ord = Window.partitionBy(col("doc_id")).orderBy(col("frame_idx"))
    val run = Window.partitionBy(col("doc_id")).orderBy(col("frame_idx"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val prev = lag(col("active"), 1).over(ord)
    frames
      .withColumn("_brk",
        when(prev.isNull || col("active") =!= prev, 1L).otherwise(0L))
      .withColumn("seg_id", sum(col("_brk")).over(run))
      .groupBy(col("doc_id"), col("seg_id"), col("active"))
      .agg(min(col("frame_idx")).cast("long").as("start_idx"),
        max(col("frame_idx")).cast("long").as("end_idx"),
        count(lit(1)).as("n_frames"))
  }

  /** Scene-cut detection over per-frame energies (the frame-differencing
    * shape every video curation pipeline runs before per-scene sampling):
    * a new scene starts where the absolute energy DELTA between
    * consecutive frames reaches `cutPm` — segmentation on CHANGE, where
    * [[audioSegments]] segments on LEVEL. Input is any per-frame energy
    * table (here [[sampleAudioFrames]]'s byte-window framing stands in
    * for decoded frame luminance; the windowing/energy plumbing is
    * modality-generic). Returns one row per scene:
    * (doc_id, scene_id, start_idx, end_idx, n_frames, mean_pm — integer
    * `div` mean, exact in both engines).
    *
    * 100 TB shape: one lag + one running sum + one rollup, all inside a
    * single per-video window partition — frames shuffle once on doc_id,
    * payloads never shuffle at all. */
  def sceneCuts(frames: DataFrame, cutPm: Long = 25L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ord = Window.partitionBy(col("doc_id")).orderBy(col("frame_idx"))
    val run = Window.partitionBy(col("doc_id")).orderBy(col("frame_idx"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val prev = lag(col("energy_pm"), 1).over(ord)
    frames
      .withColumn("_cut",
        when(prev.isNull || abs(col("energy_pm") - prev) >= cutPm, 1L)
          .otherwise(0L))
      .withColumn("scene_id", sum(col("_cut")).over(run))
      .groupBy(col("doc_id"), col("scene_id"))
      .agg(min(col("frame_idx")).cast("long").as("start_idx"),
        max(col("frame_idx")).cast("long").as("end_idx"),
        count(lit(1)).as("n_frames"),
        expr("sum(energy_pm) div count(1)").as("mean_pm"))
  }

  case class FrameRow(doc_id: Long, frame_idx: Int, frame_ts_ms: Long,
      features: Array[Float])

  /** STUB video frame-sampling: every `everyMs` (fake) milliseconds up to a
    * payload-derived duration, one frame row with per-frame features — a
    * 1→N generator per video, which is the shape that matters: output rows
    * are independent downstream units (dedup/embed per frame), and the
    * explode happens map-side off the scan with no payload shuffle. */
  def sampleFrames(media: Dataset[MediaRow], everyMs: Long): Dataset[FrameRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.flatMap { r =>
        val durationMs = 1000L + (r.payload.length % 9000) // fake duration
        val (_, _, feats) = decodeStub(r.payload)
        (0L to durationMs by everyMs).zipWithIndex.map { case (ts, i) =>
          FrameRow(r.doc_id, i, ts,
            feats.map(f => f + i * 0.001f)) // fake per-frame drift
        }
      }
    }
  }
}
