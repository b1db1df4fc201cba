package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** A decoded media batch row: typed metadata beside the opaque payload. */
case class MediaRecord(
    media_id: Long,
    media_type: String, // "image" | "audio" | "video"
    content: Array[Byte],
    meta: Map[String, String])

case class MediaFeatures(
    media_id: Long,
    media_type: String,
    width: Int,
    height: Int,
    n_frames: Int,
    features: Array[Float])

/** Multimodal-column plumbing: image/audio/video as opaque `binary` columns
  * with typed metadata, processed in partition-sized batches via
  * `mapPartitions` (the Scala analog of `mapInPandas` — one iterator per
  * partition, records streamed, never materialized whole).
  *
  * Image rows decode FOR REAL through javax.imageio ([[ImageCodec]] — in the
  * JDK, no new dependency): PNG/JPEG/GIF/BMP payloads yield true
  * width/height and a 16-bin luminance histogram as the feature vector.
  * Audio/video decoders remain STUBS ([[FakeCodec]], no ffmpeg in this
  * container): deterministic dimensions/features from the bytes, so schema,
  * batch shape, partitioning, and the executor-side batching logic are all
  * real and tested, and swapping in a real decoder is a one-function change.
  */
object Multimodal {

  /** Real image decode via javax.imageio. Executor-safe: ImageIO.read
    * allocates a fresh reader per call; the disk scratch cache is disabled
    * (pure in-memory decode).
    */
  object ImageCodec {
    javax.imageio.ImageIO.setUseCache(false)

    /** Raster magic sniff — PNG / JPEG / GIF / BMP. Sniff-then-decode keeps
      * undecodable payloads on the deterministic fake path instead of
      * throwing mid-batch.
      */
    def looksLikeImage(b: Array[Byte]): Boolean =
      (b.length >= 8 && (b(0) & 0xff) == 0x89 && b(1) == 'P' && b(2) == 'N' && b(3) == 'G') ||
        (b.length >= 3 && (b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8 && (b(2) & 0xff) == 0xff) ||
        (b.length >= 6 && b(0) == 'G' && b(1) == 'I' && b(2) == 'F' && b(3) == '8') ||
        (b.length >= 2 && b(0) == 'B' && b(1) == 'M')

    /** Decode to a `cols`×`rows` block-average luminance grid (row-major)
      * — the raster input of [[Multimodal.dHash]]. Block sums are probed on
      * a bounded stride (≤ ~16×16 probes per block), so grid cost is capped
      * per image regardless of resolution, same policy as [[decode]].
      * None when the payload is not a readable image.
      */
    def lumGrid(content: Array[Byte], cols: Int = 9, rows: Int = 8): Option[Array[Long]] = {
      if (!looksLikeImage(content)) return None
      val img =
        try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(content))
        catch { case _: Exception => null }
      if (img == null) return None
      val (w, h) = (img.getWidth, img.getHeight)
      val cells = new Array[Long](cols * rows)
      var r = 0
      while (r < rows) {
        val y0 = r * h / rows
        val y1 = math.max(y0 + 1, (r + 1) * h / rows)
        val stepY = math.max(1, (y1 - y0) / 16)
        var c = 0
        while (c < cols) {
          val x0 = c * w / cols
          val x1 = math.max(x0 + 1, (c + 1) * w / cols)
          val stepX = math.max(1, (x1 - x0) / 16)
          var sum = 0L
          var n = 0L
          var y = y0
          while (y < y1 && y < h) {
            var x = x0
            while (x < x1 && x < w) {
              val rgb = img.getRGB(x, y)
              sum += (((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 +
                (rgb & 0xff) * 114) / 1000
              n += 1
              x += stepX
            }
            y += stepY
          }
          cells(r * cols + c) = if (n == 0) 0L else sum / n
          c += 1
        }
        r += 1
      }
      Some(cells)
    }

    /** Decode to (width, height, 16-bin luminance COUNT histogram) — the
      * integer form [[Multimodal.filterMedia]]'s bit-exact rules need
      * (the normalized [[decode]] floats would reintroduce last-ulp
      * engine drift). Same bounded sample grid as [[decode]].
      */
    def lumHistCounts(content: Array[Byte],
                      bins: Int = 16): Option[(Int, Int, Array[Long])] = {
      if (!looksLikeImage(content)) return None
      val img =
        try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(content))
        catch { case _: Exception => null }
      if (img == null) return None
      val (w, h) = (img.getWidth, img.getHeight)
      val stepX = math.max(1, w / 256)
      val stepY = math.max(1, h / 256)
      val hist = new Array[Long](bins)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val rgb = img.getRGB(x, y)
          val lum = (((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 +
            (rgb & 0xff) * 114) / 1000
          hist(math.min(bins - 1, lum * bins / 256)) += 1
          x += stepX
        }
        y += stepY
      }
      Some((w, h, hist))
    }

    /** Decode to (width, height, 16-bin luminance histogram); None when the
      * payload is not a readable image.
      */
    def decode(content: Array[Byte], featureDim: Int = 16): Option[(Int, Int, Array[Float])] = {
      if (!looksLikeImage(content)) return None
      val img =
        try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(content))
        catch { case _: Exception => null }
      if (img == null) return None
      val w = img.getWidth
      val h = img.getHeight
      // luminance histogram over a bounded sample grid: features cost is
      // capped per image no matter the resolution (max ~256×256 probes)
      val stepX = math.max(1, w / 256)
      val stepY = math.max(1, h / 256)
      val hist = new Array[Long](featureDim)
      var n = 0L
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val rgb = img.getRGB(x, y)
          val lum = (((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 +
            (rgb & 0xff) * 114) / 1000
          hist(math.min(featureDim - 1, lum * featureDim / 256)) += 1
          n += 1
          x += stepX
        }
        y += stepY
      }
      Some((w, h, hist.map(c => c.toFloat / math.max(n, 1L))))
    }
  }

  /** STUB decoder — deterministic fake standing in for e.g. a JPEG decode.
    * Real implementation would go through javax.imageio / ffmpeg here.
    */
  object FakeCodec {
    /** Fake frame sizes — shared by [[FakeCodec.frameCount]] and the Column
      * form in [[Multimodal.sampleFrames]]; a real decoder replaces both.
      */
    val VideoBytesPerFrame = 4096
    val AudioBytesPerFrame = 1024

    def decodeDims(content: Array[Byte]): (Int, Int) = {
      val h = java.util.Arrays.hashCode(content)
      (64 + math.floorMod(h, 512), 64 + math.floorMod(h >> 9, 512))
    }

    /** Fake feature extractor: 16 deterministic floats from byte statistics
      * (a stand-in for a CNN embedding). Streams over the payload once.
      */
    def features(content: Array[Byte], dim: Int = 16): Array[Float] = {
      val acc = new Array[Long](dim)
      var i = 0
      while (i < content.length) {
        acc(i % dim) += (content(i) & 0xff)
        i += 1
      }
      val n = math.max(content.length / dim, 1)
      acc.map(a => a.toFloat / (255f * n))
    }

    /** Fake 72-cell "luminance grid": contiguous byte-chunk sums (cell l
      * sums unsigned bytes [⌊l·len/72⌋, ⌊(l+1)·len/72⌋) — the byte-stream
      * analog of resampling a raster to a 9×8 grid). Pure integer
      * arithmetic, reproduced byte-for-byte by the m_phash_dups DuckDB
      * oracle; a real decoder replaces this with [[ImageCodec.lumGrid]].
      */
    def chunkGrid(content: Array[Byte], cells: Int = 72): Array[Long] = {
      val len = content.length
      Array.tabulate(cells) { l =>
        var i = (l.toLong * len / cells).toInt
        val end = ((l + 1).toLong * len / cells).toInt
        var s = 0L
        while (i < end) { s += (content(i) & 0xff); i += 1 }
        s
      }
    }

    def frameCount(mediaType: String, content: Array[Byte]): Int = mediaType match {
      case "video" => 1 + content.length / VideoBytesPerFrame
      case "audio" => 1 + content.length / AudioBytesPerFrame
      case _       => 1
    }
  }

  /** Decode + feature-extract over partition batches. The work runs where the
    * data lives; output carries only fixed-width features + metadata, so a
    * downstream shuffle moves O(16 floats) per record, not the payload.
    */
  def extractFeatures(media: Dataset[MediaRecord]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.map { m0 =>
        // a NULL payload (nullable binary column) must not NPE the task —
        // treat it as an empty payload, same as the fake path's floor
        val m = if (m0.content == null) m0.copy(content = Array.emptyByteArray) else m0
        // image rows get the REAL decode; anything undecodable (and all
        // audio/video) falls back to the deterministic fake
        val real = if (m.media_type == "image") ImageCodec.decode(m.content) else None
        real match {
          case Some((w, h, feats)) =>
            MediaFeatures(m.media_id, m.media_type, w, h, 1, feats)
          case None =>
            val (w, h) = FakeCodec.decodeDims(m.content)
            MediaFeatures(m.media_id, m.media_type, w, h,
              FakeCodec.frameCount(m.media_type, m.content),
              FakeCodec.features(m.content))
        }
      }
    }
  }

  /** Media quality filtering — the LAION-style image curation gate
    * (min-resolution, aspect-ratio bound, solid/flat-image detector), with
    * [[graft.text.CorpusClean.filterCorpus]]'s contract: every row
    * annotated `(media_id, media_type, width, height, max_bin_permille,
    * keep, reason)` with the FIRST failing rule as the reason
    * (`too_small` → `bad_aspect` → `flat` → null).
    *
    * Every signal is INTEGER arithmetic, so verdicts are bit-identical in
    * any engine (no float-entropy last-ulp straddle): dims come from the
    * real decode for images ([[ImageCodec]]) or the deterministic fake
    * ([[FakeCodec.decodeDims]]); `max_bin_permille` = 1000·max/sum over a
    * 16-bin LUMINANCE histogram (real images — a near-solid image
    * concentrates into one bin) or 16 contiguous byte-chunk sums (fake
    * path — mirrors [[FakeCodec.chunkGrid]], SQL-oracle-able). Pure narrow
    * map; payloads never leave the scan.
    */
  def filterMedia(media: Dataset[MediaRecord],
                  minEdge: Int = 64,
                  maxAspectPermille: Int = 3000,
                  maxBinPermille: Int = 900): DataFrame = {
    require(minEdge >= 1 && maxAspectPermille >= 1000 && maxBinPermille >= 63,
      "need minEdge >= 1, maxAspectPermille >= 1000, maxBinPermille >= 63")
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.map { m =>
        val content = if (m.content == null) Array.emptyByteArray else m.content
        val real =
          if (m.media_type == "image") ImageCodec.lumHistCounts(content)
          else None
        val (w, h, bins) = real match {
          case Some((rw, rh, counts)) => (rw, rh, counts)
          case None =>
            val (fw, fh) = FakeCodec.decodeDims(content)
            (fw, fh, FakeCodec.chunkGrid(content, 16))
        }
        val total = bins.sum
        val permille =
          if (total == 0) 0L else bins.max * 1000L / total
        val reason =
          if (math.min(w, h) < minEdge) "too_small"
          else if (math.max(w, h).toLong * 1000L / math.min(w, h).max(1) >
            maxAspectPermille) "bad_aspect"
          else if (permille >= maxBinPermille) "flat"
          else null
        (m.media_id, m.media_type, w, h, permille, reason == null, reason)
      }
    }.toDF("media_id", "media_type", "width", "height", "max_bin_permille",
      "keep", "reason")
  }

  /** Difference hash (dHash, Krawetz 2013 — the public "kind of like that"
    * recipe): 9-column × 8-row luminance grid, bit k = r·8+c set iff
    * cell(r,c) < cell(r,c+1) — 64 horizontal-gradient bits. Gradient
    * comparisons survive re-encoding and resizing (both preserve relative
    * block luminance), which is exactly the near-dup signal; absolute
    * brightness shifts cancel. `cells` is row-major 9×8 (72 entries).
    */
  def dHash(cells: Array[Long]): Long = {
    require(cells.length == 72, s"dHash wants a 9x8 grid, got ${cells.length}")
    var sig = 0L
    var k = 0
    while (k < 64) {
      val r = k / 8
      val c = k % 8
      if (cells(r * 9 + c) < cells(r * 9 + c + 1)) sig |= (1L << k)
      k += 1
    }
    sig
  }

  private val phashUdf = udf { (mediaType: String, content: Array[Byte]) =>
    if (content == null || content.isEmpty) None
    else {
      val real =
        if (mediaType == "image") ImageCodec.lumGrid(content) else None
      Some(dHash(real.getOrElse(FakeCodec.chunkGrid(content))))
    }
  }

  /** Perceptual hash as a Column — NULL for empty/null payloads (nothing
    * to hash; mirrors simhash's null signature for empty docs and keeps
    * such rows out of pair joins and dedup state). Image payloads hash the
    * REAL decoded raster ([[ImageCodec.lumGrid]]); everything else hashes
    * the deterministic fake grid ([[FakeCodec.chunkGrid]] — integer
    * arithmetic, SQL-oracle-able). A Scala UDF on purpose: the hash is a
    * JVM decode (javax.imageio), not expressible in built-ins, and its
    * per-row cost dwarfs the UDF boundary — while the Column form composes
    * with ANY schema, including streaming frames with extra columns.
    */
  def phash(mediaType: Column, content: Column): Column =
    phashUdf(mediaType, content)

  /** Per-row perceptual hash over the typed batch shape: `(media_id,
    * phash)`, 16 bytes/row, so the downstream Hamming band join
    * ([[graft.dedup.Dedup.hammingPairs]]) never moves payloads.
    */
  def perceptualHash(media: Dataset[MediaRecord]): DataFrame =
    media.toDF().select(col("media_id"),
      phash(col("media_type"), col("content")).as("phash"))

  /** Watermarked streaming media dedup by EXACT perceptual hash: rows whose
    * payloads hash identically (hamming 0 — losslessly re-encoded /
    * re-containered copies) within `delay` of each other collapse to the
    * first-seen row; rows with no hashable payload pass through untouched
    * (the [[graft.streaming.StreamingText.dedupStream]] null rule — a
    * shared null key would collapse unrelated rows). Radius-`k` near-dup
    * dedup stays a BATCH concern ([[graft.dedup.Dedup.hammingPairs]]): a
    * banded self-join has no bounded streaming-state shape, exact-signature
    * equality does — state tracks the watermark window, not the corpus.
    */
  def dedupMediaStream(media: DataFrame, tsCol: String, delay: String,
                       typeCol: String = "media_type",
                       contentCol: String = "content"): DataFrame = {
    require(!media.columns.contains("graft_phash"),
      "input already has a graft_phash column — rename it first")
    val watermarked = media.withWatermark(tsCol, delay)
    val hashed = watermarked
      .withColumn("graft_phash", phash(col(typeCol), col(contentCol)))
    hashed.where(col("graft_phash").isNotNull)
      .dropDuplicatesWithinWatermark("graft_phash")
      .drop("graft_phash")
      .unionByName(hashed.where(col("graft_phash").isNull).drop("graft_phash"))
  }

  /** Per-frame perceptual hashes for VIDEO rows: the payload split into
    * `frameBytes`-sized frames (the stub decode contract — byte slices
    * stand in for decoded rasters; a real decoder would route each frame
    * raster through [[ImageCodec.lumGrid]] instead of
    * [[FakeCodec.chunkGrid]], a one-function swap), each frame dHashed.
    * Output `(media_id, frame_idx, fhash)`; the trailing partial frame
    * hashes too, empty payloads produce no rows. Narrow map — each payload
    * is read once where it lives, and only 16-byte hash rows leave the
    * scan.
    */
  def frameHashes(media: Dataset[MediaRecord],
                  frameBytes: Int = FakeCodec.VideoBytesPerFrame): DataFrame = {
    require(frameBytes > 0, "frameBytes must be positive")
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.filter(_.media_type == "video").flatMap { m =>
        val content = if (m.content == null) Array.emptyByteArray else m.content
        val nFrames = (content.length + frameBytes - 1) / frameBytes
        // fid packing in videoPairs is media_id * 2^20 + frame_idx — a
        // payload past 2^20 frames would silently collide, and a media id
        // outside [-2^43, 2^43) would silently wrap the 64-bit fid, so
        // fail the row loudly here instead
        require(nFrames < (1 << 20),
          s"media ${m.media_id}: $nFrames frames exceeds the 2^20 fid budget")
        requireFidMediaId(m.media_id)
        (0 until nFrames).iterator.map { f =>
          val frame = java.util.Arrays.copyOfRange(content, f * frameBytes,
            math.min((f + 1) * frameBytes, content.length))
          (m.media_id, f, dHash(FakeCodec.chunkGrid(frame)))
        }
      }
    }.toDF("media_id", "frame_idx", "fhash")
  }

  /** Video near-dup pairs by FRAME VOTE: two videos pair when at least
    * `minMatchedFrames` of EACH side's frames collide within `maxHamming`
    * bits (the shared-scenes signal — re-encodes, appends/trims, and
    * container changes keep most frame hashes; unrelated videos share
    * none). Output: `(id_a, id_b, n_frame_pairs, n_matched_a,
    * n_matched_b)` with id_a < id_b; `n_matched_a` counts the distinct
    * matched frames of the LOWER media id.
    *
    * Scale shape: frame hashing is one narrow map over the payload; the
    * Hamming machinery ([[graft.dedup.Dedup.hammingPairs]]) ships bare
    * 8-byte signatures; the vote is a partial-agg rollup on the pair key.
    * Nothing touches payloads after the scan. Frame ids pack as
    * `media_id * 2^20 + frame_idx` (bijective while a payload stays under
    * 2^20 frames = 4 GiB at the default frame size and the media id stays
    * in [-2^43, 2^43); anything else fails [[frameHashes]]' requires).
    */
  def videoPairs(media: Dataset[MediaRecord],
                 frameBytes: Int = FakeCodec.VideoBytesPerFrame,
                 maxHamming: Int = 3,
                 minMatchedFrames: Int = 2): DataFrame =
    hashVotePairs(frameHashes(media, frameBytes), "frame_idx", "fhash",
      maxHamming, minMatchedFrames, pairsCol = "n_frame_pairs")

  /** `media_id * 2^20 + idx` fits a signed 64-bit fid only for media ids
    * in [-2^43, 2^43); past that the packing wraps and two media collide.
    */
  private def requireFidMediaId(mediaId: Long): Unit =
    require(mediaId >= -(1L << 43) && mediaId < (1L << 43),
      s"media $mediaId: media id outside [-2^43, 2^43) overflows the " +
        "64-bit fid packing (media_id * 2^20 + idx)")

  /** The media-pair vote shared by [[videoPairs]] and [[audioPairs]]:
    * Hamming-banded pairs over per-segment hashes, mapped back to media
    * pairs, rolled up as (pair count, distinct matched segments per side),
    * kept when BOTH sides clear `minMatched`. `n_matched_a` counts the
    * LOWER media id's distinct matched segments.
    */
  private def hashVotePairs(hashes: DataFrame, idxCol: String, sigCol: String,
                            maxHamming: Int, minMatched: Int,
                            pairsCol: String): DataFrame = {
    require(minMatched >= 1, "minMatched must be >= 1")
    val MaxSegs = 1L << 20
    // fid packs (media_id, idx) bijectively — the fingerprint producers
    // require idx < 2^20 — so the media id comes back out of a pair id by
    // ONE arithmetic shift (floor division by 2^20, exact for idx in
    // [0, 2^20) at any media_id sign). The previous form rejoined the
    // segment-hash table twice to recover (fid -> media_id): two extra
    // exchanges of the full segment-id map per vote, plus a checkpoint of
    // the hash table to keep those three consumers from re-decoding
    // payloads. With the joins gone the hamming leg is the SOLE consumer,
    // so the checkpoint goes too (fan-out callers, e.g. sequenceClusters,
    // stage the hashes themselves).
    val fh = hashes
      .withColumn("fid", col("media_id") * lit(MaxSegs) + col(idxCol))
    val fp = graft.dedup.Dedup.hammingPairs(
      fh.select(col("fid").as("id"), col(sigCol).as("sig")), maxHamming)
    val mapped = fp
      .select(col("id_a"), col("id_b"),
        shiftright(col("id_a"), 20).as("ma"),
        shiftright(col("id_b"), 20).as("mb"))
      .filter(col("ma") =!= col("mb"))
    mapped
      .select(least(col("ma"), col("mb")).as("id_a"),
        greatest(col("ma"), col("mb")).as("id_b"),
        when(col("ma") < col("mb"), col("id_a")).otherwise(col("id_b")).as("f_lo"),
        when(col("ma") < col("mb"), col("id_b")).otherwise(col("id_a")).as("f_hi"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as(pairsCol),
        countDistinct(col("f_lo")).as("n_matched_a"),
        countDistinct(col("f_hi")).as("n_matched_b"))
      .filter(least(col("n_matched_a"), col("n_matched_b")) >= minMatched)
  }

  /** Connected components over the video frame-vote graph WITHOUT clique
    * expansion — the clustering-shaped consumer of [[videoPairs]], built
    * on the same collapse-then-rejoin discipline as
    * [[graft.dedup.Dedup.hammingClusters]] one level up: videos with
    * IDENTICAL frame-hash sequences collapse to their min-id
    * representative first (the replicated-corpus dup groups that make
    * pair output quadratic), the pair vote runs between representatives
    * only, and membership re-enters by one sequence join. `(id,
    * component)` with component = the group's minimum id; videos with no
    * frames are absent (nothing to match on — [[videoPairs]]' own rule).
    *
    * Exactness vs the clique-expanded reference (components over
    * [[videoPairs]]' output; spec-pinned equal): identical sequences with
    * ≥ `minMatchedFrames` frames always vote-pair (every frame matches at
    * Hamming 0), so collapsing them is sound; sequences BELOW the
    * threshold can never vote-pair — not even with their own duplicates —
    * so they stay singleton representatives (own component), never
    * collapsed.
    */
  def videoClusters(media: Dataset[MediaRecord],
                    frameBytes: Int = FakeCodec.VideoBytesPerFrame,
                    maxHamming: Int = 3,
                    minMatchedFrames: Int = 2,
                    checkpointDir: Option[String] = None): DataFrame =
    sequenceClusters(frameHashes(media, frameBytes), "frame_idx", "fhash",
      maxHamming, minMatchedFrames,
      salt = "graft-vseq-2", checkpointDir = checkpointDir)

  /** Connected components over the audio window-vote graph — the audio
    * analog of [[videoClusters]], same collapse discipline over
    * [[audioFingerprints]]' overlapping windows. Exactness argument is
    * identical: byte-identical clips share the whole window-hash sequence
    * (count + order), so they always vote-pair when ≥ `minMatchedWindows`
    * windows exist and can never when fewer do. OFFSET-SHIFTED clones
    * (different sequences) do NOT collapse — both stay representatives and
    * pair-vote normally, so labels still equal the clique-expanded
    * reference closure (spec-pinned). `(id, component)`; zero-window
    * (empty) clips are absent, as in [[audioPairs]].
    */
  def audioClusters(media: Dataset[MediaRecord],
                    windowBytes: Int = 1024,
                    hopBytes: Int = 512,
                    maxHamming: Int = 3,
                    minMatchedWindows: Int = 2,
                    checkpointDir: Option[String] = None): DataFrame =
    sequenceClusters(audioFingerprints(media, windowBytes, hopBytes),
      "win_idx", "ahash", maxHamming, minMatchedWindows,
      salt = "graft-aseq-1", checkpointDir = checkpointDir)

  /** Collapse-then-vote components shared by [[videoClusters]] /
    * [[audioClusters]]: media with IDENTICAL segment-hash sequences
    * collapse to their min-id representative, the pair vote runs between
    * representatives only, membership re-enters by one sequence-key join.
    *
    * Sequence identity as a CONSTANT-WIDTH key: two independent
    * commutative XOR-folds of position-tagged hashes (segment order is
    * encoded INSIDE each term, so the folds are order-sensitive; XOR —
    * not sum — because ANSI mode throws on long overflow) plus the
    * segment count. Partial-agg friendly with a fixed-size buffer — a
    * collected hash array would build an O(nSegments) agg buffer per
    * medium (~16 MB at the 2^20-segment cap) and then shuffle that array
    * TWICE as the group and join key. Collision bound: two independent
    * 64-bit folds + the count ≈ a 128-bit key — n²/2¹²⁹ for any realistic
    * corpus (the risk class the repo already accepts for md5 digests).
    */
  private def sequenceClusters(hashes: DataFrame, idxCol: String,
                               sigCol: String, maxHamming: Int,
                               minMatched: Int, salt: String,
                               checkpointDir: Option[String]): DataFrame = {
    require(minMatched >= 1, "minMatched must be >= 1")
    // materialized for the same reason as hashVotePairs' fh: the sequence
    // fold, the representative semi-join, and the vote leg all read this
    // proxy table — lazy, each re-decoded every payload
    val hashesCk = hashes.localCheckpoint(true,
      org.apache.spark.storage.StorageLevel.DISK_ONLY)
    val seqs = hashesCk.groupBy("media_id").agg(
      count(lit(1)).as("nf"),
      bit_xor(xxhash64(col(idxCol), col(sigCol))).as("k1"),
      bit_xor(xxhash64(lit(salt), col(idxCol), col(sigCol))).as("k2"))
    val big = seqs.where(col("nf") >= minMatched)
    val reps = big.groupBy("nf", "k1", "k2").agg(min("media_id").as("rep"))
    val repFh = hashesCk.join(reps.select(col("rep").as("media_id")),
      Seq("media_id"), "left_semi")
    // the pair-count column is dropped immediately — only edges matter here
    val pairs = hashVotePairs(repFh, idxCol, sigCol, maxHamming,
        minMatched, pairsCol = "n_pairs")
      .select("id_a", "id_b")
    val comps = graft.dedup.Clusters.connectedComponents(pairs,
        checkpointDir = checkpointDir)
      .withColumnRenamed("id", "rep")
    big.join(reps, Seq("nf", "k1", "k2"))
      .join(comps, Seq("rep"), "left")
      .select(col("media_id").as("id"),
        coalesce(col("component"), col("rep")).as("component"))
      .unionByName(seqs.where(col("nf") < minMatched)
        .select(col("media_id").as("id"), col("media_id").as("component")))
  }

  /** Sliding-window fingerprints for AUDIO rows: OVERLAPPING windows of
    * `windowBytes` at `hopBytes` stride, each dHashed over its chunk grid
    * (the stub decode contract — byte windows stand in for spectral
    * frames; a real audio pipeline would land filterbank energies in the
    * same shape). The overlap is the offset-robustness contract: a clip
    * inserted or trimmed at any multiple of `hopBytes` leaves every full
    * window of the common audio byte-identical, so the pair vote still
    * fires — plain disjoint framing (the video contract) loses all
    * alignment on a one-hop shift. Payloads shorter than one window get a
    * single truncated window; only full windows are emitted otherwise
    * (trailing partials carry no stable alignment). Output:
    * `(media_id, win_idx, ahash)`.
    */
  def audioFingerprints(media: Dataset[MediaRecord],
                        windowBytes: Int = 1024,
                        hopBytes: Int = 512): DataFrame = {
    require(hopBytes > 0 && windowBytes >= hopBytes,
      s"need windowBytes >= hopBytes > 0, got $windowBytes/$hopBytes")
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.filter(_.media_type == "audio").flatMap { m =>
        val content = if (m.content == null) Array.emptyByteArray else m.content
        val len = content.length
        val nWins =
          if (len == 0) 0
          else if (len < windowBytes) 1
          else 1 + (len - windowBytes) / hopBytes
        require(nWins < (1 << 20),
          s"media ${m.media_id}: $nWins windows exceeds the 2^20 fid budget")
        requireFidMediaId(m.media_id)
        (0 until nWins).iterator.map { w =>
          val frame = java.util.Arrays.copyOfRange(content, w * hopBytes,
            math.min(w * hopBytes + windowBytes, len))
          (m.media_id, w, dHash(FakeCodec.chunkGrid(frame)))
        }
      }
    }.toDF("media_id", "win_idx", "ahash")
  }

  /** Audio near-dup pairs by window vote — [[audioFingerprints]] through
    * the shared [[hashVotePairs]] machinery. Output:
    * `(id_a, id_b, n_window_pairs, n_matched_a, n_matched_b)`.
    */
  def audioPairs(media: Dataset[MediaRecord],
                 windowBytes: Int = 1024,
                 hopBytes: Int = 512,
                 maxHamming: Int = 3,
                 minMatchedWindows: Int = 2): DataFrame =
    hashVotePairs(audioFingerprints(media, windowBytes, hopBytes), "win_idx",
      "ahash", maxHamming, minMatchedWindows, pairsCol = "n_window_pairs")

  /** A resized media row: re-encoded payload + the old and new geometry. */
  case class ResizedMedia(
      media_id: Long,
      media_type: String,
      src_width: Int,
      src_height: Int,
      width: Int,
      height: Int,
      content: Array[Byte])

  /** Batch image resize: decode (javax.imageio), aspect-preserving scale so
    * the LONG edge becomes `maxEdge` (never upscales), bilinear resample
    * (java.awt — in the JDK), re-encode as PNG. Non-image rows and
    * undecodable payloads pass through untouched with their fake dims, so a
    * mixed corpus maps in one pass. Same mapPartitions batch shape as
    * [[extractFeatures]]: work runs where the data lives; only this
    * operator's output carries payloads, and resized payloads are strictly
    * smaller-or-equal rasters.
    */
  def resizeImages(media: Dataset[MediaRecord], maxEdge: Int): Dataset[ResizedMedia] = {
    require(maxEdge > 0, "maxEdge must be positive")
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.map { m0 =>
        val m = if (m0.content == null) m0.copy(content = Array.emptyByteArray) else m0
        val decoded =
          if (m.media_type == "image" && ImageCodec.looksLikeImage(m.content))
            try Option(javax.imageio.ImageIO.read(
              new java.io.ByteArrayInputStream(m.content)))
            catch { case _: Exception => None }
          else None
        decoded match {
          case Some(img) if img != null && math.max(img.getWidth, img.getHeight) > maxEdge =>
            val (w, h) = (img.getWidth, img.getHeight)
            val scale = maxEdge.toDouble / math.max(w, h)
            val (nw, nh) = (math.max(1, math.round(w * scale).toInt),
              math.max(1, math.round(h * scale).toInt))
            val out = new java.awt.image.BufferedImage(nw, nh,
              java.awt.image.BufferedImage.TYPE_INT_RGB)
            val g = out.createGraphics()
            try {
              g.setRenderingHint(
                java.awt.RenderingHints.KEY_INTERPOLATION,
                java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
              g.drawImage(img, 0, 0, nw, nh, null)
            } finally g.dispose()
            val bos = new java.io.ByteArrayOutputStream()
            javax.imageio.ImageIO.write(out, "png", bos)
            ResizedMedia(m.media_id, m.media_type, w, h, nw, nh, bos.toByteArray)
          case Some(img) if img != null =>
            // already within maxEdge: pass the ORIGINAL payload through —
            // a 1:1 re-raster + PNG transcode would burn CPU and typically
            // inflate the bytes (JPEG→PNG) for zero geometric change
            ResizedMedia(m.media_id, m.media_type, img.getWidth, img.getHeight,
              img.getWidth, img.getHeight, m.content)
          case _ =>
            val (w, h) = FakeCodec.decodeDims(m.content)
            ResizedMedia(m.media_id, m.media_type, w, h, w, h, m.content)
        }
      }
    }
  }

  /** Frame sampling for video rows: every `stride`-th fake frame index,
    * capped at `maxFrames` — the batch-shape contract of a real
    * frame-sampler (one output row per sampled frame).
    */
  def sampleFrames(media: Dataset[MediaRecord], stride: Int, maxFrames: Int): DataFrame = {
    val mm = media.toDF()
    mm.filter(col("media_type") === "video")
      .withColumn("n_frames",
        (lit(1) + floor(length(col("content")) / FakeCodec.VideoBytesPerFrame)).cast("int"))
      .withColumn("frame_idx",
        explode(slice(sequence(lit(0), col("n_frames") - 1, lit(stride)), 1, maxFrames)))
      .select("media_id", "frame_idx", "n_frames")
  }

  /** Synthesize a media table from the documents corpus (payload = utf-8
    * bytes) — the test fixture: real binary column, fake media.
    */
  def syntheticMedia(spark: SparkSession, sfDir: String): Dataset[MediaRecord] = {
    import spark.implicits._
    spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id").as("media_id"),
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (col("doc_id") % 3 + 1).cast("int")).as("media_type"),
        encode(col("text"), "UTF-8").as("content"),
        map(lit("source"), col("source"), lit("lang"), col("lang")).as("meta"))
      .as[MediaRecord]
  }
}
