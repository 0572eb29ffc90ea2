package graft.llm

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column support: image/audio/video as opaque binary
  * columns with typed metadata, processed partition-parallel.
  *
  * The pipeline shape is the real part — `binaryFile` source (path,
  * length, content), schema'd metadata struct, deterministic
  * partitioning, typed `mapPartitions` batch processing (the Scala
  * analog of `mapInPandas`: one iterator per partition so decoders can
  * amortize per-partition init).
  *
  * Decoding: images decode for REAL via `javax.imageio` (in the JDK —
  * PNG/JPEG/BMP/GIF), including bilinear aspect-fit resampling and a
  * luminance-strip feature; WAV/PCM audio decodes for REAL via
  * `javax.sound.sampled` (also JDK) with an RMS-strip feature;
  * PCM-in-MP4 decodes for REAL via [[Mp4Pcm]] and Motion-JPEG video
  * via [[Mp4Jpeg]] — the reference [[MediaDecoder]] implementations,
  * walking the full ISO BMFF sample tables ([[Mp4Tables]]:
  * stsd/stsz/stsc/stco) — plugged with `extractFeatures(decoder =
  * Some(MediaDecoder.firstOf(Mp4Pcm, Mp4Jpeg)))`. Lossy-codec
  * (AAC/H.264/MP3) PAYLOAD decoding remains a clearly-marked STUB
  * (`decodeStub`) — those codecs are not in the JDK or this
  * container; production swaps in ffmpeg behind the SAME seam the
  * two reference decoders prove out. Their
  * HEADERS, however, parse for real:
  * [[MediaMetadata.avMetadata]] extracts duration/codec/rate/
  * channels/dimensions from mp3 frame headers and mp4 box trees, so
  * compressed media yields usable metadata rows instead of a blanket
  * quarantine. */
object Multimodal {

  /** Typed metadata for one media file. */
  case class MediaMeta(path: String, mediaType: String, nBytes: Long,
                       width: Int, height: Int, nFrames: Int)

  /** Extracted feature row: metadata + a fixed-width feature vector
    * (the batch shape a downstream embedding model consumes). */
  case class MediaFeatures(path: String, mediaType: String, width: Int,
                           height: Int, nFrames: Int,
                           feature: Array[Double],
                           /** "decoded" (real decode), "stubbed"
                             * (deterministic fake), or "quarantined"
                             * (a claiming decoder rejected the
                             * bytes — routed out, never fake data;
                             * `feature` is a featureDim-length NaN
                             * sentinel, so batch it only after
                             * filtering status != "quarantined") */
                           status: String = "decoded")

  /** Pluggable compressed-codec decoder — the seam production fills
    * with an ffmpeg-backed implementation (mp3/mp4 codecs are not in
    * the JDK or this container). The instance is closure-serialized
    * into the `mapPartitions` stage, so implementations must be
    * `Serializable` and construct any native handles lazily
    * per-executor (e.g. in a transient lazy val), exactly like a
    * Pandas-UDF decoder would. */
  trait MediaDecoder extends Serializable {
    /** Whether this decoder handles the media type ("audio/mpeg"…). */
    def claims(mediaType: String): Boolean
    /** Decode to (width-or-rate, height-or-channels, frames, mono
      * samples), or None for bytes this codec rejects — those rows
      * route to `status = "quarantined"`, never to fake data. */
    def decode(mediaType: String, bytes: Array[Byte])
    : Option[(Int, Int, Int, Array[Double])]
  }

  object MediaDecoder {
    /** Compose decoders: claims when any claims; on decode, each
      * claiming decoder is tried in order and the first success wins
      * (so [[Mp4Pcm]] and [[Mp4Jpeg]] — both claiming "video/mp4" —
      * cover the audio-PCM and video-MJPEG track shapes in one
      * plug). Quarantine only when EVERY claiming decoder rejects. */
    def firstOf(decoders: MediaDecoder*): MediaDecoder =
      new MediaDecoder {
        def claims(mediaType: String): Boolean =
          decoders.exists(_.claims(mediaType))
        def decode(mediaType: String, bytes: Array[Byte])
        : Option[(Int, Int, Int, Array[Double])] =
          decoders.iterator.filter(_.claims(mediaType))
            .map(_.decode(mediaType, bytes))
            .collectFirst { case Some(r) => r }
      }
  }

  /** Media-type dispatch by extension (P7 pattern). */
  val mediaTypes: Map[String, String] = Map(
    "jpg" -> "image/jpeg", "jpeg" -> "image/jpeg", "png" -> "image/png",
    "tif" -> "image/tiff", "wav" -> "audio/wav", "mp3" -> "audio/mpeg",
    "mp4" -> "video/mp4")

  /** The one extension→media-type rule every consumer shares. */
  def mediaTypeOf(path: String): String = mediaTypes.getOrElse(
    path.split('.').lastOption.getOrElse("").toLowerCase,
    "application/octet-stream")

  /** Decompression-bomb guard for [[decodeImage]]: ImageIO allocates
    * the full w×h pixel raster from the HEADER-declared dimensions
    * before decoding a single pixel, so a hostile 200-byte file
    * claiming 2^30×32 turns into a ~137 GB allocation (OOM — fatal,
    * not quarantinable) with no relation to the input size. 2^26
    * pixels (8192×8192 RGBA = 256 MB) is far above any real training
    * image and caps the allocation at something one task absorbs. */
  val MaxImagePixels: Long = 1L << 26

  /** Real image decode via the JDK's javax.imageio (PNG/JPEG/BMP/GIF).
    * None for undecodable bytes — callers fall back to [[decodeStub]]
    * so a corrupt file degrades, never crashes the partition. The
    * header dimensions are validated against [[MaxImagePixels]]
    * BEFORE the raster is allocated (the reader parses only the
    * header for getWidth/getHeight) — fail closed, never OOM. */
  def decodeImage(bytes: Array[Byte])
  : Option[java.awt.image.BufferedImage] =
    try {
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try {
        val readers =
          if (iis == null) java.util.Collections.emptyIterator[javax.imageio.ImageReader]()
          else javax.imageio.ImageIO.getImageReaders(iis)
        if (!readers.hasNext) None
        else {
          val r = readers.next()
          try {
            r.setInput(iis)
            val w = r.getWidth(0).toLong
            val h = r.getHeight(0).toLong
            if (w <= 0 || h <= 0 || w * h > MaxImagePixels) None
            else Option(r.read(0))
          } finally r.dispose()
        }
      } finally if (iis != null) iis.close()
    } catch { case _: Exception => None }

  /** Bilinear aspect-fit resample into (maxW, maxH), never upscaling —
    * the pixel half of [[resizePlan]]'s column math. */
  def resizeImage(img: java.awt.image.BufferedImage, maxW: Int,
                  maxH: Int): java.awt.image.BufferedImage = {
    val scale = math.min(1.0,
      math.min(maxW.toDouble / img.getWidth, maxH.toDouble / img.getHeight))
    if (scale >= 1.0) img
    else {
      val w = math.max(1, (img.getWidth * scale).toInt)
      val h = math.max(1, (img.getHeight * scale).toInt)
      val out = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val g = out.createGraphics()
      try {
        g.setRenderingHint(
          java.awt.RenderingHints.KEY_INTERPOLATION,
          java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
        g.drawImage(img, 0, 0, w, h, null)
      } finally g.dispose()
      out
    }
  }

  /** Mean-luminance feature over `dim` vertical strips in [0, 1] —
    * a deterministic, testable stand-in for a learned embedding with
    * the same shape contract (fixed-width Array[Double]). */
  def luminanceStripFeature(img: java.awt.image.BufferedImage,
                            dim: Int): Array[Double] = {
    val w = img.getWidth; val h = img.getHeight
    val sums = new Array[Double](dim)
    val counts = new Array[Long](dim)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y)
        val lum = (((rgb >> 16) & 0xFF) * 299L + ((rgb >> 8) & 0xFF) * 587L +
          (rgb & 0xFF) * 114L) / 1000.0
        val s = math.min(dim - 1, x * dim / w)
        sums(s) += lum / 255.0
        counts(s) += 1
        x += 1
      }
      y += 1
    }
    Array.tabulate(dim)(i => if (counts(i) == 0) 0.0 else sums(i) / counts(i))
  }

  /** Real WAV/PCM audio decode via the JDK's javax.sound.sampled
    * (8-bit unsigned and 16-bit signed PCM — the standard WAV
    * encodings). Returns (sampleRate, channels, frames, mono samples
    * in [-1, 1], channel-averaged). None for compressed or corrupt
    * audio — callers fall back to [[decodeStub]] (mp3/mp4 codecs are
    * genuinely absent from the JDK). */
  def decodeWav(bytes: Array[Byte])
  : Option[(Float, Int, Long, Array[Double])] =
    try {
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try {
        val fmt = ais.getFormat
        val enc = fmt.getEncoding
        val bits = fmt.getSampleSizeInBits
        val ok =
          (enc == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED && bits == 16) ||
            (enc == javax.sound.sampled.AudioFormat.Encoding.PCM_UNSIGNED && bits == 8)
        if (!ok || ais.getFrameLength <= 0) None
        else {
          val channels = fmt.getChannels
          // bound by the bytes ACTUALLY present, not the header claim:
          // getFrameLength comes straight from the RIFF data-chunk size
          // field, so a corrupt/hostile header can declare 2^31 frames
          // on a 1 KB file — sizing the sample array from it is a 16 GB
          // allocation bomb (OOM — fatal, not quarantinable). raw is
          // bounded by the real stream, so min() is a no-op for valid
          // files and the bomb cap for inflated ones.
          val raw = ais.readAllBytes()
          val frames = math.min(ais.getFrameLength,
            raw.length.toLong / math.max(1, channels * (bits / 8)))
          if (frames <= 0) return None
          val mono = new Array[Double](frames.toInt)
          val big = fmt.isBigEndian
          var f = 0
          while (f < mono.length) {
            var acc = 0.0
            var c = 0
            while (c < channels) {
              val idx = (f * channels + c) * (bits / 8)
              acc +=
                (if (bits == 8) ((raw(idx) & 0xFF) - 128) / 128.0
                 else {
                   val lo = if (big) raw(idx + 1) else raw(idx)
                   val hi = if (big) raw(idx) else raw(idx + 1)
                   ((hi << 8) | (lo & 0xFF)) / 32768.0
                 })
              c += 1
            }
            mono(f) = acc / channels
            f += 1
          }
          Some((fmt.getSampleRate, channels, frames, mono))
        }
      } finally ais.close()
    } catch { case _: Exception => None }

  /** RMS energy over `dim` equal time strips — the audio analog of
    * [[luminanceStripFeature]]: deterministic, fixed-width, the shape
    * a downstream audio-embedding model consumes. */
  def rmsStripFeature(samples: Array[Double], dim: Int): Array[Double] = {
    val sums = new Array[Double](dim)
    val counts = new Array[Long](dim)
    var i = 0
    while (i < samples.length) {
      val s = math.min(dim - 1, (i.toLong * dim / samples.length).toInt)
      sums(s) += samples(i) * samples(i)
      counts(s) += 1
      i += 1
    }
    Array.tabulate(dim)(i =>
      if (counts(i) == 0) 0.0 else math.sqrt(sums(i) / counts(i)))
  }

  /** STUB decoder for compressed audio/video (mp3/mp4 codecs are not
    * in the JDK or this container) — deterministic fake deriving
    * dimensions from the byte content. Production replaces ONLY this
    * function (ffmpeg), keeping the schema, partitioning and batch
    * shape identical. */
  def decodeStub(mediaType: String, bytes: Array[Byte]): (Int, Int, Int) = {
    var h = 1125899906842597L
    var i = 0
    while (i < math.min(bytes.length, 4096)) {
      h = 31 * h + bytes(i); i += 1
    }
    val w = 16 + math.floorMod(h, 1024).toInt
    val ht = 16 + math.floorMod(h >>> 10, 1024).toInt
    val frames =
      if (mediaType.startsWith("video")) 1 + math.floorMod(h >>> 20, 300).toInt
      else 1
    (w, ht, frames)
  }

  /** Read a directory of media files as a binary DataFrame
    * (path, modificationTime, length, content). */
  def readMedia(spark: SparkSession, path: String,
                glob: String = "*"): DataFrame =
    spark.read.format("binaryFile")
      .option("pathGlobFilter", glob)
      .option("recursiveFileLookup", "true")
      .load(path)

  /** Decode + feature-extract, partition-parallel. The per-partition
    * iterator lets real decoders reuse native contexts across files
    * (the `mapInPandas` batch-shape analog). */
  def extractFeatures(media: DataFrame, featureDim: Int = 8,
                      decoder: Option[MediaDecoder] = None)
  : Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("path"), col("length"), col("content"))
      .as[(String, Long, Array[Byte])]
      .mapPartitions { files =>
        // per-partition init happens here (native decoder handles etc.)
        files.map { case (path, _, bytes) =>
          val mt = mediaTypeOf(path)
          val image =
            if (mt.startsWith("image/")) decodeImage(bytes) else None
          val audio =
            if (mt.startsWith("audio/")) decodeWav(bytes) else None
          (image, audio) match {
            case (Some(img), _) =>
              // real image path: decode -> aspect-fit resample -> feature
              val resized = resizeImage(img, 256, 256)
              MediaFeatures(path, mt, img.getWidth, img.getHeight, 1,
                luminanceStripFeature(resized, featureDim))
            case (_, Some((rate, channels, frames, mono))) =>
              // real audio path: width/height carry rate/channels so
              // the one schema serves all modalities
              MediaFeatures(path, mt, rate.toInt, channels, frames.toInt,
                rmsStripFeature(mono, featureDim))
            case _ if decoder.exists(_.claims(mt)) =>
              // plugged compressed-codec decoder (the production
              // seam): real decode, or quarantine when the codec
              // rejects the bytes — never fake data for a claimed type
              decoder.get.decode(mt, bytes) match {
                case Some((w, h, frames, mono)) =>
                  MediaFeatures(path, mt, w, h, frames,
                    rmsStripFeature(mono, featureDim))
                case None =>
                  // featureDim-length NaN sentinel: feature batches
                  // stay rectangular even if a consumer forgets to
                  // filter status != "quarantined" first — NaN
                  // poisons any distance/aggregate it leaks into
                  // instead of contributing plausible values
                  MediaFeatures(path, mt, 0, 0, 0,
                    Array.fill(featureDim)(Double.NaN),
                    status = "quarantined")
              }
            case _ =>
              val (w, h, frames) = decodeStub(mt, bytes)
              // STUB feature for compressed/undecodable bytes
              val feat = Array.tabulate(featureDim) { i =>
                val slice = if (bytes.isEmpty) 0L
                  else bytes(math.floorMod(i * 37, bytes.length)).toLong
                (slice + i).toDouble / 256.0
              }
              MediaFeatures(path, mt, w, h, frames, feat,
                status = "stubbed")
          }
        }
      }
  }

  /** Aspect-preserving resize planning: fit (width, height) into a
    * target box without upscaling — the column-math half of a resize
    * stage (the pixel resample itself lives behind the same pluggable
    * seam as [[decodeStub]]). Returns the plan with `target_w`,
    * `target_h`, `scale` columns; rows already inside the box keep
    * their dimensions (scale 1.0). */
  def resizePlan(features: Dataset[MediaFeatures], maxW: Int = 512,
                 maxH: Int = 512): DataFrame = {
    val scale = least(
      lit(maxW).cast("double") / col("width"),
      lit(maxH).cast("double") / col("height"),
      lit(1.0))
    features.toDF()
      .withColumn("scale", scale)
      .withColumn("target_w",
        greatest(floor(col("width") * col("scale")), lit(1)).cast("int"))
      .withColumn("target_h",
        greatest(floor(col("height") * col("scale")), lit(1)).cast("int"))
  }

  /** Frame-sampling plan for VIDEO rows only: one row per sampled
    * frame index — the explode-on-metadata pattern that keeps
    * per-frame work distributed without decoding on the driver.
    * Non-video rows are excluded: audio rows carry their PCM sample
    * count in nFrames, which would explode a 1-hour WAV into millions
    * of meaningless rows. */
  def sampleFrames(features: Dataset[MediaFeatures],
                   everyN: Int = 30): DataFrame =
    features.toDF()
      .filter(col("mediaType").startsWith("video/"))
      .withColumn("frame_idx",
        explode(sequence(lit(0), greatest(col("nFrames") - 1, lit(0)),
          lit(everyN))))
      .select(col("path"), col("mediaType"), col("frame_idx"))

  /** 64-bit average hash (aHash): mean luminance over an 8×8 grid,
    * each cell thresholded by the grid's own mean — bit i set iff
    * cell i is brighter than average. Integer-summed luminance (no
    * float accumulation), so the hash is fully deterministic.
    * Robust to resize/re-encode/brightness-preserving noise; hamming
    * distance between hashes is the image-similarity signal. */
  def aHash64(img0: java.awt.image.BufferedImage): Long = {
    // bound the integer sums: above ~4 MP the cross-multiplied
    // threshold compare below could overflow Long (gridSum·counts ≤
    // 255000·total² must stay < 2⁶³) — and an 8×8 mean grid gains
    // nothing from more pixels anyway
    val img =
      if (img0.getWidth.toLong * img0.getHeight > (1L << 22))
        resizeImage(img0, 2048, 2048)
      else img0
    val w = img.getWidth; val h = img.getHeight
    val sums = new Array[Long](64)
    val counts = new Array[Long](64)
    var y = 0
    while (y < h) {
      val gy = math.min(7, y * 8 / h)
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y)
        // integer milli-luminance (BT.601 weights, like the strips)
        val lum = ((rgb >> 16) & 0xFF) * 299L + ((rgb >> 8) & 0xFF) * 587L +
          (rgb & 0xFF) * 114L
        val cell = gy * 8 + math.min(7, x * 8 / w)
        sums(cell) += lum
        counts(cell) += 1
        x += 1
      }
      y += 1
    }
    // cell means and grid mean in exact rationals: compare
    // cellSum*totalCount*64 vs totalSum*cellCount*64 — avoided by
    // comparing cellSum*total vs gridSum*cellCount (cross-multiplied)
    val gridSum = sums.sum
    val total = counts.sum
    var hash = 0L
    var i = 0
    while (i < 64) {
      if (counts(i) > 0 &&
        sums(i) * total > gridSum * counts(i)) hash |= (1L << i)
      i += 1
    }
    hash
  }

  /** Perceptual hashes for every decodable image in a binaryFile
    * frame: (path, ahash) — undecodable/non-image rows are dropped.
    * One decode pass, partition-parallel, nothing on the driver. */
  def imageHashes(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .mapPartitions(_.flatMap { case (path, bytes) =>
        decodeImage(bytes).map(img => (path, aHash64(img)))
      })
      .toDF("path", "ahash")
  }

  /** 64-bit audio fingerprint: the aHash idea on PCM — RMS energy
    * over 64 equal time strips, each thresholded by the mean strip
    * energy. Invariant to uniform gain (threshold scales with the
    * signal) and to resampling that preserves the envelope; hamming
    * distance is the similarity signal. Deterministic (double math on
    * a fixed strip partition of a decoded sample array). */
  def audioHash64(mono: Array[Double]): Long = {
    val strips = rmsStripFeature(mono, 64)
    val mean = strips.sum / 64.0
    var hash = 0L
    var i = 0
    while (i < 64) {
      if (strips(i) > mean) hash |= (1L << i)
      i += 1
    }
    hash
  }

  /** Fingerprints for every decodable WAV in a binaryFile frame:
    * (path, ahash) — same output shape as [[imageHashes]], so
    * [[nearDuplicateMedia]]'s banded matcher serves both
    * modalities. */
  def audioHashes(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .mapPartitions(_.flatMap { case (path, bytes) =>
        decodeWav(bytes).map { case (_, _, _, mono) =>
          (path, audioHash64(mono))
        }
      })
      .toDF("path", "ahash")
  }

  /** Near-duplicate media pairs by banded hamming over a 64-bit
    * perceptual hash (aHash64 for images, audioHash64 for WAVs) — the
    * simhash recipe applied to perceptual bits: 8 bands of 8 bits; a
    * pair with hamming ≤ `maxDist` ≤ 7 differs in at most 7 bands, so
    * by pigeonhole it AGREES on at least one band and becomes a
    * candidate (full recall — hence the hard `maxDist ≤ 7` limit,
    * beyond which banding would silently drop true pairs). Candidates
    * verify by exact popcount. Scale shape: the
    * [[Dedup.cappedBucketPairs]] bucket rule on (band, band value) — a
    * degenerate corpus of near-identical hashes must not go quadratic,
    * so over-cap buckets drop whole, trading recall ONLY on
    * boilerplate-like clusters — then distinct candidate pairs and a
    * cheap XOR verify; never all-pairs. */
  def nearDuplicateMedia(hashes: DataFrame, maxDist: Int = 3,
                         maxBucketSize: Int = 1000): DataFrame = {
    require(maxDist >= 0 && maxDist <= 7,
      s"maxDist must be in [0, 7] for 8x8 banding recall, got $maxDist")
    require(maxBucketSize > 1, s"maxBucketSize must be > 1, got $maxBucketSize")
    val banded = hashes.select(col("path"), col("ahash"),
      explode(sequence(lit(0), lit(7))).as("band"))
      .withColumn("bv",
        expr("shiftrightunsigned(ahash, band * 8)").bitwiseAND(lit(0xFFL)))
    Dedup.cappedBucketPairs(banded, Seq("band", "bv"),
      struct(col("path"), col("ahash")), maxBucketSize) { (x, y) =>
      struct(x.getField("path").as("path_a"), y.getField("path").as("path_b"),
        x.getField("ahash").as("ha"), y.getField("ahash").as("hb"))
    }.where(col("path_a") < col("path_b")).distinct()
      .withColumn("hamming", bit_count(col("ha").bitwiseXOR(col("hb"))))
      .where(col("hamming") <= maxDist)
      .select("path_a", "path_b", "hamming")
  }
}
