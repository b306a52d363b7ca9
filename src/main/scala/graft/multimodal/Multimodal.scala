package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Typed multimodal record: opaque payload bytes + typed metadata. */
final case class MediaRecord(
    media_id: Long,
    modality: String, // "image" | "audio" | "video"
    payload: Array[Byte],
    width: Int, // image/video pixels; audio: sample rate
    height: Int, // image/video pixels; audio: channels
    duration_ms: Long // 0 for still images
)

final case class MediaFeatures(
    media_id: Long,
    modality: String,
    n_frames: Int,
    feature: Array[Float])

/**
 * Multimodal-column plumbing: image/audio/video as opaque `binary` columns
 * with typed metadata, batched per-partition decode → feature extraction.
 *
 * Codecs: ALL THREE modalities are real JDK codecs — no stub anywhere
 * since round 5. Payloads are genuine PNG ([[encodePng]]/[[decodePng]],
 * `javax.imageio`), WAV ([[encodeWav]]/[[decodeWav]],
 * `javax.sound.sampled`), and multi-frame animated GIF
 * ([[encodeGif]]/[[decodeGifFrame]] — the one motion format the JDK can
 * both write and read, closing the round-4 video stub; a production build
 * swaps the GIF coder for JNI/ffmpeg behind the identical
 * `(payload, frameIndex) → grid` contract). [[extractFeatures]] decodes
 * every modality for real before the (also real) bilinear resize.
 * Everything Spark-side is real and tested: schema, typed Dataset API,
 * per-partition batching (`mapPartitions`, the Scala analogue of
 * `mapInPandas` batch processing), frame sampling, and partition-count
 * preservation.
 */
object Multimodal {

  final val FeatureDim = 16

  // ---- real image codec (PNG, javax.imageio) --------------------------

  /** Deterministic grayscale test-pattern grid for media `id` (values in
    * [0, 1]; an id-phased diagonal gradient — smooth enough that resize
    * behaves like on a natural image, id-dependent so features differ). */
  def synthImageGrid(id: Long, w: Int, h: Int): Array[Float] = {
    val out = new Array[Float](w * h)
    val phase = (id % 251).toInt
    var j = 0
    while (j < h) {
      var i = 0
      while (i < w) {
        out(j * w + i) = (((i * 3 + j * 5 + phase) % 256) / 255.0f)
        i += 1
      }
      j += 1
    }
    out
  }

  /** Encode a [0,1] row-major grid as a real 8-bit grayscale PNG. */
  def encodePng(grid: Array[Float], w: Int, h: Int): Array[Byte] = {
    require(grid.length == w * h, s"grid ${grid.length} != ${w}x$h")
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    var j = 0
    while (j < h) {
      var i = 0
      while (i < w) {
        val v = math.max(0, math.min(255, math.round(grid(j * w + i) * 255f)))
        raster.setSample(i, j, 0, v)
        i += 1
      }
      j += 1
    }
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.setUseCache(false) // no executor-local temp files
    javax.imageio.ImageIO.write(img, "png", baos)
    baos.toByteArray
  }

  /** Decode a PNG payload to a [0,1] grayscale row-major grid + dims.
    * 8-bit quantization makes encode→decode exact to 1/255 — round-trip
    * pinned in MultimodalCodecSpec. */
  def decodePng(payload: Array[Byte]): (Array[Float], Int, Int) = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
    require(img != null, "payload is not a decodable image")
    val w = img.getWidth
    val h = img.getHeight
    val raster = img.getRaster
    val out = new Array[Float](w * h)
    var j = 0
    while (j < h) {
      var i = 0
      while (i < w) {
        out(j * w + i) = raster.getSample(i, j, 0) / 255.0f
        i += 1
      }
      j += 1
    }
    (out, w, h)
  }

  // ---- real video codec (multi-frame animated GIF, javax.imageio) -----

  /** Deterministic grayscale frame sequence for video `id`: the image
    * test pattern advanced per frame (phase shift — adjacent frames
    * differ the way consecutive video frames do), `n` frames. */
  def synthVideoFrames(id: Long, w: Int, h: Int, n: Int): Seq[Array[Float]] =
    (0 until n).map(f => synthImageGrid(id + f * 37L, w, h))

  /** A [0,1] grid as an 8-bit image over an EXPLICIT 256-entry gray
    * palette — the GIF writer serializes an indexed image's color table
    * verbatim, which is what makes the GIF round-trip exact to 1/255
    * (handing it TYPE_BYTE_GRAY would leave palette construction to the
    * writer's own quantizer). */
  private def grayIndexedImage(grid: Array[Float], w: Int, h: Int)
      : java.awt.image.BufferedImage = {
    require(grid.length == w * h, s"grid ${grid.length} != ${w}x$h")
    val ramp = Array.tabulate(256)(_.toByte)
    val icm = new java.awt.image.IndexColorModel(8, 256, ramp, ramp, ramp)
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, icm)
    val raster = img.getRaster
    var j = 0
    while (j < h) {
      var i = 0
      while (i < w) {
        val v = math.max(0, math.min(255, math.round(grid(j * w + i) * 255f)))
        raster.setSample(i, j, 0, v)
        i += 1
      }
      j += 1
    }
    img
  }

  /** Encode a frame sequence as a real multi-frame animated GIF
    * (`prepareWriteSequence`/`writeToSequence` — the JDK's one motion
    * container with both a writer and a reader). */
  def encodeGif(frames: Seq[Array[Float]], w: Int, h: Int): Array[Byte] = {
    require(frames.nonEmpty, "a video payload needs at least one frame")
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.setUseCache(false) // no executor-local temp files
    val ios = javax.imageio.ImageIO.createImageOutputStream(baos)
    try {
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      frames.foreach { f =>
        writer.writeToSequence(
          new javax.imageio.IIOImage(grayIndexedImage(f, w, h), null, null), null)
      }
      writer.endWriteSequence()
      ios.flush()
    } finally {
      writer.dispose()
      ios.close()
    }
    baos.toByteArray
  }

  /** Number of frames stored in a GIF payload. */
  def gifFrameCount(payload: Array[Byte]): Int = {
    val reader = javax.imageio.ImageIO.getImageReadersByFormatName("gif").next()
    val iis = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(payload))
    try {
      reader.setInput(iis, false)
      reader.getNumImages(true)
    } finally {
      reader.dispose()
      iis.close()
    }
  }

  /** Decode frame `frameIndex` of a GIF payload to a [0,1] grayscale
    * row-major grid + dims. The index CLAMPS to the stored frame count —
    * the real-decoder contract for a sampler asking past the end of a
    * short clip. Our encoder's palette is gray (R=G=B), so any single
    * RGB channel reconstructs the sample exactly. */
  def decodeGifFrame(payload: Array[Byte], frameIndex: Int)
      : (Array[Float], Int, Int) = {
    val reader = javax.imageio.ImageIO.getImageReadersByFormatName("gif").next()
    val iis = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(payload))
    try {
      reader.setInput(iis, false)
      val n = reader.getNumImages(true)
      require(n >= 1, "payload is not a decodable GIF")
      val img = reader.read(math.min(math.max(0, frameIndex), n - 1))
      val w = img.getWidth
      val h = img.getHeight
      val out = new Array[Float](w * h)
      var j = 0
      while (j < h) {
        var i = 0
        while (i < w) {
          out(j * w + i) = ((img.getRGB(i, j) >> 16) & 0xff) / 255.0f
          i += 1
        }
        j += 1
      }
      (out, w, h)
    } finally {
      reader.dispose()
      iis.close()
    }
  }

  // ---- real audio codec (WAV PCM16, javax.sound.sampled) --------------

  /** Deterministic mono test tone for media `id`: an id-pitched sine with
    * an id-phased amplitude envelope, `n` samples in [-1, 1]. */
  def synthAudioSamples(id: Long, n: Int): Array[Float] = {
    val out = new Array[Float](n)
    val freq = 2.0 * math.Pi * (2.0 + (id % 17).toDouble) / n
    var i = 0
    while (i < n) {
      val env = 0.25 + 0.75 * (i.toDouble / n)
      out(i) = (math.sin(freq * i + (id % 7).toDouble) * env).toFloat
      i += 1
    }
    out
  }

  /** Encode [-1,1] mono samples as a real RIFF/WAVE file (PCM 16-bit LE). */
  def encodeWav(samples: Array[Float], sampleRate: Int): Array[Byte] = {
    val fmt = new javax.sound.sampled.AudioFormat(
      sampleRate.toFloat, 16, 1, true, false)
    val bytes = new Array[Byte](samples.length * 2)
    var i = 0
    while (i < samples.length) {
      val s = math.max(-32768, math.min(32767,
        math.round(samples(i) * 32767f))).toShort
      bytes(2 * i) = (s & 0xff).toByte
      bytes(2 * i + 1) = ((s >> 8) & 0xff).toByte
      i += 1
    }
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(bytes), fmt, samples.length.toLong)
    val baos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, baos)
    baos.toByteArray
  }

  /** Decode a WAV payload to [-1,1] mono samples + sample rate. */
  def decodeWav(payload: Array[Byte]): (Array[Float], Int) = {
    val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(payload))
    val fmt = ais.getFormat
    require(fmt.getChannels == 1 && fmt.getSampleSizeInBits == 16,
      s"expected mono PCM16, got $fmt")
    val raw = ais.readAllBytes()
    val n = raw.length / 2
    val out = new Array[Float](n)
    var i = 0
    while (i < n) {
      val lo = raw(2 * i) & 0xff
      val hi = raw(2 * i + 1).toInt
      // divide by 32768, not 32767: a full-scale negative sample (-32768,
      // legal PCM16 even though our own encoder never emits it) must land
      // exactly on -1.0, not outside the documented [-1,1] contract
      out(i) = ((hi << 8) | lo).toShort / 32768.0f
      i += 1
    }
    (out, fmt.getSampleRate.toInt)
  }

  /** Uniform frame sampling: `n` frame indices over the clip duration
    * (1 frame for stills/audio windows). */
  def sampleFrames(durationMs: Long, maxFrames: Int): Array[Int] =
    if (durationMs <= 0) Array(0)
    else Array.tabulate(math.min(maxFrames, math.max(1, (durationMs / 1000).toInt)))(identity)

  /** Bilinear RESIZE of a row-major float grid — unlike the codec, resize
    * is pure geometry on the decoded grid and therefore fully REAL here
    * (not stubbed): output pixel (i, j) samples the input at the standard
    * align-corners fractional coordinates with bilinear weights. Used
    * between decode and feature extraction in a production pipeline; the
    * grid can be an image plane, a spectrogram, or a video frame. */
  def resizeBilinear(grid: Array[Float], w: Int, h: Int,
      ow: Int, oh: Int): Array[Float] = {
    require(w >= 1 && h >= 1 && ow >= 1 && oh >= 1 && grid.length == w * h,
      s"bad grid: ${grid.length} vs ${w}x$h -> ${ow}x$oh")
    val out = new Array[Float](ow * oh)
    val sx = if (ow == 1) 0.0 else (w - 1).toDouble / (ow - 1)
    val sy = if (oh == 1) 0.0 else (h - 1).toDouble / (oh - 1)
    var j = 0
    while (j < oh) {
      val fy = j * sy
      val y0 = math.floor(fy).toInt
      val y1 = math.min(h - 1, y0 + 1)
      val wy = fy - y0
      var i = 0
      while (i < ow) {
        val fx = i * sx
        val x0 = math.floor(fx).toInt
        val x1 = math.min(w - 1, x0 + 1)
        val wx = fx - x0
        val top = grid(y0 * w + x0) * (1 - wx) + grid(y0 * w + x1) * wx
        val bot = grid(y1 * w + x0) * (1 - wx) + grid(y1 * w + x1) * wx
        out(j * ow + i) = (top * (1 - wy) + bot * wy).toFloat
        i += 1
      }
      j += 1
    }
    out
  }

  /** Per-modality frame decode to a FeatureDim vector — REAL for all
    * three: image (PNG decode → real bilinear resize to 4×4), audio (WAV
    * decode → |sample| envelope resampled to 16 bins through the same
    * resize kernel at h=1), and video (GIF frame decode → the image
    * resize). Per-frame GIF access re-scans the container (LZW frames are
    * delta-ordered), which is fine at the gate's ≤8 tiny frames; a
    * production JNI/ffmpeg swap would hold one demuxer per record behind
    * this same contract. Unknown modalities fail loudly. */
  def decodeFeature(rec: MediaRecord, frameIndex: Int): Array[Float] =
    rec.modality match {
      case "image" =>
        val (g, w, h) = decodePng(rec.payload)
        resizeBilinear(g, w, h, 4, 4) // 4x4 = FeatureDim
      case "audio" =>
        val (s, _) = decodeWav(rec.payload)
        val env = new Array[Float](s.length)
        var i = 0
        while (i < s.length) { env(i) = math.abs(s(i)); i += 1 }
        resizeBilinear(env, s.length, 1, FeatureDim, 1)
      case "video" =>
        val (g, w, h) = decodeGifFrame(rec.payload, frameIndex)
        resizeBilinear(g, w, h, 4, 4)
      case other =>
        throw new IllegalArgumentException(s"unknown modality: $other")
    }

  /** Batched decode + mean-pool over sampled frames. Runs per partition —
    * no shuffle, codec state amortized across a partition's rows (the
    * mapInPandas batch-shape contract). */
  def extractFeatures(media: Dataset[MediaRecord], maxFrames: Int = 8): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.map { rec =>
        val frames = sampleFrames(rec.duration_ms, maxFrames)
        val acc = new Array[Float](FeatureDim)
        frames.foreach { f =>
          val feat = decodeFeature(rec, f)
          var i = 0
          while (i < FeatureDim) { acc(i) += feat(i); i += 1 }
        }
        var i = 0
        while (i < FeatureDim) { acc(i) /= frames.length; i += 1 }
        MediaFeatures(rec.media_id, rec.modality, frames.length, acc)
      }
    }
  }

  /** Deterministic synthetic media table derived from `documents` — REAL
    * binary payloads for every modality since round 5: image rows carry
    * genuine PNGs, audio rows genuine WAVs, video rows genuine multi-frame
    * animated GIFs at 1 fps (one stored frame per clip-second, so the
    * frame sampler exercises real per-frame decode). All payloads are
    * sized small — ≤40×21 px stills, ≤1280 samples, ≤10 frames of
    * ≤48×24 px — so the 50k-doc sf0.1 gate encodes+decodes in ~a second
    * across cores. Modality routing and the video frame rule are
    * unchanged and mirrored in the q27 oracle (doc_id % 3; duration
    * (doc_id % 10 + 1) s); the metadata dims are now the TRUE stored
    * frame dims. */
  def synthesize(spark: SparkSession, sfDir: String): Dataset[MediaRecord] = {
    import spark.implicits._
    // widened (round 7): the documents file is ONE input split, so the
    // whole encode(+downstream decode) pipeline otherwise runs in a single
    // task regardless of cores — the per-row codec work is exactly the
    // heavy-kernel case Tables.widen exists for
    graft.queries.Tables.widen(
      graft.queries.Tables.documents(spark, sfDir).select(col("doc_id")))
      .as[Long]
      .map { id =>
        (id % 3) match {
          case 0 =>
            val w = ((id % 4) * 8 + 16).toInt
            val h = ((id % 4) * 4 + 9).toInt
            MediaRecord(id, "image",
              encodePng(synthImageGrid(id, w, h), w, h), w, h, 0L)
          case 1 =>
            val rate = ((id % 4) * 2000 + 8000).toInt
            val n = ((id % 4) * 256 + 512).toInt
            MediaRecord(id, "audio",
              encodeWav(synthAudioSamples(id, n), rate), rate, 1, 0L)
          case _ =>
            val w = ((id % 4) * 8 + 24).toInt
            val h = ((id % 4) * 4 + 12).toInt
            val durMs = (id % 10) * 1000 + 1000
            val nFrames = (durMs / 1000).toInt // 1 fps clip
            MediaRecord(id, "video",
              encodeGif(synthVideoFrames(id, w, h, nFrames), w, h),
              w, h, durMs)
        }
      }
  }

  /** q27: feature-extraction census per modality. The PLUMBING this query
    * exercises — typed schema, binary payloads, per-partition batching,
    * frame sampling — is deterministic arithmetic, so those columns ARE
    * oracle-checked against DuckDB (SparkEntry); the codec-derived feature
    * values (real PNG/WAV/GIF decodes, not SQL-expressible) are pinned
    * separately by [[featureCensusWithChecksum]] in QueriesSmokeSpec. */
  def featureCensus(spark: SparkSession, sfDir: String): DataFrame =
    featureCensusWithChecksum(spark, sfDir).drop("feature_checksum_milli")

  /** The census plus the decoded-feature checksum (not SQL-mirrorable;
    * determinism asserted in ScalaTest). */
  def featureCensusWithChecksum(spark: SparkSession, sfDir: String): DataFrame = {
    val feats = extractFeatures(synthesize(spark, sfDir))
    feats.toDF()
      .groupBy(col("modality"))
      .agg(count(lit(1)).as("n_media"),
        sum(col("n_frames").cast("long")).as("total_frames"),
        floor(sum(aggregate(col("feature"), lit(0.0),
          (acc, x) => acc + x.cast("double"))) * 1000.0).cast("long")
          .as("feature_checksum_milli"))
      .orderBy(col("modality"))
  }
}
