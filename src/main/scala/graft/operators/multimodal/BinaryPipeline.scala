package graft.operators.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal binary-column pipeline (SURVEY §2 #36).
  *
  * Media payloads are opaque `binary` columns with typed metadata
  * alongside — the plumbing a 100 TB image/audio/video corpus needs:
  * a stable row schema, per-partition batch iteration (rows stream
  * through the codec probes with no shuffle and no driver
  * materialization), and a metadata projection that drops payloads
  * as early as possible.
  *
  * Decoding is REAL where the JDK has a native codec — PNG/JPEG/GIF/
  * BMP via `javax.imageio`, WAV via `javax.sound.sampled`, no external
  * libraries — gated by a magic-byte sniff so non-media payloads never
  * pay a codec probe.
  *
  * Video metadata is REAL too: the default [[FrameProber]] is
  * [[ContainerProbe]], a pure-JVM MP4/ISO-BMFF + AVI/RIFF container
  * header parser (dims + frame count, no codec needed). Frame RASTERS
  * are real for the codecs a pure JDK can decode — Motion-JPEG and
  * uncompressed-DIB AVI via [[AviFrames]] (feeding
  * [[embedVideoFrames]]) — and PLUGGABLE for the rest: compressed
  * inter-frame codecs (H.264/H.265/VP9…) genuinely need an external
  * decoder, which drops in through the [[FrameDecoder]] seam beside
  * the pure-JDK built-ins (and an ffmpeg-backed [[FrameProber]] for
  * container metadata). Payloads no prober
  * can read fall back to [[decodeStub]]'s deterministic arithmetic,
  * flagged `decoded=false` so fabricated dimensions are always
  * distinguishable from measured ones. (The synthetic test corpus —
  * text bytes standing in for media — exercises exactly this fallback
  * path.)
  */
object BinaryPipeline {

  /** Pluggable video-container probe: payload bytes in,
    * (width, height, n_frames) out; `None` when this prober cannot
    * read the container — the pipeline then falls back to
    * [[decodeStub]] and flags the row `decoded = false`. Implementations
    * must be Serializable (they ship to executors) and are initialized
    * once per JVM, streaming rows per partition — the same batch shape
    * the image/WAV probes use.
    */
  trait FrameProber extends Serializable {
    def probe(data: Array[Byte]): Option[(Int, Int, Int)]
  }
  object FrameProber {
    /** Probes nothing — every payload falls back to the stub
      * arithmetic. Kept for tests and for pipelines that want metadata
      * extraction with the video leg explicitly off.
      */
    object None extends FrameProber {
      def probe(data: Array[Byte]): Option[(Int, Int, Int)] = scala.None
    }
  }

  /** Input row: id + modality tag + opaque payload. */
  final case class RawMedia(doc_id: Long, media_type: String, data: Array[Byte])

  /** Output row: decoded metadata, payload dropped. `decoded` = the
    * numbers came from a REAL codec; false = stub arithmetic — a
    * consumer filtering on dimensions must be able to tell fabricated
    * values from measured ones.
    */
  final case class MediaMeta(doc_id: Long, media_type: String, n_bytes: Long,
                             magic_hex: String, width: Int, height: Int,
                             n_frames: Int, decoded: Boolean)

  /** Build a media table from `documents`: UTF-8 bytes of `text` stand
    * in for real payloads; modality assigned round-robin by doc_id.
    */
  def fromDocuments(df: DataFrame): DataFrame =
    df.select(
      col("doc_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (col("doc_id") % 3 + 1).cast("int")).as("media_type"),
      encode(col("text"), "UTF-8").as("data"))

  /** STUB decoder (see class doc): deterministic dims from payload size.
    * Signature is the real contract: bytes in, (width, height, frames) out.
    */
  def decodeStub(mediaType: String, data: Array[Byte]): (Int, Int, Int) = {
    val n = data.length
    val width = 16 + n % 240
    val height = 16 + (n * 7) % 240
    val frames = if (mediaType == "video") 1 + n % 30 else 1
    (width, height, frames)
  }

  /** Magic-byte sniff for formats the JDK decodes natively — the cheap
    * gate before any codec probe runs.
    */
  private def sniffImage(d: Array[Byte]): Boolean =
    d.length >= 4 && (
      (d(0) == 0x89.toByte && d(1) == 0x50.toByte) ||              // PNG
      (d(0) == 0xFF.toByte && d(1) == 0xD8.toByte) ||              // JPEG
      (d(0) == 'G' && d(1) == 'I' && d(2) == 'F') ||               // GIF
      (d(0) == 'B' && d(1) == 'M'))                                // BMP

  /** One-time JVM switch: ImageIO's default stream cache writes a TEMP
    * FILE per read — pure I/O overhead per row on executors, and an
    * unwritable tmpdir would make decodes fail (→ stub fallback) on
    * SOME executors only: nondeterministic, partition-dependent output.
    */
  private lazy val imageIoInMemory: Unit =
    javax.imageio.ImageIO.setUseCache(false)

  /** REAL header-only image probe via the JDK's `javax.imageio`
    * (PNG/JPEG/GIF/BMP): (width, height, n_frames) WITHOUT
    * decompressing pixel data — reader.getWidth/getHeight read the
    * header, getNumImages counts frames (real for animated GIFs).
    * None when the payload isn't decodable — the caller falls back to
    * the stub, so corrupt files degrade instead of failing the
    * partition (and are flagged `decoded = false`).
    */
  def imageDims(data: Array[Byte]): Option[(Int, Int, Int)] =
    if (!sniffImage(data)) None
    else scala.util.Try {
      imageIoInMemory
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(data))
      try {
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        if (!readers.hasNext) None
        else {
          val r = readers.next()
          r.setInput(iis)
          try {
            val frames = scala.util.Try(r.getNumImages(true)).getOrElse(1)
            Some((r.getWidth(0), r.getHeight(0), math.max(1, frames)))
          } finally r.dispose()
        }
      } finally iis.close()
    }.toOption.flatten

  /** Full-pixel decode — only for consumers that NEED the raster
    * (feature extraction); metadata readers use [[imageDims]].
    */
  def decodeImage(data: Array[Byte]): Option[java.awt.image.BufferedImage] =
    if (!sniffImage(data)) None
    else scala.util.Try {
      imageIoInMemory
      Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(data)))
    }.toOption.flatten

  /** REAL audio decode to mono samples in [-1, 1] — the audio analogue
    * of [[decodeImage]]'s raster. Delegates to the first [[AudioDecoder]]
    * claiming the payload ([[AudioDecoder.builtins]] = WAV/AIFF PCM via
    * `javax.sound`, FLAC and IMA/MS ADPCM by default; lossy-codec
    * adapters — MP3/AAC/Opus — are the caller's drop-in at the same
    * seam). None when no decoder claims or decodes the payload.
    */
  def decodeAudioSamples(data: Array[Byte],
                         decoders: Seq[AudioDecoder] = AudioDecoder.builtins)
      : Option[Array[Double]] =
    decoders.find(_.supports(data)).flatMap(_.decode(data))

  /** Audio feature extraction — the [[imageEmbedding]] twin for WAV
    * payloads, so audio corpora ride the SAME downstream leg (ANN
    * top-k, embedding dedup) as images and video frames: decode PCM,
    * cut the clip into `bands` equal time slices, and emit per-slice
    * RMS energy followed by per-slice zero-crossing rate — a 2×bands
    * float vector (energy envelope + a cheap spectral proxy), a pure
    * function of the samples on every JVM. A silent clip embeds to the
    * zero vector — excluded from cosine ranking exactly like the
    * all-black image. None when the payload isn't JDK-decodable PCM.
    */
  def audioEmbedding(data: Array[Byte], bands: Int = 8,
                     decoders: Seq[AudioDecoder] = AudioDecoder.builtins)
      : Option[Array[Float]] =
    decodeAudioSamples(data, decoders).map { s =>
      val v = new Array[Float](2 * bands)
      val n = s.length
      var b = 0
      while (b < bands) {
        val i0 = (b.toLong * n / bands).toInt
        val i1 = math.max(i0, ((b + 1).toLong * n / bands).toInt)
        var energy = 0.0
        var crossings = 0
        var i = i0
        while (i < i1) {
          energy += s(i) * s(i)
          if (i > i0 && (s(i) >= 0) != (s(i - 1) >= 0)) crossings += 1
          i += 1
        }
        val len = i1 - i0
        if (len > 0) {
          v(b) = math.sqrt(energy / len).toFloat
          v(bands + b) = (crossings.toDouble / len).toFloat
        }
        b += 1
      }
      v
    }

  /** (doc_id, embedding) for every JDK-decodable audio payload — the
    * audio twin of [[embedImages]]: typed mapPartitions, no shuffle,
    * undecodable rows dropped, modality-gated so an image payload in
    * an audio-tagged row never slips through a lenient codec.
    */
  def embedAudio(spark: SparkSession, media: DataFrame,
                 bands: Int = 8,
                 decoders: Seq[AudioDecoder] = AudioDecoder.builtins): DataFrame = {
    import spark.implicits._
    // column-level modality gate BEFORE the typed boundary (round 17):
    // a typed .filter deserializes every row — including a full copy of
    // each skipped modality's payload byte array — just to read the
    // tag; the Column filter drops non-audio rows inside codegen, so
    // 2/3 of a mixed corpus's payload bytes never cross into objects
    media.where(col("media_type") === "audio").as[RawMedia].mapPartitions { it =>
      it.flatMap(m =>
        audioEmbedding(m.data, bands, decoders).map(v => (m.doc_id, v)))
    }.toDF("vec_id", "embedding")
  }

  /** Feature extraction (the brief's resize step, REAL): decode, area-
    * resize to a `grid`×`grid` grayscale thumbnail, emit an L2-ready
    * float vector — the bytes→pixels→embedding leg that plugs straight
    * into [[graft.operators.similarity.Similarity]]'s ANN and
    * [[graft.operators.dedup.Dedup.EmbeddingDedup]]'s near-dup ops.
    * None for payloads the JDK can't decode.
    */
  def imageEmbedding(data: Array[Byte], grid: Int = 8): Option[Array[Float]] =
    decodeImage(data).map(imageEmbeddingOf(_, grid))

  /** The raster→vector kernel behind [[imageEmbedding]], directly
    * callable for rasters that were decoded elsewhere (video frames).
    */
  def imageEmbeddingOf(src: java.awt.image.BufferedImage,
                       grid: Int = 8): Array[Float] = {
      // TRUE area averaging over the raster, hand-rolled: Graphics2D
      // interpolation hints are best-effort and pipeline-dependent, so
      // a heterogeneous cluster could embed byte-identical images
      // differently per executor; integer-accumulated averages are a
      // pure function of the pixels on every JVM
      val (w, h) = (src.getWidth, src.getHeight)
      val v = new Array[Float](grid * grid)
      var gy = 0
      while (gy < grid) {
        val y0 = (gy.toLong * h / grid).toInt
        val y1 = math.max(y0 + 1, ((gy + 1).toLong * h / grid).toInt)
        var gx = 0
        while (gx < grid) {
          val x0 = (gx.toLong * w / grid).toInt
          val x1 = math.max(x0 + 1, ((gx + 1).toLong * w / grid).toInt)
          var sum = 0L
          var y = y0
          while (y < y1) {
            var x = x0
            while (x < x1) {
              val rgb = src.getRGB(x, y)
              sum += (rgb >> 16 & 0xFF) + (rgb >> 8 & 0xFF) + (rgb & 0xFF)
              x += 1
            }
            y += 1
          }
          val nPix = (x1 - x0).toLong * (y1 - y0) * 3
          v(gy * grid + gx) = (sum.toDouble / nPix / 255.0).toFloat
          gx += 1
        }
        gy += 1
      }
      v
  }

  /** (doc_id, embedding) for every JDK-decodable image payload — the
    * map-side bridge from a binary media table to the embedding-keyed
    * operators (ANN top-k, embedding dedup). Undecodable rows are
    * dropped, not nulled: downstream similarity ops expect dense
    * vectors.
    */
  def embedImages(spark: SparkSession, media: DataFrame,
                  grid: Int = 8): DataFrame = {
    import spark.implicits._
    // same modality gate as extractMeta — a video row whose container
    // happens to open with image magic must not sneak into the image
    // embedding table. Column-level, before the typed boundary — see
    // embedAudio (round 17).
    media.where(col("media_type") === "image").as[RawMedia].mapPartitions { it =>
      it.flatMap(m => imageEmbedding(m.data, grid).map(v => (m.doc_id, v)))
    }.toDF("vec_id", "embedding")
  }

  /** Video → frame rasters → embeddings: every `stride`-th frame of
    * each video payload [[AviFrames]] can decode (MJPEG or uncompressed
    * DIB in AVI — real rasters, pure JDK) runs through the SAME
    * [[imageEmbedding]] kernel as still images, emitting
    * (doc_id, frame_idx, embedding). Payloads carrying codecs outside
    * `decoders` produce no rows, exactly like undecodable images are
    * dropped from [[embedImages]] — pass an ffmpeg/JNI-backed
    * [[FrameDecoder]] to light up H.264-class streams with the whole
    * downstream leg (frame → embedding → ANN) unchanged. Same
    * scale shape as every decode leg: typed mapPartitions, no shuffle,
    * payload dropped at projection.
    */
  def embedVideoFrames(spark: SparkSession, media: DataFrame,
                       stride: Int = 1, grid: Int = 8,
                       decoders: Seq[FrameDecoder] = FrameDecoder.builtins)
      : DataFrame = {
    import spark.implicits._
    // column-level modality gate before the typed boundary — see
    // embedAudio (round 17)
    media.where(col("media_type") === "video").as[RawMedia].flatMap { m =>
      AviFrames.videoFrames(m.data, stride, decoders = decoders)
        .map { case (idx, img) =>
          (m.doc_id, idx, imageEmbeddingOf(img, grid))
        }
    }.toDF("doc_id", "frame_idx", "embedding")
  }

  /** Decode/feature-extract pass: typed mapPartitions so a real decoder
    * is initialized once per partition and rows stream through it in
    * batches. No shuffle; metadata output is a narrow projection.
    */
  def extractMeta(spark: SparkSession, media: DataFrame,
                  videoProber: FrameProber = ContainerProbe): Dataset[MediaMeta] = {
    import spark.implicits._
    media.as[RawMedia].mapPartitions { it =>
      // decoders initialize lazily per partition inside ImageIO/
      // AudioSystem; rows stream through without shuffling. Image
      // metadata is a HEADER-ONLY probe (imageDims) — decompressing
      // pixel rasters to read width/height would be orders of
      // magnitude more CPU than the numbers are worth.
      it.map { m =>
        val magic = m.data.take(4).map(b => f"${b & 0xff}%02X").mkString
        val real = m.media_type match {
          // real JDK decode first; undecodable payloads (including the
          // synthetic text-byte corpus) keep the deterministic stub
          case "image" => imageDims(m.data)
          // header-only AudioDecoder.probeFrames of the first built-in
          // claiming the payload (WAV/AIFF/FLAC/ADPCM) — real metadata,
          // no audio-data decode
          case "audio" => AudioDecoder.builtins.find(_.supports(m.data))
            .flatMap(_.probeFrames(m.data))
            .map(n => (0, 0, math.min(n, Int.MaxValue.toLong).toInt))
          case "video" => videoProber.probe(m.data)
          case _       => None
        }
        val (w, h, f) = real.getOrElse(decodeStub(m.media_type, m.data))
        MediaMeta(m.doc_id, m.media_type, m.data.length.toLong, magic, w, h, f,
          decoded = real.isDefined)
      }
    }
  }

  /** Frame sampling for video rows: every `stride`-th frame index, the
    * shape a frame-extraction UDF emits (one row per sampled frame).
    */
  def sampleFrames(meta: Dataset[MediaMeta], stride: Int): DataFrame =
    meta.toDF()
      .where(col("media_type") === "video")
      .select(col("doc_id"), col("n_frames"),
        explode(sequence(lit(0), col("n_frames") - 1, lit(stride))).as("frame_idx"))

  /** Oracle mirroring fromDocuments+extractMeta+sampleFrames. */
  def framesOracleSql(table: String, stride: Int): String =
    s"""WITH meta AS (
       |  SELECT doc_id,
       |    CAST(CASE WHEN doc_id % 3 = 2
       |      THEN 1 + octet_length(encode(text)) % 30 ELSE 1 END AS INTEGER) AS n_frames
       |  FROM $table WHERE doc_id % 3 = 2)
       |SELECT doc_id, n_frames,
       |  CAST(unnest(range(0, n_frames, $stride)) AS INTEGER) AS frame_idx
       |FROM meta ORDER BY doc_id, frame_idx""".stripMargin

  /** Oracle mirroring fromDocuments+extractMeta arithmetically. */
  def oracleSql(table: String): String =
    s"""SELECT doc_id,
       |  CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'image'
       |    WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
       |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       |  substr(hex(encode(text)), 1, 8) AS magic_hex,
       |  CAST(16 + octet_length(encode(text)) % 240 AS INTEGER) AS width,
       |  CAST(16 + (octet_length(encode(text)) * 7) % 240 AS INTEGER) AS height,
       |  CAST(CASE WHEN doc_id % 3 = 2
       |    THEN 1 + octet_length(encode(text)) % 30 ELSE 1 END AS INTEGER) AS n_frames,
       |  false AS decoded
       |FROM $table ORDER BY doc_id""".stripMargin
}
