package graft

import graft.operators.multimodal.BinaryPipeline
import graft.sources.Tables
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Multimodal binary-column plumbing (SURVEY §2 #36). */
class MultimodalSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private lazy val media =
    BinaryPipeline.fromDocuments(Tables(spark, TestSpark.sf0001, "documents"))

  test("payload bytes round-trip: binary column carries exact UTF-8 of text") {
    val doc = Tables(spark, TestSpark.sf0001, "documents")
      .select("doc_id", "text").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    media.select("doc_id", "data").collect().take(50).foreach { r =>
      assert(new String(r.getAs[Array[Byte]]("data"), "UTF-8") == doc(r.getLong(0)))
    }
  }

  test("extractMeta: schema, dims from stub decoder, magic bytes, modality split") {
    val meta = BinaryPipeline.extractMeta(spark, media)
    assert(meta.columns.toSeq ==
      Seq("doc_id", "media_type", "n_bytes", "magic_hex", "width", "height",
        "n_frames", "decoded"))
    val rows = meta.collect()
    assert(rows.length == 500)
    rows.foreach { m =>
      val (w, h, f) = BinaryPipeline.decodeStub(m.media_type,
        Array.fill(m.n_bytes.toInt)(0.toByte))
      assert(m.width == w && m.height == h && m.n_frames == f)
      assert(!m.decoded) // text payloads: stub values, honestly flagged
      assert(m.magic_hex.length == 8)
      if (m.media_type != "video") assert(m.n_frames == 1)
      assert(m.media_type == Seq("image", "audio", "video")((m.doc_id % 3).toInt))
    }
  }

  test("FrameProber adapter: video rows use the prober's dims; refusal falls back to stub") {
    // a fake "codec" standing in for an ffmpeg adapter: probes any
    // payload at least 8 bytes long, refuses shorter ones
    object FakeProber extends BinaryPipeline.FrameProber {
      def probe(d: Array[Byte]): Option[(Int, Int, Int)] =
        if (d.length >= 8) Some((640, 480, 24)) else None
    }
    val rows = BinaryPipeline.extractMeta(spark, media, FakeProber).collect()
    // pipeline schema identical regardless of prober
    assert(BinaryPipeline.extractMeta(spark, media, FakeProber).columns.toSeq ==
      BinaryPipeline.extractMeta(spark, media).columns.toSeq)
    val videos = rows.filter(_.media_type == "video")
    assert(videos.nonEmpty)
    videos.filter(_.n_bytes >= 8).foreach { m =>
      assert(m.decoded && m.width == 640 && m.height == 480 && m.n_frames == 24)
    }
    videos.filter(_.n_bytes < 8).foreach { m =>
      val (w, h, f) = BinaryPipeline.decodeStub("video",
        Array.fill(m.n_bytes.toInt)(0.toByte))
      assert(!m.decoded && m.width == w && m.height == h && m.n_frames == f)
    }
    // image/audio rows are identical to the default-prober run — the
    // video prober never touches other modalities; and under the
    // default prober all video rows stay stubbed
    val defaults = BinaryPipeline.extractMeta(spark, media).collect()
    defaults.filter(_.media_type == "video").foreach(m => assert(!m.decoded))
    assert(rows.filter(_.media_type != "video").sortBy(_.doc_id).toSeq ==
      defaults.filter(_.media_type != "video").sortBy(_.doc_id).toSeq)
  }

  test("real payloads decode for real: PNG dims via ImageIO, WAV frames via javax.sound") {
    import spark.implicits._
    // a genuine 23x17 PNG generated in-test
    val img = new java.awt.image.BufferedImage(
      23, 17, java.awt.image.BufferedImage.TYPE_INT_RGB)
    img.setRGB(3, 5, 0xFF8800)
    val pngOut = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", pngOut)
    val png = pngOut.toByteArray
    // a genuine WAV: 1234 frames of 8-bit mono PCM
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 8, 1, false, false)
    val pcm = new java.io.ByteArrayInputStream(new Array[Byte](1234))
    val wavOut = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      new javax.sound.sampled.AudioInputStream(pcm, fmt, 1234),
      javax.sound.sampled.AudioFileFormat.Type.WAVE, wavOut)
    val wav = wavOut.toByteArray

    val mixed = Seq(
      (0L, "image", png),
      (1L, "audio", wav),
      (2L, "image", "not an image at all".getBytes("UTF-8")))
      .toDF("doc_id", "media_type", "data")
    val meta = BinaryPipeline.extractMeta(spark, mixed).collect()
      .map(m => m.doc_id -> m).toMap
    // real decodes: true dimensions / true frame count, flagged real
    assert(meta(0L).width == 23 && meta(0L).height == 17 && meta(0L).n_frames == 1)
    assert(meta(0L).magic_hex == "89504E47" && meta(0L).decoded)
    assert(meta(1L).n_frames == 1234 && meta(1L).decoded)
    // undecodable payload degrades to the deterministic stub, not a
    // crash — and the fabricated numbers are flagged as such
    val (sw, sh, _) = BinaryPipeline.decodeStub("image", new Array[Byte](19))
    assert(meta(2L).width == sw && meta(2L).height == sh && !meta(2L).decoded)
  }

  test("image embeddings: identical images identical vectors, ANN finds the duplicate") {
    import spark.implicits._
    def png(seed: Int): Array[Byte] = {
      val rng = new scala.util.Random(seed)
      val img = new java.awt.image.BufferedImage(
        32, 32, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (x <- 0 until 32; y <- 0 until 32)
        img.setRGB(x, y, rng.nextInt(0xFFFFFF))
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", out)
      out.toByteArray
    }
    // an ALL-BLACK image embeds to the zero vector — its cosine against
    // anything is NaN, the case the ANN ranking must exclude
    val blackImg = new java.awt.image.BufferedImage(
      32, 32, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val blackOut = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(blackImg, "png", blackOut)
    val media = Seq(
      (0L, "image", png(1)),
      (1L, "image", png(1)),                       // byte-identical twin of 0
      (2L, "image", png(2)),                       // different image
      (3L, "image", "junk".getBytes("UTF-8")),     // undecodable → dropped
      (4L, "video", png(2)),                       // wrong modality → gated out
      (5L, "image", blackOut.toByteArray))         // zero vector
      .toDF("doc_id", "media_type", "data")
    val emb = BinaryPipeline.embedImages(spark, media)
    val vecs = emb.collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(vecs.keySet == Set(0L, 1L, 2L, 5L))
    assert(vecs(0L) == vecs(1L))
    assert(vecs(0L) != vecs(2L))
    assert(vecs(5L).forall(_ == 0.0f))
    // the embedding column plugs straight into the ANN operator: doc 1's
    // nearest neighbor is its identical twin at cosine 1.0, and the
    // zero vector's NaN scores never outrank it
    val top = graft.operators.similarity.Similarity.CosineTopK
      .run(emb, emb.where($"vec_id" === 1L), k = 3).collect()
    assert(top.head.getLong(1) == 0L && top.head.getDouble(2) == 1.0)
    assert(!top.map(_.getLong(1)).contains(5L), "NaN-scored zero vector must be excluded")
  }

  test("audio embeddings: identical clips identical vectors, ANN finds the twin") {
    import spark.implicits._
    // 16-bit signed little-endian mono PCM sine, written as a real WAV
    def wav(freqHz: Double, silent: Boolean = false): Array[Byte] = {
      val rate = 8000
      val n = 4000
      val pcm = new Array[Byte](n * 2)
      var i = 0
      while (i < n) {
        val s = if (silent) 0
          else (math.sin(2 * math.Pi * freqHz * i / rate) * 20000).toInt
        pcm(i * 2) = (s & 0xFF).toByte
        pcm(i * 2 + 1) = ((s >> 8) & 0xFF).toByte
        i += 1
      }
      val fmt = new javax.sound.sampled.AudioFormat(rate.toFloat, 16, 1, true, false)
      val out = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(
        new javax.sound.sampled.AudioInputStream(
          new java.io.ByteArrayInputStream(pcm), fmt, n),
        javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
      out.toByteArray
    }
    val media = Seq(
      (0L, "audio", wav(440)),
      (1L, "audio", wav(440)),                    // byte-identical twin of 0
      (2L, "audio", wav(1200)),                   // different tone (ZCR separates)
      (3L, "audio", "junk".getBytes("UTF-8")),    // undecodable → dropped
      (4L, "image", wav(440)),                    // wrong modality → gated out
      (5L, "audio", wav(0, silent = true)))       // silence → zero vector
      .toDF("doc_id", "media_type", "data")
    val emb = BinaryPipeline.embedAudio(spark, media)
    val vecs = emb.collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(vecs.keySet == Set(0L, 1L, 2L, 5L))
    assert(vecs(0L).length == 16)
    assert(vecs(0L) == vecs(1L))
    assert(vecs(0L) != vecs(2L))
    assert(vecs(5L).forall(_ == 0.0f))
    // same downstream leg as images: the twin ranks first at cosine 1.0
    // and the NaN-scored zero vector never outranks it
    val top = graft.operators.similarity.Similarity.CosineTopK
      .run(emb, emb.where($"vec_id" === 1L), k = 3).collect()
    assert(top.head.getLong(1) == 0L && top.head.getDouble(2) == 1.0)
    assert(!top.map(_.getLong(1)).contains(5L))
  }

  test("AudioDecoder seam: a fake-MP3 adapter lights up compressed audio end-to-end") {
    import spark.implicits._
    import graft.operators.multimodal.AudioDecoder
    // "MP3" payload: an ID3v2-tagged shell whose post-header bytes the
    // fake adapter reads as 8-bit signed samples — standing in for an
    // ffmpeg/JNI decoder with zero native deps
    object FakeMp3 extends AudioDecoder {
      def supports(d: Array[Byte]): Boolean =
        d.length >= 3 && d(0) == 'I' && d(1) == 'D' && d(2) == '3'
      def decode(d: Array[Byte]): Option[Array[Double]] =
        if (d.length <= 10) None
        else Some(d.drop(10).map(b => b.toDouble / 128.0))
    }
    val fake = "ID3       ".getBytes("ISO-8859-1") ++
      Array.tabulate(800)(i => (math.sin(i / 5.0) * 100).toByte)
    val media = Seq(
      (1L, "audio", fake),
      (2L, "audio", "junk".getBytes("UTF-8")))
      .toDF("doc_id", "media_type", "data")
    // built-ins alone: the adapter boundary holds — no fabricated vectors
    assert(BinaryPipeline.embedAudio(spark, media).count() === 0)
    // adapter plugged in: the same embedding leg works unchanged
    val rows = BinaryPipeline.embedAudio(spark, media,
      decoders = AudioDecoder.builtins :+ FakeMp3).collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L))
    val vec = rows.head.getSeq[Float](1)
    assert(vec.length == 16 && vec.take(8).exists(_ > 0.1f))
    // and the adapter's samples match the direct decode
    assert(BinaryPipeline.decodeAudioSamples(fake,
      AudioDecoder.builtins :+ FakeMp3).get.length == 800)
  }

  test("AIFF payloads decode through the same built-in as WAV") {
    // 16-bit big-endian mono PCM written as a real AIFF via javax.sound
    val rate = 8000
    val n = 400
    val pcm = new Array[Byte](n * 2)
    for (i <- 0 until n) {
      val s = (math.sin(2 * math.Pi * 440 * i / rate) * 12000).toInt
      pcm(i * 2) = ((s >> 8) & 0xFF).toByte // big-endian per AIFF
      pcm(i * 2 + 1) = (s & 0xFF).toByte
    }
    val fmt = new javax.sound.sampled.AudioFormat(rate.toFloat, 16, 1, true, true)
    val out = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, n.toLong),
      javax.sound.sampled.AudioFileFormat.Type.AIFF, out)
    val aiff = out.toByteArray
    val s = BinaryPipeline.decodeAudioSamples(aiff).get
    assert(s.length == n)
    assert(math.abs(s(2) - math.sin(2 * math.Pi * 440 * 2 / rate) * 12000 / 32768.0) < 1e-3)
  }

  test("G.711 mu-law and A-law WAVs decode through the JDK transcoder") {
    // telephony-corpus shape: 8 kHz mono G.711 inside a WAVE container.
    // Encode a PCM sine through the JDK's own converter, then verify
    // the decode path: defined, right length, and the waveform tracks
    // the source within G.711's quantization error (it's lossy).
    import javax.sound.sampled._
    val rate = 8000
    val n = 800
    val pcm = new Array[Byte](n * 2)
    for (i <- 0 until n) {
      val s = (math.sin(2 * math.Pi * 440 * i / rate) * 12000).toInt
      pcm(i * 2) = (s & 0xFF).toByte
      pcm(i * 2 + 1) = ((s >> 8) & 0xFF).toByte
    }
    val pcmFmt = new AudioFormat(rate.toFloat, 16, 1, true, false)
    Seq(AudioFormat.Encoding.ULAW, AudioFormat.Encoding.ALAW).foreach { enc =>
      val g711 = AudioSystem.getAudioInputStream(
        new AudioFormat(enc, rate.toFloat, 8, 1, 1, rate.toFloat, false),
        new AudioInputStream(new java.io.ByteArrayInputStream(pcm), pcmFmt, n.toLong))
      val out = new java.io.ByteArrayOutputStream()
      AudioSystem.write(g711, AudioFileFormat.Type.WAVE, out)
      val got = BinaryPipeline.decodeAudioSamples(out.toByteArray)
      assert(got.isDefined, s"$enc WAV must decode")
      val s = got.get
      assert(s.length == n)
      var err = 0.0
      for (i <- 0 until n)
        err = math.max(err,
          math.abs(s(i) - math.sin(2 * math.Pi * 440 * i / rate) * 12000 / 32768.0))
      assert(err < 0.02, s"$enc max quantization error $err")
    }
  }

  test("decodeWavSamples: channels average to mono, 8-bit unsigned maps to [-1,1]") {
    // two-channel 8-bit unsigned: L=255 (≈+1), R=1 (≈-1) → mono ≈ 0;
    // and a DC L=R=192 frame lands at +0.5
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 8, 2, false, false)
    val pcm = Array[Byte](255.toByte, 1.toByte, 192.toByte, 192.toByte)
    val out = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, 2),
      javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
    val s = BinaryPipeline.decodeAudioSamples(out.toByteArray).get
    assert(s.length == 2)
    assert(math.abs(s(0)) < 0.01)
    assert(math.abs(s(1) - 0.5) < 0.01)
  }

  test("sampleFrames explodes only video rows, stride respected") {
    val meta = BinaryPipeline.extractMeta(spark, media)
    val frames = BinaryPipeline.sampleFrames(meta, stride = 4).collect()
    assert(frames.nonEmpty)
    frames.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val n = rs.head.getAs[Int]("n_frames")
      val idxs = rs.map(_.getAs[Int]("frame_idx")).sorted.toSeq
      assert(idxs == (0 until n by 4).toSeq)
    }
    val videoIds = meta.where(col("media_type") === "video")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(frames.map(_.getLong(0)).toSet == videoIds)
  }
}
