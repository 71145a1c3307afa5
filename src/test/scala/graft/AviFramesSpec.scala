package graft

import java.awt.image.BufferedImage
import java.io.ByteArrayOutputStream

import graft.operators.multimodal.{AviFrames, BinaryPipeline, ContainerProbe}
import org.scalatest.funsuite.AnyFunSuite

/** Real AVI fixtures generated from the PUBLISHED RIFF/AVI layout
  * (AVIMAINHEADER 56 bytes, AVISTREAMHEADER 56 bytes, BITMAPINFOHEADER
  * 40 bytes — constants written here from the spec, independently of
  * the parser, so a shared wrong offset cannot self-certify).
  */
object AviFixture {

  private def le32(o: ByteArrayOutputStream, v: Long): Unit = {
    o.write((v & 0xff).toInt); o.write((v >> 8 & 0xff).toInt)
    o.write((v >> 16 & 0xff).toInt); o.write((v >> 24 & 0xff).toInt)
  }
  private def le16(o: ByteArrayOutputStream, v: Int): Unit = {
    o.write(v & 0xff); o.write(v >> 8 & 0xff)
  }
  private def tag(o: ByteArrayOutputStream, t: String): Unit =
    t.foreach(c => o.write(c.toInt))

  private def chunk(t: String, body: Array[Byte]): Array[Byte] = {
    val o = new ByteArrayOutputStream()
    tag(o, t); le32(o, body.length.toLong); o.write(body)
    if (body.length % 2 == 1) o.write(0) // even padding per RIFF
    o.toByteArray
  }
  private def list(listType: String, children: Array[Byte]): Array[Byte] = {
    val o = new ByteArrayOutputStream()
    tag(o, "LIST"); le32(o, (4 + children.length).toLong); tag(o, listType)
    o.write(children)
    o.toByteArray
  }

  /** Assemble a single-video-stream AVI. `codec` "MJPG" or "DIB " (DIB
    * writes biCompression 0). `biHeight` is signed: negative = top-down.
    */
  def build(codec: String, width: Int, biHeight: Int, bitCount: Int,
            frames: Seq[Array[Byte]]): Array[Byte] = {
    val avih = {
      val o = new ByteArrayOutputStream()
      le32(o, 33333) // dwMicroSecPerFrame
      le32(o, 0); le32(o, 0); le32(o, 0)
      le32(o, frames.length.toLong) // dwTotalFrames @ +16
      le32(o, 0)
      le32(o, 1) // dwStreams
      le32(o, 0)
      le32(o, width.toLong) // dwWidth @ +32
      le32(o, math.abs(biHeight).toLong) // dwHeight @ +36
      (1 to 4).foreach(_ => le32(o, 0)) // dwReserved
      o.toByteArray
    }
    require(avih.length == 56, s"avih must be 56 bytes, got ${avih.length}")
    val strh = {
      val o = new ByteArrayOutputStream()
      tag(o, "vids")
      tag(o, if (codec == "DIB ") "DIB " else codec) // fccHandler
      le32(o, 0); le16(o, 0); le16(o, 0); le32(o, 0)
      le32(o, 1) // dwScale
      le32(o, 30) // dwRate
      le32(o, 0)
      le32(o, frames.length.toLong) // dwLength
      le32(o, 0); le32(o, -1 & 0xffffffffL); le32(o, 0)
      le16(o, 0); le16(o, 0) // rcFrame left/top
      le16(o, width); le16(o, math.abs(biHeight)) // rcFrame right/bottom
      o.toByteArray
    }
    require(strh.length == 56, s"strh must be 56 bytes, got ${strh.length}")
    val strf = {
      val o = new ByteArrayOutputStream()
      le32(o, 40) // biSize
      le32(o, width.toLong) // biWidth
      le32(o, biHeight.toLong & 0xffffffffL) // biHeight (signed)
      le16(o, 1) // biPlanes
      le16(o, bitCount) // biBitCount
      if (codec == "DIB ") le32(o, 0) // BI_RGB
      else { tag(o, codec) } // biCompression as fourcc
      le32(o, 0); le32(o, 0); le32(o, 0); le32(o, 0); le32(o, 0)
      o.toByteArray
    }
    require(strf.length == 40, s"strf must be 40 bytes, got ${strf.length}")

    val hdrl = list("hdrl",
      chunk("avih", avih) ++ list("strl", chunk("strh", strh) ++ chunk("strf", strf)))
    val movi = list("movi", frames.flatMap(f => chunk("00dc", f)).toArray)

    val payload = hdrl ++ movi
    val o = new ByteArrayOutputStream()
    tag(o, "RIFF"); le32(o, (4 + payload.length).toLong); tag(o, "AVI ")
    o.write(payload)
    o.toByteArray
  }

  def solidImage(w: Int, h: Int, rgb: Int): BufferedImage = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb)
    img
  }

  def jpegBytes(img: BufferedImage): Array[Byte] = {
    val o = new ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", o)
    o.toByteArray
  }

  /** Bottom-up (or top-down) BI_RGB 24bpp raster bytes for an image. */
  def dibBytes(img: BufferedImage, topDown: Boolean): Array[Byte] = {
    val (w, h) = (img.getWidth, img.getHeight)
    val rowBytes = (w * 3 + 3) & ~3
    val out = new Array[Byte](rowBytes * h)
    for (y <- 0 until h; x <- 0 until w) {
      val rgb = img.getRGB(x, y)
      val row = if (topDown) y else h - 1 - y
      out(row * rowBytes + x * 3) = (rgb & 0xff).toByte // B
      out(row * rowBytes + x * 3 + 1) = (rgb >> 8 & 0xff).toByte // G
      out(row * rowBytes + x * 3 + 2) = (rgb >> 16 & 0xff).toByte // R
    }
    out
  }

  def patternImage(w: Int, h: Int): BufferedImage = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w)
      img.setRGB(x, y, ((x * 37 + y * 91) % 256) << 16 |
        ((x * 7 + y * 13) % 256) << 8 | ((x * 3 + y * 5) % 256))
    img
  }
}

class AviFramesSpec extends AnyFunSuite {
  import AviFixture._

  private def meanChannel(img: BufferedImage, shift: Int): Double = {
    var sum = 0L
    for (y <- 0 until img.getHeight; x <- 0 until img.getWidth)
      sum += (img.getRGB(x, y) >> shift) & 0xff
    sum.toDouble / (img.getWidth * img.getHeight)
  }

  test("MJPEG AVI: every frame decodes to a raster at the right size and color") {
    val colors = Seq(0xC04020, 0x20C040, 0x4020C0, 0xF0F000, 0x00F0F0)
    val avi = build("MJPG", 32, 24, 24,
      colors.map(c => jpegBytes(solidImage(32, 24, c))))

    val frames = AviFrames.videoFrames(avi)
    assert(frames.map(_._1) === Seq(0, 1, 2, 3, 4))
    frames.zip(colors).foreach { case ((_, img), c) =>
      assert(img.getWidth === 32 && img.getHeight === 24)
      // JPEG is lossy; solid frames come back within a few counts
      assert(math.abs(meanChannel(img, 16) - (c >> 16 & 0xff)) < 12.0)
      assert(math.abs(meanChannel(img, 8) - (c >> 8 & 0xff)) < 12.0)
      assert(math.abs(meanChannel(img, 0) - (c & 0xff)) < 12.0)
    }
  }

  test("DIB AVI roundtrips rasters EXACTLY, including odd-width row padding") {
    val src = patternImage(5, 4) // width 5: 15-byte rows pad to 16
    val avi = build("DIB ", 5, 4, 24, Seq(dibBytes(src, topDown = false)))
    val frames = AviFrames.videoFrames(avi)
    assert(frames.size === 1)
    val got = frames.head._2
    for (y <- 0 until 4; x <- 0 until 5)
      assert((got.getRGB(x, y) & 0xffffff) === (src.getRGB(x, y) & 0xffffff),
        s"pixel ($x,$y)")
  }

  test("DIB AVI with negative biHeight decodes top-down exactly") {
    val src = patternImage(6, 3)
    val avi = build("DIB ", 6, -3, 24, Seq(dibBytes(src, topDown = true)))
    val frames = AviFrames.videoFrames(avi)
    assert(frames.size === 1)
    for (y <- 0 until 3; x <- 0 until 6)
      assert((frames.head._2.getRGB(x, y) & 0xffffff) === (src.getRGB(x, y) & 0xffffff))
  }

  test("stride samples every Nth frame with original indices") {
    val imgs = (0 until 6).map(i => jpegBytes(solidImage(16, 16, i * 40)))
    val avi = build("MJPG", 16, 16, 24, imgs)
    assert(AviFrames.videoFrames(avi, stride = 2).map(_._1) === Seq(0, 2, 4))
    assert(AviFrames.videoFrames(avi, stride = 5).map(_._1) === Seq(0, 5))
  }

  test("the metadata probe agrees with the generated container") {
    val avi = build("MJPG", 32, 24, 24,
      (0 until 3).map(_ => jpegBytes(solidImage(32, 24, 0x808080))))
    assert(ContainerProbe.probe(avi) === Some((32, 24, 3)))
  }

  test("unknown codec yields no frames (adapter boundary, not garbage)") {
    for (codec <- Seq("HEVC", "H264")) {
      val avi = build(codec, 32, 24, 24, Seq(Array.fill(64)(1.toByte)))
      assert(AviFrames.videoFrames(avi).isEmpty, codec)
    }
  }

  test("corrupt and non-AVI payloads yield empty, never throw") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val arbitrary = Prop.forAll(Gen.containerOf[Array, Byte](
      Gen.choose(Byte.MinValue, Byte.MaxValue))) { bytes =>
      AviFrames.videoFrames(bytes).isEmpty
    }
    val avi = build("MJPG", 16, 16, 24, Seq(jpegBytes(solidImage(16, 16, 0x123456))))
    // truncations and bit flips of a VALID file must degrade, not throw
    val mutated = Prop.forAll(Gen.choose(0, avi.length - 1), Gen.choose(0, 255)) {
      (pos, b) =>
        AviFrames.videoFrames(avi.take(pos))
        val flipped = avi.clone(); flipped(pos) = b.toByte
        AviFrames.videoFrames(flipped)
        true // reaching here = no throw; decode success is not required
    }
    val params = SCTest.Parameters.default.withMinSuccessfulTests(500)
    assert(SCTest.check(params, arbitrary).passed, "arbitrary-bytes fuzz failed")
    assert(SCTest.check(params, mutated).passed, "mutated-file fuzz failed")
  }

  test("embedVideoFrames: real AVI rows produce per-frame embeddings, others none") {
    val spark = TestSpark.spark
    import spark.implicits._
    val mjpeg = build("MJPG", 32, 24, 24, Seq(
      jpegBytes(solidImage(32, 24, 0xFFFFFF)), // all-white frame
      jpegBytes(solidImage(32, 24, 0x000000)))) // all-black frame
    val media = Seq(
      (1L, "video", mjpeg),
      (2L, "video", "not a container, just text bytes".getBytes("UTF-8")),
      (3L, "image", jpegBytes(solidImage(8, 8, 0x808080))))
      .toDF("doc_id", "media_type", "data")

    val rows = BinaryPipeline.embedVideoFrames(spark, media)
      .orderBy("doc_id", "frame_idx").collect()
    assert(rows.map(r => (r.getLong(0), r.getInt(1))).toSeq === Seq((1L, 0), (1L, 1)))
    val white = rows(0).getSeq[Float](2)
    val black = rows(1).getSeq[Float](2)
    assert(white.forall(_ > 0.9)) // white frame ≈ 1.0 everywhere
    assert(black.forall(_ < 0.1)) // black frame ≈ 0.0 everywhere
  }

  test("FrameDecoder seam: an HEVC-class payload lights up only with a plugged adapter") {
    import graft.operators.multimodal.FrameDecoder
    // three "compressed" chunks: arbitrary non-JPEG bytes whose first
    // three values the fake adapter turns into a solid-color raster —
    // standing in for a JNI/ffmpeg decoder with zero native deps.
    object FakeH264 extends FrameDecoder {
      def supports(fmt: AviFrames.VideoFormat): Boolean = fmt.codec == "HEVC"
      def decode(d: Array[Byte], s: Int, e: Int,
                 fmt: AviFrames.VideoFormat): Option[BufferedImage] =
        if (e - s < 3) None
        else Some(solidImage(fmt.width, fmt.height,
          (d(s) & 0xff) << 16 | (d(s + 1) & 0xff) << 8 | (d(s + 2) & 0xff)))
    }
    val chunks = Seq[Array[Byte]](
      Array(0x10, 0x20, 0x30, 0x7f).map(_.toByte),
      Array(0x40, 0x50, 0x60, 0x00).map(_.toByte),
      Array(0x70, 0x7f, 0x11, 0x22).map(_.toByte))
    val avi = build("HEVC", 8, 6, 24, chunks)

    // built-ins alone: the adapter boundary holds — no fabricated rasters
    assert(AviFrames.videoFrames(avi).isEmpty)

    // adapter plugged in: the codec-independent container walk feeds it
    // every chunk, stride/cap policy included
    val all = AviFrames.videoFrames(avi,
      decoders = FrameDecoder.builtins :+ FakeH264)
    assert(all.map(_._1) === Seq(0, 1, 2))
    assert(all.head._2.getRGB(0, 0) === (0xFF102030 | 0xFF000000))
    val strided = AviFrames.videoFrames(avi, stride = 2,
      decoders = Seq(FakeH264))
    assert(strided.map(_._1) === Seq(0, 2))

    // end-to-end: the whole frame→embedding leg works unchanged
    val spark = TestSpark.spark
    import spark.implicits._
    val media = Seq((9L, "video", avi)).toDF("doc_id", "media_type", "data")
    assert(BinaryPipeline.embedVideoFrames(spark, media).count() === 0)
    val rows = BinaryPipeline.embedVideoFrames(spark, media,
        decoders = FrameDecoder.builtins :+ FakeH264)
      .orderBy("frame_idx").collect()
    assert(rows.map(_.getInt(1)).toSeq === Seq(0, 1, 2))
    assert(rows.forall(_.getSeq[Float](2).nonEmpty))
  }
}
