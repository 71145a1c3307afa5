package graft.operators.multimodal

import java.awt.image.BufferedImage

import graft.operators.multimodal.AviFrames.VideoFormat

/** Pluggable per-codec frame decoder — the adapter seam that closes the
  * H.264-class boundary (SURVEY §2 #36c): the container walk (RIFF
  * chunk structure, stream selection, stride/cap policy) lives in
  * [[AviFrames.videoFrames]] and is codec-independent; turning one
  * frame chunk's bytes into a raster is this trait. The two codecs a
  * pure JDK can decode ship as built-ins ([[FrameDecoder.Mjpeg]],
  * [[FrameDecoder.Dib]]); a deployment with native codecs drops in an
  * ffmpeg/JNI-backed implementation for H.264/HEVC/VP9 chunks and
  * every downstream leg ([[BinaryPipeline.embedVideoFrames]], the
  * frame→embedding→ANN pipeline) works unchanged — the exact contract
  * MultimodalSpec exercises with a fake compressed-codec decoder.
  *
  * Implementations must be Serializable (they ship inside task
  * closures) and stateless or cheaply re-initializable per JVM: rows
  * stream through `mapPartitions`, so `decode` is called once per
  * sampled frame chunk with no setup hook — do one-time native-library
  * loading in a lazy val.
  *
  * `decode` returns None for a chunk it cannot read (corrupt frame,
  * mid-stream parameter change): the frame is skipped, never a thrown
  * partition — the same degrade-don't-fail rule as every other decode
  * leg in [[BinaryPipeline]].
  */
trait FrameDecoder extends Serializable {

  /** Does this decoder read frames of `fmt`? Checked once per payload
    * (not per frame) against the stream's declared codec fourcc and
    * bit depth.
    */
  def supports(fmt: VideoFormat): Boolean

  /** Raster for the frame chunk at `data[start, end)`, or None if the
    * chunk is unreadable. Intra-frame containers (MJPEG, DIB) decode
    * chunks independently; an inter-frame adapter may hold bounded
    * per-payload state across calls (calls arrive in stream order
    * within one payload).
    */
  def decode(data: Array[Byte], start: Int, end: Int,
             fmt: VideoFormat): Option[BufferedImage]
}

object FrameDecoder {

  /** Motion-JPEG: every frame chunk is a complete JPEG — decoded by
    * `javax.imageio`, pure JDK.
    */
  object Mjpeg extends FrameDecoder {
    def supports(fmt: VideoFormat): Boolean = fmt.codec == "MJPG"
    def decode(data: Array[Byte], start: Int, end: Int,
               fmt: VideoFormat): Option[BufferedImage] =
      scala.util.Try {
        javax.imageio.ImageIO.setUseCache(false)
        Option(javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(data, start, end - start)))
      }.toOption.flatten
  }

  /** Uncompressed BI_RGB 24 bpp DIB: bottom-up BGR rows padded to
    * 4 bytes (top-down when the header declared negative height) —
    * decoded by hand, no codec involved.
    */
  object Dib extends FrameDecoder {
    def supports(fmt: VideoFormat): Boolean =
      fmt.codec == "DIB " && fmt.bitCount == 24
    def decode(d: Array[Byte], s: Int, e: Int,
               fmt: VideoFormat): Option[BufferedImage] = {
      val w = fmt.width; val h = fmt.height
      val rowBytes = (w * 3 + 3) & ~3
      if (e - s < rowBytes.toLong * h) return None
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        val srcRow = s + (if (fmt.topDown) y else h - 1 - y) * rowBytes
        var x = 0
        while (x < w) {
          val b = d(srcRow + x * 3) & 0xff
          val g = d(srcRow + x * 3 + 1) & 0xff
          val r = d(srcRow + x * 3 + 2) & 0xff
          img.setRGB(x, y, r << 16 | g << 8 | b)
          x += 1
        }
        y += 1
      }
      Some(img)
    }
  }

  /** The decoders a pure JDK provides — the default for every frame
    * leg: MJPEG and DIB. Every other codec (H.264, HEVC, VP9…) yields
    * no frames until a deployment plugs in an adapter. Order matters
    * only when two decoders claim one format, which the built-ins
    * never do.
    */
  val builtins: Seq[FrameDecoder] = Seq(Mjpeg, Dib)
}
