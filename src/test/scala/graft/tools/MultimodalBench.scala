package graft.tools

import java.io.ByteArrayOutputStream
import java.lang.management.{ManagementFactory, MemoryType}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.{AdpcmTestEncoder, AviFixture, FlacTestEncoder}
import graft.operators.multimodal.BinaryPipeline

/** At-scale THROUGHPUT receipt for the multimodal decode legs
  * (verdict-r16 #3): the §2 #36 family has spec-level correctness but,
  * until this tool, no wall-time/docs-per-second number through the
  * PRODUCTION mapPartitions paths on real payloads.
  *
  * The corpus is generated DISTRIBUTED (one deterministic payload per
  * doc_id inside mapPartitions — the driver never holds payloads) from
  * the same in-repo encoders the codec specs trust: ImageIO PNG/JPEG/
  * BMP writes, a plain RIFF/PCM16 writer, [[graft.FlacTestEncoder]],
  * [[graft.AdpcmTestEncoder]] (IMA WAV), and [[graft.AviFixture]]
  * MJPEG/DIB containers. It is persisted
  * DISK_ONLY before any leg is timed, for two reasons: the timed legs
  * then measure storage→decode→embed (the production shape — a 100 TB
  * corpus streams from object storage, it is not a heap resident), and
  * the JVM heap peaks sampled around each leg reflect the DECODE
  * PATH's working set, not the corpus — the memory-boundedness
  * receipt. A per-partition accumulator in any decode leg would show
  * up as a heap peak tracking partition payload volume (~corpusBytes /
  * partitions); the streamed iterators keep it at batch scale.
  *
  * Legs (each: 2 passes, min wall — Bench's steady-state rule):
  * extractMeta over everything, embedImages / embedAudio /
  * embedVideoFrames over their modality slices. Per leg: rows/s,
  * yield (output rows / modality rows; for video, docs with ≥1
  * decoded frame), per-FORMAT yield so a codec that silently stops
  * decoding is named, and peak heap MB. One JSON line per leg +
  * a corpus line, StreamSoak-style.
  *
  * {{{ sbt "Test/runMain graft.tools.MultimodalBench 100000" }}}
  */
object MultimodalBench {

  // format mix: (name, weight, modality). Contiguous doc_id ranges in
  // this order — fmtExpr below must stay in sync with the boundaries.
  private val Mix: Seq[(String, Int, String)] = Seq(
    ("png", 20, "image"), ("jpeg", 10, "image"), ("bmp", 10, "image"),
    ("wav", 10, "audio"), ("flac", 10, "audio"), ("adpcm", 10, "audio"),
    ("mjpeg", 15, "video"), ("dib", 5, "video"))
  private val TotalWeight = Mix.map(_._2).sum

  /** [lo, hi) doc_id range per format for a corpus of n rows. */
  private def ranges(n: Long): Seq[(String, String, Long, Long)] = {
    var acc = 0L
    Mix.map { case (fmt, w, mod) =>
      val lo = acc
      acc += n * w / TotalWeight
      // last format absorbs the integer-division remainder
      val hi = if (fmt == Mix.last._1) n else acc
      (fmt, mod, lo, hi)
    }
  }

  // ---------------------------------------------------------------
  // payload builders — pure functions of doc_id, run on executors
  // ---------------------------------------------------------------

  private def patternImage(w: Int, h: Int, seed: Int): java.awt.image.BufferedImage = {
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        img.setRGB(x, y, (x * 31 + y * 17 + seed * 101) & 0xFFFFFF)
        x += 1
      }
      y += 1
    }
    img
  }

  private def imageBytes(fmt: String, seed: Int): Array[Byte] = {
    val o = new ByteArrayOutputStream()
    javax.imageio.ImageIO.write(patternImage(64, 64, seed), fmt, o)
    o.toByteArray
  }

  /** 0.25 s of 8 kHz mono sine, id-varied frequency, 16-bit. */
  private def sine(seed: Int): Array[Int] = {
    val f = 200.0 + (seed % 40) * 25.0
    Array.tabulate(2000)(i =>
      (8000 * math.sin(2 * math.Pi * f * i / 8000.0)).toInt)
  }

  private def wavBytes(seed: Int): Array[Byte] = {
    val s = sine(seed)
    val o = new ByteArrayOutputStream()
    def le32(v: Long): Unit = (0 until 4).foreach(i => o.write(((v >> (8 * i)) & 0xFF).toInt))
    def le16(v: Int): Unit = { o.write(v & 0xFF); o.write((v >> 8) & 0xFF) }
    val dataLen = s.length * 2
    o.write("RIFF".getBytes); le32(36L + dataLen); o.write("WAVE".getBytes)
    o.write("fmt ".getBytes); le32(16); le16(1); le16(1) // PCM, mono
    le32(8000); le32(16000); le16(2); le16(16)
    o.write("data".getBytes); le32(dataLen.toLong)
    s.foreach(v => le16(math.max(-32768, math.min(32767, v)) & 0xFFFF))
    o.toByteArray
  }

  private def flacBytes(seed: Int): Array[Byte] =
    FlacTestEncoder.encode(Array(sine(seed)), 16, 8000, 256,
      sub = (_, _) => FlacTestEncoder.Fixed(2))

  private def adpcmBytes(seed: Int): Array[Byte] =
    AdpcmTestEncoder.encode(Array(sine(seed)), 8000, 505)._1

  private def mjpegBytes(seed: Int): Array[Byte] =
    AviFixture.build("MJPG", 64, 48, 24,
      (0 until 6).map(f => AviFixture.jpegBytes(patternImage(64, 48, seed + f))))

  private def dibBytes(seed: Int): Array[Byte] =
    AviFixture.build("DIB ", 48, 32, 24,
      (0 until 4).map(f => AviFixture.dibBytes(patternImage(48, 32, seed + f), topDown = false)))

  private def payload(fmt: String, id: Long): Array[Byte] = {
    val seed = (id % 1000).toInt
    fmt match {
      case "png" | "jpeg" | "bmp" => imageBytes(fmt, seed)
      case "wav" => wavBytes(seed)
      case "flac" => flacBytes(seed)
      case "adpcm" => adpcmBytes(seed)
      case "mjpeg" => mjpegBytes(seed)
      case "dib" => dibBytes(seed)
    }
  }

  /** CASE mapping doc_id → format, mirroring [[ranges]]. */
  private def fmtExpr(n: Long, idCol: Column): Column =
    ranges(n).foldLeft(lit(null).cast("string")) { case (acc, (fmt, _, lo, hi)) =>
      when(idCol >= lo && idCol < hi, fmt).otherwise(acc)
    }

  // ---------------------------------------------------------------

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)
  private def resetPeaks(): Unit = heapPools.foreach(_.resetPeakUsage())
  private def peakHeapMb: Long = heapPools.map(_.getPeakUsage.getUsed).sum >> 20

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(100000L)
    val spark = graft.GraftSession.local()
    import spark.implicits._

    val rs = ranges(n)
    val media = spark.range(0, n, 1, 64)
      .map { id =>
        val (fmt, mod, _, _) = rs.find(r => id >= r._3 && id < r._4).get
        (id, mod, payload(fmt, id))
      }
      .toDF("doc_id", "media_type", "data")
      .persist(StorageLevel.DISK_ONLY)
    val t0 = System.nanoTime()
    val nRows = media.count() // materialize the corpus to local disk
    val genSec = (System.nanoTime() - t0) / 1e9
    val corpusBytes = media.agg(sum(length(col("data")))).head.getLong(0)
    val fmtCol = fmtExpr(n, col("doc_id"))
    val perFmtBytes = media.groupBy(fmtCol.as("fmt"))
      .agg(count(lit(1)).as("rows"), sum(length(col("data"))).as("bytes"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    println(s"""{"bench":"multimodal_corpus","rows":$nRows,"bytes":$corpusBytes,""" +
      s""""gen_sec":${f"$genSec%.1f"},"formats":{${
        perFmtBytes.map { case (f, r, b) => s""""$f":[$r,$b]""" }.mkString(",")}}}""")

    final case class LegResult(name: String, inRows: Long, outRows: Long,
                               wallSec: Double, peakMb: Long,
                               perFmt: Seq[(String, Long, Long)])

    /** Two passes, min wall; per-format in/out rows from the second
      * (identical) result. `outFmt` maps the leg's output to
      * (format, distinct output docs) — countDistinct for video where
      * one doc emits many frames.
      */
    def leg(name: String, inMod: String => Boolean,
            run: DataFrame => DataFrame, outIdCol: String,
            outView: DataFrame => DataFrame = identity): LegResult = {
      val in = media.where(
        rs.filter(r => inMod(r._2)).map(r => col("doc_id") >= r._3 && col("doc_id") < r._4)
          .reduce(_ || _))
      val inRows = rs.filter(r => inMod(r._2)).map(r => r._4 - r._3).sum
      resetPeaks()
      def pass(): Double = {
        val t = System.nanoTime()
        Materialize.materializeCount(run(in))
        (System.nanoTime() - t) / 1e9
      }
      val w = math.min(pass(), pass())
      val out = outView(run(in))
      val outRows = out.select(countDistinct(col(outIdCol))).head.getLong(0)
      val perFmt = out.groupBy(fmtExpr(n, col(outIdCol)).as("fmt"))
        .agg(countDistinct(col(outIdCol)).as("docs"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
      LegResult(name, inRows, outRows, w, peakHeapMb,
        rs.filter(r => inMod(r._2)).map(r => (r._1, r._4 - r._3, perFmt.getOrElse(r._1, 0L))))
    }

    val legs = Seq(
      // extract_meta emits a row per doc either way; its YIELD is the
      // real-codec fraction (decoded=true), not output presence
      leg("extract_meta", _ => true,
        df => BinaryPipeline.extractMeta(spark, df).toDF, "doc_id",
        outView = _.where(col("decoded"))),
      leg("embed_images", _ == "image",
        df => BinaryPipeline.embedImages(spark, df), "vec_id"),
      leg("embed_audio", _ == "audio",
        df => BinaryPipeline.embedAudio(spark, df), "vec_id"),
      leg("embed_video_frames", _ == "video",
        df => BinaryPipeline.embedVideoFrames(spark, df, stride = 2), "doc_id"))

    legs.foreach { l =>
      val fmts = l.perFmt.map { case (f, nIn, nOut) =>
        s""""$f":[$nIn,$nOut]""" }.mkString(",")
      println(s"""{"bench":"multimodal_${l.name}","in_rows":${l.inRows},""" +
        s""""out_docs":${l.outRows},"wall_sec":${f"${l.wallSec}%.2f"},""" +
        s""""docs_per_sec":${(l.inRows / l.wallSec).toLong},""" +
        s""""yield":${f"${l.outRows.toDouble / l.inRows}%.4f"},""" +
        s""""peak_heap_mb":${l.peakMb},"per_format":{$fmts}}""")
    }
    spark.stop()
  }
}
