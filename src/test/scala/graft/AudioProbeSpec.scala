package graft

import graft.operators.multimodal.{AudioDecoder, AdpcmDecoder, BinaryPipeline,
  FlacDecoder, MsAdpcmDecoder}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Header-only audio metadata probes (round 17): `probeFrames` must
  * report, WITHOUT decoding audio data, exactly the sample count
  * `decode` materializes for a stream it accepts — the twin equality
  * that makes extractMeta's `n_frames` a real number instead of the
  * stub, for every container the repo decodes (WAV/AIFF via
  * javax.sound, FLAC STREAMINFO, IMA/MS ADPCM block arithmetic).
  */
class AudioProbeSpec extends AnyFunSuite {

  private def spark = TestSpark.spark

  private def sine(n: Int): Array[Int] =
    Array.tabulate(n)(i => (8000 * math.sin(2 * math.Pi * 440 * i / 8000.0)).toInt)

  private def probeOf(d: Array[Byte]): Option[Long] =
    AudioDecoder.builtins.find(_.supports(d)).flatMap(_.probeFrames(d))

  /** Minimal PCM16 mono RIFF/WAVE writer, same layout as MultimodalBench's. */
  private def wav16(s: Array[Int]): Array[Byte] = {
    val o = new java.io.ByteArrayOutputStream()
    def le32(v: Long): Unit = (0 until 4).foreach(i => o.write(((v >> (8 * i)) & 0xFF).toInt))
    def le16(v: Int): Unit = { o.write(v & 0xFF); o.write((v >> 8) & 0xFF) }
    o.write("RIFF".getBytes); le32(36L + s.length * 2); o.write("WAVE".getBytes)
    o.write("fmt ".getBytes); le32(16); le16(1); le16(1)
    le32(8000); le32(16000); le16(2); le16(16)
    o.write("data".getBytes); le32(s.length * 2L)
    s.foreach(v => le16(v & 0xFFFF))
    o.toByteArray
  }

  test("FLAC: probeFrames == STREAMINFO total == decode length") {
    val flac = FlacTestEncoder.encode(Array(sine(2000)), 16, 8000, 256,
      sub = (_, _) => FlacTestEncoder.Fixed(2))
    assert(FlacDecoder.probeFrames(flac) == Some(2000L))
    assert(FlacDecoder.decode(flac).get.length == 2000)
    assert(probeOf(flac) == Some(2000L), "builtins routing must reach FlacDecoder")
  }

  test("IMA ADPCM: probeFrames == block arithmetic == decode length") {
    val (ima, _) = AdpcmTestEncoder.encode(Array(sine(2000)), 8000, 505)
    val n = AdpcmDecoder.decode(ima).get.length
    assert(AdpcmDecoder.probeFrames(ima) == Some(n.toLong))
    assert(n >= 2000, "padded to whole blocks")
  }

  test("MS ADPCM: probeFrames == block arithmetic == decode length") {
    val (ms, _) = MsAdpcmTestEncoder.encode(Array(sine(2000)), 8000, 500)
    val n = MsAdpcmDecoder.decode(ms).get.length
    assert(MsAdpcmDecoder.probeFrames(ms) == Some(n.toLong))
  }

  // no built-in claims MP3: an ID3v2-tagged payload and bare 0xFFE-sync
  // MPEG-1 Layer III frame headers both fall to the stub
  private val id3 = "ID3".getBytes("ISO-8859-1") ++ Array[Byte](3, 0, 0, 0, 0, 0, 0) ++
    Array.fill(400)(0x55.toByte)
  private val sync = Array(0xFF, 0xFB, 0x90, 0x00).map(_.toByte) ++ Array.fill(413)(0.toByte)

  test("MP3: probeFrames == frame walk == decode length; total on an uncarried-table stream shape") {
    // the built-in MP3 decoder is deleted: probe and decode agree that
    // no built-in claims an MP3 stream, whole or truncated mid-frame,
    // so it takes the same path as any codec without a decoder
    val mp3 = Seq.fill(3)(sync).reduce(_ ++ _)
    for (d <- Seq(mp3, mp3.take(mp3.length - 10), id3)) {
      assert(!AudioDecoder.builtins.exists(_.supports(d)))
      assert(probeOf(d).isEmpty)
      assert(BinaryPipeline.decodeAudioSamples(d).isEmpty)
    }
  }

  test("WAV via JavaSoundPcm.probeFrames matches decodeWav (headers only)") {
    // the header-only probe equals the sample count the builtins' decode
    // materializes
    val wav = wav16(sine(1234))
    assert(AudioDecoder.JavaSoundPcm.probeFrames(wav) == Some(1234L))
    assert(probeOf(wav) == Some(1234L))
    assert(BinaryPipeline.decodeAudioSamples(wav).get.length == 1234)
  }

  test("extractMeta: FLAC/ADPCM/MP3 audio rows now report decoded=true with real n_frames; stub text stays flagged") {
    // name kept from before the MP3 decoder was deleted: MP3-shaped rows
    // now keep the flagged stub, and the PCM16 WAV row reports 1234 frames
    val s = spark
    import s.implicits._
    val flac = FlacTestEncoder.encode(Array(sine(2000)), 16, 8000, 256,
      sub = (_, _) => FlacTestEncoder.Fixed(2))
    val (ima, _) = AdpcmTestEncoder.encode(Array(sine(2000)), 8000, 505)
    val imaN = AdpcmDecoder.decode(ima).get.length
    val wav = wav16(sine(1234))
    val text = "not audio at all, just text bytes".getBytes("UTF-8")
    val rows = Seq(
      (1L, "audio", flac), (2L, "audio", ima), (3L, "audio", id3),
      (4L, "audio", text), (5L, "audio", sync), (6L, "audio", wav))
      .toDF("doc_id", "media_type", "data")
    val meta = BinaryPipeline.extractMeta(spark, rows)
      .collect().map(m => m.doc_id -> m).toMap
    def nd(id: Long) = (meta(id).n_frames, meta(id).decoded)
    assert(nd(1L) == ((2000, true)), s"flac: ${meta(1L)}")
    assert(nd(2L) == ((imaN, true)), s"ima: ${meta(2L)}")
    assert(nd(6L) == ((1234, true)), s"wav: ${meta(6L)}")
    for ((id, d) <- Seq(3L -> id3, 4L -> text, 5L -> sync)) {
      val m = meta(id)
      assert(!m.decoded, s"undecodable payloads keep the flagged stub: $m")
      assert((m.width, m.height, m.n_frames) == BinaryPipeline.decodeStub("audio", d),
        s"stub dimensions: $m")
    }
  }
}
