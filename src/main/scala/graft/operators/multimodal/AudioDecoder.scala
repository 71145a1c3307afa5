package graft.operators.multimodal

/** Pluggable audio decoder — the [[FrameDecoder]] pattern applied to
  * the audio modality (SURVEY §2 #36d): turning a binary payload into
  * mono samples in [-1, 1] is the codec-dependent step; everything
  * downstream ([[BinaryPipeline.audioEmbedding]]'s band features, the
  * embedding→ANN/dedup legs) is codec-independent. The JDK decodes
  * WAV/AIFF PCM natively ([[AudioDecoder.JavaSoundPcm]]), and
  * [[FlacDecoder]] covers FLAC — the mainstream lossless compressed
  * format — in pure JVM arithmetic (round 14). The lossy formats
  * (MP3/AAC/Opus) need an external codec — a deployment drops
  * an ffmpeg/JNI-backed implementation in beside the built-ins and
  * `embedAudio` works unchanged (the exact contract MultimodalSpec
  * exercises with a fake compressed-codec decoder).
  *
  * Implementations must be Serializable (they ship in task closures)
  * and stateless or cheaply re-initializable per JVM; `decode` returns
  * None for payloads it cannot read — degrade, never throw.
  */
trait AudioDecoder extends Serializable {

  /** Does this decoder claim the payload? A cheap magic-byte sniff,
    * checked before [[decode]] so a lenient codec never eats another
    * format's bytes.
    */
  def supports(data: Array[Byte]): Boolean

  /** Mono samples in [-1, 1] (multi-channel input averaged), or None
    * if the payload is unreadable.
    */
  def decode(data: Array[Byte]): Option[Array[Double]]

  /** HEADER-ONLY sample-frame count: the total mono sample frames the
    * container/stream headers declare, WITHOUT decoding audio data —
    * the audio analogue of [[BinaryPipeline]]'s header-only
    * `imageDims` (decoding a corpus's audio just to count samples is
    * the same order-of-magnitude waste as rasterizing images for
    * width/height). None = this decoder has no cheap metadata path
    * for the payload; callers fall back to their flagged stub, never
    * to a full decode.
    *
    * The number is the HEADER'S claim: for a stream [[decode]]
    * accepts it equals the decoded length (each built-in's spec pins
    * that equality), but a header may also declare totals decode
    * would refuse (oversize caps, truncated audio data) — metadata
    * extraction reports what the container says, loudly flagged by
    * the caller's `decoded` bit either way. Default None.
    */
  def probeFrames(data: Array[Byte]): Option[Long] = None
}

object AudioDecoder {

  private def tag(d: Array[Byte], off: Int, t: String): Boolean =
    d.length >= off + t.length &&
      t.indices.forall(i => d(off + i) == t(i).toByte)

  /** WAV (RIFF/WAVE) and AIFF (FORM/AIFF) via `javax.sound` — PCM
    * 8/16-bit, signed/unsigned, either endianness, any channel count
    * averaged to mono; G.711 μ-law/A-law (the telephony-corpus
    * encodings, WAVE format tags 6/7) are transcoded to 16-bit PCM
    * through the JDK's own converter first (round 14). Other
    * compressed encodings yield None.
    */
  object JavaSoundPcm extends AudioDecoder {
    def supports(d: Array[Byte]): Boolean =
      (tag(d, 0, "RIFF") && tag(d, 8, "WAV")) ||
        (tag(d, 0, "FORM") && tag(d, 8, "AIF"))

    /** `getAudioFileFormat` reads headers only (no frame decode);
      * NOT_SPECIFIED (-1) frame counts degrade to None.
      */
    override def probeFrames(d: Array[Byte]): Option[Long] =
      if (!supports(d)) None
      else scala.util.Try {
        val f = javax.sound.sampled.AudioSystem.getAudioFileFormat(
          new java.io.ByteArrayInputStream(d))
        val n = f.getFrameLength
        if (n >= 0) Some(n.toLong) else None
      }.toOption.flatten

    def decode(data: Array[Byte]): Option[Array[Double]] = scala.util.Try {
      val raw = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(data))
      import javax.sound.sampled.AudioFormat.Encoding._
      val in =
        if (raw.getFormat.getEncoding == ULAW || raw.getFormat.getEncoding == ALAW)
          javax.sound.sampled.AudioSystem.getAudioInputStream(PCM_SIGNED, raw)
        else raw
      try {
        val fmt = in.getFormat
        val enc = fmt.getEncoding
        val bits = fmt.getSampleSizeInBits
        val ok = (enc == PCM_SIGNED || enc == PCM_UNSIGNED) &&
          (bits == 8 || bits == 16) && in.getFrameLength <= (1 << 26)
        if (!ok) None
        else {
          val bytes = in.readAllBytes()
          val ch = fmt.getChannels
          val bytesPerSample = bits / 8
          val nFrames = bytes.length / (bytesPerSample * ch)
          val out = new Array[Double](nFrames)
          val big = fmt.isBigEndian
          var f = 0
          while (f < nFrames) {
            var sum = 0.0
            var c = 0
            while (c < ch) {
              val off = (f * ch + c) * bytesPerSample
              val raw =
                if (bits == 8) {
                  if (enc == PCM_UNSIGNED) (bytes(off) & 0xFF) - 128
                  else bytes(off).toInt
                } else {
                  val (b0, b1) = if (big) (bytes(off), bytes(off + 1))
                                 else (bytes(off + 1), bytes(off))
                  val s = ((b0 & 0xFF) << 8) | (b1 & 0xFF)
                  val signed = if (s >= 0x8000) s - 0x10000 else s
                  if (enc == PCM_UNSIGNED) s - 0x8000 else signed
                }
              sum += raw.toDouble / (if (bits == 8) 128.0 else 32768.0)
              c += 1
            }
            out(f) = sum / ch
            f += 1
          }
          Some(out)
        }
      } finally { in.close(); raw.close() }
    }.toOption.flatten
  }

  /** The decoders a pure JVM provides, each implementing its whole
    * format: uncompressed PCM containers via `javax.sound`,
    * [[FlacDecoder]] (RFC 9639, sample-exact in JVM integer arithmetic),
    * and [[AdpcmDecoder]] / [[MsAdpcmDecoder]] for IMA (WAVE format tag
    * 0x11) and MS (tag 0x02) ADPCM. First claimant wins, which the
    * built-ins never contest: the ADPCM decoders claim only their own
    * format tag, which JavaSoundPcm cannot decode (they are listed
    * first so the generic RIFF sniff never shadows them), and FLAC's
    * `fLaC` magic is disjoint from every RIFF/FORM container.
    */
  val builtins: Seq[AudioDecoder] =
    Seq(AdpcmDecoder, MsAdpcmDecoder, JavaSoundPcm, FlacDecoder)
}
