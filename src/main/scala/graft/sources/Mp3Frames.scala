package graft.sources

/** MP3 frame-layer walk (ISO/IEC 11172-3 audio framing + the de-facto
  * ID3 tag wrappers) — the census an audio-corpus ingest runs WITHOUT
  * decoding: how many frames, what bitrates, how long. The same role
  * the zstd frame walk (q357) plays for compressed text shards: an
  * ingest planner needs frame boundaries and durations, not PCM.
  *
  * Walked structures: optional ID3v2 header ("ID3" + version/flags +
  * 28-bit SYNCSAFE size), MPEG-1 Layer III frame headers (11-bit sync,
  * version/layer, bitrate and sample-rate tables, padding bit, channel
  * mode, optional 16-bit CRC when the protection bit is 0), frame
  * length = 144·bitrate/sampleRate + padding, and the optional 128-byte
  * ID3v1 "TAG" trailer.
  *
  * Strictness: lost sync, reserved bitrate/sample-rate/emphasis codes,
  * free-format frames, non-MPEG-1-Layer-III frames and truncation
  * reject the whole stream with None (DecoderFuzzSpec law).
  */
object Mp3Frames {

  /** MPEG-1 Layer III bitrates (kbit/s) by header index; 0 = free
    * format (rejected here), 15 invalid. */
  val Bitrates: Array[Int] =
    Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)
  val SampleRates: Array[Int] = Array(44100, 48000, 32000)
  val MaxFrames = 1 << 22

  final case class Census(nFrames: Int, id3v2Bytes: Int, hasId3v1: Boolean,
      bitrateSumKbps: Long, sampleRate: Int, paddedFrames: Int,
      totalFrameBytes: Long)

  def frameLength(bitrateKbps: Int, sampleRate: Int, padded: Boolean): Int =
    144000 * bitrateKbps / sampleRate + (if (padded) 1 else 0)

  // ---- encoder (census fixtures: valid framing, dummy payloads) ----------

  def encode(frames: Seq[(Int, Boolean)], sampleRateIdx: Int,
      id3v2Payload: Array[Byte], id3v1: Boolean): Array[Byte] = {
    require(sampleRateIdx >= 0 && sampleRateIdx <= 2)
    val out = new java.io.ByteArrayOutputStream()
    if (id3v2Payload.nonEmpty) {
      require(id3v2Payload.length < (1 << 28))
      out.write('I'); out.write('D'); out.write('3')
      out.write(4); out.write(0) // v2.4.0
      out.write(0)               // flags
      val sz = id3v2Payload.length
      out.write((sz >> 21) & 0x7F); out.write((sz >> 14) & 0x7F)
      out.write((sz >> 7) & 0x7F); out.write(sz & 0x7F)
      out.write(id3v2Payload)
    }
    val rate = SampleRates(sampleRateIdx)
    frames.foreach { case (brIdx, padded) =>
      require(brIdx >= 1 && brIdx <= 14)
      val len = frameLength(Bitrates(brIdx), rate, padded)
      out.write(0xFF)
      out.write(0xFB) // sync + MPEG-1 + Layer III + no CRC
      out.write((brIdx << 4) | (sampleRateIdx << 2) |
        (if (padded) 2 else 0))
      out.write(0x44) // joint stereo, no ext, not copyrighted, original
      var k = 4
      while (k < len) { out.write((k * 37 + brIdx) & 0xFF); k += 1 }
    }
    if (id3v1) {
      out.write('T'); out.write('A'); out.write('G')
      var k = 3
      while (k < 128) { out.write(0); k += 1 }
    }
    out.toByteArray
  }

  // ---- decoder ------------------------------------------------------------

  def census(bytes: Array[Byte]): Option[Census] = {
    try censusImpl(bytes)
    catch { case _: ArrayIndexOutOfBoundsException => None }
  }

  private def censusImpl(bytes: Array[Byte]): Option[Census] = {
    var i = 0
    var id3v2 = 0
    if (bytes.length >= 10 && bytes(0) == 'I' && bytes(1) == 'D' &&
        bytes(2) == '3') {
      // syncsafe 28-bit size; the four size bytes must have bit 7 clear
      var sz = 0
      var k = 6
      while (k < 10) {
        if ((bytes(k) & 0x80) != 0) return None
        sz = (sz << 7) | (bytes(k) & 0x7F)
        k += 1
      }
      id3v2 = 10 + sz
      if (id3v2 > bytes.length) return None
      i = id3v2
    }
    var end = bytes.length
    var id3v1 = false
    if (end - i >= 128 && bytes(end - 128) == 'T' &&
        bytes(end - 127) == 'A' && bytes(end - 126) == 'G') {
      id3v1 = true
      end -= 128
    }
    var nFrames = 0
    var brSum = 0L
    var padded = 0
    var rate = -1
    var frameBytes = 0L
    while (i < end) {
      nFrames += 1
      if (nFrames > MaxFrames) return None
      if (i + 4 > end) return None
      if ((bytes(i) & 0xFF) != 0xFF || (bytes(i + 1) & 0xE0) != 0xE0)
        return None // lost sync
      val version = (bytes(i + 1) >> 3) & 0x3
      val layer = (bytes(i + 1) >> 1) & 0x3
      if (version != 3 || layer != 1) return None // MPEG-1 Layer III only
      val crcPresent = (bytes(i + 1) & 1) == 0
      val brIdx = (bytes(i + 2) >> 4) & 0xF
      val srIdx = (bytes(i + 2) >> 2) & 0x3
      val pad = (bytes(i + 2) >> 1) & 0x1
      if (brIdx == 0 || brIdx == 15) return None // free format / invalid
      if (srIdx == 3) return None
      if ((bytes(i + 3) & 0x3) == 2) return None // reserved emphasis
      val sr = SampleRates(srIdx)
      if (rate < 0) rate = sr
      else if (rate != sr) return None // mid-stream rate change: reject
      val len = frameLength(Bitrates(brIdx), sr, pad == 1)
      if (len < (if (crcPresent) 6 else 4) || i + len > end) return None
      brSum += Bitrates(brIdx)
      if (pad == 1) padded += 1
      frameBytes += len
      i += len
    }
    if (nFrames == 0) return None
    Some(Census(nFrames, id3v2, id3v1, brSum, rate, padded, frameBytes))
  }
}
