package graft.multimodal

/** A REAL audio codec, dependency-free: PCM WAV (RIFF) — chunked
  * header plus raw 16-bit little-endian samples. Like [[Ppm]], pure
  * byte parsing makes the audio decode path genuinely real without any
  * codec library; compressed audio stays behind the documented stub.
  */
object Wav {

  final case class Audio(sampleRate: Int, channels: Int,
                         samples: Array[Short]) {
    def durationMs: Long =
      if (sampleRate == 0 || channels == 0) 0L
      else samples.length.toLong * 1000L / (sampleRate.toLong * channels)
  }

  private def le16(b: Array[Byte], i: Int): Int = LE.u16(b, i)
  private def le32(b: Array[Byte], i: Int): Int = LE.s32(b, i)

  /** Build a 16-bit PCM WAV blob. */
  def encode(a: Audio): Array[Byte] = {
    val dataLen = a.samples.length * 2
    val out = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val byteRate = a.sampleRate * a.channels * 2
    out.put("RIFF".getBytes); out.putInt(36 + dataLen)
    out.put("WAVE".getBytes)
    out.put("fmt ".getBytes); out.putInt(16)
    out.putShort(1.toShort) // PCM
    out.putShort(a.channels.toShort)
    out.putInt(a.sampleRate)
    out.putInt(byteRate)
    out.putShort((a.channels * 2).toShort) // block align
    out.putShort(16.toShort)               // bits per sample
    out.put("data".getBytes); out.putInt(dataLen)
    a.samples.foreach(s => out.putShort(s))
    out.array()
  }

  /** Parse 16-bit PCM WAV; None on anything malformed or non-PCM-16
    * (corrupt blobs are data, not errors). Walks the RIFF chunk list,
    * so extra chunks (LIST, fact, …) before `data` are fine. */
  def decode(bytes: Array[Byte]): Option[Audio] = {
    if (bytes == null || bytes.length < 44) return None
    if (!(bytes(0) == 'R' && bytes(1) == 'I' && bytes(2) == 'F' &&
        bytes(3) == 'F' && bytes(8) == 'W' && bytes(9) == 'A' &&
        bytes(10) == 'V' && bytes(11) == 'E')) return None
    var i = 12
    var rate = 0; var channels = 0; var bits = 0; var fmt = 0
    var data: Option[(Int, Int)] = None // (offset, len)
    while (i + 8 <= bytes.length && data.isEmpty) {
      val id = new String(bytes, i, 4, "US-ASCII")
      val len = le32(bytes, i + 4)
      // Long arithmetic: a hostile/corrupt length near Int.MaxValue must
      // fail the bounds check, not wrap negative past it (decode must
      // return None on corrupt bytes, never throw)
      if (len < 0 || i.toLong + 8L + len.toLong > bytes.length) return None
      id match {
        case "fmt " if len >= 16 =>
          fmt = le16(bytes, i + 8)
          channels = le16(bytes, i + 10)
          rate = le32(bytes, i + 12)
          bits = le16(bytes, i + 22)
        case "data" => data = Some((i + 8, len))
        case _ => ()
      }
      i += 8 + len + (len & 1) // chunks are word-aligned
    }
    data match {
      case Some((off, len))
          if fmt == 1 && bits == 16 && rate > 0 && channels > 0 =>
        val n = len / 2
        val samples = new Array[Short](n)
        var j = 0
        while (j < n) {
          samples(j) = le16(bytes, off + j * 2).toShort; j += 1
        }
        Some(Audio(rate, channels, samples))
      case _ => None
    }
  }
}
