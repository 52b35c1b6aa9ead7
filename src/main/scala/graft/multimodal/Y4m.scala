package graft.multimodal

/** A REAL video codec, dependency-free: YUV4MPEG2 (.y4m) —
  * `YUV4MPEG2 W<w> H<h> F<num>:<den> ...\n` then `FRAME\n`-delimited
  * raw planar YUV. Uncompressed, so frame demux and luma access are
  * pure byte arithmetic; supports C420 (default, Y + quarter U/V) and
  * C444 planes. Completes the real-decode trifecta with [[Ppm]]
  * (image) and [[Wav]] (audio): sampled frames come back as grayscale
  * PPM blobs that feed straight into the image operators.
  */
object Y4m {

  final case class Video(width: Int, height: Int,
                         fpsNum: Int, fpsDen: Int,
                         colorspace: String,
                         frames: IndexedSeq[Array[Byte]]) {
    def frameCount: Int = frames.length
    def durationMs: Long =
      if (fpsNum == 0) 0L
      else frameCount.toLong * 1000L * fpsDen / fpsNum
    /** Y (luma) plane of frame i — the leading w*h bytes. */
    def luma(i: Int): Array[Byte] =
      java.util.Arrays.copyOfRange(frames(i), 0, width * height)
  }

  private val Magic = "YUV4MPEG2"

  def encode(v: Video): Array[Byte] = {
    val header =
      s"$Magic W${v.width} H${v.height} F${v.fpsNum}:${v.fpsDen} C${v.colorspace}\n"
        .getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    val frameHdr = "FRAME\n".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    val buf = new java.io.ByteArrayOutputStream()
    buf.write(header)
    v.frames.foreach { f => buf.write(frameHdr); buf.write(f) }
    buf.toByteArray
  }

  private def frameBytes(w: Int, h: Int, cs: String): Option[Int] = {
    // Long arithmetic: corrupt/hostile dims near sqrt(Int.MaxValue)
    // must be rejected, not wrapped negative past the bounds checks
    val wl = w.toLong; val hl = h.toLong
    val n: Long = cs match {
      case "420" | "420jpeg" | "420mpeg2" | "420paldv" =>
        wl * hl + 2L * ((wl + 1) / 2) * ((hl + 1) / 2)
      case "444" => wl * hl * 3L
      case "mono" => wl * hl
      case _ => -1L
    }
    if (n <= 0L || n > Int.MaxValue) None else Some(n.toInt)
  }

  /** Parse a Y4M stream; None on anything malformed (corrupt blobs are
    * data, not errors). */
  def decode(bytes: Array[Byte]): Option[Video] = {
    if (bytes == null || bytes.length < Magic.length + 1) return None
    val headEnd = bytes.indexOf('\n'.toByte)
    if (headEnd < 0) return None
    val head = new String(bytes, 0, headEnd, "US-ASCII")
    if (!head.startsWith(Magic)) return None
    var w = -1; var h = -1; var num = 25; var den = 1; var cs = "420"
    head.drop(Magic.length).trim.split("\\s+").foreach { tok =>
      if (tok.nonEmpty) tok.charAt(0) match {
        case 'W' => w = tok.drop(1).toIntOption.getOrElse(-1)
        case 'H' => h = tok.drop(1).toIntOption.getOrElse(-1)
        case 'F' => tok.drop(1).split(":") match {
          case Array(a, b) =>
            num = a.toIntOption.getOrElse(0); den = b.toIntOption.getOrElse(1)
          case _ => ()
        }
        case 'C' => cs = tok.drop(1)
        case _ => () // I/A/X params — irrelevant to demux
      }
    }
    val fb = frameBytes(w, h, cs).getOrElse(return None)
    if (w <= 0 || h <= 0 || num <= 0 || den <= 0) return None
    val frames = Vector.newBuilder[Array[Byte]]
    var i = headEnd + 1
    while (i < bytes.length) {
      // each frame: "FRAME[ params]\n" then fb raster bytes
      if (i + 5 > bytes.length ||
        new String(bytes, i, 5, "US-ASCII") != "FRAME") return None
      val nl = {
        var j = i + 5
        while (j < bytes.length && bytes(j) != '\n') j += 1
        j
      }
      if (nl >= bytes.length ||
        nl.toLong + 1L + fb.toLong > bytes.length) return None
      frames += java.util.Arrays.copyOfRange(bytes, nl + 1, nl + 1 + fb)
      i = nl + 1 + fb
    }
    val fs = frames.result()
    if (fs.isEmpty) None
    else Some(Video(w, h, num, den, cs, fs))
  }

  /** Extract frame i's luma plane as a grayscale PPM image — the
    * video→image bridge (feeds the [[Perceptual]] frame hashes). */
  def frameAsPpm(v: Video, i: Int): Ppm.Image = {
    val y = v.luma(i)
    val rgb = new Array[Byte](y.length * 3)
    var j = 0
    while (j < y.length) {
      rgb(j * 3) = y(j); rgb(j * 3 + 1) = y(j); rgb(j * 3 + 2) = y(j)
      j += 1
    }
    Ppm.Image(v.width, v.height, rgb)
  }
}
