package graft.multimodal

/** A REAL image codec, dependency-free: binary PPM (P6) — ASCII header
  * `P6 <width> <height> <maxval>` then a raw RGB raster. Pure byte
  * parsing; compressed formats (JPEG/PNG/GIF) decode through the
  * JDK's ImageIO instead ([[ImageCodec]]).
  */
object Ppm {

  final case class Image(width: Int, height: Int, rgb: Array[Byte])

  def encode(img: Image): Array[Byte] = {
    require(img.rgb.length == img.width * img.height * 3,
      s"raster size ${img.rgb.length} != ${img.width}x${img.height}x3")
    val header = s"P6\n${img.width} ${img.height}\n255\n"
      .getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    val out = new Array[Byte](header.length + img.rgb.length)
    System.arraycopy(header, 0, out, 0, header.length)
    System.arraycopy(img.rgb, 0, out, header.length, img.rgb.length)
    out
  }

  /** Parse a P6 image; None on anything malformed (never throws —
    * corrupt blobs are data, not errors). Header grammar — comments
    * (#...), arbitrary whitespace, overflow-safe numbers — is the
    * shared [[Pnm.parseHeader]]. */
  def decode(bytes: Array[Byte]): Option[Image] =
    Pnm.parseHeader(bytes, '6').flatMap { hd =>
      val i = hd.rasterStart
      // Guard BEFORE multiplying by 3: w·h ≤ 2^62 can't wrap, but
      // w·h·3 can (w = h = Int.MaxValue wraps Long negative and slips
      // past both checks — review finding).
      val wh = hd.width.toLong * hd.height.toLong
      if (wh > Int.MaxValue / 3 || bytes.length - i < wh * 3L) None
      else Some(Image(hd.width, hd.height,
        java.util.Arrays.copyOfRange(bytes, i, i + (wh * 3L).toInt)))
    }

  /** g×g mean-luma grid, L2-normalized — a real (if simple) visual
    * embedding from actual pixels: pixel (x, y) belongs to grid cell
    * (y·g/h, x·g/w); each cell's value is the float mean of its
    * pixels' integer lumas ((299R + 587G + 114B) / 1000, floored);
    * the g² vector is then L2-normalized so cosine ≡ dot product for
    * the similarity operators. All-integer accumulation, one float
    * division per cell, norm in double (sequential sum of squares) —
    * every step exactly replayable in DuckDB, which is what lets the
    * end-to-end decode→embed→knn pipeline be oracle-checked. A
    * uniform frame (all pixels equal) normalizes to the same vector
    * at every brightness — by design: the grid is a LAYOUT signature,
    * scale-invariant like cosine itself. */
  def lumaGrid(img: Image, g: Int): Array[Float] = {
    require(g > 0, "grid must be positive")
    val sums = new Array[Long](g * g)
    val counts = new Array[Long](g * g)
    val n = img.width * img.height
    var p = 0
    while (p < n) {
      val x = p % img.width; val y = p / img.width
      val c = (y * g / img.height) * g + (x * g / img.width)
      val rr = img.rgb(p * 3) & 0xff
      val gg = img.rgb(p * 3 + 1) & 0xff
      val bb = img.rgb(p * 3 + 2) & 0xff
      sums(c) += (299L * rr + 587L * gg + 114L * bb) / 1000L
      counts(c) += 1L
      p += 1
    }
    val f = Array.tabulate(g * g) { i =>
      if (counts(i) == 0L) 0f else sums(i).toFloat / counts(i)
    }
    var ss = 0.0d
    var i = 0
    while (i < f.length) { ss += f(i).toDouble * f(i).toDouble; i += 1 }
    val norm = math.sqrt(ss)
    if (norm == 0.0d) f else f.map(v => (v.toDouble / norm).toFloat)
  }

  /** Real content features: [meanR, meanG, meanB, then mean luminance
    * of each 2×2 spatial quadrant] — 7 floats, deterministic, feeds
    * straight into the similarity operators. */
  def features(img: Image): Array[Float] = {
    val n = img.width * img.height
    var r = 0L; var g = 0L; var b = 0L
    val quad = new Array[Long](4)
    val quadN = new Array[Long](4)
    var p = 0
    while (p < n) {
      val x = p % img.width; val y = p / img.width
      val rr = img.rgb(p * 3) & 0xff
      val gg = img.rgb(p * 3 + 1) & 0xff
      val bb = img.rgb(p * 3 + 2) & 0xff
      r += rr; g += gg; b += bb
      val q = (if (y * 2 >= img.height) 2 else 0) +
        (if (x * 2 >= img.width) 1 else 0)
      quad(q) += (299L * rr + 587L * gg + 114L * bb) / 1000L
      quadN(q) += 1L
      p += 1
    }
    val out = new Array[Float](7)
    out(0) = r.toFloat / n; out(1) = g.toFloat / n; out(2) = b.toFloat / n
    var q = 0
    while (q < 4) {
      out(3 + q) = if (quadN(q) == 0) 0f else quad(q).toFloat / quadN(q)
      q += 1
    }
    out
  }
}
