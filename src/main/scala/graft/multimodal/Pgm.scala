package graft.multimodal

/** A REAL image codec, dependency-free: binary PGM (P5) — the
  * grayscale sibling of [[Ppm]]: ASCII header `P5 <width> <height>
  * <maxval>` then a raw 1-byte-per-pixel raster. Decodes to the same
  * RGB [[Ppm.Image]] (gray replicated into all three channels) so
  * every downstream transform — features and hashes — works
  * unchanged on grayscale inputs.
  */
object Pgm {

  private[graft] def encode(width: Int, height: Int, gray: Array[Byte]): Array[Byte] = {
    require(gray.length == width * height,
      s"raster size ${gray.length} != ${width}x$height")
    val header = s"P5\n$width $height\n255\n"
      .getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    val out = new Array[Byte](header.length + gray.length)
    System.arraycopy(header, 0, out, 0, header.length)
    System.arraycopy(gray, 0, out, header.length, gray.length)
    out
  }

  /** Parse a P5 image into an RGB [[Ppm.Image]]; None on anything
    * malformed (never throws — corrupt blobs are data, not errors).
    * Header grammar is the shared [[Pnm.parseHeader]]. */
  def decode(bytes: Array[Byte]): Option[Ppm.Image] =
    Pnm.parseHeader(bytes, '5').flatMap { hd =>
      val i = hd.rasterStart
      // w·h ≤ 2^62 can't wrap Long; compare against Int.MaxValue/3
      // BEFORE the ×3 RGB expansion (w·h·3 could wrap — same hazard
      // as Ppm.decode's review finding)
      val need = hd.width.toLong * hd.height.toLong
      if (need > Int.MaxValue / 3 || bytes.length - i < need) None
      else {
        val rgb = new Array[Byte]((need * 3L).toInt)
        var p = 0
        while (p < need.toInt) {
          val g = bytes(i + p)
          rgb(p * 3) = g; rgb(p * 3 + 1) = g; rgb(p * 3 + 2) = g
          p += 1
        }
        Some(Ppm.Image(hd.width, hd.height, rgb))
      }
    }
}
