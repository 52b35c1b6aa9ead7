package graft.multimodal

/** A second REAL image codec, dependency-free: uncompressed 24-bit BMP
  * (BITMAPINFOHEADER). Unlike PPM, BMP exercises the fiddly parts of
  * binary image formats — little-endian multi-byte fields, BGR pixel
  * order, 4-byte row padding, and bottom-up (or top-down, negative
  * height) row order — so the decode path is honest about real-world
  * raster layout, still without any codec library. Decodes to the same
  * [[Ppm.Image]] RGB raster the rest of the image pipeline consumes.
  */
object Bmp {

  import LE.{s32, u16, u32}

  /** Row stride: width×3 padded up to a 4-byte multiple. */
  private def stride(w: Int): Long = (w.toLong * 3 + 3) / 4 * 4

  /** Dimension ceiling: keeps every size product (stride·h, w·h·3)
    * comfortably inside Long arithmetic — a guard that multiplies two
    * unchecked 2³¹-scale values can itself wrap (found in review:
    * width AND height both 0x7FFFFFFF slipped past the old per-product
    * checks and crashed instead of returning None). */
  private val MaxDim = 1 << 20

  /** Encode an RGB raster as bottom-up 24-bit BMP. */
  private[graft] def encode(img: Ppm.Image): Array[Byte] = {
    require(img.rgb.length == img.width * img.height * 3,
      s"raster size ${img.rgb.length} != ${img.width}x${img.height}x3")
    val rowBytes = stride(img.width).toInt
    val dataSize = rowBytes * img.height
    val out = new Array[Byte](54 + dataSize)
    def putU16(i: Int, v: Int): Unit = {
      out(i) = v.toByte; out(i + 1) = (v >> 8).toByte
    }
    def putU32(i: Int, v: Long): Unit = (0 until 4).foreach(k =>
      out(i + k) = (v >> (8 * k)).toByte)
    out(0) = 'B'; out(1) = 'M'
    putU32(2, out.length.toLong); putU32(10, 54L)
    putU32(14, 40L); putU32(18, img.width.toLong)
    putU32(22, img.height.toLong)
    putU16(26, 1); putU16(28, 24); putU32(30, 0L)
    putU32(34, dataSize.toLong)
    var y = 0
    while (y < img.height) {
      val srcRow = (img.height - 1 - y) * img.width * 3 // bottom-up
      val dstRow = 54 + y * rowBytes
      var x = 0
      while (x < img.width) {
        out(dstRow + x * 3) = img.rgb(srcRow + x * 3 + 2)     // B
        out(dstRow + x * 3 + 1) = img.rgb(srcRow + x * 3 + 1) // G
        out(dstRow + x * 3 + 2) = img.rgb(srcRow + x * 3)     // R
        x += 1
      }
      y += 1
    }
    out
  }

  /** Parse an uncompressed 24-bit BMP; None on anything malformed or
    * unsupported (never throws — corrupt blobs are data, not errors).
    * Handles both bottom-up (positive height) and top-down (negative
    * height) rasters; all size arithmetic in Long so hostile headers
    * cannot overflow-wrap into accepted reads. */
  def decode(bytes: Array[Byte]): Option[Ppm.Image] = {
    if (bytes == null || bytes.length < 54 ||
      bytes(0) != 'B' || bytes(1) != 'M') return None
    val dataOffset = u32(bytes, 10)
    val headerSize = u32(bytes, 14)
    val w = s32(bytes, 18)
    val rawH = s32(bytes, 22)
    val planes = u16(bytes, 26)
    val bpp = u16(bytes, 28)
    val compression = u32(bytes, 30)
    if (headerSize < 40 || planes != 1 || bpp != 24 || compression != 0L)
      return None
    val topDown = rawH < 0
    val h = math.abs(rawH.toLong)
    if (w <= 0 || h <= 0 || w > MaxDim || h > MaxDim) return None
    val rowBytes = stride(w)
    val need = rowBytes * h
    if (dataOffset < 54 || dataOffset > bytes.length.toLong ||
      need > bytes.length.toLong - dataOffset ||
      w.toLong * h * 3 > Int.MaxValue) return None
    val out = new Array[Byte]((w * h.toInt * 3))
    var y = 0
    while (y < h.toInt) {
      val srcRow = dataOffset + (if (topDown) y.toLong
        else h - 1 - y) * rowBytes
      val dstRow = y * w * 3
      var x = 0
      while (x < w) {
        out(dstRow + x * 3) = bytes((srcRow + x * 3 + 2).toInt)     // R
        out(dstRow + x * 3 + 1) = bytes((srcRow + x * 3 + 1).toInt) // G
        out(dstRow + x * 3 + 2) = bytes((srcRow + x * 3).toInt)     // B
        x += 1
      }
      y += 1
    }
    Some(Ppm.Image(w, h.toInt, out))
  }
}
