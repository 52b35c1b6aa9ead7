package graft.multimodal

import java.io.ByteArrayInputStream

import javax.imageio.ImageIO

/** REAL decode for the compressed image formats (JPEG/PNG/GIF) via the
  * JDK's own `javax.imageio` — part of `java.desktop`, present in
  * every JDK, works headless, zero added dependencies. This retires
  * the last honest stub in the multimodal surface: previously these
  * formats carried hash-derived fake dimensions.
  *
  * Decodes into the shared RGB [[Ppm.Image]], so features, hashes and
  * re-encode work unchanged. Hostile-input posture matches the PNM
  * codecs: corrupt blobs are data (None, never throws), and the
  * header dimensions are read BEFORE any pixel decode so a
  * decompression bomb (a 4-byte-per-million-pixel PNG) is rejected
  * from its header instead of allocating the raster.
  */
object ImageCodec {

  // ImageIO touches AWT; force headless before the toolkit loads.
  System.setProperty("java.awt.headless", "true")

  private def magicKnown(b: Array[Byte]): Boolean =
    (b.length >= 8 && (b(0) & 0xff) == 0x89 && b(1) == 'P' &&
      b(2) == 'N' && b(3) == 'G') ||
      (b.length >= 3 && (b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8) ||
      (b.length >= 4 && b(0) == 'G' && b(1) == 'I' && b(2) == 'F' &&
        b(3) == '8') ||
      // BMP variants the hand parser declines (32-bit, palettized,
      // RLE) — Bmp.decode runs first in the chain, so only its
      // rejects reach ImageIO
      (b.length >= 2 && b(0) == 'B' && b(1) == 'M')

  /** Max pixels per INPUT byte: ties the decode allocation to the
    * blob size the way the raw codecs' `bytes.length >= need` checks
    * do. Real-world PNG/GIF tops out near 1000:1 even on uniform
    * content; 2048 is generous for data and still caps a 100-byte
    * bomb at ~200k pixels instead of the 625M the absolute cap alone
    * would allow (a ~4.4 GB allocation whose OutOfMemoryError no
    * catch below could save). */
  private val MaxPixelsPerByte = 2048L

  /** Decode JPEG/PNG/GIF (and hand-parser-rejected BMP variants);
    * None on unknown magic, corrupt content, or dimensions exceeding
    * either the PNM codecs' Int.MaxValue/3 cap or the
    * input-proportional bomb bound. */
  def decode(bytes: Array[Byte]): Option[Ppm.Image] = {
    if (bytes == null || !magicKnown(bytes)) return None
    try {
      val iis = ImageIO.createImageInputStream(new ByteArrayInputStream(bytes))
      try {
        val readers = ImageIO.getImageReaders(iis)
        if (!readers.hasNext) return None
        val reader = readers.next()
        try {
          reader.setInput(iis, true, true)
          // header-only dimension read: no raster allocated yet
          val w = reader.getWidth(0)
          val h = reader.getHeight(0)
          if (w <= 0 || h <= 0 ||
            w.toLong * h.toLong > Int.MaxValue / 3 ||
            w.toLong * h.toLong > bytes.length.toLong * MaxPixelsPerByte)
            return None
          val img = reader.read(0)
          val rgb = new Array[Byte](w * h * 3)
          // bulk ARGB fetch row-by-row bounds the temp int buffer
          val row = new Array[Int](w)
          var y = 0
          while (y < h) {
            img.getRGB(0, y, w, 1, row, 0, w)
            var x = 0
            while (x < w) {
              val p = row(x)
              val i = (y * w + x) * 3
              rgb(i) = ((p >> 16) & 0xff).toByte
              rgb(i + 1) = ((p >> 8) & 0xff).toByte
              rgb(i + 2) = (p & 0xff).toByte
              x += 1
            }
            y += 1
          }
          Some(Ppm.Image(w, h, rgb))
        } finally reader.dispose()
      } finally iis.close()
    } catch {
      case _: Exception => None // corrupt blobs are data, not errors
    }
  }

  /** REAL PNG encode via the JDK's built-in writer — the write-side
    * counterpart to [[decode]]. PNG is lossless, so
    * `decode(encodePng(img))` returns the exact pixels (round-trip
    * pinned in ImageCodecSpec) — the write side for a compressed
    * format (PNM/BMP/WAV/Y4M writers are hand-rolled; PNG's zlib +
    * filter machinery is exactly what the JDK already ships). */
  def encodePng(img: Ppm.Image): Array[Byte] = {
    val bi = new java.awt.image.BufferedImage(
      img.width, img.height, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val row = new Array[Int](img.width)
    var y = 0
    while (y < img.height) {
      var x = 0
      while (x < img.width) {
        val i = (y * img.width + x) * 3
        row(x) = ((img.rgb(i) & 0xff) << 16) |
          ((img.rgb(i + 1) & 0xff) << 8) | (img.rgb(i + 2) & 0xff)
        x += 1
      }
      bi.setRGB(0, y, img.width, 1, row, 0, img.width)
      y += 1
    }
    val out = new java.io.ByteArrayOutputStream()
    ImageIO.write(bi, "png", out)
    out.toByteArray
  }
}
