package graft.expressions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

/** REAL BMP (BITMAPINFOHEADER, 24-bit RGB) codec — the image-modality
  * counterpart of [[WavPcm16]]: a true pure-JVM decoder for the second
  * of the three multimodal formats. BMP's two quirks are exactly what a
  * stub can't fake and the unit spec pins against the format (not just
  * against the encoder): pixel rows are stored BOTTOM-UP, and every
  * stored row is padded to a 4-byte boundary. [[BmpRgb24.pixels]]
  * validates the container ('BM' magic, header size, 24 bpp,
  * uncompressed, single plane, positive height), then walks the stored
  * rows in reverse, skipping padding, to reconstruct the logical
  * top-down BGR byte stream. Malformed containers are rejected with
  * descriptive errors.
  *
  * [[BmpRgb24.encode]] builds a valid container from payload bytes
  * (3 bytes per pixel in BGR order, fixed width, zero-filled tail in
  * the last row's surplus pixel slots) so fixtures can be synthesized
  * in-engine; since the logical byte stream IS the payload (+ zero
  * tail), the DuckDB oracle recomputes channel sums and an
  * order-sensitive checksum straight from `hex(encode(text))` — a
  * decoder that misread padding or row order fails the oracle.
  */
object BmpRgb24 {

  import LeBytes.{u16le, u32le, readU16, readU32}

  private val PixelOffset = 54 // 14 file header + 40 info header

  /** Build a valid bottom-up 24-bit BMP whose logical pixel stream is
    * `payload` (BGR triples; the last row's surplus pixel slots are
    * zero-filled). */
  def encode(payload: Array[Byte], width: Int): Array[Byte] = {
    // the encoder's domain mirrors the decoder's validation caps, so
    // encode→pixels can never fail on the codec's own output
    require(width > 0 && width <= (1 << 20),
      s"bmp_rgb24: width must be in (0, 2^20], got $width")
    val nPx = (payload.length + 2) / 3
    val height = math.max(1, (nPx + width - 1) / width)
    require(height <= (1 << 20),
      s"bmp_rgb24: payload needs height $height > 2^20 at width $width")
    val rowBytes = width * 3
    val rowSize = (rowBytes + 3) & ~3 // stored rows pad to 4-byte boundary
    val imageSize = rowSize * height
    val out = new java.io.ByteArrayOutputStream(PixelOffset + imageSize)
    out.write('B'); out.write('M')
    out.write(u32le(PixelOffset + imageSize))
    out.write(u16le(0)); out.write(u16le(0))
    out.write(u32le(PixelOffset))
    out.write(u32le(40)) // BITMAPINFOHEADER
    out.write(u32le(width))
    out.write(u32le(height)) // positive = bottom-up storage
    out.write(u16le(1)) // planes
    out.write(u16le(24)) // bits per pixel
    out.write(u32le(0)) // BI_RGB, uncompressed
    out.write(u32le(imageSize))
    out.write(u32le(2835)); out.write(u32le(2835)) // 72 dpi
    out.write(u32le(0)); out.write(u32le(0))
    // logical rows top-down = payload slices; stored order is reversed
    val logical = new Array[Byte](height * rowBytes)
    System.arraycopy(payload, 0, logical, 0, payload.length)
    val pad = new Array[Byte](rowSize - rowBytes)
    var r = height - 1
    while (r >= 0) {
      out.write(logical, r * rowBytes, rowBytes)
      out.write(pad)
      r -= 1
    }
    out.toByteArray
  }

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(s"bmp_rgb24: $msg")

  /** Validate the container and return (pixelOffset, width, height).
    * All u32 fields are range-checked BEFORE any arithmetic that could
    * overflow Int — a hostile header (negative-as-signed offset, or a
    * width whose *3 wraps) must produce the documented rejection, not
    * an ArrayIndexOutOfBounds/NegativeArraySize crash. */
  private def header(bmp: Array[Byte]): (Int, Int, Int) = {
    if (bmp.length < PixelOffset) fail(s"container too short (${bmp.length})")
    if (bmp(0) != 'B' || bmp(1) != 'M') fail("missing BM magic")
    val pixelOff = readU32(bmp, 10)
    if (pixelOff < PixelOffset || pixelOff > bmp.length)
      fail(s"pixel offset $pixelOff outside the container")
    val infoSize = readU32(bmp, 14)
    if (infoSize < 40) fail(s"info header too short ($infoSize)")
    val width = readU32(bmp, 18)
    val height = readU32(bmp, 22)
    // 2^20 px per axis is far beyond any sane uncompressed BMP and
    // keeps every later product inside Int
    if (width <= 0 || width > (1 << 20)) fail(s"width $width out of range")
    if (height <= 0 || height > (1 << 20))
      fail(s"expected bottom-up height in range, got $height")
    if (readU16(bmp, 26) != 1) fail("planes must be 1")
    val bpp = readU16(bmp, 28)
    if (bpp != 24) fail(s"expected 24 bpp, got $bpp")
    val compression = readU32(bmp, 30)
    if (compression != 0) fail(s"expected uncompressed (BI_RGB), got $compression")
    val rowSize = (width.toLong * 3 + 3) & ~3L
    if (pixelOff + rowSize * height > bmp.length)
      fail("pixel array overruns the container")
    (pixelOff, width, height)
  }

  /** The logical top-down BGR byte stream (0-255 ints), reconstructed
    * by walking the stored rows bottom-up and skipping row padding. */
  def pixels(bmp: Array[Byte]): ArrayData = {
    val (off, width, height) = header(bmp)
    val rowBytes = width * 3
    val rowSize = (rowBytes + 3) & ~3
    val out = new Array[Int](height * rowBytes)
    var r = 0
    while (r < height) {
      val src = off + (height - 1 - r) * rowSize // stored bottom-up
      var i = 0
      while (i < rowBytes) {
        out(r * rowBytes + i) = bmp(src + i) & 0xff
        i += 1
      }
      r += 1
    }
    new GenericArrayData(out)
  }

  def width(bmp: Array[Byte]): Int = header(bmp)._2
  def height(bmp: Array[Byte]): Int = header(bmp)._3
}
