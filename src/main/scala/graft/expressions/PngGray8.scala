package graft.expressions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

/** REAL PNG (8-bit, non-interlaced; grayscale AND truecolor RGB24)
  * codec — the first COMPRESSED format in the multimodal family: unlike
  * the uncompressed containers ([[WavPcm16]] PCM, [[BmpRgb24]] RGB24,
  * [[AviDib]] DIB), the pixel data here rides a zlib DEFLATE stream
  * behind PNG's per-scanline prediction filters, so the decoder must
  * run a true entropy decode (`java.util.zip.Inflater`) AND invert all
  * five filter types before a single pixel byte exists. The RGB24 form
  * (color type 2) additionally exercises the filters' BYTES-WITH-BPP-
  * STRIDE semantics — `left`/`up-left` references are 3 bytes back —
  * which the grayscale form (stride 1) structurally cannot.
  *
  * [[PngGray8.pixels]] validates the 8-byte signature, walks the chunk
  * list verifying every CRC-32, parses IHDR (bit depth 8, color type 0
  * grayscale or 2 truecolor — each decode entry point pins the type it
  * serves, deflate, filter method 0, non-interlaced, range-checked
  * dimensions), CONCATENATES all IDAT payloads (the stream may be split
  * across chunks — [[PngGray8.encode]] deliberately splits it in two so
  * a decoder that reads only the first IDAT fails), inflates, checks
  * the exact inflated length, then unfilters each scanline: None, Sub
  * (left), Up (above), Average (floor of the mean), Paeth (nearest-of-
  * three predictor). Malformed containers — bad magic, CRC mismatch,
  * truncated stream, unknown filter byte, wrong color type — are
  * rejected with descriptive errors.
  *
  * [[PngGray8.encode]] builds a valid PNG from payload bytes (1 byte
  * per pixel, fixed width, zero-filled tail in the last row) and
  * assigns each row filter type `row % 5`, so ANY image of ≥ 5 rows
  * exercises every unfilter path on decode — the all-five coverage is
  * structural, not statistical. Since the logical pixel stream IS the
  * payload (+ zero tail), the DuckDB oracle recomputes every statistic
  * straight from `hex(encode(text))` byte pairs: a decoder that
  * misread a filter, a chunk boundary, or the inflate stream fails the
  * order-sensitive positional checksum. Independence from the encoder
  * is proven in PngGray8Spec by cross-decoding against the JDK's own
  * ImageIO PNG codec in BOTH directions.
  */
object PngGray8 {

  private val Signature: Array[Byte] =
    Array(0x89.toByte, 'P', 'N', 'G', '\r', '\n', 0x1a, '\n')

  private def u32be(v: Int): Array[Byte] =
    Array(((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
      ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)

  private def readU32be(b: Array[Byte], off: Int): Int =
    ((b(off) & 0xff) << 24) | ((b(off + 1) & 0xff) << 16) |
      ((b(off + 2) & 0xff) << 8) | (b(off + 3) & 0xff)

  private def crc32(tag: String, data: Array[Byte], off: Int,
      len: Int): Int = {
    val c = new java.util.zip.CRC32
    c.update(tag.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    c.update(data, off, len)
    c.getValue.toInt
  }

  private def chunk(out: java.io.ByteArrayOutputStream, tag: String,
      data: Array[Byte], off: Int = 0, len: Int = -1): Unit = {
    val n = if (len < 0) data.length else len
    out.write(u32be(n))
    out.write(tag.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    out.write(data, off, n)
    out.write(u32be(crc32(tag, data, off, n)))
  }

  /** Bytes per pixel for the three supported color types: 0 = grayscale
    * (1), 2 = truecolor RGB (3), 3 = palette-indexed (1). PNG filters
    * operate on BYTES with a bpp STRIDE — the `left`/`up-left`
    * references are bpp bytes back — so the RGB path exercises stride
    * logic the gray path (stride 1) structurally cannot; the palette
    * path filters INDEX bytes (stride 1) and defers color to the PLTE
    * lookup AFTER unfiltering. */
  private def bppOf(ct: Int): Int = ct match {
    case 0 => 1
    case 2 => 3
    case 3 => 1
    case t => fail(s"unsupported color type $t")
  }

  /** The deterministic 256-entry palette the indexed encoder stores in
    * PLTE: entry i = ((37i+11)%256, (73i+29)%256, (151i+47)%256). The
    * multipliers are odd, so each channel is a bijection on 0-255 and
    * all 256 entries are distinct. Entry 0 is deliberately NON-zero
    * (11,29,47): the zero-filled payload tail maps to non-zero RGB, so
    * an oracle (or decoder) that skips the palette lookup on the tail
    * is caught by every channel sum. */
  def paletteEntry(i: Int): (Int, Int, Int) =
    ((37 * i + 11) % 256, (73 * i + 29) % 256, (151 * i + 47) % 256)

  /** Build a valid 8-bit grayscale PNG whose logical pixel stream is
    * `payload` (zero-filled tail in the last row); row r is stored
    * under filter type r % 5, so decode exercises every unfilter. */
  def encode(payload: Array[Byte], width: Int): Array[Byte] =
    encodeCore(payload, width, 0)

  /** RGB24 (color type 2) form: `payload` is the interleaved R,G,B byte
    * stream, `widthPx` the width in PIXELS (3·widthPx bytes per row). */
  def encodeRgb24(payload: Array[Byte], widthPx: Int): Array[Byte] =
    encodeCore(payload, widthPx, 2)

  /** Palette-indexed (color type 3) form: `payload` bytes ARE the
    * palette indices (1 byte per pixel); the stored PLTE is the full
    * 256-entry [[paletteEntry]] table. */
  def encodePalette(payload: Array[Byte], widthPx: Int): Array[Byte] =
    encodeCore(payload, widthPx, 3)

  private def encodeCore(payload: Array[Byte], widthPx: Int,
      ct: Int): Array[Byte] = {
    val bpp = bppOf(ct)
    require(widthPx > 0 && widthPx <= (1 << 20),
      s"png: width must be in (0, 2^20], got $widthPx")
    val rowBytes = widthPx * bpp
    val height = math.max(1, (payload.length + rowBytes - 1) / rowBytes)
    require(height <= (1 << 20),
      s"png: payload needs height $height > 2^20 at width $widthPx")
    val px = new Array[Byte](height * rowBytes)
    System.arraycopy(payload, 0, px, 0, payload.length)
    // filtered scanlines: 1 filter byte + rowBytes filtered bytes per row
    val raw = new Array[Byte](height * (rowBytes + 1))
    var r = 0
    while (r < height) {
      val f = r % 5
      raw(r * (rowBytes + 1)) = f.toByte
      var i = 0
      while (i < rowBytes) {
        val x = px(r * rowBytes + i) & 0xff
        val a = if (i >= bpp) px(r * rowBytes + i - bpp) & 0xff else 0 // left
        val b = if (r > 0) px((r - 1) * rowBytes + i) & 0xff else 0 // up
        val c = if (r > 0 && i >= bpp) px((r - 1) * rowBytes + i - bpp) & 0xff
          else 0 // up-left
        val filtered = f match {
          case 0 => x
          case 1 => x - a
          case 2 => x - b
          case 3 => x - (a + b) / 2
          case 4 => x - paeth(a, b, c)
        }
        raw(r * (rowBytes + 1) + 1 + i) = (filtered & 0xff).toByte
        i += 1
      }
      r += 1
    }
    val deflater = new java.util.zip.Deflater()
    deflater.setInput(raw)
    deflater.finish()
    val zbuf = new java.io.ByteArrayOutputStream(raw.length / 2 + 64)
    val tmp = new Array[Byte](8192)
    while (!deflater.finished())
      zbuf.write(tmp, 0, deflater.deflate(tmp))
    deflater.end()
    val z = zbuf.toByteArray
    val ihdr = new java.io.ByteArrayOutputStream(13)
    ihdr.write(u32be(widthPx)); ihdr.write(u32be(height))
    ihdr.write(8) // bit depth
    ihdr.write(ct) // color type: 0 grayscale / 2 truecolor
    ihdr.write(0); ihdr.write(0); ihdr.write(0) // deflate/filter0/no interlace
    val out = new java.io.ByteArrayOutputStream(z.length + 128)
    out.write(Signature)
    chunk(out, "IHDR", ihdr.toByteArray)
    if (ct == 3) {
      // PLTE is REQUIRED for color type 3 and must precede IDAT
      val plte = new Array[Byte](256 * 3)
      var e = 0
      while (e < 256) {
        val (pr, pg, pb) = paletteEntry(e)
        plte(3 * e) = pr.toByte; plte(3 * e + 1) = pg.toByte
        plte(3 * e + 2) = pb.toByte
        e += 1
      }
      chunk(out, "PLTE", plte)
    }
    // split IDAT in two: a decoder must concatenate the stream across
    // chunk boundaries (single-IDAT is the special case, not the rule)
    val cut = z.length / 2
    chunk(out, "IDAT", z, 0, cut)
    chunk(out, "IDAT", z, cut, z.length - cut)
    chunk(out, "IEND", Array.emptyByteArray)
    out.toByteArray
  }

  private def paeth(a: Int, b: Int, c: Int): Int = {
    val p = a + b - c
    val pa = math.abs(p - a)
    val pb = math.abs(p - b)
    val pc = math.abs(p - c)
    if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
  }

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(s"png: $msg")

  /** Walk the chunk list (verifying length bounds and every CRC-32),
    * parse + validate IHDR (+ PLTE placement rules), and return
    * (width, height, colorType, interlace, palette bytes — empty unless
    * PLTE present, concatenated IDAT bytes). */
  private def parse(png: Array[Byte])
      : (Int, Int, Int, Int, Array[Byte], Array[Byte]) = {
    if (png.length < Signature.length + 12) fail("container too short")
    var i = 0
    while (i < Signature.length) {
      if (png(i) != Signature(i)) fail("bad PNG signature")
      i += 1
    }
    var off = Signature.length
    var width = -1
    var height = -1
    var colorType = -1
    var interlace = -1
    var seenIhdr = false
    var seenIend = false
    var seenIdat = false
    var palette: Array[Byte] = Array.emptyByteArray
    val idat = new java.io.ByteArrayOutputStream(png.length)
    while (!seenIend) {
      if (off + 12 > png.length) fail("truncated chunk header")
      val len = readU32be(png, off)
      if (len < 0 || off + 12 + len > png.length)
        fail(s"chunk length $len overruns the container")
      val tag = new String(png, off + 4, 4,
        java.nio.charset.StandardCharsets.US_ASCII)
      val crcStored = readU32be(png, off + 8 + len)
      if (crcStored != crc32(tag, png, off + 8, len))
        fail(s"CRC mismatch in '$tag' chunk")
      tag match {
        case "IHDR" =>
          if (seenIhdr) fail("duplicate IHDR")
          if (len != 13) fail(s"IHDR length $len != 13")
          width = readU32be(png, off + 8)
          height = readU32be(png, off + 12)
          if (width <= 0 || width > (1 << 20))
            fail(s"width $width out of range")
          if (height <= 0 || height > (1 << 20))
            fail(s"height $height out of range")
          if ((png(off + 16) & 0xff) != 8)
            fail(s"expected bit depth 8, got ${png(off + 16) & 0xff}")
          colorType = png(off + 17) & 0xff
          if (colorType != 0 && colorType != 2 && colorType != 3)
            fail(s"expected color type 0 (gray), 2 (rgb) or 3 (palette), " +
              s"got $colorType")
          if ((png(off + 18) & 0xff) != 0) fail("bad compression method")
          if ((png(off + 19) & 0xff) != 0) fail("bad filter method")
          interlace = png(off + 20) & 0xff
          if (interlace != 0 && interlace != 1)
            fail(s"unknown interlace method $interlace")
          seenIhdr = true
        case "PLTE" =>
          if (!seenIhdr) fail("PLTE before IHDR")
          if (seenIdat) fail("PLTE after IDAT")
          if (palette.nonEmpty) fail("duplicate PLTE")
          if (colorType == 0) fail("PLTE not allowed for grayscale")
          if (len == 0 || len % 3 != 0 || len > 256 * 3)
            fail(s"PLTE length $len not a multiple of 3 in (0, 768]")
          palette = java.util.Arrays.copyOfRange(png, off + 8, off + 8 + len)
        case "IDAT" =>
          if (!seenIhdr) fail("IDAT before IHDR")
          if (colorType == 3 && palette.isEmpty)
            fail("color type 3 requires a PLTE before IDAT")
          seenIdat = true
          idat.write(png, off + 8, len)
        case "IEND" =>
          if (len != 0) fail("IEND must be empty")
          seenIend = true
        case t =>
          // ancillary chunks (lowercase first letter) may be skipped;
          // an unknown CRITICAL chunk means undecodable data
          if ((t.charAt(0) & 0x20) == 0) fail(s"unknown critical chunk '$t'")
      }
      off += 12 + len
    }
    if (!seenIhdr) fail("missing IHDR")
    if (colorType == 3 && palette.isEmpty)
      fail("color type 3 requires a PLTE chunk")
    if (off != png.length) fail("trailing bytes after IEND")
    (width, height, colorType, interlace, palette, idat.toByteArray)
  }

  /** Inflate the IDAT stream and return the raw (filter byte +
    * scanline) bytes, length-checked against the IHDR geometry. */
  private def inflate(z: Array[Byte], expected: Int): Array[Byte] = {
    val inflater = new java.util.zip.Inflater()
    inflater.setInput(z)
    val out = new Array[Byte](expected)
    var got = 0
    try {
      while (got < expected && !inflater.finished()) {
        val n = inflater.inflate(out, got, expected - got)
        if (n == 0 && inflater.needsInput())
          fail("deflate stream ended early")
        got += n
      }
      if (got != expected)
        fail(s"inflated $got bytes, expected $expected")
      // drain: a stream with MORE pixels than IHDR declares is malformed
      if (!inflater.finished() &&
          inflater.inflate(new Array[Byte](1)) != 0)
        fail("deflate stream longer than the declared geometry")
    } catch {
      case e: java.util.zip.DataFormatException =>
        fail(s"corrupt deflate stream: ${e.getMessage}")
    } finally inflater.end()
    out
  }

  /** Decoded grayscale pixel stream (0-255 ints, row-major top-down):
    * signature → chunk walk → inflate → per-row unfilter (all five
    * types). Rejects a truecolor container — the caller asked for gray. */
  def pixels(png: Array[Byte]): ArrayData = decodeCore(png, 0)

  /** Decoded RGB24 BYTE stream (interleaved R,G,B as 0-255 ints,
    * row-major top-down). Rejects a grayscale container. */
  def pixelsRgb24(png: Array[Byte]): ArrayData = decodeCore(png, 2)

  /** Palette (color type 3) decode, RESOLVED through the stored PLTE:
    * interleaved R,G,B ints (3 per pixel, row-major top-down). The
    * index stream is unfiltered at stride 1, THEN each index is looked
    * up in the container's own palette — an index past the stored
    * palette is a hard error, not a silent clamp. */
  def pixelsPaletteRgb(png: Array[Byte]): ArrayData = decodeCore(png, 3)

  private def decodeCore(png: Array[Byte], expectCt: Int): ArrayData = {
    val (width, height, ct, interlace, palette, z) = parse(png)
    if (ct != expectCt)
      fail(s"expected color type $expectCt, container has $ct")
    if (interlace != 0)
      fail("interlaced container: use png_adam7_pixels")
    val bpp = bppOf(ct)
    val rowBytes = width * bpp
    val raw = inflate(z, height * (rowBytes + 1))
    val px = new Array[Int](height * rowBytes)
    var r = 0
    while (r < height) {
      val f = raw(r * (rowBytes + 1)) & 0xff
      if (f > 4) fail(s"unknown filter type $f in row $r")
      var i = 0
      while (i < rowBytes) {
        val x = raw(r * (rowBytes + 1) + 1 + i) & 0xff
        val a = if (i >= bpp) px(r * rowBytes + i - bpp) else 0
        val b = if (r > 0) px((r - 1) * rowBytes + i) else 0
        val c = if (r > 0 && i >= bpp) px((r - 1) * rowBytes + i - bpp) else 0
        px(r * rowBytes + i) = (f match {
          case 0 => x
          case 1 => x + a
          case 2 => x + b
          case 3 => x + (a + b) / 2
          case 4 => x + paeth(a, b, c)
        }) & 0xff
        i += 1
      }
      r += 1
    }
    if (ct != 3) new GenericArrayData(px)
    else {
      val entries = palette.length / 3
      val rgb = new Array[Int](px.length * 3)
      var i = 0
      while (i < px.length) {
        val idx = px(i)
        if (idx >= entries)
          fail(s"palette index $idx out of range (palette has $entries entries)")
        rgb(3 * i) = palette(3 * idx) & 0xff
        rgb(3 * i + 1) = palette(3 * idx + 1) & 0xff
        rgb(3 * i + 2) = palette(3 * idx + 2) & 0xff
        i += 1
      }
      new GenericArrayData(rgb)
    }
  }

  /** Per-row filter-type bytes (pre-unfilter) — lets a query PROVE all
    * five filter paths were exercised instead of asserting it. Works
    * for either color type. */
  def filterTypes(png: Array[Byte]): ArrayData = {
    val (width, height, ct, interlace, _, z) = parse(png)
    if (interlace != 0)
      fail("interlaced container: use png_adam7_filter_types")
    val rowBytes = width * bppOf(ct)
    val raw = inflate(z, height * (rowBytes + 1))
    val fs = new Array[Int](height)
    var r = 0
    while (r < height) {
      val f = raw(r * (rowBytes + 1)) & 0xff
      if (f > 4) fail(s"unknown filter type $f in row $r")
      fs(r) = f
      r += 1
    }
    new GenericArrayData(fs)
  }

  def width(png: Array[Byte]): Int = parse(png)._1
  def height(png: Array[Byte]): Int = parse(png)._2

  // ------------------------------------------------------------------
  // Adam7 interlacing (gray8): the progressive layout real-world PNGs
  // use. The image is stored as SEVEN sub-images (passes), each with
  // its own reduced geometry and its own independently-filtered
  // scanlines; deinterlacing scatters pass pixel (r, c) back to
  // (yStart + r·yStep, xStart + c·xStep). Same logical image as the
  // sequential form — the decode must reproduce payload + zero tail
  // exactly, which is what the q8d oracle pins.
  // ------------------------------------------------------------------

  /** (xStart, yStart, xStep, yStep) per Adam7 pass, spec order. */
  private val Adam7: Array[(Int, Int, Int, Int)] = Array(
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))

  private def passDim(total: Int, start: Int, step: Int): Int =
    if (total > start) (total - start + step - 1) / step else 0

  /** Encode `payload` as an INTERLACED gray8 PNG at `widthPx`: the
    * logical image (payload + zero tail) is split into the seven Adam7
    * passes, each pass row filtered within its own sub-image (filter
    * type = global pass-row index mod 5, so any container with ≥5 total
    * pass rows exercises all five unfilters), then one deflate stream
    * over the concatenated passes, split across two IDAT chunks. */
  def encodeAdam7(payload: Array[Byte], widthPx: Int): Array[Byte] = {
    require(widthPx > 0 && widthPx <= (1 << 20),
      s"png: width must be in (0, 2^20], got $widthPx")
    val height = math.max(1, (payload.length + widthPx - 1) / widthPx)
    require(height <= (1 << 20),
      s"png: payload needs height $height > 2^20 at width $widthPx")
    val px = new Array[Byte](height * widthPx)
    System.arraycopy(payload, 0, px, 0, payload.length)
    val raw = new java.io.ByteArrayOutputStream(px.length + height * 7)
    var globalRow = 0
    for ((xs, ys, xStep, yStep) <- Adam7) {
      val wp = passDim(widthPx, xs, xStep)
      val hp = passDim(height, ys, yStep)
      if (wp > 0 && hp > 0) {
        // the pass sub-image, gathered from the logical image
        val sub = new Array[Int](hp * wp)
        var r = 0
        while (r < hp) {
          var c = 0
          while (c < wp) {
            sub(r * wp + c) =
              px((ys + r * yStep) * widthPx + xs + c * xStep) & 0xff
            c += 1
          }
          r += 1
        }
        r = 0
        while (r < hp) {
          val f = globalRow % 5
          raw.write(f)
          var i = 0
          while (i < wp) {
            val x = sub(r * wp + i)
            val a = if (i >= 1) sub(r * wp + i - 1) else 0
            val b = if (r > 0) sub((r - 1) * wp + i) else 0
            val c = if (r > 0 && i >= 1) sub((r - 1) * wp + i - 1) else 0
            val filtered = f match {
              case 0 => x
              case 1 => x - a
              case 2 => x - b
              case 3 => x - (a + b) / 2
              case 4 => x - paeth(a, b, c)
            }
            raw.write(filtered & 0xff)
            i += 1
          }
          globalRow += 1
          r += 1
        }
      }
    }
    val rawBytes = raw.toByteArray
    val deflater = new java.util.zip.Deflater()
    deflater.setInput(rawBytes)
    deflater.finish()
    val zbuf = new java.io.ByteArrayOutputStream(rawBytes.length / 2 + 64)
    val tmp = new Array[Byte](8192)
    while (!deflater.finished())
      zbuf.write(tmp, 0, deflater.deflate(tmp))
    deflater.end()
    val z = zbuf.toByteArray
    val ihdr = new java.io.ByteArrayOutputStream(13)
    ihdr.write(u32be(widthPx)); ihdr.write(u32be(height))
    ihdr.write(8) // bit depth
    ihdr.write(0) // color type: grayscale
    ihdr.write(0); ihdr.write(0); ihdr.write(1) // deflate/filter0/ADAM7
    val out = new java.io.ByteArrayOutputStream(z.length + 128)
    out.write(Signature)
    chunk(out, "IHDR", ihdr.toByteArray)
    val cut = z.length / 2
    chunk(out, "IDAT", z, 0, cut)
    chunk(out, "IDAT", z, cut, z.length - cut)
    chunk(out, "IEND", Array.emptyByteArray)
    out.toByteArray
  }

  /** Expected raw (filter byte + scanline) length of the interlaced
    * stream, plus per-pass geometry. */
  private def adam7Geometry(width: Int, height: Int)
      : (Int, Array[(Int, Int, Int, Int, Int, Int)]) = {
    var total = 0
    val passes = Adam7.map { case (xs, ys, xStep, yStep) =>
      val wp = passDim(width, xs, xStep)
      val hp = passDim(height, ys, yStep)
      if (wp > 0 && hp > 0) total += hp * (wp + 1)
      (xs, ys, xStep, yStep, wp, hp)
    }
    (total, passes)
  }

  /** Decoded grayscale pixel stream of an INTERLACED container
    * (row-major top-down, deinterlaced): chunk walk → inflate → per-
    * pass unfilter (neighbors within the pass sub-image, per spec) →
    * Adam7 scatter. Rejects a sequential container — the caller asked
    * for the interlaced path. */
  def pixelsAdam7(png: Array[Byte]): ArrayData = {
    val (width, height, ct, interlace, _, z) = parse(png)
    if (ct != 0) fail(s"expected color type 0 (gray), container has $ct")
    if (interlace != 1) fail("sequential container: use png_gray8_pixels")
    val (expected, passes) = adam7Geometry(width, height)
    val raw = inflate(z, expected)
    val px = new Array[Int](height * width)
    var off = 0
    for ((xs, ys, xStep, yStep, wp, hp) <- passes if wp > 0 && hp > 0) {
      val sub = new Array[Int](hp * wp)
      var r = 0
      while (r < hp) {
        val f = raw(off) & 0xff
        off += 1
        if (f > 4) fail(s"unknown filter type $f in interlaced row")
        var i = 0
        while (i < wp) {
          val x = raw(off + i) & 0xff
          val a = if (i >= 1) sub(r * wp + i - 1) else 0
          val b = if (r > 0) sub((r - 1) * wp + i) else 0
          val c = if (r > 0 && i >= 1) sub((r - 1) * wp + i - 1) else 0
          sub(r * wp + i) = (f match {
            case 0 => x
            case 1 => x + a
            case 2 => x + b
            case 3 => x + (a + b) / 2
            case 4 => x + paeth(a, b, c)
          }) & 0xff
          i += 1
        }
        off += wp
        r += 1
      }
      r = 0
      while (r < hp) {
        var c = 0
        while (c < wp) {
          px((ys + r * yStep) * width + xs + c * xStep) = sub(r * wp + c)
          c += 1
        }
        r += 1
      }
    }
    new GenericArrayData(px)
  }

  /** Per-pass-row filter-type bytes of an interlaced container, in
    * stream order across all seven passes — the in-band coverage proof
    * for the interlaced unfilters. */
  def filterTypesAdam7(png: Array[Byte]): ArrayData = {
    val (width, height, ct, interlace, _, z) = parse(png)
    if (ct != 0) fail(s"expected color type 0 (gray), container has $ct")
    if (interlace != 1)
      fail("sequential container: use png_filter_types")
    val (expected, passes) = adam7Geometry(width, height)
    val raw = inflate(z, expected)
    val fs = Array.newBuilder[Int]
    var off = 0
    for ((_, _, _, _, wp, hp) <- passes if wp > 0 && hp > 0) {
      var r = 0
      while (r < hp) {
        val f = raw(off) & 0xff
        if (f > 4) fail(s"unknown filter type $f in interlaced row")
        fs += f
        off += 1 + wp
        r += 1
      }
    }
    new GenericArrayData(fs.result())
  }
}
