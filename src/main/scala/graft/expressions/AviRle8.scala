package graft.expressions

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

/** REAL RLE8-COMPRESSED AVI video codec — the compressed member of the
  * video family, completing the per-modality compression symmetry
  * (images: zlib'd PNG + huffman'd JPEG; audio: IMA ADPCM; video
  * previously stopped at uncompressed DIB frames, [[AviDib]]). The
  * format is Microsoft BI_RLE8 (the BMP/AVI 'MRLE' run-length
  * encoding, documented in the Windows BITMAPINFOHEADER spec): a byte
  * stream of
  *
  *  - encoded runs `(count, colorIndex)` with count ≥ 1,
  *  - escapes `(0, n)`: n = 0 end-of-line, n = 1 end-of-bitmap,
  *    n = 2 delta `(dx, dy)` — the CURSOR JUMP that skips pixels, and
  *    skipped pixels RETAIN THE PREVIOUS FRAME'S CONTENT: real
  *    interframe/temporal compression — n ≥ 3 absolute mode (n
  *    literal palette indices, padded to a word boundary),
  *
  * over 8-bit palette indices resolved through the strf palette
  * (RGBQUAD order: blue, green, red, reserved). Everything is integer
  * and cursor-deterministic, so the DuckDB oracle replays frame
  * content, stream statistics, and encoded size ANALYTICALLY from
  * payload bytes.
  *
  * [[AviRle8.encode]] synthesizes the fixture: 16×8 frames whose row
  * y of frame f is a solid run of color `payload[f·8+y]` (zero tail).
  * Frame 0 is INTRA (every row emitted); each later frame emits only
  * rows whose color CHANGED versus the previous frame and skips
  * unchanged row groups with delta escapes (trailing unchanged rows
  * are covered by an early end-of-bitmap — the classic encoder
  * shortcut). Rows with an ODD color byte are emitted in ABSOLUTE
  * mode, even ones as encoded runs — so one fixture exercises every
  * mode and escape class deterministically. Container: [[AviDib]]'s
  * AVI shape with stream handler 'MRLE', biBitCount 8,
  * biCompression 1 (BI_RLE8), and a 256-entry deterministic palette
  * (r = i, g = 255−i, b = i xor 85); frames ride '00dc' (compressed)
  * chunks, so [[AviDib.frames]] cross-reads the container and returns
  * the raw RLE payloads (the in-band encoded-size source).
  *
  * [[AviRle8.pixels]] walks the container, validates the fmt contract
  * (8-bit, BI_RLE8, geometry, palette present, avih frame count),
  * decodes every frame against a PERSISTENT frame buffer (interframe
  * semantics), resolves the palette, and emits all frames' pixels as
  * packed 0xRRGGBB ints in stream-row order. Malformed streams — a
  * run crossing a row boundary, a cursor jump out of bounds, a
  * missing end-of-bitmap, bytes after EOD, a truncated escape — are
  * REJECTED with descriptive errors.
  */
object AviRle8 {

  import LeBytes.{u16le, u32le, readU16, readU32, fourcc}

  val FrameW = 16
  val FrameH = 8

  private def fourccBytes(s: String): Array[Byte] =
    s.getBytes(StandardCharsets.US_ASCII)

  private def chunk(id: String, body: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(8 + body.length + 1)
    out.write(fourccBytes(id))
    out.write(u32le(body.length))
    out.write(body)
    if ((body.length & 1) == 1) out.write(0) // RIFF pad rule
    out.toByteArray
  }

  private def list(listType: String, body: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(12 + body.length)
    out.write(fourccBytes("LIST"))
    out.write(u32le(4 + body.length))
    out.write(fourccBytes(listType))
    out.write(body)
    out.toByteArray
  }

  /** Palette entry i, packed 0xRRGGBB — the single source of truth
    * shared by encoder, decoder check, and the oracle's analytics. */
  def paletteRgb(i: Int): Int =
    (i << 16) | ((255 - i) << 8) | (i ^ 85)

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(s"avi_rle8: $msg")

  /** Row color model: color of (frame f, row y) is payload byte
    * f·H + y, zero beyond the payload. */
  @inline private def colorAt(payload: Array[Byte], i: Int): Int =
    if (i < payload.length) payload(i) & 0xff else 0

  /** RLE8-encode one frame's changed rows (f = 0 ⇒ all rows). */
  private def encodeFrame(payload: Array[Byte], f: Int): Array[Byte] = {
    val o = new java.io.ByteArrayOutputStream(64)
    var pendingSkip = 0
    var y = 0
    while (y < FrameH) {
      val c = colorAt(payload, f * FrameH + y)
      val changed = f == 0 || c != colorAt(payload, (f - 1) * FrameH + y)
      if (!changed) pendingSkip += 1
      else {
        if (pendingSkip > 0) { // delta escape: jump the cursor down
          o.write(0); o.write(2); o.write(0); o.write(pendingSkip)
          pendingSkip = 0
        }
        if ((c & 1) == 1) { // absolute mode: FrameW literal indices
          o.write(0); o.write(FrameW)
          var i = 0
          while (i < FrameW) { o.write(c); i += 1 }
          // FrameW is even: no pad byte
        } else { // encoded run
          o.write(FrameW); o.write(c)
        }
        o.write(0); o.write(0) // end of line
      }
      y += 1
    }
    o.write(0); o.write(1) // end of bitmap (trailing skips covered)
    o.toByteArray
  }

  /** Build a valid RLE8 AVI over the payload's row-color model. */
  def encode(payload: Array[Byte]): Array[Byte] = {
    val nFrames =
      math.max(1, (payload.length + FrameH - 1) / FrameH)
    val frames = (0 until nFrames).map(encodeFrame(payload, _))
    val avih = {
      val o = new java.io.ByteArrayOutputStream(56)
      o.write(u32le(33333))
      o.write(u32le(0)); o.write(u32le(0)); o.write(u32le(0))
      o.write(u32le(nFrames)) // dwTotalFrames — decoder cross-checks
      o.write(u32le(0))
      o.write(u32le(1))
      o.write(u32le(frames.map(_.length).max))
      o.write(u32le(FrameW))
      o.write(u32le(FrameH))
      (0 until 4).foreach(_ => o.write(u32le(0)))
      o.toByteArray
    }
    val strh = {
      val o = new java.io.ByteArrayOutputStream(56)
      o.write(fourccBytes("vids"))
      o.write(fourccBytes("MRLE"))
      (0 until 12).foreach(_ => o.write(u32le(0)))
      o.toByteArray
    }
    val strf = { // BITMAPINFOHEADER + 256 RGBQUADs
      val o = new java.io.ByteArrayOutputStream(40 + 1024)
      o.write(u32le(40)); o.write(u32le(FrameW)); o.write(u32le(FrameH))
      o.write(u16le(1)); o.write(u16le(8)) // planes, 8 bpp
      o.write(u32le(1)) // biCompression = BI_RLE8
      o.write(u32le(0))
      o.write(u32le(2835)); o.write(u32le(2835))
      o.write(u32le(256)); o.write(u32le(0)) // biClrUsed, biClrImportant
      var i = 0
      while (i < 256) { // RGBQUAD: blue, green, red, reserved
        o.write(i ^ 85); o.write(255 - i); o.write(i); o.write(0)
        i += 1
      }
      o.toByteArray
    }
    val hdrl = list("hdrl", chunk("avih", avih) ++
      list("strl", chunk("strh", strh) ++ chunk("strf", strf)))
    val movi = {
      val o = new java.io.ByteArrayOutputStream()
      frames.foreach(f => o.write(chunk("00dc", f)))
      list("movi", o.toByteArray)
    }
    val body = fourccBytes("AVI ") ++ hdrl ++ movi
    fourccBytes("RIFF") ++ u32le(body.length) ++ body
  }

  /** Container walk: returns (frame payloads, declared frame count,
    * palette as packed ints), validating the RLE8 fmt contract. */
  private def parse(avi: Array[Byte])
      : (java.util.ArrayList[Array[Byte]], Long, Array[Int]) = {
    if (avi.length < 12) fail(s"container too short (${avi.length})")
    if (fourcc(avi, 0) != "RIFF") fail("missing RIFF magic")
    if (fourcc(avi, 8) != "AVI ") fail("missing 'AVI ' form type")
    val riffEnd = math.min(avi.length.toLong, 8L + readU32(avi, 4))
    val out = new java.util.ArrayList[Array[Byte]]()
    var declared = -1L
    var palette: Array[Int] = null
    var off = 12
    while (off + 8 <= riffEnd) {
      val cid = fourcc(avi, off)
      val size = readU32(avi, off + 4)
      if (size < 0 || off + 8L + size > riffEnd)
        fail(s"chunk '$cid' overruns the declared RIFF extent")
      if (cid == "LIST" && size >= 4) {
        val listType = fourcc(avi, off + 8)
        val listEnd = off + 8 + size
        if (listType == "movi") {
          var sub = off + 12
          while (sub + 8 <= listEnd) {
            val fid = fourcc(avi, sub)
            val fsize = readU32(avi, sub + 4)
            if (fsize < 0 || sub + 8L + fsize > listEnd)
              fail(s"movi chunk '$fid' overruns its list")
            if (fid == "00dc")
              out.add(java.util.Arrays.copyOfRange(avi, sub + 8,
                sub + 8 + fsize))
            sub += 8 + fsize + (fsize & 1)
          }
        } else if (listType == "hdrl") {
          var sub = off + 12
          while (sub + 8 <= listEnd) {
            val hid = fourcc(avi, sub)
            val hsize = readU32(avi, sub + 4)
            if (hsize < 0 || sub + 8L + hsize > listEnd)
              fail(s"hdrl chunk '$hid' overruns its list")
            if (hid == "avih") {
              if (hsize < 24) fail(s"avih too short ($hsize)")
              declared = readU32(avi, sub + 8 + 16) & 0xffffffffL
            } else if (hid == "LIST" && hsize >= 4 &&
                fourcc(avi, sub + 8) == "strl") {
              // find strf inside strl for the fmt contract
              var s2 = sub + 12
              val strlEnd = sub + 8 + hsize
              while (s2 + 8 <= strlEnd) {
                val sid = fourcc(avi, s2)
                val ssize = readU32(avi, s2 + 4)
                if (ssize < 0 || s2 + 8L + ssize > strlEnd)
                  fail(s"strl chunk '$sid' overruns its list")
                if (sid == "strf") {
                  val b = s2 + 8
                  if (ssize < 40) fail(s"strf too short ($ssize)")
                  val bits = readU16(avi, b + 14)
                  if (bits != 8) fail(s"expected 8 bpp, got $bits")
                  val comp = readU32(avi, b + 16)
                  if (comp != 1) fail(s"not BI_RLE8 (biCompression $comp)")
                  val w = readU32(avi, b + 4)
                  val h = readU32(avi, b + 8)
                  if (w != FrameW || h != FrameH)
                    fail(s"unsupported geometry ${w}x$h")
                  if (ssize < 40 + 256 * 4)
                    fail("strf palette missing or short")
                  palette = Array.tabulate(256) { i =>
                    val p = b + 40 + 4 * i
                    ((avi(p + 2) & 0xff) << 16) |
                      ((avi(p + 1) & 0xff) << 8) | (avi(p) & 0xff)
                  }
                }
                s2 += 8 + ssize + (ssize & 1)
              }
            }
            sub += 8 + hsize + (hsize & 1)
          }
        }
      }
      off += 8 + size + (size & 1)
    }
    if (declared < 0) fail("no avih main header")
    if (palette == null) fail("no RLE8 strf stream format")
    if (out.size.toLong != declared)
      fail(s"avih declares $declared frames, movi carries ${out.size}")
    (out, declared, palette)
  }

  /** Decode every frame against a persistent buffer; returns all
    * frames' pixels as packed 0xRRGGBB, stream-row order. */
  def pixels(avi: Array[Byte]): ArrayData = {
    val (frames, _, palette) = parse(avi)
    val buf = new Array[Int](FrameW * FrameH) // palette indices; persists
    val out = new Array[Int](frames.size * FrameW * FrameH)
    var f = 0
    while (f < frames.size) {
      val d = frames.get(f)
      var i = 0
      var x = 0
      var y = 0
      var ended = false
      def need(n: Int): Unit =
        if (i + n > d.length) fail(s"frame $f: truncated stream at $i")
      while (!ended) {
        need(2)
        val b0 = d(i) & 0xff
        val b1 = d(i + 1) & 0xff
        i += 2
        if (b0 > 0) { // encoded run
          if (y >= FrameH)
            fail(s"frame $f: run below the last row (y=$y)")
          if (x + b0 > FrameW)
            fail(s"frame $f: run of $b0 crosses the row end at x=$x")
          var k = 0
          while (k < b0) { buf(y * FrameW + x + k) = b1; k += 1 }
          x += b0
        } else b1 match {
          case 0 => // end of line
            x = 0; y += 1
            if (y > FrameH) fail(s"frame $f: EOL past the last row")
          case 1 => // end of bitmap
            if (i != d.length)
              fail(s"frame $f: ${d.length - i} bytes after end-of-bitmap")
            ended = true
          case 2 => // delta: cursor jump; skipped pixels persist
            need(2)
            val dx = d(i) & 0xff
            val dy = d(i + 1) & 0xff
            i += 2
            x += dx; y += dy
            if (x > FrameW || y > FrameH)
              fail(s"frame $f: delta jumps out of bounds to ($x,$y)")
          case n => // absolute mode: n literal indices + word pad
            if (y >= FrameH)
              fail(s"frame $f: absolute run below the last row (y=$y)")
            if (x + n > FrameW)
              fail(s"frame $f: absolute run of $n crosses the row end")
            need(n + (n & 1))
            var k = 0
            while (k < n) { buf(y * FrameW + x + k) = d(i + k) & 0xff; k += 1 }
            i += n + (n & 1) // skip the pad byte when n is odd
            x += n
        }
      }
      var p = 0
      while (p < FrameW * FrameH) {
        out(f * FrameW * FrameH + p) = palette(buf(p))
        p += 1
      }
      f += 1
    }
    new GenericArrayData(out)
  }
}
