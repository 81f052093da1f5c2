package graft.expressions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

/** REAL baseline JPEG (ITU-T T.81, SOF0, huffman, grayscale) codec —
  * the dominant real-world image format and the first ENTROPY-CODED +
  * TRANSFORM codec in the multimodal family: where [[PngGray8]] ends at
  * zlib inflate + prediction filters, a JPEG decoder must run a true
  * huffman bitstream decode (canonical tables rebuilt from DHT per
  * T.81 C.2, byte-unstuffing, restart markers), dequantize against the
  * DQT tables, reorder the T.81 zigzag, and run an 8×8 inverse DCT
  * before a single pixel exists.
  *
  * [[JpegGray8.pixels]] is a full baseline decoder: marker walk (SOI,
  * APPn/COM skipped, DQT 8/16-bit, DHT multi-table, SOF0/SOF1 single-
  * component, DRI, SOS, EOI), per-block DC-differential + AC run-length
  * huffman decode, dequant, zigzag, double-precision IDCT, level shift,
  * clamp, crop to the SOF geometry. Progressive (SOF2), arithmetic
  * (SOF9+), and multi-component scans are rejected with descriptive
  * errors, as are truncated streams and malformed markers.
  *
  * [[JpegGray8.encode]] builds a valid baseline JFIF whose DECODE IS
  * EXACTLY PREDICTABLE despite JPEG being lossy: each payload byte
  * becomes one constant 8×8 block (one byte per block, raster order,
  * zero tail). A constant block has only a DC coefficient (8·(v−128)
  * after level shift), and with DC quant 1 the IDCT reproduces v in all
  * 64 pixels EXACTLY — in this decoder, in DuckDB's replay, and in the
  * JDK's ImageIO decoder (IEEE doubles hold 8·(v−128)/8 exactly), so
  * the oracle recomputes every statistic straight from payload bytes
  * while the decoder still runs the full huffman/dequant/IDCT path: DC
  * categories up to 11 bits ride the real Annex K code tables, and the
  * per-byte DC DIFFERENTIALS exercise varying code lengths that the
  * in-band n_dc_cats column (distinct DC magnitude categories actually
  * decoded from the bitstream) proves per asset. Lossy-path coverage —
  * nonzero AC coefficients, run-length/EOB/ZRL symbols, non-multiple-
  * of-8 geometry — comes from the other direction: JpegGray8Spec
  * decodes ImageIO-ENCODED JPEGs of arbitrary images and checks
  * against ImageIO's own decode (independent IDCTs agree within the
  * T.81 accuracy expectation of ±1), and ImageIO decodes THIS encoder's
  * containers bit-exactly.
  */
object JpegGray8 {

  // --------------------------------------------------------------
  // shared tables (all from the public T.81 spec)
  // --------------------------------------------------------------

  /** Zigzag index → raster index within an 8×8 block (T.81 fig. 5). */
  private val Zigzag: Array[Int] = Array(
    0, 1, 8, 16, 9, 2, 3, 10,
    17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63)

  /** Annex K.3: luminance DC code lengths + values. */
  private val DcBits: Array[Int] =
    Array(0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
  private val DcVals: Array[Int] = (0 to 11).toArray

  /** Annex K.5: luminance AC code lengths + values. */
  private val AcBits: Array[Int] =
    Array(0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 125)
  private val AcVals: Array[Int] = Array(
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xa1, 0x08,
    0x23, 0x42, 0xb1, 0xc1, 0x15, 0x52, 0xd1, 0xf0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0a, 0x16,
    0x17, 0x18, 0x19, 0x1a, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2a, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3a, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4a, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5a, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6a, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7a, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8a, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9a, 0xa2, 0xa3, 0xa4, 0xa5, 0xa6, 0xa7,
    0xa8, 0xa9, 0xaa, 0xb2, 0xb3, 0xb4, 0xb5, 0xb6,
    0xb7, 0xb8, 0xb9, 0xba, 0xc2, 0xc3, 0xc4, 0xc5,
    0xc6, 0xc7, 0xc8, 0xc9, 0xca, 0xd2, 0xd3, 0xd4,
    0xd5, 0xd6, 0xd7, 0xd8, 0xd9, 0xda, 0xe1, 0xe2,
    0xe3, 0xe4, 0xe5, 0xe6, 0xe7, 0xe8, 0xe9, 0xea,
    0xf1, 0xf2, 0xf3, 0xf4, 0xf5, 0xf6, 0xf7, 0xf8,
    0xf9, 0xfa)

  /** Annex K.4: chrominance DC code lengths + values. */
  private val DcBitsC: Array[Int] =
    Array(0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0)
  private val DcValsC: Array[Int] = (0 to 11).toArray

  /** Annex K.6: chrominance AC code lengths + values. */
  private val AcBitsC: Array[Int] =
    Array(0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 119)
  private val AcValsC: Array[Int] = Array(
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
    0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
    0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xa1, 0xb1, 0xc1, 0x09, 0x23, 0x33, 0x52, 0xf0,
    0x15, 0x62, 0x72, 0xd1, 0x0a, 0x16, 0x24, 0x34,
    0xe1, 0x25, 0xf1, 0x17, 0x18, 0x19, 0x1a, 0x26,
    0x27, 0x28, 0x29, 0x2a, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3a, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
    0x49, 0x4a, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5a, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
    0x69, 0x6a, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7a, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8a, 0x92, 0x93, 0x94, 0x95, 0x96,
    0x97, 0x98, 0x99, 0x9a, 0xa2, 0xa3, 0xa4, 0xa5,
    0xa6, 0xa7, 0xa8, 0xa9, 0xaa, 0xb2, 0xb3, 0xb4,
    0xb5, 0xb6, 0xb7, 0xb8, 0xb9, 0xba, 0xc2, 0xc3,
    0xc4, 0xc5, 0xc6, 0xc7, 0xc8, 0xc9, 0xca, 0xd2,
    0xd3, 0xd4, 0xd5, 0xd6, 0xd7, 0xd8, 0xd9, 0xda,
    0xe2, 0xe3, 0xe4, 0xe5, 0xe6, 0xe7, 0xe8, 0xe9,
    0xea, 0xf2, 0xf3, 0xf4, 0xf5, 0xf6, 0xf7, 0xf8,
    0xf9, 0xfa)

  /** cos((2x+1)·u·π/16) table for the direct 2-D IDCT. */
  private val Cos: Array[Array[Double]] = Array.tabulate(8, 8) { (x, u) =>
    math.cos((2 * x + 1) * u * math.Pi / 16.0)
  }
  private val InvSqrt2 = 1.0 / math.sqrt(2.0)

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(s"jpeg: $msg")

  /** Canonical huffman codes from (BITS, HUFFVAL) — T.81 C.2. Returns
    * (code, length) per symbol value, for the ENCODER side. */
  private def canonicalCodes(bits: Array[Int],
      vals: Array[Int]): Map[Int, (Int, Int)] = {
    var code = 0
    var k = 0
    val out = Map.newBuilder[Int, (Int, Int)]
    var len = 1
    while (len <= 16) {
      var i = 0
      while (i < bits(len - 1)) {
        out += vals(k) -> (code, len)
        code += 1
        k += 1
        i += 1
      }
      code <<= 1
      len += 1
    }
    out.result()
  }

  /** Decoder-side canonical table: mincode/maxcode/valptr per length
    * (T.81 F.2.2.3 DECODE procedure). */
  private final class HuffTable(bits: Array[Int], vals: Array[Int]) {
    val minCode = new Array[Int](17)
    val maxCode = new Array[Int](17) // -1 = no codes of this length
    val valPtr = new Array[Int](17)
    val huffVal: Array[Int] = vals
    locally {
      var code = 0
      var k = 0
      var len = 1
      while (len <= 16) {
        if (bits(len - 1) == 0) { minCode(len) = 0; maxCode(len) = -1 }
        else {
          valPtr(len) = k
          minCode(len) = code
          code += bits(len - 1)
          k += bits(len - 1)
          maxCode(len) = code - 1
        }
        code <<= 1
        len += 1
      }
    }
  }

  /** DC magnitude category of a differential value (bit length of |d|). */
  private def category(d: Int): Int = {
    var a = math.abs(d)
    var c = 0
    while (a != 0) { a >>= 1; c += 1 }
    c
  }

  // --------------------------------------------------------------
  // encoder
  // --------------------------------------------------------------

  /** Baseline JFIF grayscale encode with ONE CONSTANT 8×8 BLOCK PER
    * PAYLOAD BYTE: image is (8·widthBlocks) × (8·ceil(len/widthBlocks))
    * pixels, block (br,bc) uniformly payload[br·wb+bc] (zero tail).
    * All-ones DQT ⇒ the DC-only blocks decode EXACTLY (see class doc);
    * the entropy stream still rides the full Annex K huffman tables
    * with real DC differentials (categories up to 11 bits). */
  def encode(payload: Array[Byte], widthBlocks: Int): Array[Byte] =
    encodeRestart(payload, widthBlocks, 0)

  /** `encode` with a DRI segment and RSTn markers every
    * `restartInterval` MCUs (T.81 B.2.4.4 / E.2.4): the byte-aligned
    * resync points real encoders emit so a corrupted scan loses one
    * restart interval, not the rest of the image. At each boundary the
    * entropy stream pads to a byte with 1-bits (F.1.2.3 — stuffed if
    * the pad byte is 0xFF), the marker cycles RST0..RST7, and the DC
    * predictor RESETS — an interval-spanning DC differential is the
    * bug class this path exists to catch. restartInterval = 0 emits
    * the classic single-segment scan. */
  def encodeRestart(payload: Array[Byte], widthBlocks: Int,
      restartInterval: Int): Array[Byte] = {
    // strictly below 2^13 blocks: 8192 blocks would put width/height at
    // 65536, which overflows SOF's u16 dimension field to 0 and makes
    // the decoder reject its own encoder's output ("bad SOF geometry");
    // 8191 blocks (65528 px) is the largest that fits
    require(widthBlocks > 0 && widthBlocks < (1 << 13),
      s"jpeg: widthBlocks must be in (0, 2^13), got $widthBlocks")
    require(restartInterval >= 0 && restartInterval <= 0xffff,
      s"jpeg: restartInterval must fit DRI's u16, got $restartInterval")
    val wb = widthBlocks
    val hb = math.max(1, (payload.length + wb - 1) / wb)
    require(hb < (1 << 13),
      s"jpeg: payload needs $hb block rows >= 2^13 at widthBlocks $wb")
    val width = wb * 8
    val height = hb * 8
    val out = new java.io.ByteArrayOutputStream(payload.length * 4 + 1024)
    def u16(v: Int): Unit = { out.write((v >> 8) & 0xff); out.write(v & 0xff) }
    def marker(m: Int): Unit = { out.write(0xff); out.write(m) }
    marker(0xd8) // SOI
    // APP0 JFIF v1.01, no density, no thumbnail
    marker(0xe0); u16(16)
    out.write('J'); out.write('F'); out.write('I'); out.write('F'); out.write(0)
    out.write(1); out.write(1); out.write(0); u16(0); u16(0)
    out.write(0); out.write(0)
    // DQT: table 0, 8-bit, all ones (zigzag order is the identity here)
    marker(0xdb); u16(2 + 1 + 64)
    out.write(0x00)
    var i = 0
    while (i < 64) { out.write(1); i += 1 }
    // DRI: restart interval in MCUs (only when restarts are on)
    if (restartInterval > 0) { marker(0xdd); u16(4); u16(restartInterval) }
    // SOF0: 8-bit, 1 component, 1x1 sampling, qtable 0
    marker(0xc0); u16(8 + 3)
    out.write(8); u16(height); u16(width); out.write(1)
    out.write(1); out.write(0x11); out.write(0)
    // DHT: DC table 0 then AC table 0 (Annex K luminance)
    marker(0xc4); u16(2 + (1 + 16 + DcVals.length) + (1 + 16 + AcVals.length))
    out.write(0x00); DcBits.foreach(out.write); DcVals.foreach(out.write)
    out.write(0x10); AcBits.foreach(out.write); AcVals.foreach(out.write)
    // SOS
    marker(0xda); u16(6 + 2)
    out.write(1); out.write(1); out.write(0x00)
    out.write(0); out.write(63); out.write(0)
    // entropy-coded data: per block, DC diff + EOB; byte-stuff 0xFF
    val dcCodes = canonicalCodes(DcBits, DcVals)
    val acCodes = canonicalCodes(AcBits, AcVals)
    var bitBuf = 0L
    var nBits = 0
    def putBits(code: Int, len: Int): Unit = {
      if (len > 0) {
        bitBuf = (bitBuf << len) | (code & ((1L << len) - 1))
        nBits += len
        while (nBits >= 8) {
          val b = ((bitBuf >> (nBits - 8)) & 0xff).toInt
          out.write(b)
          if (b == 0xff) out.write(0x00) // byte stuffing
          nBits -= 8
        }
      }
    }
    var prevDc = 0
    var bi = 0
    var rstCount = 0
    val nBlocks = wb * hb
    while (bi < nBlocks) {
      // restart boundary (gray 1x1 sampling ⇒ MCU index = block index):
      // byte-align the entropy stream, emit the cycling RSTn RAW (a
      // marker, never byte-stuffed), reset the DC predictor
      if (restartInterval > 0 && bi > 0 && bi % restartInterval == 0) {
        if (nBits > 0) { val pad = 8 - nBits; putBits((1 << pad) - 1, pad) }
        out.write(0xff); out.write(0xd0 + (rstCount % 8))
        rstCount += 1
        prevDc = 0
      }
      val v = if (bi < payload.length) payload(bi) & 0xff else 0
      val dc = 8 * (v - 128) // forward DCT of a constant block, qDC=1
      val diff = dc - prevDc
      prevDc = dc
      val cat = category(diff)
      val (c, l) = dcCodes(cat)
      putBits(c, l)
      if (cat > 0) {
        // magnitude bits: diff if positive, diff + 2^cat - 1 if negative
        val mag = if (diff >= 0) diff else diff + (1 << cat) - 1
        putBits(mag, cat)
      }
      val (ec, el) = acCodes(0x00) // EOB — all ACs are zero
      putBits(ec, el)
      bi += 1
    }
    if (nBits > 0) { // pad final byte with 1-bits per F.1.2.3
      val pad = 8 - nBits
      putBits((1 << pad) - 1, pad)
    }
    marker(0xd9) // EOI
    out.toByteArray
  }

  /** Baseline YCbCr 4:2:0 color encode — the MCU-interleaved,
    * chroma-subsampled layout real crawled JPEGs overwhelmingly use.
    * Each MCU consumes FOUR payload bytes as its four constant Y
    * blocks (raster quadrant order); Cb and Cr are CONSTANT across the
    * whole image (`cb`/`cr` args), which is what keeps the decode
    * exact under ANY chroma upsampling filter (replication, libjpeg's
    * triangular, ImageIO's — a constant plane upsamples to itself), so
    * the oracle replays pixels from payload bytes while the decoder
    * still runs the full interleaved-MCU path: per-component huffman
    * state (Annex K luma AND chroma table sets), per-component DC
    * predictors, subsampled chroma planes, upsampling, and the JFIF
    * YCbCr→RGB matrix. Image geometry: (16·widthMcus) ×
    * (16·ceil(len/(4·widthMcus))), zero-Y tail. */
  def encodeYcbcr420(payload: Array[Byte], widthMcus: Int,
      cb: Int, cr: Int): Array[Byte] = {
    // strictly below 2^12 MCUs: 4096 16-px MCUs would overflow SOF's
    // u16 dimension field to 0 (same off-by-one class as encodeRestart)
    require(widthMcus > 0 && widthMcus < (1 << 12),
      s"jpeg: widthMcus must be in (0, 2^12), got $widthMcus")
    require(cb >= 0 && cb <= 255 && cr >= 0 && cr <= 255,
      s"jpeg: chroma constants must be bytes, got ($cb, $cr)")
    val wm = widthMcus
    val hm = math.max(1, (payload.length + 4 * wm - 1) / (4 * wm))
    require(hm < (1 << 12),
      s"jpeg: payload needs $hm MCU rows >= 2^12 at widthMcus $wm")
    val width = wm * 16
    val height = hm * 16
    val out = new java.io.ByteArrayOutputStream(payload.length * 4 + 1024)
    def u16(v: Int): Unit = { out.write((v >> 8) & 0xff); out.write(v & 0xff) }
    def marker(m: Int): Unit = { out.write(0xff); out.write(m) }
    marker(0xd8) // SOI
    marker(0xe0); u16(16) // APP0 JFIF v1.01
    out.write('J'); out.write('F'); out.write('I'); out.write('F'); out.write(0)
    out.write(1); out.write(1); out.write(0); u16(0); u16(0)
    out.write(0); out.write(0)
    // DQT: tables 0 (luma) and 1 (chroma), both all-ones
    marker(0xdb); u16(2 + 2 * (1 + 64))
    for (tq <- 0 to 1) {
      out.write(tq)
      var i = 0
      while (i < 64) { out.write(1); i += 1 }
    }
    // SOF0: 3 components — Y 2x2/q0, Cb 1x1/q1, Cr 1x1/q1
    marker(0xc0); u16(8 + 9)
    out.write(8); u16(height); u16(width); out.write(3)
    out.write(1); out.write(0x22); out.write(0)
    out.write(2); out.write(0x11); out.write(1)
    out.write(3); out.write(0x11); out.write(1)
    // DHT: all four Annex K tables (DC/AC × luma/chroma)
    marker(0xc4); u16(2 + (1 + 16 + DcVals.length) + (1 + 16 + AcVals.length)
      + (1 + 16 + DcValsC.length) + (1 + 16 + AcValsC.length))
    out.write(0x00); DcBits.foreach(out.write); DcVals.foreach(out.write)
    out.write(0x10); AcBits.foreach(out.write); AcVals.foreach(out.write)
    out.write(0x01); DcBitsC.foreach(out.write); DcValsC.foreach(out.write)
    out.write(0x11); AcBitsC.foreach(out.write); AcValsC.foreach(out.write)
    // SOS: interleaved Y(0,0) Cb(1,1) Cr(1,1), full spectrum
    marker(0xda); u16(6 + 6)
    out.write(3)
    out.write(1); out.write(0x00)
    out.write(2); out.write(0x11)
    out.write(3); out.write(0x11)
    out.write(0); out.write(63); out.write(0)
    val dcY = canonicalCodes(DcBits, DcVals)
    val acY = canonicalCodes(AcBits, AcVals)
    val dcC = canonicalCodes(DcBitsC, DcValsC)
    val acC = canonicalCodes(AcBitsC, AcValsC)
    var bitBuf = 0L
    var nBits = 0
    def putBits(code: Int, len: Int): Unit = {
      if (len > 0) {
        bitBuf = (bitBuf << len) | (code & ((1L << len) - 1))
        nBits += len
        while (nBits >= 8) {
          val b = ((bitBuf >> (nBits - 8)) & 0xff).toInt
          out.write(b)
          if (b == 0xff) out.write(0x00)
          nBits -= 8
        }
      }
    }
    def putBlock(dc: Int, prev: Int, dcCodes: Map[Int, (Int, Int)],
        acCodes: Map[Int, (Int, Int)]): Unit = {
      val diff = dc - prev
      val cat = category(diff)
      val (c, l) = dcCodes(cat)
      putBits(c, l)
      if (cat > 0) {
        val mag = if (diff >= 0) diff else diff + (1 << cat) - 1
        putBits(mag, cat)
      }
      val (ec, el) = acCodes(0x00)
      putBits(ec, el)
    }
    var prevY = 0
    var prevCb = 0
    var prevCr = 0
    val dcCb = 8 * (cb - 128)
    val dcCr = 8 * (cr - 128)
    var mcu = 0
    val nMcus = wm * hm
    while (mcu < nMcus) {
      var q = 0
      while (q < 4) { // four Y blocks, raster quadrant order
        val bi = mcu * 4 + q
        val v = if (bi < payload.length) payload(bi) & 0xff else 0
        val dc = 8 * (v - 128)
        putBlock(dc, prevY, dcY, acY)
        prevY = dc
        q += 1
      }
      putBlock(dcCb, prevCb, dcC, acC); prevCb = dcCb
      putBlock(dcCr, prevCr, dcC, acC); prevCr = dcCr
      mcu += 1
    }
    if (nBits > 0) {
      val pad = 8 - nBits
      putBits((1 << pad) - 1, pad)
    }
    marker(0xd9) // EOI
    out.toByteArray
  }

  // --------------------------------------------------------------
  // decoder
  // --------------------------------------------------------------

  /** One SOF/SOS component: sampling factors, quant table, and (from
    * SOS) its huffman table ids. */
  private final class Comp(val id: Int, val h: Int, val v: Int,
      val tq: Int) {
    var dcId: Int = -1
    var acId: Int = -1
  }

  private final class Parsed(
      val width: Int, val height: Int,
      val comps: Array[Comp], // scan order
      val qTables: Array[Array[Int]], // raster order
      val dcTables: Array[HuffTable], val acTables: Array[HuffTable],
      val restartInterval: Int,
      val data: Array[Byte], val dataOff: Int)

  /** Marker walk up to and including SOS; returns everything the scan
    * decode needs. Baseline huffman only: 1 component (grayscale) or 3
    * (YCbCr) with luma sampling up to 2×2 and 1×1 chroma — the 4:4:4 /
    * 4:2:2 / 4:2:0 family real JFIFs use. Rejects progressive and
    * arithmetic coding. */
  private def parse(jpeg: Array[Byte]): Parsed = {
    if (jpeg.length < 4) fail("container too short")
    if ((jpeg(0) & 0xff) != 0xff || (jpeg(1) & 0xff) != 0xd8)
      fail("bad SOI marker")
    var off = 2
    var width = -1
    var height = -1
    var comps: Array[Comp] = null
    val qTables = new Array[Array[Int]](4)
    val dcTables = new Array[HuffTable](4)
    val acTables = new Array[HuffTable](4)
    var restart = 0
    def u16(o: Int): Int =
      if (o + 1 >= jpeg.length) fail("truncated marker length")
      else ((jpeg(o) & 0xff) << 8) | (jpeg(o + 1) & 0xff)
    while (true) {
      if (off + 1 >= jpeg.length) fail("ran off the container before SOS")
      if ((jpeg(off) & 0xff) != 0xff)
        fail(f"expected marker at offset $off, got 0x${jpeg(off) & 0xff}%02x")
      val m = jpeg(off + 1) & 0xff
      off += 2
      m match {
        case 0xd8 => fail("duplicate SOI")
        case 0xd9 => fail("EOI before SOS")
        case 0x01 => () // TEM — standalone
        case x if x >= 0xd0 && x <= 0xd7 => () // stray RST — standalone
        case 0xdb => // DQT: one or more tables
          val len = u16(off)
          var p = off + 2
          val end = off + len
          if (end > jpeg.length) fail("DQT overruns the container")
          while (p < end) {
            val pq = (jpeg(p) & 0xff) >> 4
            val tq = jpeg(p) & 0x0f
            if (pq > 1) fail(s"bad DQT precision $pq")
            if (tq > 3) fail(s"bad DQT table id $tq")
            p += 1
            val t = new Array[Int](64)
            var k = 0
            while (k < 64) {
              val v = if (pq == 0) { val r = jpeg(p) & 0xff; p += 1; r }
              else { val r = u16(p); p += 2; r }
              if (v == 0) fail("zero quantizer value")
              t(Zigzag(k)) = v // store in raster order
              k += 1
            }
            qTables(tq) = t
          }
          if (p != end) fail("DQT length mismatch")
          off = end
        case 0xc4 => // DHT: one or more tables
          val len = u16(off)
          var p = off + 2
          val end = off + len
          if (end > jpeg.length) fail("DHT overruns the container")
          while (p < end) {
            val tc = (jpeg(p) & 0xff) >> 4
            val th = jpeg(p) & 0x0f
            if (tc > 1) fail(s"bad DHT class $tc (arithmetic?)")
            if (th > 3) fail(s"bad DHT table id $th")
            p += 1
            if (p + 16 > end) fail("truncated DHT bits")
            val bits = Array.tabulate(16)(i => jpeg(p + i) & 0xff)
            p += 16
            val n = bits.sum
            if (n > 256 || p + n > end) fail("truncated DHT values")
            val vals = Array.tabulate(n)(i => jpeg(p + i) & 0xff)
            p += n
            val t = new HuffTable(bits, vals)
            if (tc == 0) dcTables(th) = t else acTables(th) = t
          }
          if (p != end) fail("DHT length mismatch")
          off = end
        case 0xc0 | 0xc1 => // SOF0 baseline / SOF1 extended sequential
          val len = u16(off)
          if ((jpeg(off + 2) & 0xff) != 8)
            fail(s"expected 8-bit precision, got ${jpeg(off + 2) & 0xff}")
          height = u16(off + 3)
          width = u16(off + 5)
          if (width <= 0 || height <= 0) fail("bad SOF geometry")
          val nc = jpeg(off + 7) & 0xff
          if (nc != 1 && nc != 3)
            fail(s"expected 1 (gray) or 3 (YCbCr) components, got $nc")
          if (len != 8 + 3 * nc) fail("SOF length mismatch")
          comps = Array.tabulate(nc) { i =>
            val cid = jpeg(off + 8 + 3 * i) & 0xff
            val samp = jpeg(off + 9 + 3 * i) & 0xff
            val ch = samp >> 4
            val cv = samp & 0x0f
            if (ch < 1 || ch > 2 || cv < 1 || cv > 2)
              fail(f"unsupported sampling 0x$samp%02x for component $cid")
            val tq = jpeg(off + 10 + 3 * i) & 0xff
            if (tq > 3) fail(s"bad SOF qtable id $tq")
            new Comp(cid, ch, cv, tq)
          }
          if (nc == 3 && comps.drop(1).exists(c => c.h != 1 || c.v != 1))
            fail("chroma components must be 1x1 sampled")
          off += len
        case 0xc2 => fail("progressive JPEG (SOF2) not supported")
        case x if x >= 0xc5 && x <= 0xcf && x != 0xc8 =>
          fail(f"unsupported SOF marker 0x$x%02x")
        case 0xdd => // DRI
          if (u16(off) != 4) fail("DRI length mismatch")
          restart = u16(off + 2)
          off += 4
        case 0xda => // SOS — scan starts after its header
          val len = u16(off)
          if (width < 0) fail("SOS before SOF")
          val ns = jpeg(off + 2) & 0xff
          if (comps == null || ns != comps.length)
            fail(s"expected an interleaved scan of ${
              if (comps == null) "?" else comps.length} components, got $ns")
          if (len != 6 + 2 * ns) fail("SOS length mismatch")
          var i = 0
          while (i < ns) {
            val sid = jpeg(off + 3 + 2 * i) & 0xff
            val c = comps.find(_.id == sid).getOrElse(
              fail(s"SOS component $sid not declared in SOF"))
            c.dcId = (jpeg(off + 4 + 2 * i) & 0xff) >> 4
            c.acId = jpeg(off + 4 + 2 * i) & 0x0f
            i += 1
          }
          val hdr = off + 3 + 2 * ns
          val ss = jpeg(hdr) & 0xff
          val se = jpeg(hdr + 1) & 0xff
          if (ss != 0 || se != 63)
            fail(s"expected full-spectrum scan (0..63), got $ss..$se")
          if ((jpeg(hdr + 2) & 0xff) != 0)
            fail("successive approximation not supported in baseline")
          comps.foreach { c =>
            if (qTables(c.tq) == null)
              fail(s"component ${c.id} references a missing DQT ${c.tq}")
            if (c.dcId < 0 || dcTables(c.dcId) == null)
              fail(s"component ${c.id} references a missing DC DHT")
            if (c.acId < 0 || acTables(c.acId) == null)
              fail(s"component ${c.id} references a missing AC DHT")
          }
          return new Parsed(width, height, comps, qTables,
            dcTables, acTables, restart, jpeg, off + len)
        case app if app >= 0xe0 && app <= 0xef => off += u16(off) // APPn
        case 0xfe => off += u16(off) // COM
        case x => fail(f"unexpected marker 0x$x%02x before SOS")
      }
    }
    fail("unreachable")
  }

  /** MSB-first bit reader over the entropy-coded segment with 0xFF00
    * unstuffing; stops at any real marker. */
  private final class BitReader(data: Array[Byte], var off: Int) {
    private var bitBuf = 0
    private var nBits = 0

    def nextBit(): Int = {
      if (nBits == 0) {
        if (off >= data.length) fail("entropy stream truncated")
        val b = data(off) & 0xff
        off += 1
        if (b == 0xff) {
          if (off >= data.length) fail("entropy stream truncated at 0xFF")
          val b2 = data(off) & 0xff
          if (b2 == 0x00) off += 1 // stuffed literal 0xFF
          else fail(f"marker 0x$b2%02x inside entropy-coded data")
        }
        bitBuf = b
        nBits = 8
      }
      nBits -= 1
      (bitBuf >> nBits) & 1
    }

    def receive(n: Int): Int = {
      var v = 0
      var i = 0
      while (i < n) { v = (v << 1) | nextBit(); i += 1 }
      v
    }

    /** Byte-align and consume an expected RSTn marker. */
    def restartMarker(expected: Int): Unit = {
      nBits = 0
      if (off + 1 >= data.length) fail("truncated restart marker")
      if ((data(off) & 0xff) != 0xff ||
          (data(off + 1) & 0xff) != (0xd0 + expected))
        fail(f"expected RST$expected, got " +
          f"0x${data(off) & 0xff}%02x${data(off + 1) & 0xff}%02x")
      off += 2
    }
  }

  private def decodeSymbol(br: BitReader, t: HuffTable): Int = {
    var code = br.nextBit()
    var len = 1
    while (len <= 16) {
      if (t.maxCode(len) >= 0 && code <= t.maxCode(len))
        return t.huffVal(t.valPtr(len) + code - t.minCode(len))
      code = (code << 1) | br.nextBit()
      len += 1
    }
    fail("invalid huffman code (no symbol within 16 bits)")
  }

  /** T.81 F.2.2.1 EXTEND: map `v` (cat bits) to its signed value. */
  private def extend(v: Int, cat: Int): Int =
    if (cat == 0) 0
    else if (v < (1 << (cat - 1))) v - (1 << cat) + 1
    else v

  /** Per-component decode state: the sample plane at the component's
    * own (subsampled) resolution, padded to whole MCUs. */
  private final class Plane(val w: Int, val h: Int) {
    val px = new Array[Int](w * h)
  }

  /** Decode + dequant + IDCT every block of the interleaved scan;
    * returns the per-component planes (MCU-padded, component-resolution)
    * plus the Y/gray component's DC categories in block-decode order. */
  private def decodeCore(jpeg: Array[Byte])
      : (Parsed, Array[Plane], Array[Int]) = {
    val p = parse(jpeg)
    val hmax = p.comps.map(_.h).max
    val vmax = p.comps.map(_.v).max
    val mcusX = (p.width + 8 * hmax - 1) / (8 * hmax)
    val mcusY = (p.height + 8 * vmax - 1) / (8 * vmax)
    val planes = p.comps.map(c =>
      new Plane(mcusX * 8 * c.h, mcusY * 8 * c.v))
    val dcCats = Array.newBuilder[Int]
    val br = new BitReader(p.data, p.dataOff)
    val coef = new Array[Int](64)
    val prevDc = new Array[Int](p.comps.length)
    var rstCount = 0
    var mcu = 0
    val nMcus = mcusX * mcusY
    while (mcu < nMcus) {
      if (p.restartInterval > 0 && mcu > 0 &&
          mcu % p.restartInterval == 0) {
        br.restartMarker(rstCount % 8)
        rstCount += 1
        java.util.Arrays.fill(prevDc, 0)
      }
      val mcuX = mcu % mcusX
      val mcuY = mcu / mcusX
      var ci = 0
      while (ci < p.comps.length) {
        val c = p.comps(ci)
        val qt = p.qTables(c.tq)
        val dcT = p.dcTables(c.dcId)
        val acT = p.acTables(c.acId)
        val plane = planes(ci)
        var by = 0
        while (by < c.v) {
          var bx = 0
          while (bx < c.h) {
            java.util.Arrays.fill(coef, 0)
            // DC
            val cat = decodeSymbol(br, dcT)
            if (cat > 15) fail(s"bad DC category $cat")
            if (ci == 0) dcCats += cat
            val diff = extend(br.receive(cat), cat)
            prevDc(ci) += diff
            coef(0) = prevDc(ci) * qt(0)
            // AC run-length
            var k = 1
            while (k < 64) {
              val rs = decodeSymbol(br, acT)
              val r = rs >> 4
              val s = rs & 0x0f
              if (s == 0) {
                if (r == 15) k += 16 // ZRL: sixteen zeros
                else k = 64 // EOB
              } else {
                k += r
                if (k > 63) fail("AC run past the end of the block")
                val zz = Zigzag(k)
                coef(zz) = extend(br.receive(s), s) * qt(zz)
                k += 1
              }
            }
            // DC-only shortcut (libjpeg's jidctint does the same): a
            // block with no AC coefficients IDCTs to the constant DC/8
            // exactly — skips the basis walk for the common flat block
            var onlyDc = true
            var zi = 1
            while (onlyDc && zi < 64) {
              if (coef(zi) != 0) onlyDc = false
              zi += 1
            }
            val dcConst =
              if (!onlyDc) 0
              else {
                val s = math.round(coef(0) / 8.0 + 128.0).toInt
                if (s < 0) 0 else if (s > 255) 255 else s
              }
            val px0 = (mcuX * c.h + bx) * 8
            val py0 = (mcuY * c.v + by) * 8
            var y = 0
            while (y < 8) {
              var x = 0
              while (x < 8) {
                val out =
                  if (onlyDc) dcConst
                  else {
                    var sum = 0.0
                    var u = 0
                    while (u < 8) {
                      val cu = if (u == 0) InvSqrt2 else 1.0
                      var v = 0
                      while (v < 8) {
                        val cv = if (v == 0) InvSqrt2 else 1.0
                        val cc = coef(v * 8 + u)
                        if (cc != 0) sum += cu * cv * cc * Cos(x)(u) * Cos(y)(v)
                        v += 1
                      }
                      u += 1
                    }
                    val s = math.round(sum / 4.0 + 128.0).toInt
                    if (s < 0) 0 else if (s > 255) 255 else s
                  }
                plane.px((py0 + y) * plane.w + px0 + x) = out
                x += 1
              }
              y += 1
            }
            bx += 1
          }
          by += 1
        }
        ci += 1
      }
      mcu += 1
    }
    (p, planes, dcCats.result())
  }

  /** Decoded grayscale pixel stream (0-255 ints, row-major top-down):
    * full baseline path — marker walk, huffman entropy decode, dequant,
    * zigzag, IDCT, level shift, clamp, crop. Rejects color containers. */
  def pixels(jpeg: Array[Byte]): ArrayData = {
    val (p, planes, _) = decodeCore(jpeg)
    if (p.comps.length != 1)
      fail(s"expected 1 component (grayscale), got ${p.comps.length} — " +
        "use jpeg_rgb_pixels")
    val plane = planes(0)
    val out = new Array[Int](p.width * p.height)
    var y = 0
    while (y < p.height) {
      System.arraycopy(plane.px, y * plane.w, out, y * p.width, p.width)
      y += 1
    }
    new GenericArrayData(out)
  }

  /** JFIF YCbCr → RGB with the EXACT rounding rule both engines share:
    * floor(x + 0.5) then clamp — floor-based so Spark and DuckDB cannot
    * disagree on a tie (round() ties differ cross-engine). */
  def ycbcrToRgb(yy: Int, cb: Int, cr: Int): (Int, Int, Int) = {
    def px(v: Double): Int = {
      val r = math.floor(v + 0.5).toInt
      if (r < 0) 0 else if (r > 255) 255 else r
    }
    (px(yy + 1.402 * (cr - 128)),
      px(yy - 0.344136 * (cb - 128) - 0.714136 * (cr - 128)),
      px(yy + 1.772 * (cb - 128)))
  }

  /** Decoded COLOR pixel stream: interleaved R,G,B ints (3 per pixel,
    * row-major top-down). Full baseline color path — interleaved MCU
    * scan with per-component huffman/quant state, chroma planes
    * upsampled by sample replication (the upsampling filter is decoder-
    * defined in JFIF; replication is the exact-arithmetic choice the
    * oracle replays), then the JFIF YCbCr→RGB matrix with floor(x+0.5)
    * rounding. Rejects grayscale containers — the caller asked for
    * color. */
  def pixelsRgb(jpeg: Array[Byte]): ArrayData = {
    val (p, planes, _) = decodeCore(jpeg)
    if (p.comps.length != 3)
      fail(s"expected 3 components (YCbCr), got ${p.comps.length} — " +
        "use jpeg_gray8_pixels")
    val hmax = p.comps.map(_.h).max
    val vmax = p.comps.map(_.v).max
    val out = new Array[Int](p.width * p.height * 3)
    val yP = planes(0); val cbP = planes(1); val crP = planes(2)
    val yC = p.comps(0); val cbC = p.comps(1); val crC = p.comps(2)
    var y = 0
    while (y < p.height) {
      var x = 0
      while (x < p.width) {
        def sample(pl: Plane, c: Comp): Int =
          pl.px((y * c.v / vmax) * pl.w + (x * c.h / hmax))
        val (r, g, b) = ycbcrToRgb(
          sample(yP, yC), sample(cbP, cbC), sample(crP, crC))
        val o = (y * p.width + x) * 3
        out(o) = r; out(o + 1) = g; out(o + 2) = b
        x += 1
      }
      y += 1
    }
    new GenericArrayData(out)
  }

  /** Per-block DC magnitude categories of the FIRST (Y/gray) component
    * ACTUALLY DECODED from the huffman bitstream, in block-decode
    * order — the in-band proof that the entropy decode ran (a decoder
    * that shortcuts the bitstream cannot produce them), pinned by the
    * oracle's recomputation from payload differentials. */
  def dcCategories(jpeg: Array[Byte]): ArrayData =
    new GenericArrayData(decodeCore(jpeg)._3)

  def width(jpeg: Array[Byte]): Int = parse(jpeg).width
  def height(jpeg: Array[Byte]): Int = parse(jpeg).height

  /** RSTn markers in the ENTROPY-CODED SEGMENT only: marker-walks the
    * header (following each segment's length field, like `parse`) to
    * the first entropy byte after SOS, then counts FF D0..D7 pairs up
    * to EOI, skipping stuffed FF00. A naive whole-container byte-pair
    * scan false-positives when a header u16 happens to encode
    * 0xFFD0..0xFFD7 — e.g. SOF height 65488 (= 0xFFD0) at 8186 block
    * rows — which this walk is immune to by construction. */
  def rstCount(jpeg: Array[Byte]): Int = {
    val p = parse(jpeg)
    var off = p.dataOff
    var n = 0
    while (off + 1 < jpeg.length) {
      if ((jpeg(off) & 0xff) == 0xff) {
        val m = jpeg(off + 1) & 0xff
        if (m >= 0xd0 && m <= 0xd7) n += 1
        else if (m == 0xd9) return n // EOI ends the scan
        off += 2 // marker or stuffed FF00: both two bytes
      } else off += 1
    }
    n
  }
}
