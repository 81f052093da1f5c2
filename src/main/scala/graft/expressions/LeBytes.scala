package graft.expressions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

/** Little-endian byte helpers shared by the container codecs
  * ([[WavPcm16]], [[BmpRgb24]]) — one definition so a bounds or
  * signedness fix cannot silently apply to only one format. */
private[expressions] object LeBytes {

  def u32le(v: Int): Array[Byte] =
    Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)

  def u16le(v: Int): Array[Byte] =
    Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)

  def readU32(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8) |
      ((b(off + 2) & 0xff) << 16) | ((b(off + 3) & 0xff) << 24)

  def readU16(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)

  /** Four-character chunk tag at `off` (RIFF-family containers). */
  def fourcc(b: Array[Byte], off: Int): String =
    new String(b, off, 4, java.nio.charset.StandardCharsets.US_ASCII)

  /** RIFF/WAVE chunk walk shared by every WAV codec — ONE definition
    * of the container rules (bound against the DECLARED riff extent:
    * trailing bytes past the declared size are not container content;
    * odd-sized chunks carry a pad byte) so a bounds fix can never
    * apply to one codec and miss another. Returns (payload offset,
    * size) of the first chunk with the given id; `fail` carries the
    * calling codec's error prefix. */
  def findWavChunk(wav: Array[Byte], id: String,
      fail: String => Nothing): (Int, Int) = {
    if (wav.length < 12) fail(s"container too short (${wav.length} bytes)")
    if (fourcc(wav, 0) != "RIFF") fail("missing RIFF magic")
    if (fourcc(wav, 8) != "WAVE") fail("missing WAVE form type")
    val riffEnd = math.min(wav.length.toLong, 8L + readU32(wav, 4))
    var off = 12
    while (off + 8 <= riffEnd) {
      val cid = fourcc(wav, off)
      val size = readU32(wav, off + 4)
      if (size < 0 || off + 8L + size > riffEnd)
        fail(s"chunk '$cid' overruns the declared RIFF extent")
      if (cid == id) return (off + 8, size)
      off += 8 + size + (size & 1)
    }
    fail(s"no '$id' chunk")
  }

  /** Canonical mono 8-bit G.711 WAV container (formatTag 6 = A-law,
    * 7 = µ-law): 18-byte fmt (non-PCM formats carry cbSize), a fact
    * chunk with the sample count, then the byte-per-sample data —
    * shared by WavAlaw/WavMulaw whose ONLY container difference is
    * the format tag. */
  def g711Wav(payload: Array[Byte], sampleRate: Int,
      formatTag: Int): Array[Byte] = {
    val ascii = java.nio.charset.StandardCharsets.US_ASCII
    // RIFF mandates word-aligned chunks: an odd-sized data payload is
    // followed by a zero pad byte that counts toward the RIFF extent
    // but NOT the data chunk's declared size — findWavChunk enforces
    // the same rule when walking, and strict external readers reject
    // odd-payload files without it.
    val pad = payload.length & 1
    val out = new java.io.ByteArrayOutputStream(46 + payload.length + pad)
    out.write("RIFF".getBytes(ascii))
    // 4 ("WAVE") + (8+18 fmt) + (8+4 fact) + (8 data hdr) + data + pad
    out.write(u32le(50 + payload.length + pad))
    out.write("WAVE".getBytes(ascii))
    out.write("fmt ".getBytes(ascii))
    out.write(u32le(18)) // fmt chunk size incl. cbSize
    out.write(u16le(formatTag))
    out.write(u16le(1)) // channels: mono
    out.write(u32le(sampleRate))
    out.write(u32le(sampleRate)) // byte rate = sr × 1 byte/sample
    out.write(u16le(1)) // block align
    out.write(u16le(8)) // bits per sample
    out.write(u16le(0)) // cbSize
    out.write("fact".getBytes(ascii))
    out.write(u32le(4))
    out.write(u32le(payload.length)) // sample count
    out.write("data".getBytes(ascii))
    out.write(u32le(payload.length))
    out.write(payload, 0, payload.length)
    if (pad == 1) out.write(0)
    out.toByteArray
  }

  /** Mono 8-bit G.711 decode shared by WavAlaw/WavMulaw: the fmt
    * contract check (format `formatTag`, mono, 8-bit), then one
    * `expand`ed 16-bit value per data byte. `law` names the format in
    * the rejection; `fail` carries the calling codec's error prefix. */
  def g711Samples(wav: Array[Byte], formatTag: Int, law: String,
      fail: String => Nothing, expand: Int => Int): ArrayData = {
    val (fmtOff, fmtSize) = findWavChunk(wav, "fmt ", fail)
    if (fmtSize < 16) fail(s"fmt chunk too short ($fmtSize bytes)")
    val fmt = readU16(wav, fmtOff)
    if (fmt != formatTag) fail(s"not $law (audio format $fmt)")
    val channels = readU16(wav, fmtOff + 2)
    if (channels != 1) fail(s"expected mono, got $channels channels")
    val bits = readU16(wav, fmtOff + 14)
    if (bits != 8) fail(s"expected 8-bit codes, got $bits")
    val (off, size) = findWavChunk(wav, "data", fail)
    val out = new Array[Int](size)
    var i = 0
    while (i < size) {
      out(i) = expand(wav(off + i) & 0xff)
      i += 1
    }
    new GenericArrayData(out)
  }
}
