package graft.expressions

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

/** REAL IMA ADPCM (DVI4) WAV codec — the COMPRESSED member of the
  * audio family, closing the per-modality symmetry with the image
  * side (images decode zlib'd PNG and huffman'd JPEG; audio previously
  * stopped at uncompressed PCM16, `WavPcm16.scala`). IMA ADPCM is the
  * classic 4:1 adaptive-differential codec standardized by the IMA
  * Digital Audio Focus Group and carried in RIFF WAVE as
  * wFormatTag 0x0011: each 4-bit nibble advances an integer predictor
  * by a step-table delta (sign bit + 3 magnitude bits, the
  * shift-add form `step>>3 (+step)(+step>>1)(+step>>2)`), and the
  * 89-entry step table index adapts per nibble ({-1,-1,-1,-1,2,4,6,8}).
  * Everything is INTEGER arithmetic — which is what makes the decode
  * replayable bit-for-bit by the DuckDB oracle.
  *
  * [[WavImaAdpcm.encode]] is the matching container builder
  * (transcoder-shaped, like `JpegGray8.encodeRestart`): the payload
  * bytes ARE the nibble stream verbatim, wrapped block-by-block in the
  * format's real structure — a 4-byte block header carrying the
  * RUNNING predictor (int16 LE) and step index (u8), which the
  * standard emits as the block's first output sample, then
  * `blockAlign − 4` nibble bytes (low nibble first). The encoder runs
  * the decoder's own state machine to know each block's header — the
  * byte-aligned resync machinery real ADPCM streams carry (a corrupted
  * block loses itself, not the file), and the exact analogue of q8j's
  * JPEG restart markers. A `fact` chunk records the true decoded
  * sample count, as RIFF requires for compressed formats.
  *
  * [[WavImaAdpcm.samples]] walks the RIFF chunk list (same rules as
  * `WavPcm16`: declared-extent bounds, odd-size pad bytes, unknown
  * chunks skipped), validates the fmt contract (tag 0x11, mono, 4-bit,
  * samplesPerBlock ≡ (blockAlign−4)·2+1), decodes every block —
  * header sample + nibble predictor chain, step index range-checked,
  * reserved byte enforced zero — and cross-checks the `fact` count
  * against the decoded total. Malformed containers are REJECTED with
  * descriptive errors, not sliced.
  *
  * Both surfaces are SQL functions that call these methods
  * (`wav_ima_encode`, `wav_ima_samples`, rows of
  * [[graft.GraftExtensions.calls]]): narrow per-row codegen work, no
  * shuffle — the 100-TB plan shape is one projection per asset.
  */
object WavImaAdpcm {

  import LeBytes.{u16le, u32le, readU16, readU32, fourcc}

  /** IMA/DVI step-size table (89 entries). */
  val StepTable: Array[Int] = Array(
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34,
    37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143,
    157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494,
    544, 598, 658, 724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552,
    1707, 1878, 2066, 2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428,
    4871, 5358, 5894, 6484, 7132, 7845, 8630, 9493, 10442, 11487,
    12635, 13899, 15289, 16818, 18500, 20350, 22385, 24623, 27086,
    29794, 32767)

  /** Step-index adaptation per nibble magnitude (low 3 bits). */
  val IndexAdj: Array[Int] = Array(-1, -1, -1, -1, 2, 4, 6, 8)

  /** RIFF blockAlign: 4-byte state header + 32 nibble bytes. Small on
    * purpose so even short fixtures span multiple blocks and exercise
    * the resync path. */
  val BlockBytes = 36
  val NibbleBytesPerBlock: Int = BlockBytes - 4
  /** Header sample + two nibbles per byte. */
  val SamplesPerBlock: Int = NibbleBytesPerBlock * 2 + 1

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(s"wav_ima: $msg")

  private def clamp16(v: Int): Int =
    if (v > 32767) 32767 else if (v < -32768) -32768 else v

  /** One predictor step: returns the new (predictor, stepIndex) after
    * consuming nibble `nb`; the new predictor IS the output sample. */
  @inline private def stepDecode(p: Int, si: Int, nb: Int): (Int, Int) = {
    val step = StepTable(si)
    var diff = step >> 3
    if ((nb & 4) != 0) diff += step
    if ((nb & 2) != 0) diff += step >> 1
    if ((nb & 1) != 0) diff += step >> 2
    val p2 = clamp16(if ((nb & 8) != 0) p - diff else p + diff)
    var si2 = si + IndexAdj(nb & 7)
    if (si2 < 0) si2 = 0 else if (si2 > 88) si2 = 88
    (p2, si2)
  }

  /** Build a valid mono IMA-ADPCM WAV whose nibble stream is `payload`
    * verbatim, block headers carrying the running decoder state. */
  def encode(payload: Array[Byte], sampleRate: Int): Array[Byte] = {
    if (sampleRate <= 0) fail(s"sample rate must be positive, got $sampleRate")
    val nBlocks = (payload.length + NibbleBytesPerBlock - 1) / NibbleBytesPerBlock
    val dataLen = payload.length + 4 * nBlocks
    val totalSamples = 2 * payload.length + nBlocks
    val out = new java.io.ByteArrayOutputStream(12 + 28 + 12 + 8 + dataLen)
    out.write("RIFF".getBytes(StandardCharsets.US_ASCII))
    // 4 (WAVE) + (8+20 fmt) + (8+4 fact) + (8 data hdr) + data
    out.write(u32le(4 + 28 + 12 + 8 + dataLen))
    out.write("WAVE".getBytes(StandardCharsets.US_ASCII))
    out.write("fmt ".getBytes(StandardCharsets.US_ASCII))
    out.write(u32le(20)) // 16 common + cbSize(2) + samplesPerBlock(2)
    out.write(u16le(0x11)) // wFormatTag: IMA ADPCM
    out.write(u16le(1)) // mono
    out.write(u32le(sampleRate))
    // avg bytes/sec: rate scaled by the block's bytes-per-sample ratio
    out.write(u32le((sampleRate.toLong * BlockBytes / SamplesPerBlock).toInt))
    out.write(u16le(BlockBytes)) // blockAlign
    out.write(u16le(4)) // bits per (encoded) sample
    out.write(u16le(2)) // cbSize
    out.write(u16le(SamplesPerBlock))
    out.write("fact".getBytes(StandardCharsets.US_ASCII))
    out.write(u32le(4))
    out.write(u32le(totalSamples))
    out.write("data".getBytes(StandardCharsets.US_ASCII))
    out.write(u32le(dataLen))
    var p = 0
    var si = 0
    var off = 0
    while (off < payload.length) {
      val n = math.min(NibbleBytesPerBlock, payload.length - off)
      out.write(u16le(p & 0xffff)) // running predictor (the header sample)
      out.write(si)
      out.write(0) // reserved
      out.write(payload, off, n)
      var i = 0
      while (i < n) { // advance state over this block's nibbles
        val b = payload(off + i) & 0xff
        val a = stepDecode(p, si, b & 0xf); p = a._1; si = a._2
        val c = stepDecode(p, si, b >> 4); p = c._1; si = c._2
        i += 1
      }
      off += n
    }
    out.toByteArray
  }

  /** RIFF walk shared with the PCM16 decoder's rules. */
  private def findChunk(wav: Array[Byte], id: String): (Int, Int) =
    LeBytes.findWavChunk(wav, id, fail)

  /** fmt contract: tag 0x11, mono, 4-bit, coherent block geometry.
    * Returns the blockAlign to iterate with. */
  private def checkFmt(wav: Array[Byte]): Int = {
    val (off, size) = findChunk(wav, "fmt ")
    if (size < 16) fail(s"fmt chunk too short ($size bytes)")
    val fmt = readU16(wav, off)
    if (fmt != 0x11) fail(f"not IMA ADPCM (audio format 0x$fmt%x)")
    if (size < 20) fail(s"fmt chunk too short for IMA ADPCM ($size bytes)")
    val channels = readU16(wav, off + 2)
    if (channels != 1) fail(s"expected mono, got $channels channels")
    val blockAlign = readU16(wav, off + 12)
    if (blockAlign < 5) fail(s"blockAlign $blockAlign cannot hold a header")
    val bits = readU16(wav, off + 14)
    if (bits != 4) fail(s"expected 4-bit nibbles, got $bits")
    val spb = readU16(wav, off + 18)
    if (spb != (blockAlign - 4) * 2 + 1)
      fail(s"samplesPerBlock $spb inconsistent with blockAlign $blockAlign")
    blockAlign
  }

  /** Decode every block: header sample + nibble predictor chain. */
  def samples(wav: Array[Byte]): ArrayData = {
    val blockAlign = checkFmt(wav)
    val (factOff, factSize) = findChunk(wav, "fact")
    if (factSize < 4) fail("fact chunk too short")
    val declared = readU32(wav, factOff)
    val (off, size) = findChunk(wav, "data")
    val spb = (blockAlign - 4) * 2 + 1 // = the validated fmt field
    val out = new Array[Int](
      (size.toLong / blockAlign * spb +
        2L * (size % blockAlign)).toInt) // upper bound; trimmed below
    var n = 0
    var b = 0
    while (b < size) {
      val blockLen = math.min(blockAlign, size - b)
      if (blockLen < 5) fail(s"block at data offset $b too short ($blockLen)")
      var p = readU16(wav, off + b).toShort.toInt // sign-extend
      var si = wav(off + b + 2) & 0xff
      if (si > 88) fail(s"block step index $si out of range (0..88)")
      if ((wav(off + b + 3) & 0xff) != 0)
        fail("nonzero reserved byte in block header")
      out(n) = p; n += 1 // the header predictor is the block's sample 0
      var i = 4
      while (i < blockLen) {
        val by = wav(off + b + i) & 0xff
        val a = stepDecode(p, si, by & 0xf); p = a._1; si = a._2
        out(n) = p; n += 1
        val c = stepDecode(p, si, by >> 4); p = c._1; si = c._2
        out(n) = p; n += 1
        i += 1
      }
      b += blockLen
    }
    if (n != declared)
      fail(s"fact chunk declares $declared samples, decoded $n")
    new GenericArrayData(java.util.Arrays.copyOf(out, n))
  }
}
