package graft.expressions

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

/** REAL WAV (RIFF) PCM16 codec for the multimodal audio path — replaces
  * the fixed-stride stub for ONE format with a true pure-JVM decoder
  * (no native codecs needed): [[WavPcm16.samples]] walks the RIFF chunk
  * list (arbitrary chunk order, unknown chunks skipped with the odd-size
  * pad byte rule), validates the container magics and the fmt contract
  * (PCM format 1, mono, 16-bit), and parses the data chunk as
  * little-endian signed 16-bit samples. Malformed containers are
  * REJECTED with a descriptive error, not silently sliced — that is
  * what makes this a decoder rather than a stub.
  *
  * [[WavPcm16.encode]] is the matching container builder used to
  * synthesize valid WAV fixtures in-engine (the harness testdata has no
  * media files): payload bytes become the PCM data chunk verbatim (each
  * consecutive byte pair = one LE sample; a trailing odd byte is
  * dropped, standard blockAlign truncation). Because the data chunk IS
  * the payload bytes, the DuckDB oracle can recompute the exact sample
  * values from `hex(encode(text))` — the decode arithmetic is fully
  * replayed, not trusted.
  *
  * All three surfaces are SQL functions that call these methods
  * (`wav_pcm16_encode`, `wav_pcm16_samples`, `wav_sample_rate`, rows of
  * [[graft.GraftExtensions.calls]]): narrow per-row codegen work, no
  * shuffle, a real codec swap at 100 TB keeps the same plan shape.
  */
object WavPcm16 {

  import LeBytes.{u16le, u32le, readU16, readU32, fourcc}

  /** Build a valid mono PCM16 WAV whose data chunk is `payload` (minus
    * a trailing odd byte). */
  def encode(payload: Array[Byte], sampleRate: Int): Array[Byte] = {
    val dataLen = payload.length & ~1 // blockAlign=2: drop a trailing odd byte
    val out = new java.io.ByteArrayOutputStream(44 + dataLen)
    out.write("RIFF".getBytes(StandardCharsets.US_ASCII))
    out.write(u32le(36 + dataLen)) // 4 ("WAVE") + (8+16 fmt) + (8 data hdr)
    out.write("WAVE".getBytes(StandardCharsets.US_ASCII))
    out.write("fmt ".getBytes(StandardCharsets.US_ASCII))
    out.write(u32le(16)) // PCM fmt chunk size
    out.write(u16le(1)) // audio format: PCM
    out.write(u16le(1)) // channels: mono
    out.write(u32le(sampleRate))
    out.write(u32le(sampleRate * 2)) // byte rate = sr * blockAlign
    out.write(u16le(2)) // block align = channels * bytes/sample
    out.write(u16le(16)) // bits per sample
    out.write("data".getBytes(StandardCharsets.US_ASCII))
    out.write(u32le(dataLen))
    out.write(payload, 0, dataLen)
    out.toByteArray
  }

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(s"wav_pcm16: $msg")

  /** Walk the RIFF chunk list and return (dataOffset, dataSize) of the
    * chunk with the given id, validating container magics on the way. */
  private def findChunk(wav: Array[Byte], id: String): (Int, Int) =
    LeBytes.findWavChunk(wav, id, fail)

  /** fmt contract check shared by the sample and rate readers. Returns
    * the fmt chunk offset. */
  private def checkFmt(wav: Array[Byte]): Int = {
    val (off, size) = findChunk(wav, "fmt ")
    if (size < 16) fail(s"fmt chunk too short ($size bytes)")
    val fmt = readU16(wav, off)
    if (fmt != 1) fail(s"not PCM (audio format $fmt)")
    val channels = readU16(wav, off + 2)
    if (channels != 1) fail(s"expected mono, got $channels channels")
    val bits = readU16(wav, off + 14)
    if (bits != 16) fail(s"expected 16-bit samples, got $bits")
    off
  }

  /** Decode the sample array: LE signed 16-bit ints from the data
    * chunk. */
  def samples(wav: Array[Byte]): ArrayData = {
    checkFmt(wav)
    val (off, size) = findChunk(wav, "data")
    val n = size / 2
    val out = new Array[Int](n)
    var i = 0
    while (i < n) {
      out(i) = readU16(wav, off + 2 * i).toShort.toInt // sign-extend
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Sample rate parsed from the fmt chunk. Range-checked: readU32
    * returns a signed Int, so a rate ≥ 2³¹ would otherwise surface as a
    * negative number instead of the descriptive rejection every other
    * out-of-range header field gets. */
  def sampleRate(wav: Array[Byte]): Int = {
    val off = checkFmt(wav)
    val rate = readU32(wav, off + 4)
    if (rate <= 0) fail(s"sample rate out of range ($rate)")
    rate
  }
}
