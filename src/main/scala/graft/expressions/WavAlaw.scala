package graft.expressions

import org.apache.spark.sql.catalyst.util.ArrayData

/** G.711 A-LAW companded audio (RIFF wFormatTag 6) — the European
  * telephony companion to µ-law ([[WavMulaw]]), closing BOTH branches
  * of the companded-format box. Same stateless 1-byte-per-sample
  * structure, different transfer curve: code c → u = c ^ 0x55 (the
  * even-bit inversion the wire format mandates), segment
  * s = (u >> 4) & 7, mantissa m = u & 0x0f, magnitude
  * (m << 4) + 8 for segment 0 and ((m << 4) + 0x108) << (s − 1)
  * otherwise, sign POSITIVE when bit 7 of u is set (the opposite
  * polarity convention from µ-law — one of the two laws' genuinely
  * asymmetric details, pinned by the cross-law L1 gate in q8n). The
  * reconstruction range is ±32256 (vs µ-law's ±32124) and the curve is
  * linear-with-offset in segment 0 instead of µ-law's everywhere-
  * logarithmic bias-132 form — all integer, so every sample replays in
  * DuckDB from payload hex with plain per-byte arithmetic.
  *
  * [[WavAlaw.encode]] packs payload bytes verbatim as the A-law data
  * chunk; [[WavAlaw.samples]] walks the RIFF chunk list (same rules as
  * WavPcm16/WavMulaw: arbitrary chunk order, odd-size pad bytes,
  * declared-extent bounds), validates the fmt contract (format 6,
  * mono, 8-bit), and expands the codes. Malformed containers are
  * REJECTED with a descriptive error, not sliced. */
object WavAlaw {

  /** Build a valid mono A-law WAV whose data chunk is `payload`. */
  def encode(payload: Array[Byte], sampleRate: Int): Array[Byte] =
    LeBytes.g711Wav(payload, sampleRate, 6) // format 6: A-law

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(s"wav_alaw: $msg")

  /** The canonical per-code expansion (Sun g711 alaw2linear — the
    * ±32256 16-bit reconstruction table, computed not tabulated). */
  @inline def expand(code: Int): Int = {
    val u = (code ^ 0x55) & 0xff
    val s = (u >> 4) & 7
    val mag =
      if (s == 0) ((u & 0x0f) << 4) + 8
      else (((u & 0x0f) << 4) + 0x108) << (s - 1)
    if ((u & 0x80) != 0) mag else -mag
  }

  /** Decode the sample array: one expanded 16-bit value per data
    * byte, after the fmt contract check (format 6, mono, 8-bit). */
  def samples(wav: Array[Byte]): ArrayData =
    LeBytes.g711Samples(wav, 6, "A-law", fail, expand)
}
