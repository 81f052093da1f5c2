package graft.expressions

import org.apache.spark.sql.catalyst.util.ArrayData

/** G.711 µ-LAW companded audio (RIFF wFormatTag 7) — the logarithmic
  * 8-bit telephony codec, closing the companded-format box next to
  * uncompressed PCM16 ([[WavPcm16]]) and adaptive-differential ADPCM
  * ([[WavImaAdpcm]]). Decode is STATELESS per byte (each code expands
  * independently to the canonical 16-bit reconstruction level, the
  * ±32124 table): code c → u = ~c, magnitude
  * (mantissa << (exp+3)) + (132 << exp) − 132, sign from bit 7 of u —
  * all integer, so the oracle replays every sample from payload hex
  * with plain per-byte arithmetic (no fold: statelessness is the
  * format's defining contrast with ADPCM's running predictor).
  *
  * [[WavMulaw.encode]] packs payload bytes verbatim as the µ-law data
  * chunk (1 byte = 1 sample — the companded format's 2:1 size ratio vs
  * PCM16 is structural); [[WavMulaw.samples]] walks the RIFF chunk
  * list (same rules as WavPcm16: arbitrary chunk order, odd-size pad
  * bytes, declared-extent bounds), validates the fmt contract
  * (format 7, mono, 8-bit), and expands the codes. Malformed
  * containers are REJECTED with a descriptive error, not sliced. */
object WavMulaw {

  /** Build a valid mono µ-law WAV whose data chunk is `payload`. */
  def encode(payload: Array[Byte], sampleRate: Int): Array[Byte] =
    LeBytes.g711Wav(payload, sampleRate, 7) // format 7: µ-law

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(s"wav_mulaw: $msg")

  /** The canonical per-code expansion (Sun g711 ulaw2linear — the
    * ±32124 16-bit reconstruction table, computed not tabulated). */
  @inline def expand(code: Int): Int = {
    val u = (~code) & 0xff
    val e = (u >> 4) & 7
    val mag = ((u & 0x0f) << (e + 3)) + (132 << e) - 132
    if ((u & 0x80) != 0) -mag else mag
  }

  /** Decode the sample array: one expanded 16-bit value per data
    * byte, after the fmt contract check (format 7, mono, 8-bit). */
  def samples(wav: Array[Byte]): ArrayData =
    LeBytes.g711Samples(wav, 7, "mu-law", fail, expand)
}
