package graft.expressions

import java.nio.ByteBuffer
import java.nio.charset.{CharacterCodingException, CodingErrorAction, StandardCharsets}

import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.unsafe.types.UTF8String

/** Mojibake detection-and-repair (the ftfy `fix_encoding` core, the
  * hygiene pass crawl pipelines run before any text filter): a string
  * whose UTF-8 bytes were once mis-decoded as windows-1252 carries
  * the telltale `Ã©`/`â€™` char sequences; re-ENCODING those chars as
  * windows-1252 recovers the original bytes, and a STRICT UTF-8
  * decode of them recovers the original text. Iterating to a
  * fixpoint also unwinds doubly-mis-decoded text (`ÃƒÂ©` → `Ã©` →
  * `é`). Three safety properties, all load-bearing:
  *
  *  - the cp1252 side is the SLOPPY table (ftfy's convention): bytes
  *    0x81/0x8D/0x8F/0x90/0x9D are undefined in windows-1252, but
  *    real mojibake carries them (e.g. `”` U+201D → E2 80 9D), so
  *    they map to/from the C1 controls U+0081… instead of failing —
  *    Java's strict windows-1252 charset rejects exactly these five
  *    and would leave every `â€`-class smart quote unrepaired;
  *  - the UTF-8 decode is STRICT (malformed/overlong → give up and
  *    return the input unchanged): genuine Latin-1 text (`déjà vu`)
  *    encodes to bytes that are NOT valid UTF-8, so it passes
  *    through untouched, and truncated mojibake (a stripped
  *    continuation byte, `â€` at end-of-string) is left alone rather
  *    than half-repaired;
  *  - a repair step must CHANGE the string, and pure-ASCII input
  *    short-circuits before any codec work (the 100 TB hot path: the
  *    overwhelmingly-ASCII corpus pays one char scan per row).
  *
  * Inherent heuristic hazard, documented not hidden: text that
  * GENUINELY discusses mojibake (`the page showed Ã©`) is
  * indistinguishable from damage and gets "repaired" — the same
  * trade ftfy makes.
  *
  * Returns struct(fixed, iters) so the repair depth rides as data —
  * the qce oracle pins expected iterations per planted fixture. */
object MojibakeRepair {

  /** sloppy windows-1252: byte 0x80+i ↔ char HI(i); undefined
    * positions carry the corresponding C1 control. */
  private val hi: Array[Char] = Array(
    0x20AC, 0x0081, 0x201A, 0x0192, 0x201E, 0x2026, 0x2020, 0x2021,
    0x02C6, 0x2030, 0x0160, 0x2039, 0x0152, 0x008D, 0x017D, 0x008F,
    0x0090, 0x2018, 0x2019, 0x201C, 0x201D, 0x2022, 0x2013, 0x2014,
    0x02DC, 0x2122, 0x0161, 0x203A, 0x0153, 0x009D, 0x017E, 0x0178)
    .map(_.toChar)

  /** char → sloppy-cp1252 byte for the 0x80–0x9F block; chars < 0x80
    * and 0xA0–0xFF are identity and handled inline. */
  private val hiEnc: Map[Char, Int] =
    hi.zipWithIndex.map { case (c, i) => c -> (0x80 + i) }.toMap

  /** Encode as sloppy cp1252, or null when any char has no byte —
    * a string carrying e.g. CJK was never a cp1252 mis-decode. */
  private def encodeSloppy(s: String): Array[Byte] = {
    val out = new Array[Byte](s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      val b =
        if (c < 0x80 || (c >= 0xA0 && c <= 0xFF)) c.toInt
        else hiEnc.getOrElse(c, -1)
      if (b < 0) return null
      out(i) = b.toByte
      i += 1
    }
    out
  }

  /** Strict UTF-8 decode (malformed/overlong/surrogate → null). */
  private def decodeUtf8Strict(b: Array[Byte]): String = {
    val d = StandardCharsets.UTF_8.newDecoder()
      .onMalformedInput(CodingErrorAction.REPORT)
      .onUnmappableCharacter(CodingErrorAction.REPORT)
    try d.decode(ByteBuffer.wrap(b)).toString
    catch { case _: CharacterCodingException => null }
  }

  private def hasHigh(s: String): Boolean = {
    var i = 0
    while (i < s.length) {
      if (s.charAt(i) >= 0x80) return true
      i += 1
    }
    false
  }

  val MaxIters = 3

  /** (repaired text, iterations applied) — iterations is 0 when the
    * input was already clean ASCII, genuine non-mojibake unicode, or
    * unrepairable (truncated) mojibake. */
  def repair(s: String): (String, Int) = {
    var cur = s
    var it = 0
    var done = false
    while (!done && it < MaxIters && hasHigh(cur)) {
      val enc = encodeSloppy(cur)
      val dec = if (enc == null) null else decodeUtf8Strict(enc)
      if (dec == null || dec == cur) done = true
      else { cur = dec; it += 1 }
    }
    (cur, it)
  }

  /** Pure-ASCII bytes (no lead byte ≥ 0x80) can carry no mojibake —
    * the UTF8String-level fast path that keeps the dominant clean
    * row to ONE byte scan with zero decode/alloc work. Shared with
    * [[NfcNormalize]] (ASCII is NFC by construction) so the byte
    * scan has one definition. */
  private[expressions] def asciiOnly(text: UTF8String): Boolean = {
    val b = text.getBytes
    var i = 0
    while (i < b.length) {
      if ((b(i) & 0x80) != 0) return false
      i += 1
    }
    true
  }

  def eval(text: UTF8String): GenericInternalRow = {
    val row = new GenericInternalRow(2)
    if (asciiOnly(text)) {
      // the 100 TB hot path: no String decode, original binary reused
      row.update(0, text)
      row.setInt(1, 0)
    } else {
      val s = text.toString
      val (fixed, iters) = repair(s)
      row.update(0,
        if (fixed eq s) text else UTF8String.fromString(fixed))
      row.setInt(1, iters)
    }
    row
  }
}
