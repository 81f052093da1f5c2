package graft.expressions

import java.text.Normalizer

import org.apache.spark.unsafe.types.UTF8String

/** Unicode NFC normalization (UAX #15 canonical composition) — the
  * pre-tokenization pass every production text pipeline runs: the
  * same user-visible string arrives from crawls in decomposed
  * (e + U+0301) and precomposed (é) forms, and an un-normalized
  * corpus splits identical words across tokenizer entries, breaks
  * exact dedup (q40's digests differ on canonically-equal text), and
  * double-counts n-grams. NFC — not NFKC — deliberately: canonical
  * composition is lossless (ligatures, superscripts and width
  * variants survive), which is the right default before dedup;
  * compatibility folding is a separate, lossy policy decision.
  *
  * Implementation is the JDK's `java.text.Normalizer` (ICU-derived,
  * same UAX #15 algorithm DuckDB's utf8proc implements — the qcg
  * oracle normalizes the SAME constructed input independently, so
  * the gate is two unrelated NFC implementations agreeing byte for
  * byte, hangul LVT composition and partial-composition cases
  * included). `isNormalized` is the fast path: already-NFC input
  * (ASCII especially — the 100 TB hot path) returns the original
  * UTF8String with no allocation. */
object NfcNormalize {
  def eval(text: UTF8String): UTF8String = {
    // ASCII bytes are NFC by construction (no combining sequences, no
    // precomposable pairs): the dominant clean row pays one byte scan,
    // no String decode, no allocation.
    if (MojibakeRepair.asciiOnly(text)) text
    else {
      val s = text.toString
      if (Normalizer.isNormalized(s, Normalizer.Form.NFC)) text
      else UTF8String.fromString(Normalizer.normalize(s, Normalizer.Form.NFC))
    }
  }
}
