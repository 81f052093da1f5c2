package graft.expressions

import graft.SparkSuite
import java.nio.charset.StandardCharsets

import org.scalatest.funsuite.AnyFunSuite

/** The A-law codec must be a real parser (chunk walking, fmt contract,
  * rejection) and the expansion must be the CANONICAL G.711 table —
  * pinned against published reference values, plus the cross-law
  * asymmetries that distinguish it from µ-law (sign polarity, range,
  * segment-0 linearity). */
class WavAlawSpec extends AnyFunSuite with SparkSuite {

  private def ints(a: org.apache.spark.sql.catalyst.util.ArrayData) =
    a.toIntArray().toSeq

  test("expansion matches the canonical G.711 table at the landmarks") {
    // Published alaw2linear reference points (Sun g711.c): 0x55 decodes
    // to −8 (u = 0 after the even-bit inversion), 0xD5 to +8, and the
    // extremes ±32256 sit at 0x2A/0xAA — NOT at 0x00/0x80 as in µ-law,
    // because of the 0x55 toggle.
    assert(WavAlaw.expand(0x55) == -8)
    assert(WavAlaw.expand(0xD5) == 8)
    assert(WavAlaw.expand(0x2A) == -32256)
    assert(WavAlaw.expand(0xAA) == 32256)
    // segment-0 is LINEAR with step 16: u=0..15 → −8, −24, …, −248
    for (m <- 0 until 16)
      assert(WavAlaw.expand((m ^ 0x55) & 0xff) == -((m << 4) + 8))
    // table symmetry: flipping the raw sign bit negates every value
    for (c <- 0 until 128)
      assert(WavAlaw.expand(c) == -WavAlaw.expand(c ^ 0x80))
    // A-law's zero is never exact (min magnitude 8) — the structural
    // contrast with µ-law, whose codes 0x7F/0xFF decode to exactly 0
    for (c <- 0 until 256)
      assert(math.abs(WavAlaw.expand(c)) >= 8)
  }

  test("encode→decode roundtrip: one sample per payload byte, chunk " +
    "walk skips spliced chunks") {
    val payload = Array[Byte](0x2A, 0x55, 0xAA.toByte)
    val wav = WavAlaw.encode(payload, 8000)
    assert(ints(WavAlaw.samples(wav)) == Seq(-32256, -8, 32256))
    // splice an odd-sized LIST chunk between fact and data (fact ends
    // at byte 50 in the encoder's fixed layout: 12 + 8+18 fmt + 8+4)
    val extra = "LIST".getBytes(StandardCharsets.US_ASCII) ++
      Array[Byte](3, 0, 0, 0, 9, 9, 9, 0)
    val spliced = wav.slice(0, 50) ++ extra ++ wav.slice(50, wav.length)
    val total = spliced.length - 8
    spliced(4) = (total & 0xff).toByte
    spliced(5) = ((total >> 8) & 0xff).toByte
    assert(ints(WavAlaw.samples(spliced)) == Seq(-32256, -8, 32256))
  }

  test("malformed containers are rejected, not sliced") {
    val wav = WavAlaw.encode(Array[Byte](1, 2), 8000)
    def expectFail(bytes: Array[Byte], hint: String): Unit = {
      val e = intercept[IllegalArgumentException](WavAlaw.samples(bytes))
      assert(e.getMessage.contains(hint), e.getMessage)
    }
    expectFail(Array[Byte](1, 2, 3), "too short")
    expectFail("JUNK".getBytes ++ wav.drop(4), "RIFF")
    val notAlaw = wav.clone(); notAlaw(20) = 7 // audio format → µ-law
    expectFail(notAlaw, "not A-law")
    val stereo = wav.clone(); stereo(22) = 2
    expectFail(stereo, "mono")
    val bits16 = wav.clone(); bits16(34) = 16
    expectFail(bits16, "8-bit")
  }

  test("expressions: stateless expansion as codegen columns") {
    graft.GraftExtensions.ensureRegistered(spark)
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val got = Seq("ab").toDF("t")
      .select(expr(
        "wav_alaw_samples(wav_alaw_encode(encode(t, 'UTF-8'), 8000))")
        .as("s"))
      .collect()
    // 'a' = 0x61: u=0x34 → seg 3, m 4 → −(((4<<4)+264)<<2) = −1312;
    // 'b' = 0x62: u=0x37 → seg 3, m 7 → −(((7<<4)+264)<<2) = −1504
    assert(got.head.getSeq[Int](0).toList == List(-1312, -1504))
  }
}
