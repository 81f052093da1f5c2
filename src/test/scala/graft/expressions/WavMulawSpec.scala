package graft.expressions

import graft.SparkSuite
import java.nio.charset.StandardCharsets

import org.scalatest.funsuite.AnyFunSuite

/** The µ-law codec must be a real parser (chunk walking, fmt contract,
  * rejection) and the expansion must be the CANONICAL G.711 table —
  * pinned here against the published reference values, not our own
  * arithmetic. */
class WavMulawSpec extends AnyFunSuite with SparkSuite {

  private def ints(a: org.apache.spark.sql.catalyst.util.ArrayData) =
    a.toIntArray().toSeq

  test("expansion matches the canonical G.711 table at the landmarks") {
    // Published ulaw2linear reference points (Sun g711.c): code 0x00 is
    // max negative, 0x80 max positive, 0xFF is zero, 0x7F negative zero.
    assert(WavMulaw.expand(0x00) == -32124)
    assert(WavMulaw.expand(0x80) == 32124)
    assert(WavMulaw.expand(0xFF) == 0)
    assert(WavMulaw.expand(0x7F) == 0)
    // monotone decreasing magnitude as the code climbs within the sign
    assert(WavMulaw.expand(0x01) == -31100)
    assert(WavMulaw.expand(0x81) == 31100)
    // table symmetry: flipping the sign bit negates every value
    for (c <- 0 until 128)
      assert(WavMulaw.expand(c) == -WavMulaw.expand(c | 0x80))
  }

  test("encode→decode roundtrip: one sample per payload byte, chunk " +
    "walk skips spliced chunks") {
    val payload = Array[Byte](0x00, 0xFF.toByte, 0x80.toByte)
    val wav = WavMulaw.encode(payload, 8000)
    assert(ints(WavMulaw.samples(wav)) == Seq(-32124, 0, 32124))
    // splice an odd-sized LIST chunk between fact and data (fact ends
    // at byte 50 in the encoder's fixed layout: 12 + 8+18 fmt + 8+4)
    val extra = "LIST".getBytes(StandardCharsets.US_ASCII) ++
      Array[Byte](3, 0, 0, 0, 9, 9, 9, 0)
    val spliced = wav.slice(0, 50) ++ extra ++ wav.slice(50, wav.length)
    val total = spliced.length - 8
    spliced(4) = (total & 0xff).toByte
    spliced(5) = ((total >> 8) & 0xff).toByte
    assert(ints(WavMulaw.samples(spliced)) == Seq(-32124, 0, 32124))
  }

  test("malformed containers are rejected, not sliced") {
    val wav = WavMulaw.encode(Array[Byte](1, 2), 8000)
    def expectFail(bytes: Array[Byte], hint: String): Unit = {
      val e = intercept[IllegalArgumentException](WavMulaw.samples(bytes))
      assert(e.getMessage.contains(hint), e.getMessage)
    }
    expectFail(Array[Byte](1, 2, 3), "too short")
    expectFail("JUNK".getBytes ++ wav.drop(4), "RIFF")
    val notMulaw = wav.clone(); notMulaw(20) = 1 // audio format → PCM
    expectFail(notMulaw, "not mu-law")
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
        "wav_mulaw_samples(wav_mulaw_encode(encode(t, 'UTF-8'), 8000))")
        .as("s"))
      .collect()
    // 'a' = 0x61: u=0x9E → sign, e=1, m=14 → -(14<<4 + 132<<1 - 132)
    // = -356; 'b' = 0x62: u=0x9D → -(13<<4 + 132) = -340
    assert(got.head.getSeq[Int](0).toList == List(-356, -340))
  }
}
