package graft.expressions

import graft.SparkSuite
import java.nio.charset.StandardCharsets

import org.scalatest.funsuite.AnyFunSuite

/** The WAV codec must be a REAL parser: header fields round-trip,
  * samples sign-extend, unknown chunks are skipped by chunk walking
  * (not fixed offsets), and malformed containers are rejected. */
class WavPcm16Spec extends AnyFunSuite with SparkSuite {

  private def ints(a: org.apache.spark.sql.catalyst.util.ArrayData) =
    a.toIntArray().toSeq

  test("encode→decode roundtrip: LE byte pairs, sign extension, odd tail") {
    // 0x0201 = 513; 0xFFFF = -1; trailing 0x7F dropped (blockAlign)
    val payload = Array[Byte](0x01, 0x02, 0xFF.toByte, 0xFF.toByte, 0x7F)
    val wav = WavPcm16.encode(payload, 8000)
    assert(wav.length == 44 + 4)
    assert(ints(WavPcm16.samples(wav)) == Seq(513, -1))
    assert(WavPcm16.sampleRate(wav) == 8000)
  }

  test("decoder walks chunks: an inserted LIST chunk before data is skipped") {
    val wav = WavPcm16.encode(Array[Byte](10, 0, 20, 0), 16000)
    // splice an odd-sized LIST chunk (3 bytes + pad) between fmt and data
    val extra = "LIST".getBytes(StandardCharsets.US_ASCII) ++
      Array[Byte](3, 0, 0, 0, 1, 2, 3, 0)
    val spliced = wav.slice(0, 36) ++ extra ++ wav.slice(36, wav.length)
    // fix the RIFF size field (total - 8)
    val total = spliced.length - 8
    spliced(4) = (total & 0xff).toByte
    spliced(5) = ((total >> 8) & 0xff).toByte
    assert(ints(WavPcm16.samples(spliced)) == Seq(10, 20))
    assert(WavPcm16.sampleRate(spliced) == 16000)
  }

  test("malformed containers are rejected, not sliced") {
    val wav = WavPcm16.encode(Array[Byte](1, 0), 16000)
    def expectFail(bytes: Array[Byte], hint: String): Unit = {
      val e = intercept[IllegalArgumentException](WavPcm16.samples(bytes))
      assert(e.getMessage.contains(hint), e.getMessage)
    }
    expectFail(Array[Byte](1, 2, 3), "too short")
    expectFail("JUNK".getBytes ++ wav.drop(4), "RIFF")
    val badForm = wav.clone(); badForm(8) = 'X'.toByte
    expectFail(badForm, "WAVE")
    val stereo = wav.clone(); stereo(22) = 2 // channels field in fmt
    expectFail(stereo, "mono")
    val notPcm = wav.clone(); notPcm(20) = 3 // audio format field
    expectFail(notPcm, "not PCM")
  }

  test("expressions: encode/decode as codegen columns over a DataFrame") {
    graft.GraftExtensions.ensureRegistered(spark)
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val got = Seq("ab", "wxyz").toDF("t")
      .select(expr("wav_pcm16_encode(encode(t, 'UTF-8'), 44100)").as("w"))
      .select(expr("wav_pcm16_samples(w)").as("s"),
        expr("wav_sample_rate(w)").as("r"))
      .collect()
    // "ab" = 0x61 0x62 → LE 0x6261 = 25185
    assert(got.map(_.getSeq[Int](0).toList).toSeq ==
      Seq(List(25185), List(0x7877, 0x7a79)))
    assert(got.forall(_.getAs[Int]("r") == 44100))
  }
}
