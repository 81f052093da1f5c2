package graft.expressions

import graft.SparkSuite
import org.scalatest.funsuite.AnyFunSuite

/** The AVI codec must honor the container format: frames come from
  * chunk walking (not offsets), the avih frame count is cross-checked,
  * and malformed containers are rejected. */
class AviDibSpec extends AnyFunSuite with SparkSuite {

  private def frameBytes(avi: Array[Byte]): Seq[Array[Byte]] =
    AviDib.frames(avi).toArray[Array[Byte]](
      org.apache.spark.sql.types.BinaryType).toSeq

  test("roundtrip: frames slice the payload; each frame is a valid BMP") {
    val payload = Array.tabulate[Byte](200)(i => (i % 120).toByte)
    val avi = AviDib.encode(payload, 96)
    val fs = frameBytes(avi)
    assert(fs.length == 3) // 96 + 96 + 8
    val logical = fs.flatMap(f =>
      BmpRgb24.pixels(f).toIntArray().map(_.toByte))
    // pixel streams = payload slices + zero tail on the last frame only
    assert(logical.take(200).toSeq == payload.toSeq)
    assert(logical.drop(200).forall(_ == 0))
    assert(fs.forall(f => BmpRgb24.width(f) == AviDib.FrameWidth))
  }

  test("frame count is validated against the avih header") {
    val avi = AviDib.encode(Array.tabulate[Byte](100)(_.toByte), 96)
    // forge dwTotalFrames: avih payload starts after RIFF(12) +
    // LIST hdr(12) + 'avih'+size(8); dwTotalFrames at +16
    val off = 12 + 12 + 8 + 16
    val forged = avi.clone()
    forged(off) = 9
    val e = intercept[IllegalArgumentException](AviDib.frames(forged))
    assert(e.getMessage.contains("declares"), e.getMessage)
  }

  test("malformed containers are rejected") {
    val avi = AviDib.encode(Array[Byte](1, 2, 3), 96)
    def expectFail(bytes: Array[Byte], hint: String): Unit = {
      val e = intercept[IllegalArgumentException](AviDib.frames(bytes))
      assert(e.getMessage.contains(hint), e.getMessage)
    }
    val badMagic = avi.clone(); badMagic(0) = 'X'.toByte
    expectFail(badMagic, "RIFF")
    val badForm = avi.clone(); badForm(8) = 'W'.toByte
    expectFail(badForm, "AVI")
  }

  test("expressions: container decode as columns over a DataFrame") {
    graft.GraftExtensions.ensureRegistered(spark)
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val n = Seq("x" * 200).toDF("t")
      .select(expr("avi_dib_encode(encode(t, 'UTF-8'), 96)").as("a"))
      .select(size(expr("avi_dib_frames(a)")).as("nf"))
      .collect().head.getInt(0)
    assert(n == 3)
  }
}
