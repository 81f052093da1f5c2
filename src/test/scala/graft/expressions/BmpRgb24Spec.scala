package graft.expressions

import graft.SparkSuite
import org.scalatest.funsuite.AnyFunSuite

/** The BMP codec must honor the FORMAT, not just invert its own
  * encoder: stored rows are bottom-up (asserted on the raw container
  * bytes, so a coupled top-down encode/decode pair cannot cancel out),
  * rows pad to 4-byte boundaries, and malformed containers are
  * rejected. */
class BmpRgb24Spec extends AnyFunSuite with SparkSuite {

  private def ints(a: org.apache.spark.sql.catalyst.util.ArrayData) =
    a.toIntArray().toSeq

  test("roundtrip: logical top-down stream survives bottom-up storage") {
    // 18 bytes = 6 pixels; width 2 → 3 rows of 2 px
    val payload = Array.tabulate[Byte](18)(i => (i + 1).toByte)
    val bmp = BmpRgb24.encode(payload, 2)
    assert(BmpRgb24.width(bmp) == 2 && BmpRgb24.height(bmp) == 3)
    assert(ints(BmpRgb24.pixels(bmp)) == (1 to 18))
  }

  test("stored row order is REALLY bottom-up (checked on raw bytes)") {
    val payload = Array.tabulate[Byte](18)(i => (i + 1).toByte)
    val bmp = BmpRgb24.encode(payload, 2)
    // width 2 → rowBytes 6, rowSize 8 (2 pad); first STORED row at 54
    // must be the LAST logical row (payload bytes 13..18)
    assert(bmp.slice(54, 60).toSeq == (13 to 18).map(_.toByte))
    assert(bmp.slice(60, 62).toSeq == Seq(0, 0).map(_.toByte)) // row pad
    assert(bmp.slice(62, 68).toSeq == (7 to 12).map(_.toByte))
  }

  test("row padding and zero-filled tail pixels") {
    // 7 bytes = 3 pixels (last partly zero); width 3 → 1 row,
    // rowBytes 9, rowSize 12
    val payload = Array.tabulate[Byte](7)(i => (10 + i).toByte)
    val bmp = BmpRgb24.encode(payload, 3)
    assert(BmpRgb24.width(bmp) == 3 && BmpRgb24.height(bmp) == 1)
    assert(ints(BmpRgb24.pixels(bmp)) == Seq(10, 11, 12, 13, 14, 15, 16, 0, 0))
    assert(bmp.length == 54 + 12)
  }

  test("malformed containers are rejected") {
    val bmp = BmpRgb24.encode(Array[Byte](1, 2, 3), 1)
    def expectFail(bytes: Array[Byte], hint: String): Unit = {
      val e = intercept[IllegalArgumentException](BmpRgb24.pixels(bytes))
      assert(e.getMessage.contains(hint), e.getMessage)
    }
    val badMagic = bmp.clone(); badMagic(0) = 'X'.toByte
    expectFail(badMagic, "BM magic")
    val bad8bpp = bmp.clone(); bad8bpp(28) = 8
    expectFail(bad8bpp, "24 bpp")
    val rle = bmp.clone(); rle(30) = 1 // BI_RLE8
    expectFail(rle, "uncompressed")
    val truncated = bmp.slice(0, bmp.length - 4)
    expectFail(truncated, "overruns")
  }

  test("expressions over a DataFrame: codegen encode/decode/dims") {
    graft.GraftExtensions.ensureRegistered(spark)
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val got = Seq("abcdef").toDF("t")
      .select(expr("bmp_rgb24_encode(encode(t, 'UTF-8'), 1)").as("b"))
      .select(expr("bmp_rgb24_pixels(b)").as("px"),
        expr("bmp_width(b)").as("w"), expr("bmp_height(b)").as("h"))
      .collect().head
    assert(got.getSeq[Int](0).toList == List(0x61, 0x62, 0x63, 0x64, 0x65, 0x66))
    assert(got.getInt(1) == 1 && got.getInt(2) == 2)
  }
}
