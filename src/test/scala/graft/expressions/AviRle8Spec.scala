package graft.expressions

import graft.SparkSuite
import org.scalatest.funsuite.AnyFunSuite

/** The RLE8 codec must honor the BI_RLE8 stream semantics: encoded
  * runs, absolute mode, end-of-line/end-of-bitmap escapes, and — the
  * point of the format — the n=2 DELTA escape whose skipped pixels
  * retain the PREVIOUS frame's content (interframe compression against
  * a persistent buffer). Every test replays expectations independently
  * from the row-color model, never from the codec's own internals. */
class AviRle8Spec extends AnyFunSuite with SparkSuite {

  private val W = AviRle8.FrameW
  private val H = AviRle8.FrameH

  /** Independent model replay: row y of frame f is a solid run of
    * color payload[f·8+y] (0 past the end) through the palette
    * r=i, g=255−i, b=i⊕85, packed 0xRRGGBB. */
  private def expectedPixels(payload: Array[Byte]): Array[Int] = {
    val nf = math.max(1, (payload.length + H - 1) / H)
    Array.tabulate(nf * W * H) { i =>
      val row = i / W
      val c = if (row < payload.length) payload(row) & 0xff else 0
      (c << 16) | ((255 - c) << 8) | (c ^ 85)
    }
  }

  /** Independent encoded-size replay: 1248 container/header bytes plus,
    * per frame, 8 (chunk header) + 2 (end-of-bitmap) + per CHANGED row
    * 20 (absolute, odd color) or 4 (encoded run, even) + 4 per delta
    * escape (a changed row preceded by ≥1 unchanged rows). */
  private def expectedSize(payload: Array[Byte]): Int = {
    val nf = math.max(1, (payload.length + H - 1) / H)
    def c(i: Int) = if (i < payload.length) payload(i) & 0xff else 0
    1248 + (0 until nf).map { f =>
      val rows = (0 until H).map { y =>
        val changed = f == 0 || c(f * H + y) != c((f - 1) * H + y)
        val skipBefore = changed && y > 0 &&
          c(f * H + y - 1) == (if (f == 0) -1 else c((f - 1) * H + y - 1))
        (if (changed) (if ((c(f * H + y) & 1) == 1) 20 else 4) else 0) +
          (if (skipBefore) 4 else 0)
      }.sum
      10 + rows
    }.sum
  }

  private def px(avi: Array[Byte]): Array[Int] =
    AviRle8.pixels(avi).toIntArray()

  test("roundtrip: decoded pixels equal the model replay, every mode") {
    // colors mix odd (absolute mode) and even (encoded runs); frames
    // repeat rows across frame boundaries (delta escapes + early EOB)
    val payload = Array[Byte](2, 3, 2, 3, 7, 8, 8, 0, // frame 0: intra
      2, 3, 9, 3, 7, 8, 4, 0, // frame 1: rows 2 (odd) and 6 (even)
      2, 3, 9, 3, 7, 8, 4, 0, // frame 2: identical -> EOB-only frame
      5) // frame 3: row 0 changes, rows 1.. all change (tail now 0)
    val avi = AviRle8.encode(payload)
    assert(px(avi).toSeq == expectedPixels(payload).toSeq)
    assert(avi.length == expectedSize(payload))
  }

  test("interframe delta: an identical frame costs exactly 10 bytes " +
    "and decodes by persisting the previous frame's buffer") {
    val still = Array.fill[Byte](4 * H)(42) // 4 identical frames
    val avi = AviRle8.encode(still)
    // cross-read the container with the DIB walker: '00dc' payloads
    val frames = AviDib.frames(avi)
      .toArray[Array[Byte]](org.apache.spark.sql.types.BinaryType)
    assert(frames.length == 4)
    // frame 0 carries all 8 rows; frames 1..3 are end-of-bitmap only
    assert(frames(0).length > 2)
    assert(frames.drop(1).forall(_.toSeq == Seq[Byte](0, 1)))
    assert(px(avi).toSeq == expectedPixels(still).toSeq)
  }

  test("mode selection is observable in the stream: odd colors emit " +
    "absolute mode, even colors encoded runs") {
    val avi = AviRle8.encode(Array[Byte](7, 4)) // row 0 odd, row 1 even
    val f0 = AviDib.frames(avi)
      .toArray[Array[Byte]](org.apache.spark.sql.types.BinaryType)
      .head
    // absolute: 00 10 then 16 literal 7s; after EOL, run: 10 04
    assert((f0(0) & 0xff) == 0 && (f0(1) & 0xff) == W)
    assert(f0.slice(2, 2 + W).forall(_ == 7))
    val afterEol = 2 + W + 2
    assert((f0(afterEol) & 0xff) == W && (f0(afterEol + 1) & 0xff) == 4)
  }

  test("empty payload: one intra frame of color 0") {
    val avi = AviRle8.encode(Array.empty[Byte])
    val p = px(avi)
    assert(p.length == W * H)
    assert(p.forall(_ == ((255 << 8) | 85)))
    assert(avi.length == expectedSize(Array.empty[Byte]))
  }

  test("malformed streams are rejected with descriptive errors") {
    // frame 1 repeats frame 0's row 0 (payload byte 8 = 2), so its
    // stream must OPEN with the delta escape 00 02 dx dy
    val avi = AviRle8.encode(Array[Byte](2, 3, 4, 5, 6, 7, 8, 9, 2))
    def expectFail(bytes: Array[Byte], hint: String): Unit = {
      val e = intercept[IllegalArgumentException](AviRle8.pixels(bytes))
      assert(e.getMessage.contains(hint), e.getMessage)
    }
    val badMagic = avi.clone(); badMagic(0) = 'X'.toByte
    expectFail(badMagic, "RIFF")
    // forge dwTotalFrames (avih payload +16, after RIFF(12)+LIST(12)+8)
    val forged = avi.clone(); forged(12 + 12 + 8 + 16) = 99.toByte
    expectFail(forged, "declares")
    // locate frame 0's stream: first '00dc' chunk body
    val movi = {
      var i = 12
      while (AviRle8SpecUtil.fourcc(avi, i) != "00dc") i += 1
      i + 8
    }
    // a run of 16 at x=0 is legal; corrupt the count to 17 -> crosses
    val cross = avi.clone(); cross(movi) = 17.toByte
    expectFail(cross, "crosses the row end")
    // truncation mid-stream
    expectFail(java.util.Arrays.copyOf(avi, movi + 1), "overruns")
    // delta jumping out of bounds: frame 1 starts with 00 02 dx dy
    val f1 = {
      var i = movi
      while (AviRle8SpecUtil.fourcc(avi, i) != "00dc") i += 1
      i + 8
    }
    assert((avi(f1) & 0xff) == 0 && (avi(f1 + 1) & 0xff) == 2)
    val oob = avi.clone(); oob(f1 + 3) = 100.toByte
    expectFail(oob, "out of bounds")
  }

  test("expression pipeline: encode feeds octet_length and the decode " +
    "in one projection over a DataFrame") {
    graft.GraftExtensions.ensureRegistered(spark)
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val payload = "graft".getBytes("UTF-8")
    val row = Seq("graft").toDF("t")
      .select(expr("avi_rle8_encode(encode(t, 'UTF-8'))").as("a"))
      .select(octet_length($"a").as("nb"),
        size(expr("avi_rle8_pixels(a)")).as("np"))
      .collect().head
    assert(row.getInt(0) == expectedSize(payload))
    assert(row.getInt(1) == expectedPixels(payload).length)
  }
}

private object AviRle8SpecUtil {
  def fourcc(b: Array[Byte], off: Int): String =
    new String(b.slice(off, off + 4), java.nio.charset.StandardCharsets.US_ASCII)
}
