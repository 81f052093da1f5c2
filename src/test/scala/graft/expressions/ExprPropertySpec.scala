package graft.expressions

import graft.SparkSuite
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property tests for the codegen expression kernels: each must be
  * bit-identical to the built-in-expression chain it replaced (or to an
  * obviously-correct scala model) on arbitrary generated inputs, not
  * just the fixtures the unit specs pin. Raw ScalaCheck generators over
  * fixed seeds (scalatestplus bridge isn't on the offline classpath;
  * fixed seeds also make failures exactly reproducible). */
class ExprPropertySpec extends AnyFunSuite with SparkSuite {

  private def sample[A](g: Gen[A], seed: Long): A =
    g(Gen.Parameters.default, Seed(seed)).get

  private val word: Gen[String] =
    Gen.chooseNum(1, 8).flatMap(n =>
      Gen.stringOfN(n, Gen.oneOf(('a' to 'z') ++ ('0' to '9') :+ 'ü')))
  private val text: Gen[String] =
    Gen.chooseNum(0, 30).flatMap(n => Gen.listOfN(n, word))
      .map(_.mkString(" "))

  test("shingle_hashes == sorted distinct xxhash64 of the string shingles") {
    graft.GraftExtensions.ensureRegistered(spark)
    import spark.implicits._
    for (seed <- 0 until 20) {
      val texts = sample(Gen.listOfN(12, text), seed)
      val k = Seq(2, 3, 5)(seed % 3)
      val df = texts.toDF("text")
      // model: the interpreted built-in chain (shinglesOf + xxhash64)
      val w = split($"text", " ")
      val sh = when(size(w) < k, array($"text")).otherwise(
        array_distinct(transform(sequence(lit(1), size(w) - (k - 1)),
          i => concat_ws(" ", slice(w, i, lit(k))))))
      val model = array_sort(array_distinct(transform(sh, x => xxhash64(x))))
      val both = df.select(
        expr(s"shingle_hashes(text, $k)").as("fast"), model.as("slow"))
      assert(both.filter($"fast" =!= $"slow").count() == 0, s"seed=$seed k=$k")
    }
  }

  test("shingle_strings == the interpreted shinglesOf chain") {
    graft.GraftExtensions.ensureRegistered(spark)
    import spark.implicits._
    for (seed <- 0 until 20) {
      val texts = sample(Gen.listOfN(12, text), 500 + seed)
      val k = Seq(2, 3, 5)(seed % 3)
      val df = texts.toDF("text")
      val w = split($"text", " ")
      val model = when(size(w) < k, array($"text")).otherwise(
        array_distinct(transform(sequence(lit(1), size(w) - (k - 1)),
          i => concat_ws(" ", slice(w, i, lit(k))))))
      val both = df.select(
        expr(s"shingle_strings(text, $k)").as("fast"), model.as("slow"))
      assert(both.filter($"fast" =!= $"slow").count() == 0, s"seed=$seed k=$k")
    }
  }

  test("jaccard_sorted == set-model Jaccard on arbitrary long sets") {
    graft.GraftExtensions.ensureRegistered(spark)
    import spark.implicits._
    val longSet = Gen.chooseNum(0, 12).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(-100L, 100L)).map(_.distinct.sorted))
    val pairs = (0 until 40).map(i =>
      (sample(longSet, i), sample(longSet, 1000 + i)))
    val got = pairs.toDF("a", "b")
      .select(expr("jaccard_sorted(a, b)")).collect().map(_.getDouble(0))
    pairs.zip(got).foreach { case ((a, b), g) =>
      val expected =
        if (a.isEmpty && b.isEmpty) 1.0
        else a.toSet.intersect(b.toSet).size.toDouble /
          a.toSet.union(b.toSet).size
      assert(math.abs(g - expected) < 1e-12, s"a=$a b=$b")
    }
  }

  test("uuid5 column minter == JVM minter on arbitrary strings") {
    import spark.implicits._
    val m = graft.ids.IdMinter.gtex
    val anyStr = Gen.chooseNum(0, 20).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf(Gen.alphaNumChar, Gen.oneOf('|', '/', ' ',
        'é', '中', '-', '.'))).map(_.mkString))
    val vs = (0 until 60).map(i => sample(anyStr, i))
    val got = vs.toDF("v").select(m.mintCol($"v")).collect()
      .map(_.getString(0)).toSeq
    assert(got == vs.map(m.mint))
  }

  test("png round-trip (gray8 AND rgb24) == payload + zero tail, " +
    "ImageIO agrees, on arbitrary payload/width") {
    for (seed <- 0 until 12) {
      val n = sample(Gen.chooseNum(0, 3000), seed * 7 + 1)
      val w = sample(Gen.chooseNum(1, 40), seed * 7 + 2)
      val payload = sample(Gen.listOfN(n, Gen.chooseNum(-128, 127)),
        seed * 7 + 3).map(_.toByte).toArray
      val g = PngGray8.encode(payload, w)
      val gp = PngGray8.pixels(g).toIntArray().toSeq
      val gh = math.max(1, (n + w - 1) / w)
      assert(gp.length == gh * w && gp.take(n) == payload.toSeq.map(_ & 0xff)
        && gp.drop(n).forall(_ == 0), s"gray8 round-trip at n=$n w=$w")
      val c = PngGray8.encodeRgb24(payload, w)
      val cp = PngGray8.pixelsRgb24(c).toIntArray().toSeq
      val rb = w * 3
      val ch = math.max(1, (n + rb - 1) / rb)
      assert(cp.length == ch * rb && cp.take(n) == payload.toSeq.map(_ & 0xff)
        && cp.drop(n).forall(_ == 0), s"rgb24 round-trip at n=$n w=$w")
      // decoder-independence at arbitrary geometry: the JDK codec must
      // read our truecolor container to the identical channels
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(c))
      assert(img != null && img.getWidth == w && img.getHeight == ch)
      for (y <- 0 until ch; x <- 0 until w) {
        val v = img.getRGB(x, y)
        val i = (y * w + x) * 3
        assert(((v >> 16) & 0xff) == cp(i) && ((v >> 8) & 0xff) == cp(i + 1)
          && (v & 0xff) == cp(i + 2), s"ImageIO mismatch ($x,$y) n=$n w=$w")
      }
    }
  }

  test("png Adam7 round-trip == payload + zero tail AND == the " +
    "sequential decode, ImageIO agrees, on arbitrary payload/width") {
    for (seed <- 0 until 12) {
      val n = sample(Gen.chooseNum(0, 3000), seed * 11 + 1)
      val w = sample(Gen.chooseNum(1, 40), seed * 11 + 2)
      val payload = sample(Gen.listOfN(n, Gen.chooseNum(-128, 127)),
        seed * 11 + 3).map(_.toByte).toArray
      val lace = PngGray8.encodeAdam7(payload, w)
      val lp = PngGray8.pixelsAdam7(lace).toIntArray().toSeq
      val h = math.max(1, (n + w - 1) / w)
      assert(lp.length == h * w && lp.take(n) == payload.toSeq.map(_ & 0xff)
        && lp.drop(n).forall(_ == 0), s"Adam7 round-trip at n=$n w=$w")
      // interlacing is a layout choice, not a semantic one: the
      // deinterlaced image must equal the sequential container's decode
      val sp = PngGray8.pixels(PngGray8.encode(payload, w))
        .toIntArray().toSeq
      assert(lp == sp, s"Adam7 != sequential decode at n=$n w=$w")
      // decoder-independence at arbitrary pass geometry
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(lace))
      assert(img != null && img.getWidth == w && img.getHeight == h)
      for (y <- 0 until h; x <- 0 until w)
        assert(img.getRaster.getSample(x, y, 0) == lp(y * w + x),
          s"ImageIO mismatch ($x,$y) n=$n w=$w")
    }
  }

  private val rawBytes: Gen[Array[Byte]] =
    Gen.chooseNum(0, 400).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(0, 255)))
      .map(_.map(_.toByte).toArray)

  test("WAV/BMP/AVI/PNG decode arbitrary payloads to their exact " +
    "byte-identity models") {
    for (seed <- 0 until 30) {
      val p = sample(rawBytes, 9000 + seed)
      val n = p.length
      // WAV: floor(n/2) little-endian signed samples
      val smp = WavPcm16.samples(WavPcm16.encode(p, 16000))
        .toIntArray().toSeq
      val smpModel = (0 until n / 2).map { i =>
        val v = (p(2 * i) & 0xff) | ((p(2 * i + 1) & 0xff) << 8)
        if (v > 32767) v - 65536 else v
      }
      assert(smp == smpModel, s"WAV seed=$seed n=$n")
      assert(WavPcm16.sampleRate(WavPcm16.encode(p, 44100)) == 44100)
      // BMP: payload zero-padded to 3·width·height pixel bytes
      val bw = 16
      val bpx = BmpRgb24.pixels(BmpRgb24.encode(p, bw)).toIntArray().toSeq
      val nPx = (n + 2) / 3
      val bh = math.max(1, (nPx + bw - 1) / bw)
      assert(bpx == p.map(_ & 0xff).toSeq.padTo(3 * bw * bh, 0),
        s"BMP seed=$seed n=$n")
      // AVI: max(1, ceil(n/96)) frames; frame f's BMP decode is the
      // payload slice [f·96, f·96+96) zero-padded (the frame-stream
      // identity q86/q8i replay)
      val fr = AviDib.frames(AviDib.encode(p, 96))
      val nf = math.max(1, (n + 95) / 96)
      assert(fr.numElements() == nf, s"AVI frame count seed=$seed n=$n")
      for (f <- 0 until nf) {
        val fp = BmpRgb24.pixels(fr.getBinary(f)).toIntArray().toSeq
        // a PARTIAL last frame pads to its own BMP row geometry
        // (48·rows), not to 96 — the q86 oracle's lastlen arithmetic
        val flen = math.min(96, math.max(0, n - f * 96))
        val fh = math.max(1, ((flen + 2) / 3 + 15) / 16)
        val slice = (0 until 48 * fh).map(k =>
          if (k < flen) p(f * 96 + k) & 0xff else 0)
        assert(fp == slice, s"AVI frame $f seed=$seed n=$n")
      }
      // PNG gray + truecolor: payload zero-padded through the full
      // deflate/unfilter path
      val gp = PngGray8.pixels(PngGray8.encode(p, 16)).toIntArray().toSeq
      val gh = math.max(1, (n + 15) / 16)
      assert(gp == p.map(_ & 0xff).toSeq.padTo(16 * gh, 0),
        s"PNG gray seed=$seed n=$n")
      val rp = PngGray8.pixelsRgb24(PngGray8.encodeRgb24(p, 8))
        .toIntArray().toSeq
      val rh = math.max(1, (n + 23) / 24)
      assert(rp == p.map(_ & 0xff).toSeq.padTo(24 * rh, 0),
        s"PNG rgb seed=$seed n=$n")
    }
  }

  test("JPEG: restart-marker encode decodes identically to the " +
    "single-segment scan at ANY interval (restart invariance)") {
    for (seed <- 0 until 20) {
      val p = sample(rawBytes, 12000 + seed)
      val wb = Seq(2, 4, 7, 8)(seed % 4)
      val base = JpegGray8.pixels(JpegGray8.encode(p, wb)).toIntArray().toSeq
      // every byte expands to one constant 8×8 block — the model the
      // unit spec pins; here re-checked on arbitrary bytes
      val hb = math.max(1, (p.length + wb - 1) / wb)
      val model = for (y <- 0 until hb * 8; x <- 0 until wb * 8) yield {
        val bi = (y / 8) * wb + (x / 8)
        if (bi < p.length) p(bi) & 0xff else 0
      }
      assert(base == model, s"JPEG base seed=$seed wb=$wb")
      // restart intervals, including > nBlocks (no markers emitted)
      for (rst <- Seq(1, 2, 3, 5, 8, 17, 1000)) {
        val withRst = JpegGray8.pixels(
          JpegGray8.encodeRestart(p, wb, rst)).toIntArray().toSeq
        assert(withRst == base,
          s"restart interval $rst changed the decode (seed=$seed wb=$wb)")
      }
    }
  }

  test("simhash64 is word-order-insensitive (bag-of-words sketch)") {
    graft.GraftExtensions.ensureRegistered(spark)
    import spark.implicits._
    val pairs = (0 until 20).map { i =>
      val ws = sample(Gen.chooseNum(1, 12).flatMap(n => Gen.listOfN(n, word)), i)
      val shuffled = new scala.util.Random(i).shuffle(ws)
      (ws.mkString(" "), shuffled.mkString(" "))
    }
    val rows = pairs.toDF("a", "b")
      .select(expr("simhash64(a)"), expr("simhash64(b)")).collect()
    rows.zip(pairs).foreach { case (r, (a, b)) =>
      assert(r.getLong(0) == r.getLong(1), s"'$a' vs '$b'")
    }
  }
}
