package graft

import graft.expressions.{AnchorWindowsExpr, BpeMergeWordExpr, CallSig, KmvSketchAgg, MgSketchAgg, MinHashBandsExpr, PhraseMatchExpr, PhraseRedactExpr, SeedWindowsExpr, ShingleHashesExpr, ShingleStringsExpr, StaticCall, TopKPairsAgg}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, DoubleType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Engine extension point: registers [[GraftExtensions.functions]] and
  * the codec-guard optimizer rule with a session, either through the
  * `spark.sql.extensions=graft.GraftExtensions` config or lazily with
  * [[GraftExtensions.ensureRegistered]] (which queries call so they work
  * on sessions created without the config too). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(f => ext.injectFunction(f.entry))
    // a guard on a codec's DECODED length becomes the exact byte-length
    // precondition on the raw payload, so the codec never runs inside a
    // Filter (q8h's double decode; InferFiltersFromGenerate makes the
    // same guard for explodes)
    ext.injectOptimizerRule(_ => graft.plans.RewriteCodecLengthGuards)
  }
}

object GraftExtensions {

  /** One SQL function: its name, the class that implements it, the
    * argument counts it takes, and its builder, which runs only on one
    * of those counts. */
  final case class Fn(name: String, impl: Class[_], arities: Seq[Int],
      build: Seq[Expression] => Expression) {
    def builder(args: Seq[Expression]): Expression = {
      if (!arities.contains(args.length))
        throw new IllegalArgumentException(s"$name: wrong number of " +
          s"arguments: expected ${arities.mkString(" or ")}, got ${args.length}")
      build(args)
    }
    val entry: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
      (FunctionIdentifier(name), new ExpressionInfo(impl.getName, name), builder)
  }

  private val bin = Seq(BinaryType)
  private val int = Seq(IntegerType)
  private val str = Seq(StringType)
  private val ints = ArrayType(IntegerType, containsNull = false)

  private def sig(name: String, target: String, result: DataType,
      inputs: Seq[DataType]*): CallSig =
    CallSig(name, inputs, result, s"graft.expressions.$target")

  /** The functions that are one null-propagating static call. */
  val calls: Seq[CallSig] = Seq(
    sig("simhash64", "SimHash64.compute", LongType, str),
    sig("nfc_normalize", "NfcNormalize.eval", StringType, str),
    sig("fix_mojibake", "MojibakeRepair.eval", StructType(Seq(
      StructField("fixed", StringType, nullable = false),
      StructField("iters", IntegerType, nullable = false))), str),
    sig("vec_dot", "VectorDot.compute", DoubleType,
      Seq(ArrayType(DoubleType, true), ArrayType(DoubleType, false)),
      Seq(ArrayType(DoubleType, true), ArrayType(DoubleType, false))),
    // arrays that may hold nulls are rejected: the merge reads primitive
    // longs, so a null slot would read as 0. Sorted, distinct elements
    // are the input contract (shingle_hashes makes them), unchecked here
    sig("jaccard_sorted", "ShingleJaccard.jaccardSorted", DoubleType,
      Seq(ArrayType(LongType, false)), Seq(ArrayType(LongType, false))),
    sig("wav_pcm16_encode", "WavPcm16.encode", BinaryType, bin, int),
    sig("wav_pcm16_samples", "WavPcm16.samples", ints, bin),
    sig("wav_sample_rate", "WavPcm16.sampleRate", IntegerType, bin),
    sig("wav_ima_encode", "WavImaAdpcm.encode", BinaryType, bin, int),
    sig("wav_ima_samples", "WavImaAdpcm.samples", ints, bin),
    sig("wav_mulaw_encode", "WavMulaw.encode", BinaryType, bin, int),
    sig("wav_mulaw_samples", "WavMulaw.samples", ints, bin),
    sig("wav_alaw_encode", "WavAlaw.encode", BinaryType, bin, int),
    sig("wav_alaw_samples", "WavAlaw.samples", ints, bin),
    sig("bmp_rgb24_encode", "BmpRgb24.encode", BinaryType, bin, int),
    sig("bmp_rgb24_pixels", "BmpRgb24.pixels", ints, bin),
    sig("bmp_width", "BmpRgb24.width", IntegerType, bin),
    sig("bmp_height", "BmpRgb24.height", IntegerType, bin),
    sig("avi_dib_encode", "AviDib.encode", BinaryType, bin, int),
    sig("avi_dib_frames", "AviDib.frames",
      ArrayType(BinaryType, containsNull = false), bin),
    sig("avi_rle8_encode", "AviRle8.encode", BinaryType, bin),
    sig("avi_rle8_pixels", "AviRle8.pixels", ints, bin),
    sig("png_gray8_encode", "PngGray8.encode", BinaryType, bin, int),
    sig("png_gray8_pixels", "PngGray8.pixels", ints, bin),
    sig("png_filter_types", "PngGray8.filterTypes", ints, bin),
    sig("png_rgb24_encode", "PngGray8.encodeRgb24", BinaryType, bin, int),
    sig("png_rgb24_pixels", "PngGray8.pixelsRgb24", ints, bin),
    sig("png_palette_encode", "PngGray8.encodePalette", BinaryType, bin, int),
    sig("png_palette_rgb", "PngGray8.pixelsPaletteRgb", ints, bin),
    sig("png_width", "PngGray8.width", IntegerType, bin),
    sig("png_height", "PngGray8.height", IntegerType, bin),
    sig("png_adam7_encode", "PngGray8.encodeAdam7", BinaryType, bin, int),
    sig("png_adam7_pixels", "PngGray8.pixelsAdam7", ints, bin),
    sig("png_adam7_filter_types", "PngGray8.filterTypesAdam7", ints, bin),
    sig("jpeg_gray8_encode", "JpegGray8.encode", BinaryType, bin, int),
    sig("jpeg_gray8_encode_rst", "JpegGray8.encodeRestart", BinaryType,
      bin, int, int),
    sig("jpeg_ycbcr420_encode", "JpegGray8.encodeYcbcr420", BinaryType,
      bin, int, int, int),
    sig("jpeg_gray8_pixels", "JpegGray8.pixels", ints, bin),
    sig("jpeg_rgb_pixels", "JpegGray8.pixelsRgb", ints, bin),
    sig("jpeg_dc_categories", "JpegGray8.dcCategories", ints, bin),
    sig("jpeg_width", "JpegGray8.width", IntegerType, bin),
    sig("jpeg_height", "JpegGray8.height", IntegerType, bin),
    sig("jpeg_rst_count", "JpegGray8.rstCount", IntegerType, bin))

  // k must be a compile-time constant but any foldable integral form
  // is fine (3, 3L, 1+2, CAST(3 AS INT)); k < 1 is meaningless (the
  // whole-text fallback would silently make every Jaccard 1.0)
  private def constK(fn: String, e: Expression): Int = {
    val v = if (e.foldable) e.eval() else null
    val k = v match {
      case i: Int => i
      case l: Long => l.toInt
      case s: Short => s.toInt
      case b: Byte => b.toInt
      case _ => throw new IllegalArgumentException(
        s"$fn requires constant integer arguments, got $e")
    }
    require(k >= 1, s"$fn arguments must be >= 1, got $k")
    k
  }

  /** A constant '|'-joined list argument, split. */
  private def constList(fn: String, what: String, e: Expression): Seq[String] =
    (if (e.foldable) e.eval() else null) match {
      case s: UTF8String => s.toString.split('|').toSeq
      case _ => throw new IllegalArgumentException(
        s"$fn requires a constant '|'-joined $what list")
    }

  /** Every graft SQL function: the static calls, then the ones with
    * their own expression class (aggregates, and those that fold
    * constant arguments into their node). */
  val functions: Seq[Fn] = calls.map(s =>
    Fn(s.name, classOf[StaticCall], Seq(s.inputs.length), StaticCall(s, _))) ++ Seq(
    Fn("minhash_bands", classOf[MinHashBandsExpr], Seq(1, 4), {
      case Seq(text) => MinHashBandsExpr(text, 3, 12, 4)
      case Seq(text, k, nh, nb) =>
        def intArg(e: Expression, default: Int): Int = e match {
          case Literal(v: Int, _) => v
          case _ => default
        }
        MinHashBandsExpr(text, intArg(k, 3), intArg(nh, 12), intArg(nb, 4))
    }),
    Fn("shingle_hashes", classOf[ShingleHashesExpr], Seq(1, 2), {
      case Seq(text) => ShingleHashesExpr(text, 3)
      case Seq(text, k) => ShingleHashesExpr(text, constK("shingle_hashes", k))
    }),
    Fn("shingle_strings", classOf[ShingleStringsExpr], Seq(1, 2), {
      case Seq(text) => ShingleStringsExpr(text, 3)
      case Seq(text, k) => ShingleStringsExpr(text, constK("shingle_strings", k))
    }),
    Fn("anchor_windows", classOf[AnchorWindowsExpr], Seq(1, 4), {
      case Seq(text) => AnchorWindowsExpr(text, 4, 32, 8)
      case Seq(text, k, w, m) => AnchorWindowsExpr(text,
        constK("anchor_windows", k), constK("anchor_windows", w),
        constK("anchor_windows", m))
    }),
    Fn("seed_windows", classOf[SeedWindowsExpr], Seq(2), {
      case Seq(text, k) => SeedWindowsExpr(text, constK("seed_windows", k))
    }),
    Fn("phrase_matches", classOf[PhraseMatchExpr], Seq(2), {
      case Seq(text, spec) =>
        PhraseMatchExpr(text, constList("phrase_matches", "phrase", spec))
    }),
    Fn("phrase_redact", classOf[PhraseRedactExpr], Seq(3), {
      case Seq(text, spec, tags) => PhraseRedactExpr(text,
        constList("phrase_redact", "phrase", spec),
        constList("phrase_redact", "tag", tags))
    }),
    // the result's element nullability follows the input's
    Fn("bpe_merge_word", classOf[BpeMergeWordExpr], Seq(3), {
      case Seq(t, a, b) => BpeMergeWordExpr(t, a, b)
    }),
    Fn("kmv_sketch", classOf[KmvSketchAgg], Seq(2), {
      case Seq(h, k) => KmvSketchAgg(h, constK("kmv_sketch", k))
    }),
    Fn("topk_pairs", classOf[TopKPairsAgg], Seq(3), {
      case Seq(a, b, k) => TopKPairsAgg(a, b, constK("topk_pairs", k))
    }),
    Fn("mg_sketch", classOf[MgSketchAgg], Seq(2), {
      case Seq(item, k) => MgSketchAgg(item, constK("mg_sketch", k))
    }))

  /** Idempotent per-session registration for sessions created without
    * the extensions config. */
  def ensureRegistered(spark: SparkSession): Unit = {
    val registry = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    for (f <- functions) {
      val (id, info, builder) = f.entry
      if (!registry.functionExists(id)) registry.registerFunction(id, info, builder)
    }
    // the codec-guard rule, through experimental.extraOptimizations
    // (applied at the end of every optimization run)
    if (!spark.experimental.extraOptimizations
        .contains(graft.plans.RewriteCodecLengthGuards))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+
          graft.plans.RewriteCodecLengthGuards
  }
}
