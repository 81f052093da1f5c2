package graft

import graft.expressions.StaticCall
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.OctetLength
import org.apache.spark.sql.catalyst.plans.logical.Filter
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

/** The function table: a session created with
  * `spark.sql.extensions=graft.GraftExtensions` and a factory session
  * after `ensureRegistered` (which the query registry calls for sessions
  * created without the config) carry the same functions and the same
  * optimizer rule, and every static-call row behaves as a built-in. */
class ExtensionsSpec extends AnyFunSuite {

  private val names = GraftExtensions.functions.map(_.name)

  /** A session created with the extensions config, stopped afterwards. */
  private def withExtensionsSession(f: SparkSession => Unit): Unit = {
    // spark.sql.extensions is a STATIC conf read when the SparkContext
    // is first created — a context inherited from an earlier suite would
    // silently ignore it. Suites run sequentially in the single forked
    // test JVM, so stop any existing context; the next suite's lazy
    // getOrCreate recreates one.
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = Session.builder(4)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    try f(s)
    finally {
      s.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }

  /** The factory's session (no extensions config) after ensureRegistered. */
  private def registered(): SparkSession = {
    val s = Session.builder(4).getOrCreate()
    GraftExtensions.ensureRegistered(s)
    s
  }

  /** Every table name resolves, and a decoded-length guard leaves the
    * Filter as the byte-length precondition. */
  private def assertTableAndRule(s: SparkSession): Unit = {
    val missing = names.filterNot(s.catalog.functionExists)
    assert(missing.isEmpty, s"unresolved: ${missing.mkString(", ")}")
    val guarded = s.range(4)
      .selectExpr("CAST(CAST(id AS STRING) AS BINARY) AS p")
      .where("size(wav_pcm16_samples(wav_pcm16_encode(p, 8000))) >= 2")
    val conds = guarded.queryExecution.optimizedPlan.collect {
      case f: Filter => f.condition
    }
    assert(conds.exists(_.exists(_.isInstanceOf[OctetLength])) &&
      !conds.exists(_.exists(_.isInstanceOf[StaticCall])),
      s"RewriteCodecLengthGuards did not fire: ${conds.mkString("; ")}")
  }

  test("spark.sql.extensions config registers all graft functions") {
    withExtensionsSession { s =>
      val r = s.sql(
        """SELECT vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS v,
          |  simhash64('a b c') AS h,
          |  size(minhash_bands('a b c', 3, 12, 4)) AS nb,
          |  size(shingle_hashes('a b c d', 2)) AS ns,
          |  jaccard_sorted(array(1L, 2L, 3L), array(2L, 3L, 4L)) AS j
          |""".stripMargin).collect().head
      assert(r.getDouble(0) == 11.0)
      assert(r.getInt(2) == 4)
      assert(r.getInt(3) == 3)
      assert(r.getDouble(4) == 0.5)
    }
  }

  test("the table names each function once; both routes resolve every " +
    "name and carry RewriteCodecLengthGuards") {
    assert(names.size == 54 && names.distinct.size == names.size)
    withExtensionsSession(assertTableAndRule)
    assertTableAndRule(registered())
  }

  test("every static-call target is one static method of the declared arity") {
    GraftExtensions.calls.foreach { sig =>
      assert(sig.resolve().getParameterCount == sig.inputs.length, sig.name)
    }
  }

  /** The messages of `e` and its causes. */
  private def messages(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString(" | ")

  test("a wrong argument count fails with the name, the expected and the " +
    "given count") {
    val s = registered()
    for ((sql, expected) <- Seq(
        "wav_pcm16_samples(X'00', X'01')" ->
          "wav_pcm16_samples: wrong number of arguments: expected 1, got 2",
        "vec_dot(array(1.0D))" ->
          "vec_dot: wrong number of arguments: expected 2, got 1",
        "shingle_hashes('a b c', 2, 3)" ->
          "shingle_hashes: wrong number of arguments: expected 1 or 2, got 3")) {
      val e = intercept[Exception](s.sql(s"SELECT $sql").collect())
      assert(messages(e).contains(expected), messages(e))
    }
  }

  test("argument types are checked exactly: jaccard_sorted rejects " +
    "arrays that may hold nulls, vec_dot accepts both") {
    val s = registered()
    val e = intercept[Exception](s.sql(
      "SELECT jaccard_sorted(array(1L, CAST(NULL AS BIGINT)), array(1L))"))
    assert(messages(e).contains("jaccard_sorted requires"), messages(e))
    intercept[Exception](s.sql("SELECT png_width('not binary')"))
    assert(s.sql("SELECT vec_dot(array(1.0D, CAST(NULL AS DOUBLE)), " +
      "array(1.0D, 2.0D)) AS v").schema.head.name == "v")
  }

  private val payload = "CAST(repeat('graft static call ', 12) AS BINARY)"

  /** (encoder, its constant arguments, the functions that decode it). */
  private val codecs: Seq[(String, Seq[String], Seq[String])] = Seq(
    ("wav_pcm16_encode", Seq("8000"), Seq("wav_pcm16_samples", "wav_sample_rate")),
    ("wav_ima_encode", Seq("8000"), Seq("wav_ima_samples")),
    ("wav_mulaw_encode", Seq("8000"), Seq("wav_mulaw_samples")),
    ("wav_alaw_encode", Seq("8000"), Seq("wav_alaw_samples")),
    ("bmp_rgb24_encode", Seq("8"), Seq("bmp_rgb24_pixels", "bmp_width", "bmp_height")),
    ("avi_dib_encode", Seq("96"), Seq("avi_dib_frames")),
    ("avi_rle8_encode", Nil, Seq("avi_rle8_pixels")),
    ("png_gray8_encode", Seq("16"),
      Seq("png_gray8_pixels", "png_filter_types", "png_width", "png_height")),
    ("png_rgb24_encode", Seq("8"), Seq("png_rgb24_pixels")),
    ("png_palette_encode", Seq("8"), Seq("png_palette_rgb")),
    ("png_adam7_encode", Seq("16"), Seq("png_adam7_pixels", "png_adam7_filter_types")),
    ("jpeg_gray8_encode", Seq("2"),
      Seq("jpeg_gray8_pixels", "jpeg_dc_categories", "jpeg_width", "jpeg_height")),
    ("jpeg_gray8_encode_rst", Seq("2", "1"), Seq("jpeg_rst_count")),
    ("jpeg_ycbcr420_encode", Seq("1", "100", "150"), Seq("jpeg_rgb_pixels")))

  /** One valid argument list (SQL) per static-call function. */
  private val validArgs: Map[String, Seq[String]] = Map(
    "simhash64" -> Seq("'the quick brown fox'"),
    "nfc_normalize" -> Seq("'cafe\u0301'"),
    "fix_mojibake" -> Seq("'caf\u00c3\u00a9'"),
    "vec_dot" -> Seq("array(1.0D, 2.0D)", "array(3.0D, 4.0D)"),
    "jaccard_sorted" -> Seq("array(1L, 2L, 3L)", "array(2L, 3L, 4L)")) ++
    codecs.flatMap { case (enc, consts, decoders) =>
      val encoded = s"$enc(${(payload +: consts).mkString(", ")})"
      (enc -> (payload +: consts)) +: decoders.map(_ -> Seq(encoded))
    }

  /** Binary values compared by content, at any depth. */
  private def comparable(v: Any): Any = v match {
    case b: Array[Byte] => b.toSeq
    case s: scala.collection.Seq[_] => s.map(comparable)
    case r: Row => r.toSeq.map(comparable)
    case x => x
  }

  test("every static-call function: generated and interpreted code agree, " +
    "null gives null, and the column is named name(args)") {
    val s = registered()
    assert(validArgs.keySet == GraftExtensions.calls.map(_.name).toSet)
    for (sig <- GraftExtensions.calls) {
      val args = validArgs(sig.name)
      val cols = args.indices.map(i => s"a$i")
      // the arguments as data (an RDD scan), so nothing constant-folds
      // the call away from the code under test
      val argDf = s.sql("SELECT " +
        args.zip(cols).map { case (a, c) => s"$a AS $c" }.mkString(", "))
      val valid = argDf.collect().head
      val rows = valid +: cols.indices.map(i =>
        Row.fromSeq(valid.toSeq.updated(i, null)))
      val df = s.createDataFrame(s.sparkContext.parallelize(rows, 1),
        StructType(argDf.schema.map(_.copy(nullable = true))))
      val call = s"${sig.name}(${cols.mkString(", ")})"
      def run(mode: String, wholeStage: Boolean): Seq[Any] = {
        s.conf.set("spark.sql.codegen.factoryMode", mode)
        s.conf.set("spark.sql.codegen.wholeStage", wholeStage.toString)
        try df.selectExpr(call).collect().toSeq.map(r => comparable(r.get(0)))
        finally {
          s.conf.unset("spark.sql.codegen.factoryMode")
          s.conf.unset("spark.sql.codegen.wholeStage")
        }
      }
      val generated = run("CODEGEN_ONLY", wholeStage = true)
      val interpreted = run("NO_CODEGEN", wholeStage = false)
      assert(generated.head != null, sig.name)
      assert(generated == interpreted, sig.name)
      assert(generated.tail.forall(_ == null), s"${sig.name}: null in, not null out")
      assert(df.selectExpr(call).columns.toSeq == Seq(call))
    }
  }
}
