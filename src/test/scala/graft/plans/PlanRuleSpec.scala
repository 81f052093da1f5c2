package graft.plans

import graft.SparkSuite
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The RewriteCodecLengthGuards optimizer rule, proven from plans AND
  * from values: a naive guard on a codec's decoded length must leave
  * the Filter as a cheap octet_length precondition (codec runs once,
  * in the Project), and must select exactly the same rows. */
class PlanRuleSpec extends AnyFunSuite with BeforeAndAfterAll
    with SparkSuite {

  override def beforeAll(): Unit = {
    super.beforeAll()
    graft.GraftExtensions.ensureRegistered(spark)
  }

  // parquet-backed (a local Seq would constant-fold the whole plan
  // into a LocalRelation and there would be no Filter to audit)
  private lazy val docsPath: String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("plan-rule").toString
    Seq((1L, ""), (2L, "a"), (3L, "abcdefghij"),
      (4L, "x" * 97), (5L, "y" * 300)).toDF("doc_id", "text")
      .select($"doc_id", encode($"text", "UTF-8").as("payload"))
      .write.mode("overwrite").parquet(dir)
    dir
  }
  private def docs = spark.read.parquet(docsPath)

  private def filterCond(df: org.apache.spark.sql.DataFrame): String = {
    val p = df.queryExecution.explainString(FormattedMode)
    p.linesIterator.filter(_.startsWith("Condition")).mkString("\n")
  }

  test("WAV: size(samples(encode(p))) >= k becomes octet_length(p) >= 2k " +
    "and the codec leaves the Filter") {
    val df = docs
      .select(col("doc_id"),
        expr("wav_pcm16_samples(wav_pcm16_encode(payload, 16000))")
          .as("smp"))
      .filter(size(col("smp")) >= 4)
    val cond = filterCond(df)
    assert(cond.contains("octet_length") && cond.contains(">= 8"),
      s"guard not rewritten to the byte domain: $cond")
    assert(!cond.contains("wav_pcm16"),
      s"codec still evaluated inside the Filter: $cond")
    // value preservation: >= 4 samples ⟺ >= 8 payload bytes
    assert(df.select("doc_id").collect().map(_.getLong(0)).sorted
      .sameElements(Array(3L, 4L, 5L)))
  }

  test("WAV: the strict > form rewrites too") {
    val df = docs
      .select(col("doc_id"),
        expr("wav_pcm16_samples(wav_pcm16_encode(payload, 16000))")
          .as("smp"))
      .filter(size(col("smp")) > 0)
    val cond = filterCond(df)
    assert(cond.contains("octet_length") && !cond.contains("wav_pcm16"),
      s"strict-bound guard not rewritten: $cond")
    assert(df.count() == 3) // every doc with >= 2 payload bytes
  }

  test("AVI: size(frames(encode(p, 96))) >= 2 becomes " +
    "octet_length(p) > 96") {
    val df = docs
      .select(col("doc_id"),
        expr("avi_dib_frames(avi_dib_encode(payload, 96))").as("frames"))
      .filter(size(col("frames")) >= 2)
    val cond = filterCond(df)
    assert(cond.contains("octet_length") && cond.contains("> 96"),
      s"frame guard not rewritten: $cond")
    assert(!cond.contains("avi_dib"),
      s"codec still evaluated inside the Filter: $cond")
    // n_frames = max(1, ceil(bytes/96)): only the 97- and 300-byte docs
    assert(df.select("doc_id").collect().map(_.getLong(0)).sorted
      .sameElements(Array(4L, 5L)))
  }

  test("AVI: k <= 1 is left alone (always true by the encoder's " +
    "at-least-one-frame contract, not this rule's business)") {
    val df = docs
      .select(col("doc_id"),
        expr("avi_dib_frames(avi_dib_encode(payload, 96))").as("frames"))
      .filter(size(col("frames")) >= 1)
    assert(df.count() == 5, "every doc has at least one frame")
    assert(!filterCond(df).contains("octet_length"),
      "k <= 1 must not be rewritten")
  }

  test("non-literal bounds are not touched") {
    val df = docs
      .select(col("doc_id"), col("payload"),
        expr("wav_pcm16_samples(wav_pcm16_encode(payload, 16000))")
          .as("smp"))
      .filter(size(col("smp")) >= col("doc_id").cast("int"))
    assert(!filterCond(df).contains("octet_length"),
      "a non-literal bound must not be rewritten")
    // floor(bytes/2) >= doc_id: doc 1 (0 samples >= 1? no)… compute:
    // bytes = 0,1,10,97,300 → samples = 0,0,5,48,150; ids 3,4,5 pass
    assert(df.select("doc_id").collect().map(_.getLong(0)).sorted
      .sameElements(Array(3L, 4L, 5L)))
  }

  test("the inferred explode guard is rewritten as well: a naive " +
    "posexplode over the decode carries no codec in any Filter") {
    // this is the InferFiltersFromGenerate shape that made seven
    // queries double-decode before r14 — with the rule, even the
    // NAIVE formulation plans one decode
    val df = docs
      .select(col("doc_id"),
        expr("wav_pcm16_samples(wav_pcm16_encode(payload, 16000))")
          .as("smp"))
      .select(col("doc_id"), posexplode(col("smp")))
    val p = df.queryExecution.explainString(FormattedMode)
    val conds = p.linesIterator.filter(_.startsWith("Condition"))
      .mkString("\n")
    assert(!conds.contains("wav_pcm16"),
      s"inferred generate guard still decodes in a Filter: $conds")
    assert(df.count() == 0 + 0 + 5 + 48 + 150)
  }

  test("a guard in non-conjunct position (inside OR) is NOT " +
    "rewritten: only top-level conjuncts are sound") {
    import spark.implicits._
    // the rule's soundness argument (false-vs-null on a null payload
    // under legacy size(NULL) = -1) only holds where both values drop
    // the row, i.e. in conjunct position — under NOT / OR they can
    // differ. Spark's BooleanSimplification rewrites NOT of a
    // comparison into the flipped comparison before user rules run,
    // so OR is the non-conjunct context that actually reaches us;
    // assert the guard survives untouched there, with a null payload
    // present to keep the plan honest about nullability
    val dir = java.nio.file.Files.createTempDirectory("plan-rule-or")
      .toString
    Seq((1L, Some("abcdef")), (2L, None: Option[String]))
      .toDF("doc_id", "text")
      .select($"doc_id", encode($"text", "UTF-8").as("payload"))
      .write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
      .select(col("doc_id"),
        expr("wav_pcm16_samples(wav_pcm16_encode(payload, 16000))")
          .as("smp"))
      .filter(size(col("smp")) >= 2 || col("doc_id") === 2L)
    val cond = filterCond(df)
    assert(!cond.contains("octet_length"),
      s"a guard inside OR must be left alone: $cond")
    assert(cond.contains("wav_pcm16"),
      s"expected the codec guard to survive in the Filter: $cond")
    // doc 1 passes the size arm (3 samples), doc 2 the OR arm
    assert(df.select("doc_id").collect().map(_.getLong(0)).sorted
      .sameElements(Array(1L, 2L)))
  }
}
