package graft.expressions

import graft.SparkSuite
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The custom codegen expression must be bit-identical to the same
  * MD5-based fold re-expressed with BUILT-IN functions only (md5 /
  * substring / conv — no graft code on the comparator side), on real
  * corpus text and on edge cases. This is the engine-vs-independent-
  * recompute evidence backing the q42 oracle, which replays the same
  * formula in DuckDB (`md5_number_lower` — see [[graft.expressions.Md5Hash64]]). */
class MinHashBandsSpec extends AnyFunSuite with SparkSuite {

  /** Md5Hash64.lower63 from built-ins only: md5 hex → bytes 8..15
    * little-endian (reverse the byte-pair hex order) → unsigned decimal
    * via conv → mask the sign bit with mod 2⁶³. */
  private def md5_63(c: Column): Column = {
    val hex = md5(c.cast("binary"))
    val rev = concat((15 to 8 by -1).map(i => substring(hex, i * 2 + 1, 2)): _*)
    (conv(rev, 16, 10).cast("decimal(20,0)") %
      lit(new java.math.BigDecimal("9223372036854775808"))).cast("long")
  }

  /** The same sketch expressed with built-in functions only. */
  private def legacyBands(k: Int, numHashes: Int, numBands: Int) = {
    val rows = numHashes / numBands
    val w = split(col("text"), " ")
    val sh = when(size(w) < k, array(col("text"))).otherwise(
      array_distinct(transform(sequence(lit(1), size(w) - (k - 1)),
        i => concat_ws(" ", slice(w, i, lit(k))))))
    val hs = transform(sh, x => md5_63(x))
    // salt s: rotl64(base, 5s+3) XOR md5_63("salt:"+s), sign-bit-masked.
    // Spark's shiftleft on longs wraps (bitwise, not ANSI arithmetic),
    // so shiftleft|shiftrightunsigned is an exact 64-bit rotate.
    val mins = (0 until numHashes).map { s =>
      val r = 5 * s + 3
      array_min(transform(hs, h =>
        shiftleft(h, r).bitwiseOR(shiftrightunsigned(h, 64 - r))
          .bitwiseXOR(md5_63(lit("salt:" + s)))
          .bitwiseAND(lit(Long.MaxValue))))
    }
    array((0 until numBands).map { b =>
      val body = concat_ws(",",
        (0 until rows).map(r => mins(b * rows + r).cast("string")): _*)
      md5_63(concat(lit(b + ":"), body))
    }: _*)
  }

  test("bit-identical to the built-in chain on sf0.001 documents") {
    graft.GraftExtensions.ensureRegistered(spark)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val both = docs.select(
      expr("minhash_bands(text, 3, 12, 4)").as("fast"),
      legacyBands(3, 12, 4).as("slow"))
    assert(both.filter(col("fast") =!= col("slow")).count() == 0)
    assert(both.count() > 0)
  }

  test("edge cases: short text, trailing spaces, single word") {
    graft.GraftExtensions.ensureRegistered(spark)
    import spark.implicits._
    val edge = Seq("one two", "a", "x y z w", "padded  inner", "t z q ")
      .toDF("text")
    val both = edge.select(
      expr("minhash_bands(text, 3, 12, 4)").as("fast"),
      legacyBands(3, 12, 4).as("slow"))
    assert(both.filter(col("fast") =!= col("slow")).count() == 0)
  }

  test("stays inside whole-stage codegen (no fallback for the projection)") {
    graft.GraftExtensions.ensureRegistered(spark)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = docs.select(expr("minhash_bands(text)"))
      .queryExecution.executedPlan.toString
    // the "*(n)" prefix marks operators inside a WholeStageCodegen stage
    assert(plan.linesIterator.exists(l =>
      l.trim.startsWith("*(") && l.contains("minhash_bands")), plan)
  }
}
