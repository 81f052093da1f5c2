package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Exact-Jaccard verification kernel: distinct word-k-shingles hashed to
  * 64 bits and SORTED, so pairwise Jaccard is a linear merge over two
  * long arrays instead of `array_intersect`/`array_union` over string
  * arrays (both are hash-set ops over UTF8String comparisons, and the
  * surrounding higher-order shingle build is interpreted — measured 19s
  * of a 146s bench at sf0.1 for a constant-size pair set).
  *
  * Same ladder step (b) as [[MinHashBands]]: one tight JVM loop per doc,
  * `doGenCode` keeps the projection inside whole-stage codegen. Hashing
  * uses Spark's own XXH64 (seed 42) so the values line up with
  * [[MinHashBands]]'s per-shingle hashes. |intersection| and |union| are
  * preserved exactly unless two distinct shingles collide in 64 bits
  * (~n²/2⁶⁵ — negligible against any corpus size this runs at).
  */
object ShingleJaccard {

  /** Sorted distinct 64-bit hashes of the word-k-shingles of `text`.
    * Shingling semantics match [[graft.queries.Dedup.shinglesOf]]:
    * documents shorter than k words contribute the whole text once. */
  def shingleHashes(text: UTF8String, k: Int): ArrayData = {
    val words = text.toString.split(" ", -1)
    val set = new java.util.HashSet[java.lang.Long]()
    if (words.length < k) {
      set.add(hashUtf8(text.toString))
    } else {
      val sb = new java.lang.StringBuilder(64)
      var i = 0
      while (i <= words.length - k) {
        sb.setLength(0)
        var j = 0
        while (j < k) {
          if (j > 0) sb.append(' ')
          sb.append(words(i + j))
          j += 1
        }
        set.add(hashUtf8(sb.toString))
        i += 1
      }
    }
    val out = new Array[Long](set.size)
    val it = set.iterator()
    var i = 0
    while (it.hasNext) { out(i) = it.next().longValue(); i += 1 }
    java.util.Arrays.sort(out)
    new GenericArrayData(out)
  }

  /** Jaccard of two SORTED long arrays via a single merge pass:
    * |A∩B| counted directly, |A∪B| = |A| + |B| − |A∩B|. */
  def jaccardSorted(a: ArrayData, b: ArrayData): Double = {
    val na = a.numElements(); val nb = b.numElements()
    if (na == 0 && nb == 0) return 1.0
    var i = 0; var j = 0; var inter = 0
    while (i < na && j < nb) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    inter.toDouble / (na + nb - inter)
  }

  private def hashUtf8(s: String): Long = {
    val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    XXH64.hashUnsafeBytes(bytes, Platform.BYTE_ARRAY_OFFSET, bytes.length, 42L)
  }

  /** Distinct word-k-shingles as STRINGS, first-occurrence order — the
    * exact value of `array_distinct(transform(sequence(...), slice...))`
    * (Dedup.shinglesOf) in one codegen-friendly loop instead of an
    * interpreted higher-order chain. For ops whose downstream needs the
    * shingle text itself (e.g. an oracle-recomputable document-frequency
    * count) rather than the 64-bit hashes. */
  def shingleStrings(text: UTF8String, k: Int): ArrayData = {
    val words = text.toString.split(" ", -1)
    if (words.length < k)
      return new GenericArrayData(Array[Any](text.copy()))
    val seen = new java.util.LinkedHashSet[String]()
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i <= words.length - k) {
      sb.setLength(0)
      var j = 0
      while (j < k) {
        if (j > 0) sb.append(' ')
        sb.append(words(i + j))
        j += 1
      }
      seen.add(sb.toString)
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var n = 0
    while (it.hasNext) { out(n) = UTF8String.fromString(it.next()); n += 1 }
    new GenericArrayData(out)
  }
}

case class ShingleHashesExpr(child: Expression, k: Int) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"shingle_hashes requires a string input, got ${child.dataType}")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hashes"

  override protected def nullSafeEval(input: Any): Any =
    ShingleJaccard.shingleHashes(input.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.expressions.ShingleJaccard.shingleHashes($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class ShingleStringsExpr(child: Expression, k: Int) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"shingle_strings requires a string input, got ${child.dataType}")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "shingle_strings"

  override protected def nullSafeEval(input: Any): Any =
    ShingleJaccard.shingleStrings(input.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.expressions.ShingleJaccard.shingleStrings($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
