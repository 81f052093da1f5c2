package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Apply ONE BPE merge rule to a word's token sequence: every adjacent
  * (a, b) occurrence becomes the concatenated token, scanning left to
  * right over non-overlapping matches — the standard greedy BPE
  * application. (Left-to-right single scan is equivalent to
  * repeatedly merging the leftmost occurrence: a merged token `ab` can
  * never equal `a` or `b` — it is strictly longer — so a merge cannot
  * create a new occurrence of the SAME pair to its left; the DuckDB
  * oracle replays the leftmost-repeat form and must agree.)
  *
  * Codegen scalar: the q97 training loop applies it
  * as a narrow projection over the word vocab, never shuffling the
  * corpus. */
object BpeMergeWord {
  def merge(tokens: ArrayData, a: UTF8String, b: UTF8String): ArrayData = {
    val n = tokens.numElements()
    val out = new java.util.ArrayList[UTF8String](n)
    var i = 0
    while (i < n) {
      val t = tokens.getUTF8String(i)
      // null elements pass through unmerged (null matches no pair);
      // t.equals(null-lookahead) is already false for UTF8String
      if (t != null && i + 1 < n && t.equals(a) && {
            val next = tokens.getUTF8String(i + 1)
            next != null && next.equals(b)
          }) {
        out.add(UTF8String.concat(a, b))
        i += 2
      } else {
        out.add(t)
        i += 1
      }
    }
    new GenericArrayData(out.toArray)
  }
}

case class BpeMergeWordExpr(first: Expression, second: Expression,
    third: Expression) extends TernaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = first.dataType match {
    case ArrayType(StringType, _)
        if second.dataType == StringType && third.dataType == StringType =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"bpe_merge_word requires (array<string>, string, string), got " +
        s"${first.dataType} / ${second.dataType} / ${third.dataType}")
  }
  override def dataType: DataType = first.dataType match {
    // null elements pass through, so nullability mirrors the input
    case ArrayType(_, n) => ArrayType(StringType, containsNull = n)
    case _ => ArrayType(StringType, containsNull = false)
  }
  override def prettyName: String = "bpe_merge_word"
  override protected def nullSafeEval(t: Any, a: Any, b: Any): Any =
    BpeMergeWord.merge(t.asInstanceOf[ArrayData],
      a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, a, b) =>
      s"graft.expressions.BpeMergeWord.merge($t, $a, $b)")
  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}
