package graft.plans

import graft.expressions.StaticCall
import org.apache.spark.sql.catalyst.expressions.{Expression,
  GreaterThan, GreaterThanOrEqual, IsNotNull, LessThan, LessThanOrEqual,
  Literal, OctetLength, PredicateHelper, Size}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.IntegerType

/** Optimizer rule: rewrite Filter guards on a codec's DECODED length
  * into the exact byte-length precondition on the raw payload.
  *
  * The motivating failure is r13's q8h double decode: a guard like
  * `size(wav_pcm16_samples(wav_pcm16_encode(p, r))) >= k` sits in a
  * Filter below the Project that computes the same chain, so the
  * whole encode+decode runs twice per row (and for explode-shaped
  * plans, InferFiltersFromGenerate MANUFACTURES such a guard even when
  * the user never wrote one). Because we own the codecs' length
  * contracts, the guard has an exact algebraic image on the raw bytes:
  *
  *  - WAV PCM16 (`WavPcm16.scala`): n_samples = floor(bytes / 2),
  *    so n >= k  ⟺  octet_length(p) >= 2k          (integer k >= 0)
  *  - AVI DIB   (`AviDib.scala:62`): n_frames =
  *    max(1, ceil(bytes / frameBytes)), so for k >= 2
  *    n >= k  ⟺  octet_length(p) > frameBytes · (k − 1)
  *    (k <= 1 is always true — the encoder emits at least one frame —
  *    and is left alone rather than folded to a literal).
  *
  * The rewrite fires only when the codec chain is DIRECT
  * (size(decode(encode(payload, lit)))) and the bound is an integer
  * literal — exactly the shape users and InferFiltersFromGenerate
  * produce — and ONLY when the comparison is a TOP-LEVEL CONJUNCT of
  * the Filter condition. That restriction is what makes the rule
  * sound for arbitrary user SQL: for a null payload the original
  * conjunct evaluates false (legacy size(NULL) = −1, and −1 >= k is
  * false for our k >= 0) or null (ANSI size semantics) while the
  * rewritten form evaluates null — DIFFERENT values, but both drop
  * the row in conjunct position, so the Filter's row set is
  * identical. Under negation they are NOT interchangeable
  * (NOT(false) keeps the row, NOT(null) drops it), so a guard inside
  * NOT / OR / CASE is deliberately left alone — an optimizer rule
  * injected session-wide must hold for inputs no in-repo query
  * writes. The error path is the one observable difference: a row
  * whose malformed arguments would have made the codec throw inside
  * the Filter now gets filtered by byte length first — the same class
  * of reordering latitude Spark's own filter pushdown already takes.
  *
  * Registered via `GraftExtensions` (injectOptimizerRule); proven by
  * PlanRuleSpec, which writes the naive guard and asserts the
  * optimized plan carries octet_length in the Filter and the codec
  * only in the Project. */
object RewriteCodecLengthGuards extends Rule[LogicalPlan]
    with PredicateHelper {

  private def intLit(e: Expression): Option[Long] = e match {
    case Literal(v: Int, _) => Some(v.toLong)
    case Literal(v: Long, _) => Some(v)
    case Literal(v: Short, _) => Some(v.toLong)
    case _ => None
  }

  /** `name(args...)` for a [[StaticCall]] of that SQL function. */
  private object Call {
    def unapply(e: Expression): Option[(String, Seq[Expression])] = e match {
      case c: StaticCall => Some(c.sig.name -> c.children)
      case _ => None
    }
  }

  /** payload of a direct size(samples(encode(p, _))) chain. */
  private def wavPayload(e: Expression): Option[Expression] = e match {
    case Size(Call("wav_pcm16_samples",
        Seq(Call("wav_pcm16_encode", Seq(p, _)))), _) => Some(p)
    case _ => None
  }

  /** (payload, frameBytes) of a direct size(frames(encode(p, fb))). */
  private def aviPayload(e: Expression): Option[(Expression, Long)] =
    e match {
      case Size(Call("avi_dib_frames",
          Seq(Call("avi_dib_encode", Seq(p, fb)))), _) =>
        intLit(fb).map(p -> _)
      case _ => None
    }

  private def bytesGe(p: Expression, k: Long): Expression =
    GreaterThanOrEqual(OctetLength(p), Literal(k.toInt, IntegerType))
  private def bytesGt(p: Expression, k: Long): Expression =
    GreaterThan(OctetLength(p), Literal(k.toInt, IntegerType))

  /** n >= k on the decoded count, normalized from >=, >, <=, < in
    * either operand order. Returns the byte-domain predicate. */
  private def rewriteCmp(cmp: Expression): Option[Expression] = {
    // normalize to (sizeExpr, lowerBoundInclusive) — i.e. n >= k
    val ge: Option[(Expression, Long)] = cmp match {
      case GreaterThanOrEqual(s, l) => intLit(l).map(s -> _)
      case GreaterThan(s, l) => intLit(l).map(k => s -> (k + 1))
      case LessThanOrEqual(l, s) => intLit(l).map(s -> _)
      case LessThan(l, s) => intLit(l).map(k => s -> (k + 1))
      case _ => None
    }
    ge.flatMap { case (s, k) =>
      wavPayload(s) match {
        case Some(p) if k >= 0 && 2 * k <= Int.MaxValue =>
          // floor(bytes/2) >= k ⟺ bytes >= 2k
          Some(bytesGe(p, 2 * k))
        case _ =>
          aviPayload(s) match {
            case Some((p, fb)) if k >= 2 && fb > 0 &&
                fb * (k - 1) <= Int.MaxValue =>
              // max(1, ceil(bytes/fb)) >= k ⟺ bytes > fb·(k−1)
              Some(bytesGt(p, fb * (k - 1)))
            case _ => None
          }
      }
    }
  }

  /** The other guard InferFiltersFromGenerate manufactures:
    * isnotnull(decode(encode(p, arg))). For a non-null constant arg
    * the chain is null exactly when p is null (encode/decode are
    * null-propagating and never return null for non-null input), so
    * the whole conjunct collapses to isnotnull(p). */
  private def rewriteNotNull(e: Expression): Option[Expression] = e match {
    case IsNotNull(Call("wav_pcm16_samples",
        Seq(Call("wav_pcm16_encode", Seq(p, r)))))
        if r.foldable && r.eval() != null => Some(IsNotNull(p))
    case IsNotNull(Call("avi_dib_frames",
        Seq(Call("avi_dib_encode", Seq(p, fb)))))
        if fb.foldable && fb.eval() != null => Some(IsNotNull(p))
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, _) =>
      // rewrite whole top-level conjuncts only — never inside NOT/OR/
      // CASE, where false-vs-null matters (see class doc)
      val conjuncts = splitConjunctivePredicates(cond)
      val rewritten = conjuncts.map { c =>
        rewriteCmp(c).orElse(rewriteNotNull(c)).getOrElse(c)
      }
      if (conjuncts.zip(rewritten).forall { case (a, b) => a fastEquals b }) f
      else f.copy(condition = rewritten.reduceLeft(
        org.apache.spark.sql.catalyst.expressions.And(_, _)))
  }
}
