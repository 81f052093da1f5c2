package graft.expressions

import java.lang.reflect.{InvocationTargetException, Method, Modifier}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{ArrayType, DataType}

/** Signature of a [[StaticCall]] function: its SQL name, the types each
  * argument accepts (exact matches: no implicit casts), its result type,
  * and the static method `graft.expressions.<Object>.<method>` it calls
  * with the argument values. */
final case class CallSig(name: String, inputs: Seq[Seq[DataType]],
    dataType: DataType, target: String) {

  /** The target, which must be exactly one static method of the
    * declared arity (the Scala object's static forwarder — the same
    * method the generated code calls). */
  def resolve(): Method = {
    val dot = target.lastIndexOf('.')
    val found = Class.forName(target.take(dot)).getMethods.filter(m =>
      m.getName == target.drop(dot + 1) &&
        Modifier.isStatic(m.getModifiers) &&
        m.getParameterCount == inputs.length)
    require(found.length == 1,
      s"$name: $target is not one static method of ${inputs.length} arguments")
    found.head
  }
}

/** A SQL function that is one static method call on its arguments'
  * values: null in, null out; otherwise `sig.target(args...)`, in both
  * the generated and the interpreted code. The plan text and the
  * un-aliased column name are `name(arg, ...)`, as for any built-in. */
case class StaticCall(sig: CallSig, children: Seq[Expression])
    extends Expression {

  override def prettyName: String = sig.name
  override def dataType: DataType = sig.dataType
  override def nullable: Boolean = children.exists(_.nullable)
  override def foldable: Boolean = children.forall(_.foldable)
  override protected def stringArgs: Iterator[Any] = children.iterator

  private def describe(dt: DataType): String = dt match {
    case ArrayType(e, false) => s"array<${e.simpleString}> without null elements"
    case _ => dt.simpleString
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (children.length == sig.inputs.length &&
        children.zip(sig.inputs).forall { case (c, ok) => ok.contains(c.dataType) })
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"${sig.name} requires (" +
        sig.inputs.map(_.map(describe).mkString(" or ")).mkString(", ") +
        s"), got ${children.map(c => describe(c.dataType)).mkString(" / ")}")

  // bound once per node: codecs inside higher-order lambdas run here
  @transient private lazy val method = sig.resolve()
  @transient private lazy val args = children.toIndexedSeq

  override def eval(input: InternalRow): Any = {
    val values = new Array[AnyRef](args.length)
    var i = 0
    while (i < values.length) {
      val v = args(i).eval(input)
      if (v == null) return null
      values(i) = v.asInstanceOf[AnyRef]
      i += 1
    }
    try method.invoke(null, values: _*)
    catch { case e: InvocationTargetException => throw e.getCause }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val gens = children.map(_.genCode(ctx))
    val call = s"${ev.value} = ${sig.target}(${gens.map(_.value).mkString(", ")});"
    val init = s"${CodeGenerator.javaType(dataType)} ${ev.value} = " +
      s"${CodeGenerator.defaultValue(dataType)};"
    if (nullable) {
      // as BinaryExpression: each argument is computed only when the
      // ones before it are non-null
      val body = children.zip(gens).foldRight(s"${ev.isNull} = false;\n$call") {
        case ((c, g), inner) =>
          s"${g.code}\n" + ctx.nullSafeExec(c.nullable, g.isNull.toString)(inner)
      }
      ev.copy(code = code"""
        boolean ${ev.isNull} = true;
        $init
        $body""")
    } else {
      ev.copy(code = code"""
        ${gens.map(_.code.toString).mkString("\n")}
        $init
        $call""", isNull = FalseLiteral)
    }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(children = newChildren)
}
