package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode,
  FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._

/**
 * Codegen for a native expression written once, in Scala: the generated
 * code evaluates the children, then calls the expression's own `evalFrom`
 * through a reference object, and `eval` calls the same method, so the
 * interpreted and the generated evaluator run one implementation.
 *
 * `CodegenFallback` would do the same, but `CollapseCodegenStages` keeps
 * any operator holding one out of whole-stage codegen; with this stub the
 * surrounding projection stays in its stage. `evalFrom` receives null for
 * a null child, and a null result is a null value (the expression's
 * `nullable` must allow it).
 */
trait EvalCodegen extends Expression {

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("native", this, getClass.getName)
    val kids = children.map(_.genCode(ctx))
    val args = kids.map(k => s"${k.isNull} ? null : ${k.value}").mkString(", ")
    val result = ctx.freshName("result")
    val javaType = CodeGenerator.javaType(dataType)
    val boxed = CodeGenerator.boxedType(dataType)
    val call = code"""
      |${kids.map(_.code).reduce(_ + _)}
      |Object $result = $self.evalFrom($args);""".stripMargin
    if (nullable) ev.copy(code = call + code"""
      |boolean ${ev.isNull} = $result == null;
      |$javaType ${ev.value} = ${ev.isNull} ? ${CodeGenerator.defaultValue(dataType)}
      |  : ($boxed) $result;""".stripMargin)
    else ev.copy(code = call + code"""
      |$javaType ${ev.value} = ($boxed) $result;""".stripMargin, isNull = FalseLiteral)
  }
}

/** A one-child [[EvalCodegen]] expression. */
abstract class UnaryEvalExpression extends UnaryExpression with EvalCodegen {
  /** The value for the child's value `v` (null when the child is null). */
  def evalFrom(v: Any): Any
  override def eval(input: InternalRow): Any = evalFrom(child.eval(input))
}

/** A two-child [[EvalCodegen]] expression. */
abstract class BinaryEvalExpression extends BinaryExpression with EvalCodegen {
  /** The value for the children's values (each null when that child is null). */
  def evalFrom(l: Any, r: Any): Any
  override def eval(input: InternalRow): Any = evalFrom(left.eval(input), right.eval(input))
}
