package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Catalyst expressions wrapping [[FuzzyKernel]].
  *
  * Each generates a direct static call into the kernel from whole-stage
  * codegen — no UDF boxing, no closure serialization, null-safe via
  * `nullSafeCodeGen`. This is the Spark-native analogue of the reference's
  * rapidfuzz C++ kernel (/root/reference/src/fuzzy_match_salary.py:119-140).
  */
abstract class FuzzyScoreExpression extends BinaryExpression {
  /** Static method name on [[FuzzyKernel]] to invoke. */
  def kernelMethod: String

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType)
      TypeCheckResult.TypeCheckSuccess
    else
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (string, string) arguments, got " +
          s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")

  protected def score(a: String, b: String): Double

  override protected def nullSafeEval(input1: Any, input2: Any): Any =
    score(input1.asInstanceOf[UTF8String].toString,
          input2.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.FuzzyKernel.$kernelMethod($a.toString(), $b.toString())")
}

case class TokenSetRatio(left: Expression, right: Expression)
    extends FuzzyScoreExpression {
  override def kernelMethod: String = "tokenSetRatio"
  override protected def score(a: String, b: String): Double =
    FuzzyKernel.tokenSetRatio(a, b)
  override def prettyName: String = "token_set_ratio"
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

case class TokenSortRatio(left: Expression, right: Expression)
    extends FuzzyScoreExpression {
  override def kernelMethod: String = "tokenSortRatio"
  override protected def score(a: String, b: String): Double =
    FuzzyKernel.tokenSortRatio(a, b)
  override def prettyName: String = "token_sort_ratio"
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

case class FuzzRatio(left: Expression, right: Expression)
    extends FuzzyScoreExpression {
  override def kernelMethod: String = "ratio"
  override protected def score(a: String, b: String): Double =
    FuzzyKernel.ratio(a, b)
  override def prettyName: String = "fuzz_ratio"
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

case class PartialRatio(left: Expression, right: Expression)
    extends FuzzyScoreExpression {
  override def kernelMethod: String = "partialRatio"
  override protected def score(a: String, b: String): Double =
    FuzzyKernel.partialRatio(a, b)
  override def prettyName: String = "partial_ratio"
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

case class WRatio(left: Expression, right: Expression)
    extends FuzzyScoreExpression {
  override def kernelMethod: String = "wratio"
  override protected def score(a: String, b: String): Double =
    FuzzyKernel.wratio(a, b)
  override def prettyName: String = "wratio"
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** `normalize_title` as a Catalyst expression (reference utils.py:22-29):
  * the one title normaliser — [[FuzzyKernel.normalizeTitle]] behind the
  * Column API, the SQL function and [[graft.operators.SimilarityJoin]]'s
  * key normalisation alike.
  */
case class NormalizeTitle(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"normalize_title requires a string argument, got ${child.dataType.simpleString}")
  // null input maps to "" in the reference, so this expression is non-null
  override def nullable: Boolean = false

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    val s = if (v == null) null else v.asInstanceOf[UTF8String].toString
    UTF8String.fromString(FuzzyKernel.normalizeTitle(s))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val childGen = child.genCode(ctx)
    val resultCode =
      code"""
        ${childGen.code}
        UTF8String ${ev.value} = UTF8String.fromString(
          graft.functions.FuzzyKernel.normalizeTitle(
            ${childGen.isNull} ? null : ${childGen.value}.toString()));
      """
    ev.copy(code = resultCode, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
