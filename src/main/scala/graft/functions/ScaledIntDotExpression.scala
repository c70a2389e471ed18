package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/**
 * Exact int64 dot product of two array<bigint> columns as one codegen'd
 * expression — the hot-predicate form of aggregate(zip_with(a, b, _*_)).
 * The HOF chain is CodegenFallback (interpreted lambda per element, and one
 * in a predicate knocks the stage out of whole-stage codegen — CLAUDE.md
 * rule); this is a tight long loop shipped as a codegen reference object,
 * same pattern as SignBucket.
 *
 * Null semantics match the HOF formulation: null array -> null; a null
 * ELEMENT poisons the sum -> null; a LENGTH MISMATCH yields null (zip_with
 * null-pads the shorter side, and x * null poisons the aggregate) — loud
 * parity rather than a silent shorter-side sum if unequal-dim vectors ever
 * reach a scale path.
 */
case class ScaledIntDot(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "scaled_int_dot"
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires two array<bigint>, got $other")
    }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    if (a.numElements() != b.numElements()) return null // zip_with null-pad parity
    val n = a.numElements()
    var s = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      s += a.getLong(i) * b.getLong(i)
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("scaledIntDot", this, classOf[ScaledIntDot].getName)
    val lg = left.genCode(ctx)
    val rg = right.genCode(ctx)
    ev.copy(code = code"""
      ${lg.code}
      ${rg.code}
      boolean ${ev.isNull} = ${lg.isNull} || ${rg.isNull};
      long ${ev.value} = 0L;
      if (!${ev.isNull}) {
        Object r = $self.nullSafeEval(${lg.value}, ${rg.value});
        if (r == null) { ${ev.isNull} = true; } else { ${ev.value} = (Long) r; }
      }""")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object ScaledIntDot {
  import org.apache.spark.sql.graftshim.Bridge.{column, expression}
  def apply(a: Column, b: Column): Column = column(ScaledIntDot(expression(a), expression(b)))
}
