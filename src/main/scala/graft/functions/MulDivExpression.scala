package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.SqlBridge
import org.apache.spark.sql.types.{DataType, LongType}

/** Exact `(a * b) div c` over non-negative longs whose product may
  * exceed 64 bits — the weighted-pagerank per-edge split
  * (`rank · weight div wsum`). The DECIMAL(38,0) formulation is
  * semantically identical but pays a decimal cast + 38-digit multiply +
  * integral divide PER EDGE PER ROUND (~4 s of task time per round on
  * the 1.27M-edge sf0.1 graph); this expression does one long multiply
  * + divide when the product provably fits (the overwhelmingly common
  * case) and exact BigInteger arithmetic when it does not. Division
  * truncates toward zero, exactly as decimal `div` — for the
  * non-negative inputs the operator feeds, that is also floor. A zero
  * divisor yields NULL, as the decimal `div` does under non-ANSI
  * division (a source vertex whose edge weights sum to 0 contributes
  * nothing, since `sum` skips it). Inputs are validated non-negative so
  * the fast-path equivalence is airtight; a negative input fails loudly
  * rather than silently diverging from the decimal form. */
object MulDivRuntime {
  /** Throws on a negative operand; true when the divisor is 0, whose
    * result is NULL. */
  def nullResult(a: Long, b: Long, c: Long): Boolean = {
    if (a < 0 || b < 0 || c < 0) throw new IllegalArgumentException(
      s"mul_div requires non-negative operands, got ($a, $b, $c)")
    c == 0
  }

  /** `(a * b) div c` for operands [[nullResult]] accepted. */
  def mulDiv(a: Long, b: Long, c: Long): Long =
    if (a == 0 || b <= Long.MaxValue / a) (a * b) / c
    else java.math.BigInteger.valueOf(a)
      .multiply(java.math.BigInteger.valueOf(b))
      .divide(java.math.BigInteger.valueOf(c))
      .longValueExact()
}

case class MulDiv(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (Seq(first, second, third).forall(_.dataType == LongType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires three bigint inputs, got " +
        Seq(first, second, third).map(_.dataType.simpleString).mkString(", "))
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "mul_div"

  override def nullSafeEval(a: Any, b: Any, c: Any): Any = {
    val (x, y, z) = (a.asInstanceOf[Long], b.asInstanceOf[Long], c.asInstanceOf[Long])
    if (MulDivRuntime.nullResult(x, y, z)) null else MulDivRuntime.mulDiv(x, y, z)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, c) =>
      s"""if (graft.functions.MulDivRuntime.nullResult($a, $b, $c)) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = graft.functions.MulDivRuntime.mulDiv($a, $b, $c);
         |}""".stripMargin)

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object MulDivFunctions {
  def mulDiv(a: Column, b: Column, c: Column): Column =
    SqlBridge.column(MulDiv(SqlBridge.expression(a),
      SqlBridge.expression(b), SqlBridge.expression(c)))
}
