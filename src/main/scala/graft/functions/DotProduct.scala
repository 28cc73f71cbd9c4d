package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expression: dot product of two float/double arrays,
  * accumulated in DOUBLE in strict ascending index order.
  *
  * Why native: Spark's higher-order functions (`aggregate`, `zip_with`)
  * evaluate their lambdas interpreted, per element, per row — on the
  * similarity path that is 64 boxed lambda invocations per candidate pair.
  * This expression does the same IEEE op sequence as the
  * `aggregate(zip_with(...))` fold (and as DuckDB's
  * `list_reduce(list_transform(list_zip(...)))`), so results stay
  * bit-identical to the oracle, but it compiles to a tight primitive loop
  * inside whole-stage codegen.
  *
  * Semantics: null input array → null; null element → null (mirrors the
  * fold, where null poisons the accumulator); length mismatch → null
  * (zip_with pads the shorter side with nulls, and a null element poisons
  * the fold).
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  private def elemType(e: Expression): Option[DataType] = e.dataType match {
    case ArrayType(FloatType, _) => Some(FloatType)
    case ArrayType(DoubleType, _) => Some(DoubleType)
    case _ => None
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (elemType(left).isDefined && elemType(right).isDefined)
      TypeCheckResult.TypeCheckSuccess
    else
      TypeCheckResult.TypeCheckFailure(
        s"dot_product requires array<float|double> inputs, got " +
          s"(${left.dataType.sql}, ${right.dataType.sql})")

  @inline private def elemAt(a: ArrayData, i: Int, t: DataType): Double =
    t match {
      case FloatType => a.getFloat(i).toDouble
      case _ => a.getDouble(i)
    }

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val lt = elemType(left).get
    val rt = elemType(right).get
    if (a.numElements() != b.numElements()) return null // zip_with null-pad
    val n = a.numElements()
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      i += 1
    }
    var acc = 0.0
    i = 0
    while (i < n) {
      acc += elemAt(a, i, lt) * elemAt(b, i, rt)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    def getter(arr: String, i: String, t: DataType): String = t match {
      case FloatType => s"(double) $arr.getFloat($i)"
      case _ => s"$arr.getDouble($i)"
    }
    val lt = elemType(left).get
    val rt = elemType(right).get
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = $a.numElements();
         |boolean hasNullElem = $n != $b.numElements(); // zip_with null-pad
         |for (int $i = 0; !hasNullElem && $i < $n; $i++) {
         |  if ($a.isNullAt($i) || $b.isNullAt($i)) { hasNullElem = true; }
         |}
         |if (hasNullElem) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $acc += ${getter(a, i, lt)} * ${getter(b, i, rt)};
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

object DotProduct {
  def dot_product(a: Column, b: Column): Column =
    GraftSqlBridge.column(
      DotProduct(GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))
}
