package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expression: squared L2 distance of two float/double
  * arrays, accumulated in DOUBLE in strict ascending index order.
  *
  * Sibling of [[DotProduct]] (same null/length contract, same motivation):
  * the IVF assignment path evaluates `Σ (x_i − c_i)²` once per
  * (vector, centroid) candidate, and the declarative
  * `aggregate(zip_with(a, b, (x, c) -> (x−c)*(x−c)), 0.0, +)` fold pays 64
  * interpreted boxed lambda calls per candidate. This expression performs
  * the identical IEEE op sequence — `d = x−c; acc += d*d`, ascending index,
  * double accumulation — so results stay bit-identical to the fold and to
  * DuckDB's unnest group-sum in position order, but run as a primitive loop
  * inside whole-stage codegen.
  *
  * Semantics: null input array → null; null element → null; length
  * mismatch → null (the zip_with null-pad, exactly as in [[DotProduct]]).
  */
case class SquaredDistance(left: Expression, right: Expression)
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
        s"squared_distance requires array<float|double> inputs, got " +
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
      val d = elemAt(a, i, lt) - elemAt(b, i, rt)
      acc += d * d
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
      val d = ctx.freshName("d")
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
         |    double $d = ${getter(a, i, lt)} - ${getter(b, i, rt)};
         |    $acc += $d * $d;
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SquaredDistance =
    copy(left = newLeft, right = newRight)
}

object SquaredDistance {
  def squared_distance(a: Column, b: Column): Column =
    GraftSqlBridge.column(
      SquaredDistance(GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))
}
