package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.types.{DataType, IntegerType, LongType}

/** Native Catalyst expression: Hamming distance between two 64-bit hash
  * signatures — `bit_count(a XOR b)`.
  *
  * This is the builder-prompt preference ladder's step (b): a scalar the
  * hot loop needs (SimHash near-dup verification runs it once per candidate
  * pair) implemented as a codegen'd `Expression`, not a Scala UDF — it
  * stays inside whole-stage codegen (no iterator boundary, no boxing) and
  * compiles to two JVM intrinsics (`lxor` + `Long.bitCount`).
  */
case class HammingDistance(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (left.dataType == LongType && right.dataType == LongType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"hamming_distance requires (BIGINT, BIGINT), got " +
          s"(${left.dataType.sql}, ${right.dataType.sql})")
  }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    java.lang.Long.bitCount(a.asInstanceOf[Long] ^ b.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = java.lang.Long.bitCount($a ^ $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): HammingDistance =
    copy(left = newLeft, right = newRight)
}

object HammingDistance {
  /** Column-API entry point. */
  def hamming_distance(a: Column, b: Column): Column =
    GraftSqlBridge.column(
      HammingDistance(GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))
}
