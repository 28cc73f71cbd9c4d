package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions entry point — wires the engine's native
  * expressions into any session at build time:
  *
  * {{{
  *   SparkSession.builder().withExtensions(new GraftExtensions).getOrCreate()
  *   // or spark.sql.extensions=graft.functions.GraftExtensions
  * }}}
  *
  * It registers the native kernels' SQL names (`hamming_distance`,
  * `dot_product`, `squared_distance`); this is the one way they enter a
  * session's function registry.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("hamming_distance"),
      new ExpressionInfo(classOf[HammingDistance].getName, "hamming_distance"),
      (exprs: Seq[Expression]) => HammingDistance(exprs(0), exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[DotProduct].getName, "dot_product"),
      (exprs: Seq[Expression]) => DotProduct(exprs(0), exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("squared_distance"),
      new ExpressionInfo(classOf[SquaredDistance].getName, "squared_distance"),
      (exprs: Seq[Expression]) => SquaredDistance(exprs(0), exprs(1))))
  }
}
