package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.catalyst.expressions.ArrayAggregate
import graft.core.Tables
import graft.functions.DotProduct
import graft.functions.DotProduct.dot_product

class DotProductSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Tables.localSession("dot-spec", cores = 8)
  val sf = "/root/testdata/sf0.001"

  private val foldSql =
    "aggregate(zip_with(embedding, qv, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), " +
      "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"

  /** Every embedding against vec_id 0's: the kernel equals the fold bit for
    * bit, and the fold is evaluated as a fold, not replaced by the kernel. */
  private def assertMatchesFold(): Unit = {
    val emb = Tables.embeddings(spark, sf)
    val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    val pairs = emb.crossJoin(broadcast(q))
    val foldPlan = pairs.select(expr(foldSql)).queryExecution.optimizedPlan
    val foldExprs = foldPlan.flatMap(_.expressions.flatMap(_.collect { case e => e }))
    assert(foldExprs.exists(_.isInstanceOf[ArrayAggregate]) &&
      !foldExprs.exists(_.isInstanceOf[DotProduct]), s"reference is not a fold:\n$foldPlan")
    val both = pairs.select(
      dot_product(col("embedding"), col("qv")).as("native"), expr(foldSql).as("fold"))
    // bit-level agreement, not epsilon: same IEEE op sequence
    assert(both.filter(col("native") =!= col("fold")).count() == 0)
    assert(both.filter(col("native").isNull).count() == 0)
  }

  test("bit-identical to the aggregate(zip_with(...)) fold on real embeddings") {
    assertMatchesFold()
    // and the interpreted kernel (nullSafeEval, no generated code anywhere)
    val confs = Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try assertMatchesFold()
    finally confs.foreach { case (k, _) => spark.conf.unset(k) }
  }

  test("null array → null; mismatched lengths → null (zip_with null-pad semantics)") {
    import spark.implicits._
    val df = Seq(
      (Some(Seq(1.0f, 2.0f)), Some(Seq(3.0f, 4.0f))),        // 1*3+2*4 = 11
      (Some(Seq(1.0f, 2.0f)), Some(Seq(3.0f, 4.0f, 99.0f))), // pad → null
      (None: Option[Seq[Float]], Some(Seq(1.0f))))
      .toDF("a", "b")
    val out = df.select(dot_product($"a", $"b")).collect()
    assert(out(0).getDouble(0) == 11.0)
    assert(out(1).isNullAt(0), "length mismatch must match the fold's null")
    assert(out(2).isNullAt(0))
    // and the fold agrees on the mismatch row
    val fold = df.selectExpr(
      "aggregate(zip_with(a, b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), " +
        "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v) AS f").collect()
    assert(fold(1).isNullAt(0))
  }

  test("stays in whole-stage codegen over a real scan") {
    val emb = Tables.embeddings(spark, sf)
    val df = emb.select(dot_product(col("embedding"), col("embedding")).as("n2"))
      .filter(col("n2") > 0)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1)"), s"fell out of codegen:\n$plan")
  }

  test("SQL registration via function registry") {
    // the session's GraftExtensions registered the SQL name
    Tables.embeddings(spark, sf).createOrReplaceTempView("emb_dot")
    val r = spark.sql(
      "SELECT dot_product(embedding, embedding) AS n2 FROM emb_dot LIMIT 5").collect()
    assert(r.forall(_.getDouble(0) > 0))
  }
}
