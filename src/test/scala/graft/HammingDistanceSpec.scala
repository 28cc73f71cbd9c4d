package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.Tables
import graft.functions.HammingDistance.hamming_distance

class HammingDistanceSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Tables.localSession("hamming-spec", cores = 4)

  test("interpreted eval, codegen eval, and SQL registration agree") {
    import spark.implicits._
    val df = Seq(
      (0L, 0L, 0), (0L, 1L, 1), (0xffffL, 0L, 16),
      (0b1010L, 0b0101L, 4), (Long.MaxValue, 0L, 63), (-1L, 0L, 64))
      .toDF("a", "b", "expected")
    val got = df.select(hamming_distance($"a", $"b").as("d"), $"expected").collect()
    got.foreach(r => assert(r.getInt(0) == r.getInt(1)))

    // the session's GraftExtensions registered the SQL name
    df.createOrReplaceTempView("hd_in")
    val sqlGot = spark.sql("SELECT hamming_distance(a, b) AS d, expected FROM hd_in").collect()
    sqlGot.foreach(r => assert(r.getInt(0) == r.getInt(1)))
  }

  test("null-safe: null input → null output") {
    import spark.implicits._
    val df = Seq((Some(1L), None: Option[Long])).toDF("a", "b")
    val r = df.select(hamming_distance($"a", $"b")).collect()
    assert(r.head.isNullAt(0))
  }

  test("stays inside whole-stage codegen (no UDF iterator break)") {
    import spark.implicits._
    // range() is a real scan, so the expression can't constant-fold away
    val df = spark.range(0, 256)
      .select($"id", hamming_distance($"id", lit(0xf0L)).as("d"))
    val rows = df.collect()
    rows.foreach(r => assert(
      r.getInt(1) == java.lang.Long.bitCount(r.getLong(0) ^ 0xf0L)))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1)"), s"expression fell out of codegen:\n$plan")
    assert(!plan.contains("ScalaUDF"))
  }

  test("type checking rejects non-long inputs") {
    import spark.implicits._
    val df = Seq(("x", 1L)).toDF("a", "b")
    val e = intercept[Exception](df.select(hamming_distance($"a", $"b")).collect())
    assert(e.getMessage.contains("hamming_distance") || e.getMessage.contains("DATATYPE"))
  }
}
