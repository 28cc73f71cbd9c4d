package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.core.Tables

/** Bucketing: pre-shuffling both join sides into the same bucket layout
  * makes the fact-fact join shuffle-free — the co-located join strategy the
  * builder prompt calls out for 100 TB repeated joins. */
class BucketingSpec extends AnyFunSuite with TempDirs {
  lazy val spark: SparkSession = Tables.localSession("bucketing-spec", cores = 4)
  val sf = "/root/testdata/sf0.001"

  test("bucketed tables join with zero Exchange (co-located join)") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ path
    try {
      val base = tempDir("buckets")
      Tables.lineitem(spark, sf)
        .write.option("path", s"$base/li_b").mode("overwrite")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable("li_b")
      Tables.orders(spark, sf)
        .write.option("path", s"$base/o_b").mode("overwrite")
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable("o_b")

      val li = spark.table("li_b")
      val ob = spark.table("o_b")
      val joined = li.join(ob, li("l_orderkey") === ob("o_orderkey"))
      assert(joined.count() > 0)
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join still shuffles:\n${plan.linesIterator.take(15).mkString("\n")}")

      // sanity: the same join WITHOUT bucketing does shuffle
      val liRaw = Tables.lineitem(spark, sf)
      val oRaw = Tables.orders(spark, sf)
      val unbucketed = liRaw.join(oRaw, liRaw("l_orderkey") === oRaw("o_orderkey"))
      unbucketed.count()
      assert(unbucketed.queryExecution.executedPlan.toString.contains("Exchange"))
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS li_b")
      spark.sql("DROP TABLE IF EXISTS o_b")
    }
  }
}
