package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.Tables

/** Partitioned layout + partition pruning, and salting for skewed joins —
  * the two remaining 100 TB layout patterns (builder prompt): a partition
  * filter must prune directories at plan time, and a salted join must be
  * result-identical to the plain join while splitting hot keys.
  */
class PartitioningSpec extends AnyFunSuite with TempDirs {
  lazy val spark: SparkSession = Tables.localSession("partitioning-spec", cores = 4)
  val sf = "/root/testdata/sf0.001"

  test("partitionBy write + filter → partition pruning at the scan") {
    val dir = tempDir("ev-part").toString
    Tables.events(spark, sf).drop("ts") // raw ts layout-dependent; canonical cols stay
      .write.mode("overwrite").partitionBy("event_type").parquet(dir)
    val one = spark.read.parquet(dir).filter(col("event_type") === "click")
    one.collect()
    val plan = one.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: ["), "no partition filters in scan")
    assert(plan.contains("event_type"), "partition column not in pruning filter")
    // pruned scan must read strictly fewer files than the full table
    val all = spark.read.parquet(dir)
    val nTypes = all.select("event_type").distinct().count()
    assert(nTypes > 1)
    assert(one.count() > 0 && one.count() < all.count())
  }

  test("salted join result-identical to plain join on a skewed key") {
    import spark.implicits._
    val salts = 8
    // skewed fact: 90% of rows share key 1
    val fact = spark.range(0, 20000)
      .select((when(col("id") % 10 =!= 0, 1L).otherwise(col("id"))).as("k"),
        col("id").as("payload"))
    val dim = spark.range(0, 2000).select(col("id").as("k"), (col("id") * 2).as("v"))

    val plain = fact.join(dim, "k").agg(sum("v"), count(lit(1))).collect()

    // salt: fact rows get a deterministic salt from a non-key column;
    // dim rows are replicated across all salt values
    val factS = fact.withColumn("salt", pmod(xxhash64(col("payload")), lit(salts)))
    val dimS = dim.crossJoin(
      spark.range(0, salts).select(col("id").cast("int").as("salt")))
    val salted = factS.join(dimS, Seq("k", "salt"))
      .agg(sum("v"), count(lit(1))).collect()

    assert(plain.map(_.toString).toSeq == salted.map(_.toString).toSeq)
  }

  test("runtime bloom-filter join reduction: fact scan gets might_contain " +
      "from the selective dimension side") {
    // Catalyst's InjectRuntimeFilter — the shuffle-join answer to broadcast
    // DPP at 100 TB: when a selective filter cuts the creation side, a
    // bloom filter over its join keys is pushed into the OTHER side's scan,
    // so the fact shuffles only rows that can possibly match. The default
    // thresholds (creation <10MB, application scan >10GB) target real
    // cluster sizes; this test lowers the application threshold to prove
    // the mechanism on test data and guard the conf wiring.
    import org.apache.spark.sql.functions._
    val key = "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    val bcast = "spark.sql.autoBroadcastJoinThreshold"
    val prevApp = spark.conf.get(key)
    val prevB = spark.conf.get(bcast)
    try {
      spark.conf.set(key, "0")
      spark.conf.set(bcast, "-1") // force a shuffle join so the filter applies
      val li = Tables.lineitem(spark, sf)
      val ord = Tables.orders(spark, sf).filter(col("o_totalprice") > 350000)
      val j = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderstatus").agg(count(lit(1)))
      val plan = j.queryExecution.optimizedPlan.toString
      assert(plan.contains("might_contain") && plan.contains("bloom_filter_agg"),
        s"runtime bloom filter not injected:\n${plan.take(2000)}")
    } finally {
      spark.conf.set(key, prevApp)
      spark.conf.set(bcast, prevB)
    }
  }

  test("GraftExtensions registers native functions via injectFunction") {
    import spark.implicits._
    import graft.functions.{DotProduct, HammingDistance, SquaredDistance}
    Seq((Seq(1.0f, 2.0f), Seq(3.0f, 6.0f), 0xffL, 0L),
        (Seq(0.5f, -1.0f), Seq(2.0f, 1.0f), 0xaL, 0x5L))
      .toDF("a", "b", "h", "g").createOrReplaceTempView("ext_in")
    val df = spark.sql("SELECT dot_product(a, b) AS dot, squared_distance(a, b) AS d2, " +
      "hamming_distance(h, g) AS hd FROM ext_in")
    val analyzed = df.queryExecution.analyzed
    val resolved = analyzed.flatMap(_.expressions.flatMap(_.collect { case e => e.getClass }))
    Seq(classOf[DotProduct], classOf[SquaredDistance], classOf[HammingDistance]).foreach(c =>
      assert(resolved.contains(c), s"${c.getSimpleName} not in:\n$analyzed"))
    // 1*3+2*6, (1-3)²+(2-6)², popcount(0xff); 0.5*2-1*1, 1.5²+2², popcount(0xf)
    assert(df.collect().map(r => (r.getDouble(0), r.getDouble(1), r.getInt(2))).toSeq ==
      Seq((15.0, 20.0, 8), (0.0, 6.25, 4)))
  }
}
