package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.Tables

/** Schema tripwire for the LIVE driver-generated testdata.
  *
  * Round 5 lost 21 queries to a silent testdata regeneration (`events.ts`
  * flipped from parquet TIMESTAMP(NANOS) to TIMESTAMP(MICROS)) that no test
  * pinned. This spec asserts, against the real `/root/testdata` at two
  * scale factors, that every table loads with exactly the column/type shape
  * the `Tables` loaders expose — so the next drift fails ONE named test
  * with an actual-vs-expected message instead of 20+ downstream queries.
  *
  * `events.ts` deliberately accepts BOTH known layouts (nanos long /
  * micros timestamp[_NTZ]); the canonical contract columns `t_us`/
  * `ts_micros` must exist with fixed types regardless of layout.
  */
class TablesSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Tables.localSession("tables-spec", cores = 4)
  val sfs = Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
    "/root/testdata/sf0.1")

  private def shape(name: String, sf: String): Map[String, DataType] = {
    val df = Tables.load(spark, sf, name)
    df.schema.fields.map(f => f.name -> f.dataType).toMap
  }

  private def assertShape(name: String, expected: Map[String, DataType]): Unit =
    for (sf <- sfs) {
      val got = shape(name, sf)
      assert(got == expected,
        s"$name schema drifted at $sf:\n  got      $got\n  expected $expected")
    }

  test("the shared context carries localSession's one conf set") {
    val conf = spark.sparkContext.getConf
    Seq(
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "10000000",
      "spark.sql.streaming.checkpointFileManagerClass" ->
        classOf[graft.core.CheckpointFiles].getName,
      "spark.cleaner.periodicGC.interval" -> "30s",
      "spark.sql.ui.retainedExecutions" -> "8",
      "spark.ui.retainedJobs" -> "50",
      "spark.ui.retainedStages" -> "50",
      "spark.ui.retainedTasks" -> "500"
    ).foreach { case (k, v) => assert(conf.getOption(k).contains(v), k) }
    assert(org.apache.logging.log4j.LogManager
      .getLogger("org.apache.spark.sql.execution.window.WindowExec")
      .getLevel == org.apache.logging.log4j.Level.ERROR)
  }

  test("region/nation dimension schemas") {
    assertShape("region",
      Map("r_regionkey" -> IntegerType, "r_name" -> StringType))
    assertShape("nation", Map("n_nationkey" -> IntegerType,
      "n_name" -> StringType, "n_regionkey" -> IntegerType))
  }

  test("customer/supplier/part schemas") {
    assertShape("customer", Map("c_custkey" -> LongType, "c_name" -> StringType,
      "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
      "c_mktsegment" -> StringType))
    assertShape("supplier", Map("s_suppkey" -> LongType, "s_name" -> StringType,
      "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType))
    assertShape("part", Map("p_partkey" -> LongType, "p_name" -> StringType,
      "p_brand" -> StringType, "p_type" -> StringType,
      "p_size" -> IntegerType, "p_retailprice" -> DoubleType))
  }

  test("orders/lineitem fact schemas (date columns may be TZ or NTZ)") {
    val tsLike = Set[DataType](TimestampType, TimestampNTZType)
    for (sf <- sfs) {
      val o = shape("orders", sf)
      assert(o - "o_orderdate" == Map("o_orderkey" -> LongType,
        "o_custkey" -> LongType, "o_orderstatus" -> StringType,
        "o_totalprice" -> DoubleType, "o_orderpriority" -> StringType),
        s"orders non-date schema drifted at $sf: $o")
      assert(tsLike.contains(o("o_orderdate")),
        s"o_orderdate must be a timestamp type, got ${o("o_orderdate")}")
      val l = shape("lineitem", sf)
      assert(l - "l_shipdate" == Map("l_orderkey" -> LongType,
        "l_partkey" -> LongType, "l_suppkey" -> LongType,
        "l_linenumber" -> IntegerType, "l_quantity" -> DoubleType,
        "l_extendedprice" -> DoubleType, "l_discount" -> DoubleType,
        "l_tax" -> DoubleType, "l_returnflag" -> StringType,
        "l_linestatus" -> StringType),
        s"lineitem non-date schema drifted at $sf: $l")
      assert(tsLike.contains(l("l_shipdate")),
        s"l_shipdate must be a timestamp type, got ${l("l_shipdate")}")
    }
  }

  test("documents/embeddings schemas") {
    assertShape("documents", Map("doc_id" -> LongType, "text" -> StringType,
      "lang" -> StringType, "source" -> StringType, "n_chars" -> LongType))
    for (sf <- sfs) {
      val e = shape("embeddings", sf)
      assert(e("vec_id") == LongType && e("label") == IntegerType,
        s"embeddings key/label drifted at $sf: $e")
      assert(e("embedding").isInstanceOf[ArrayType] &&
        e("embedding").asInstanceOf[ArrayType].elementType == FloatType,
        s"embeddings.embedding must be array<float>, got ${e("embedding")}")
    }
  }

  test("events loads under the canonical time contract at every sf") {
    val tsLike = Set[DataType](LongType, TimestampType, TimestampNTZType)
    for (sf <- sfs) {
      val ev = Tables.events(spark, sf)
      val got = ev.schema.fields.map(f => f.name -> f.dataType).toMap
      assert(tsLike.contains(got("ts")),
        s"events.ts at $sf has unknown layout ${got("ts")} — extend " +
          "Tables.canonicalEventTime AND this spec for the new layout")
      assert(got("t_us") == LongType, s"canonical t_us must be long: $got")
      assert(got("ts_micros") == TimestampType,
        s"canonical ts_micros must be TIMESTAMP: $got")
      assert(got - "ts" - "t_us" - "ts_micros" == Map(
        "event_id" -> LongType, "user_id" -> LongType,
        "event_type" -> StringType, "value" -> DoubleType,
        "props" -> StringType),
        s"events non-time schema drifted at $sf: $got")
      // a real action through the time contract (drift throws at analysis,
      // but malformed values would only surface at execution)
      assert(ev.selectExpr("max(t_us)").head().getLong(0) > 0L)
    }
  }

  test("canonicalEventTime: layouts agree on 300 seeded-random instants incl. " +
      "epoch, pre-1970, and far-future") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(42)
    // µs-granular instants (the common precision of both layouts): spread
    // over ±30 years around the epoch plus pinned edges
    val usVals = (Seq(0L, 1L, -1L, -1000000L, 999999L,
      1700000000000000L, 4102444800000000L, -500000000000000L) ++
      Seq.fill(292)((rnd.nextLong() % (30L * 365 * 86400 * 1000000)))).distinct
    val longDf = usVals.map(us => (us, us * 1000L))
      .toDF("event_id", "ts")
    val microsDf = usVals.map { us =>
      val secs = Math.floorDiv(us, 1000000L)
      val nanos = (Math.floorMod(us, 1000000L) * 1000L).toInt
      (us, java.time.LocalDateTime.ofEpochSecond(secs, nanos,
        java.time.ZoneOffset.UTC))
    }.toDF("event_id", "ts")
    def canon(df: org.apache.spark.sql.DataFrame) =
      Tables.canonicalEventTime(df)
        .select(col("event_id"), col("t_us"),
          unix_micros(col("ts_micros")).as("m_us"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val (a, b) = (canon(longDf), canon(microsDf))
    assert(a == b, "layouts must canonicalize identically for every instant")
    // and t_us is the identity on the generated µs values in BOTH layouts
    a.foreach { case (us, tUs, mUs) =>
      assert(tUs == us && mUs == us, s"instant $us: t_us=$tUs ts_micros→$mUs")
    }
  }

  test("canonicalEventTime: nanos-long and micros-timestamp layouts agree") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val usVals = Seq(1700000000000000L, 1700000000000001L, 1700003600123456L)
    val longDf = usVals.map(us => (1L, us * 1000L, "click", 1.0))
      .toDF("event_id", "ts", "event_type", "value")
    val microsDf = usVals.map(us => (1L,
        java.time.LocalDateTime.ofEpochSecond(us / 1000000L,
          ((us % 1000000L) * 1000L).toInt, java.time.ZoneOffset.UTC),
        "click", 1.0))
      .toDF("event_id", "ts", "event_type", "value")
    assert(microsDf.schema("ts").dataType == TimestampNTZType)
    def canon(df: org.apache.spark.sql.DataFrame) =
      Tables.canonicalEventTime(df)
        .select("t_us", "ts_micros").orderBy("t_us")
        .collect().map(r => (r.getLong(0), r.getTimestamp(1))).toSeq
    assert(canon(longDf) == canon(microsDf),
      "the two layouts must canonicalize to identical (t_us, ts_micros)")
    assert(canon(longDf).map(_._1) == usVals)
  }
}
