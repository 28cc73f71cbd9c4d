package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.Tables

class OlapSpec extends AnyFunSuite with TempDirs {
  lazy val spark: SparkSession = Tables.localSession("olap-spec", cores = 8)
  val sf = "/root/testdata/sf0.01"

  test("approx_percentile sketch within 5% of exact — the 100 TB percentile path") {
    val c = graft.core.Tables.customer(spark, sf)
    val r = c.agg(
      org.apache.spark.sql.functions.expr("percentile(c_acctbal, 0.5)").as("exact"),
      org.apache.spark.sql.functions.expr("approx_percentile(c_acctbal, 0.5, 1000)").as("approx"))
      .collect().head
    val (exact, approx) = (r.getDouble(0), r.getDouble(1))
    assert(math.abs(approx - exact) / math.abs(exact) < 0.05,
      s"approx p50 $approx too far from exact $exact")
  }

  test("approx_count_distinct (HLL++) within 5% of exact — the 100 TB distinct path") {
    val r = Tables.lineitem(spark, sf).agg(
      countDistinct(col("l_partkey")).as("exact"),
      approx_count_distinct(col("l_partkey")).as("approx"),
      approx_count_distinct(col("l_partkey"), 0.01).as("approx_tight")).collect().head
    val exact = r.getLong(0).toDouble
    assert(math.abs(r.getLong(1) - exact) / exact < 0.05)
    assert(math.abs(r.getLong(2) - exact) / exact < 0.02)
  }

  test("as-of join: no order loses rows; misses carry null (left-outer semantics)") {
    val out = SparkEntry.queries("olap_asof_join")(spark, sf)
    val n = Tables.orders(spark, sf).count()
    assert(out.count() == n, "as-of join must preserve every left row")
    // schema: orderkey + nullable last_event_us
    assert(out.columns.toSeq == Seq("o_orderkey", "last_event_us"))
  }

  test("as-of join: day-bucketed window carries the running max across buckets" +
      " (both events.ts layouts)") {
    import spark.implicits._
    val DayNs = 86400L * 1000000000L
    // BOTH testdata layouts the driver has generated: nanos-as-long and
    // micros-timestamp — pinned here so a regeneration is a no-op (round 5
    // lost 21 queries to exactly that drift)
    for (layout <- Seq("nanos-long", "micros-timestamp")) {
      val dir = tempDir(s"asof-$layout").toString
      // events for user 1: day 0 noon and day 5 noon
      val evNs = Seq((1L, DayNs / 2, "click", 1.0),
        (1L, 5 * DayNs + DayNs / 2, "click", 2.0))
      val ev = layout match {
        case "nanos-long" => evNs.toDF("user_id", "ts", "event_type", "value")
        case _ => evNs.map { case (u, ns, t, v) =>
            (u, java.time.LocalDateTime.ofEpochSecond(ns / 1000000000L,
              (ns % 1000000000L).toInt, java.time.ZoneOffset.UTC), t, v)
          }.toDF("user_id", "ts", "event_type", "value")
      }
      ev.write.mode("overwrite").parquet(s"$dir/events.parquet")
      def tsAt(ns: Long) = new java.sql.Timestamp(ns / 1000000L)
      Seq(
        (10L, 1L, tsAt(DayNs / 4)),          // day 0, BEFORE first event → null
        (11L, 1L, tsAt(3 * DayNs)),          // day 3 → carry from day 0 across empty buckets
        (12L, 1L, tsAt(5 * DayNs + DayNs / 2)), // exactly at event 2 → inclusive match
        (13L, 1L, tsAt(5 * DayNs + 3 * DayNs / 4))) // day 5 later → in-bucket running max
        .toDF("o_orderkey", "o_custkey", "o_orderdate")
        .write.mode("overwrite").parquet(s"$dir/orders.parquet")
      val got = SparkEntry.queries("olap_asof_join")(spark, dir)
        .collect().map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
      def us(ns: Long) = ns / 1000L
      assert(got(10L) == None, layout)
      assert(got(11L) == Some(us(DayNs / 2)), layout)
      assert(got(12L) == Some(us(5 * DayNs + DayNs / 2)), layout)
      assert(got(13L) == Some(us(5 * DayNs + DayNs / 2)), layout)
      // and the big window's sort key is the COMPOSED (k, bucket) partition —
      // the de-skew contract (≤20-way parallelism otherwise)
      val plan = SparkEntry.queries("olap_asof_join")(spark, dir)
        .queryExecution.optimizedPlan.toString
      assert(plan.contains("windowspecdefinition(k#") || plan.contains("partitionbyspec"),
        "expected a window in the plan")
      assert(plan.contains("bkt"), s"window must partition by the day bucket:\n$plan")
    }
  }

  test("events_funnel_windowed: conversion-window semantics differ from " +
      "global-min funnel in BOTH directions") {
    import spark.implicits._
    val dayNs = 86400L * 1000000000L
    val dir = tempDir("funnel-win").toString
    // user 1: view BEFORE signup, then view again 2 days after — the
    //   windowed funnel advances (first qualifying view is day 3), the
    //   global-min funnel does NOT (min view day 0 < min signup day 1);
    // user 2: signup day 0, view day 10 — the global-min funnel advances
    //   (t1 < t2), the windowed one does NOT (outside the 3-day window)
    val rows = Seq(
      (1L, 0 * dayNs, 1L, "view", 1.0, "{}"),
      (2L, 1 * dayNs, 1L, "signup", 1.0, "{}"),
      (3L, 3 * dayNs, 1L, "view", 1.0, "{}"),
      (4L, 0 * dayNs, 2L, "signup", 1.0, "{}"),
      (5L, 10 * dayNs, 2L, "view", 1.0, "{}"))
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val win = SparkEntry.queries("events_funnel_windowed")(spark, dir).collect().head
    val glob = SparkEntry.queries("events_funnel")(spark, dir).collect().head
    assert(win.getAs[Long]("n_signup") == 2 && glob.getAs[Long]("n_signup") == 2)
    assert(win.getAs[Long]("n_view") == 1, s"windowed: only user 1 qualifies: $win")
    assert(glob.getAs[Long]("n_view") == 1, s"global-min: only user 2 qualifies: $glob")
    // and the two advancing users are genuinely different users — re-run
    // user-by-user to pin which side advanced whom
    def oneUser(u: Long, q: String): Long = {
      rows.filter(_._3 == u).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.mode("overwrite").parquet(s"$dir/u$u/events.parquet")
      SparkEntry.queries(q)(spark, s"$dir/u$u").collect().head.getAs[Long]("n_view")
    }
    assert(oneUser(1L, "events_funnel_windowed") == 1 && oneUser(1L, "events_funnel") == 0)
    assert(oneUser(2L, "events_funnel_windowed") == 0 && oneUser(2L, "events_funnel") == 1)
  }

  test("olap_merge_upsert: delete wins over update; inserts disjoint; counts conserve") {
    val base = Tables.orders(spark, sf)
    val out = SparkEntry.queries("olap_merge_upsert")(spark, sf).cache()
    val n = base.count()
    val nDel = base.filter(col("o_orderkey") % 17 === 0).count()
    val nIns = base.filter(col("o_orderkey") % 23 === 0).count()
    assert(out.count() == n - nDel + nIns, "merge must conserve row accounting")
    // delete wins for keys in both change sets (k % 170 == 0)
    val both = base.filter(col("o_orderkey") % 170 === 0).count()
    assert(both > 0, "fixture must exercise the update+delete collision")
    assert(out.filter(col("o_orderkey") % 170 === 0 &&
      col("o_orderkey") < 10000000L).count() == 0, "delete must win over update")
    // updated rows carry the new status; untouched rows the old one
    assert(out.filter(col("o_orderkey") % 10 === 0 && col("o_orderkey") % 17 =!= 0 &&
      col("o_orderkey") < 10000000L && col("status") =!= "U").count() == 0)
    assert(out.filter(col("o_orderkey") >= 10000000L && col("status") =!= "N").count() == 0)
    out.unpersist()
  }

  test("olap_hll_merge: sketch union is lossless; summing daily distincts overcounts") {
    val r = SparkEntry.queries("olap_hll_merge")(spark, sf).collect().head
    assert(r.getAs[Boolean]("merged_within_5pct"), "merged estimate off by >5%")
    assert(r.getAs[Boolean]("merge_matches_direct"),
      "HLL union estimate must track sketching the whole corpus to ≤2% " +
        "(bit-equality only holds in sparse mode; dense sketches diverge " +
        "HIP-vs-composite)")
    // the operational reason sketches exist: exact daily distincts don't add
    val sumDaily = Tables.events(spark, sf)
      .select(expr("t_us div 86400000000").as("day"), col("user_id")).distinct()
      .groupBy("day").count().agg(sum("count")).head.getLong(0)
    assert(sumDaily > 2 * r.getAs[Long]("exact_distinct"),
      s"fixture too weak: sum-of-daily $sumDaily vs exact ${r.getAs[Long]("exact_distinct")}")
  }

  test("olap_sessionize agrees with Spark's built-in session_window aggregation") {
    // two independent implementations of the same 30-min-gap semantics:
    // the declared window-based query (oracle-checked vs DuckDB) and
    // Spark's native session_window grouping (state-store capable, the
    // streaming-ready form). Their (user, span, count) sets must coincide.
    // BOUNDARY CAVEAT: at a gap of EXACTLY 30 min the two diverge by
    // definition — the declared query splits only when gap > 30 min, while
    // session_window's half-open [t, t+gap) window splits at >= 30 min. The
    // parity claim is therefore only valid on data with no exact-gap
    // adjacent pair; assert that precondition on the fixture first, so a
    // testdata regeneration that violates it fails LOUDLY here instead of
    // producing a mystifying set diff below.
    val ev = Tables.events(spark, sf)
    val exactGapPairs = ev.select(col("user_id"), col("t_us"))
      .withColumn("gap", col("t_us") -
        lag("t_us", 1).over(org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy("t_us")))
      .filter(col("gap") === 1800000000L).count()
    assert(exactGapPairs == 0,
      s"fixture has $exactGapPairs exactly-30-min adjacent pairs — the " +
        "built-in-vs-declared parity comparison is undefined at the boundary")
    val builtIn = ev
      .groupBy(col("user_id"), session_window(col("ts_micros"), "30 minutes"))
      .agg(min("t_us").as("s"), max("t_us").as("e"), count(lit(1)).as("n"))
      .select("user_id", "s", "e", "n").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val custom = SparkEntry.queries("olap_sessionize")(spark, sf)
      .groupBy("user_id", "session_id")
      .agg(min("t_us").as("s"), max("t_us").as("e"), count(lit(1)).as("n"))
      .select("user_id", "s", "e", "n").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(builtIn == custom,
      s"built-in session_window and the declared sessionize disagree: " +
        s"only-builtin=${(builtIn -- custom).take(3)} only-custom=${(custom -- builtIn).take(3)}")
  }

  test("events_markov: transitions conserve events and rows normalize per prev") {
    val out = SparkEntry.queries("events_markov")(spark, sf).collect()
    // every user with k events contributes exactly k−1 transitions
    val ev = Tables.events(spark, sf)
    val expected = ev.count() - ev.select("user_id").distinct().count()
    assert(out.map(_.getAs[Long]("n")).sum == expected,
      "transition count must equal total events minus one per user")
    // each row of the matrix is an MLE: probabilities sum to 1 per prev_type
    out.groupBy(_.getAs[String]("prev_type")).foreach { case (prev, rows) =>
      val psum = rows.map(_.getAs[Double]("p")).sum
      assert(math.abs(psum - 1.0) < 1e-3 + 1e-4 * rows.length,
        s"row $prev sums to $psum, not ~1")
    }
  }

  test("rollup produces per-group, subtotal, and grand-total strata") {
    val out = SparkEntry.queries("olap_rollup")(spark, sf).collect()
    assert(out.exists(r => r.getString(0) == "(all)" && r.getString(1) == "(all)")) // grand total
    assert(out.exists(r => r.getString(0) != "(all)" && r.getString(1) == "(all)")) // subtotal
    assert(out.exists(r => r.getString(0) != "(all)" && r.getString(1) != "(all)")) // leaf
    // grand total n equals the sum of leaf n
    val leaves = out.filter(r => r.getString(0) != "(all)" && r.getString(1) != "(all)")
    val grand = out.find(r => r.getString(0) == "(all)" && r.getString(1) == "(all)").get
    assert(leaves.map(_.getAs[Long]("n")).sum == grand.getAs[Long]("n"))
  }

  test("events_anomaly: exact integer z-test flags the planted outlier day only") {
    import spark.implicits._
    val dir = tempDir("olap-anomaly").toString
    val dayNs = 86400L * 1000000000L
    // 10 quiet days at ~1.00/event, one day with a 100x spike
    val rows = (0 until 10).map(i =>
      (i.toLong, i * dayNs + 1000L, i.toLong, "view", 1.0, "{}")) :+
      ((10L, 10 * dayNs + 1000L, 10L, "view", 100.0, "{}"))
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = SparkEntry.queries("events_anomaly")(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(got.size == 11)
    assert(got(10L) == ((10000L, true)), s"spike day: ${got(10L)}")
    (0L until 10L).foreach(d => assert(got(d) == ((100L, false)), s"day $d: ${got(d)}"))
  }

  test("ml_linreg: a perfect line fits slope exactly with r2 = 1") {
    import spark.implicits._
    val dir = tempDir("olap-linreg").toString
    // y dollars = 200·x exactly → slope in cents/unit = 20000, r2 = 1;
    // group B is y = 50·x + 10 → slope 5000, intercept 1000 cents, r2 = 1
    val rows = (1 to 40).map(i => ("A", i.toDouble, 200.0 * i)) ++
      (1 to 40).map(i => ("B", i.toDouble, 50.0 * i + 10.0))
    rows.toDF("l_returnflag", "l_quantity", "l_extendedprice")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = SparkEntry.queries("ml_linreg")(spark, dir).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(got("A").getAs[Double]("slope") == 20000.0)
    assert(got("A").getAs[Double]("intercept") == 0.0)
    assert(got("A").getAs[Double]("r2") == 1.0)
    assert(got("B").getAs[Double]("slope") == 5000.0)
    assert(got("B").getAs[Double]("intercept") == 1000.0)
    assert(got("B").getAs[Double]("r2") == 1.0)
    // and on the real corpus the fit is well-formed (this synthetic data's
    // price/quantity correlation direction is not asserted)
    val real = SparkEntry.queries("ml_linreg")(spark, sf).collect()
    assert(real.nonEmpty)
    real.foreach { r =>
      val r2 = r.getAs[Double]("r2")
      assert(r2 >= 0 && r2 <= 1, s"${r.getString(0)}: r2 $r2")
      assert(r.getAs[Long]("n") > 0)
    }
  }

  test("events_ewma: constant series is flat; a spike decays by halves") {
    import spark.implicits._
    val dir = tempDir("olap-ewma").toString
    val dayNs = 86400L * 1000000000L
    // days 0..9 at 1.00/day, day 10 spikes to 128.00, days 11..16 quiet 1.00
    val rows = (0 until 17).map { i =>
      val v = if (i == 10) 128.0 else 1.0
      (i.toLong, i * dayNs + 5L, i.toLong, "view", v, "{}")
    }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = SparkEntry.queries("events_ewma")(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getAs[Double]("ewma_cents"))).toMap
    assert(got.size == 17)
    // warm-up rows normalize by present weights: day 0 (rn=1) is exactly 100
    assert(got(0L)._2 == 100.0, s"day0 ${got(0L)}")
    // steady state before the spike: exactly 100 cents
    assert(got(9L)._2 == 100.0, s"day9 ${got(9L)}")
    // spike day: (64·12800 + (32+16+8+4+2+1)·100)/127
    val spike = math.rint((64.0 * 12800 + 63 * 100) / 127 * 10000) / 10000
    assert(math.abs(got(10L)._2 - spike) < 1e-9, s"day10 ${got(10L)._2} vs $spike")
    // each following quiet day halves the spike's contribution
    val d11 = math.rint((32.0 * 12800 + (64 + 31) * 100) / 127 * 10000) / 10000
    assert(math.abs(got(11L)._2 - d11) < 1e-9, s"day11 ${got(11L)._2} vs $d11")
    // day 16 is the spike's last day in the 7-day horizon (weight 1):
    // (126·100 + 1·12800)/127 = 200 exactly
    assert(got(16L)._2 == 200.0, s"day16 ${got(16L)}")
  }

  test("layout_zorder: every file bounds BOTH dimensions at ~1/8 of its range") {
    val rows = SparkEntry.queries("layout_zorder")(spark, sf).collect()
    assert(rows.length == 64, s"expected the exact 8x8 quadrant split, got ${rows.length}")
    assert(rows.map(_.getAs[Long]("n")).sum ==
      Tables.lineitem(spark, sf).count())
    val (gp, gs) = {
      val r = Tables.lineitem(spark, sf)
        .agg(max("l_partkey") - min("l_partkey") + 1,
          max("l_suppkey") - min("l_suppkey") + 1).head
      (r.getLong(0), r.getLong(1))
    }
    rows.foreach { r =>
      val dp = r.getAs[Long]("max_part") - r.getAs[Long]("min_part") + 1
      val ds = r.getAs[Long]("max_supp") - r.getAs[Long]("min_supp") + 1
      // quadrant guarantee modulo rank-normalization granularity: a file
      // never spans more than a quarter of either dimension (a linear sort
      // leaves one dimension at FULL width in every file)
      assert(dp <= gp / 4, s"file ${r.getLong(0)}: part range $dp vs global $gp")
      assert(ds <= gs / 4, s"file ${r.getLong(0)}: supp range $ds vs global $gs")
    }
  }

  test("text_langid_confusion: cells partition the corpus; row shares sum to 1") {
    val rows = SparkEntry.queries("text_langid_confusion")(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("n")).sum == 500L)
    rows.groupBy(_.getString(0)).foreach { case (lang, cells) =>
      val s = cells.map(_.getAs[Double]("row_share")).sum
      assert(math.abs(s - 1.0) < 1e-3, s"$lang shares sum to $s")
    }
  }

  test("events_ab_test: the A/A hash split never fires; a planted divergence does") {
    import spark.implicits._
    // null calibration: the hash split is an A/A test on the real corpus
    val aa = SparkEntry.queries("events_ab_test")(spark, sf).collect().head
    assert(!aa.getBoolean(6),
      s"A/A split fired: rates ${aa.getDouble(4)} vs ${aa.getDouble(5)}")
    // planted divergence: arm-A users are heavy buyers (20 purchases),
    // arm-B users are not (1) — arm membership computed with the SAME
    // shared hash gate the query uses, so the plant can't mis-assign
    val arms = (1L to 60L).toDF("user_id")
      .select(col("user_id"),
        (graft.operators.Keys.hexBucketCol(col("user_id")) < 32768).as("isA"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(arms.values.exists(identity) && arms.values.exists(!_),
      "fixture needs users in both arms")
    val dayNs = 86400L * 1000000000L
    val rows = (1L to 60L).flatMap { u =>
      val k = if (arms(u)) 20 else 1
      (1 to k).map(j => (u * 1000 + j, j * dayNs, u, "purchase", 1.0, "{}"))
    }
    val dir = tempDir("ab-plant").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = SparkEntry.queries("events_ab_test")(spark, dir).collect().head
    assert(r.getBoolean(6), s"planted divergence must fire: $r")
    assert(r.getDouble(4) == 1.0 && r.getDouble(5) == 0.0,
      s"rates must separate completely: $r")
    // degenerate guard: if EVERYONE converts, D = 0 and the strict
    // inequality correctly reports not-significant (zero variance)
    val allRows = (1L to 60L).flatMap { u =>
      (1 to 20).map(j => (u * 1000 + j, j * dayNs, u, "purchase", 1.0, "{}"))
    }
    val dir2 = tempDir("ab-degen").toString
    allRows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir2/events.parquet")
    val r2 = SparkEntry.queries("events_ab_test")(spark, dir2).collect().head
    assert(!r2.getBoolean(6), s"zero-variance case must not fire: $r2")
  }

  test("olap_hll_intersect: planted overlap recovered exactly and certified") {
    import spark.implicits._
    val dayNs = 86400L * 1000000000L
    // users 1..100 click, 51..150 purchase → |A|=100, |B|=100, |A∪B|=150,
    // |A∩B|=50
    val rows = (1L to 100L).map(u => (u, dayNs, u, "click", 1.0, "{}")) ++
      (51L to 150L).map(u => (u + 1000, dayNs, u, "purchase", 1.0, "{}"))
    val dir = tempDir("hllint").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = SparkEntry.queries("olap_hll_intersect")(spark, dir).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((100L, 100L, 150L, 50L)), s"exact counts: $r")
    assert(r.getBoolean(4), s"sketch estimate must certify at this scale: $r")
  }

  test("events_copmi: hand-computed PMI on a planted co-occurrence fixture") {
    import spark.implicits._
    val dayNs = 86400L * 1000000000L
    // u1 and u2 always do A with B; u3 does C alone → N=3 sessions,
    // c_A=c_B=2, c_C=1, c_AB=2: lift = 2·3/(2·2) = 1.5, pmi = ln 1.5
    val rows = Seq(
      (1L, 1L * dayNs, 10L, "A", 1.0, "{}"), (2L, 1L * dayNs, 10L, "B", 1.0, "{}"),
      (3L, 1L * dayNs, 20L, "A", 1.0, "{}"), (4L, 1L * dayNs, 20L, "B", 1.0, "{}"),
      (5L, 1L * dayNs, 30L, "C", 1.0, "{}"))
    val dir = tempDir("copmi").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = SparkEntry.queries("events_copmi")(spark, dir).collect()
    assert(got.length == 1, s"only the A,B pair co-occurs: ${got.toSeq}")
    val r = got.head
    assert((r.getString(0), r.getString(1), r.getLong(2)) == (("A", "B", 2L)))
    assert(r.getDouble(5) == 1.5, s"lift: $r")
    assert(math.abs(r.getDouble(6) - math.log(1.5)) < 1e-4, s"pmi: $r")
  }

  test("olap_join_explosion: predicted output size equals the join actually run") {
    val sf = "/root/testdata/sf0.001"
    val prof = SparkEntry.queries("olap_join_explosion")(spark, sf).collect().head
    val ev = Tables.events(spark, sf).select("user_id")
    val actual = ev.toDF("ua").join(ev.toDF("ub"), col("ua") === col("ub")).count()
    assert(prof.getAs[Long]("out_rows") == actual,
      s"profile predicted ${prof.getAs[Long]("out_rows")}, join produced $actual")
    // the hottest key's own square must equal the reported max contribution
    val hotCount = ev.filter(col("user_id") === prof.getAs[Long]("hottest_key")).count()
    val share = prof.getAs[java.lang.Double]("top_key_share")
    assert(math.abs(share - hotCount.toDouble * hotCount / actual) < 1e-3,
      s"top_key_share $share vs recomputed ${hotCount.toDouble * hotCount / actual}")
  }

  test("events_retention_halflife: recovers a planted halve-per-day decay curve") {
    import spark.implicits._
    val DayNs = 86400L * 1000000000L
    // 1024 users all active day 0; exactly 2^(10-o) of them return at
    // offset o (nested sets) => r(o) = 2^-o, a perfect ln-line with
    // slope -ln2/day -> half-life 1 day
    val rows = (1L to 1024L).map(u => (u, 0L * DayNs + u, u, "view", 1.0)) ++
      (1 to 9).flatMap { o =>
        (1L to (1L << (10 - o))).map(u =>
          (10000L * o + u, o * DayNs + u, u, "view", 1.0))
      }
    val dir = tempDir("halflife").toString
    rows.zipWithIndex.map { case ((_, ts, u, t, v), i) => (i.toLong, ts, u, t, v) }
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = SparkEntry.queries("events_retention_halflife")(spark, dir).collect().head
    assert(r.getLong(0) == 9)
    val decay = r.getAs[Double]("decay_rate")
    assert(math.abs(decay - (-math.log(2))) < 2e-4, s"decay $decay vs -ln2")
    assert(math.abs(r.getAs[Double]("half_life_days") - 1.0) < 1e-3, r.toString)
    assert(r.getAs[Double]("r2") > 0.9999, r.toString)
  }

  test("events_cuped: a pre-period imbalance vanishes under adjustment; theta and rho2 exact") {
    import spark.implicits._
    def bucket(id: Long) = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
      Integer.parseInt(h.take(4), 16)
    }
    val aIds = (0L to 500L).filter(bucket(_) < 32768).take(10)
    val bIds = (0L to 500L).filter(bucket(_) >= 32768).take(10)
    val DayNs = 86400L * 1000000000L
    // post = 2*pre for every user and arm A gets systematically larger pre:
    // raw post means differ spuriously, but theta = 2 exactly, so the
    // adjusted means both collapse to 2*(global pre mean) — EXACTLY equal
    val rows = (aIds.zipWithIndex.map { case (u, i) => (u, 100.0 + 10 * i) } ++
      bIds.zipWithIndex.map { case (u, i) => (u, 10.0 + 1 * i) }).zipWithIndex.flatMap {
      case ((u, v), i) => Seq(
        (2L * i, 0 * DayNs + i.toLong, u, "view", v),
        (2L * i + 1, 20 * DayNs + i.toLong, u, "purchase", 2 * v))
    }
    val dir = tempDir("cuped").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = SparkEntry.queries("events_cuped")(spark, dir).collect()
      .map(r => r.getString(0) -> r).toMap
    val (ra, rb) = (got("A"), got("B"))
    assert(ra.getLong(1) == 10 && rb.getLong(1) == 10)
    assert(ra.getAs[Double]("mean_post") != rb.getAs[Double]("mean_post"),
      "the planted imbalance must show in the raw means")
    assert(ra.getAs[Double]("mean_adjusted") == rb.getAs[Double]("mean_adjusted"),
      s"CUPED must remove the pre-period imbalance exactly: $ra vs $rb")
    assert(ra.getAs[Double]("theta") == 2.0 && ra.getAs[Double]("var_reduction") == 1.0)
  }

  test("olap_incremental_agg: the base+delta merge equals the direct recompute") {
    val out = SparkEntry.queries("olap_incremental_agg")(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val direct = Tables.events(spark, sf)
      .selectExpr("event_type", "CAST(round(value * 100, 0) AS BIGINT) AS cents")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("cents").as("c"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out == direct, s"merge forked from recompute: $out vs $direct")
  }

  test("olap_snapshot_diff: added/removed/changed/unchanged verdicts and the last-state tie-break") {
    import spark.implicits._
    val DayNs = 86400L * 1000000000L
    val dir = tempDir("snapdiff").toString
    // (event_id, ts_ns, user_id, type): u1 removed, u2 added, u3 unchanged,
    // u4 changed, u5 added with a same-timestamp tie broken by event_id
    Seq(
      (1L, 0 * DayNs + 100L, 1L, "click"),
      (2L, 20 * DayNs, 2L, "view"),
      (3L, 1 * DayNs, 3L, "signup"), (4L, 16 * DayNs, 3L, "signup"),
      (5L, 2 * DayNs, 4L, "click"), (6L, 17 * DayNs, 4L, "error"),
      (10L, 21 * DayNs, 5L, "purchase"), (11L, 21 * DayNs, 5L, "view"))
      .toDF("event_id", "ts", "user_id", "event_type")
      .withColumn("value", lit(1.0))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = SparkEntry.queries("olap_snapshot_diff")(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSet
    val want = Set(
      ("(absent)", "view", "added", 2L), // u2, and u5 via the id-11 tie win
      ("click", "(absent)", "removed", 1L),
      ("click", "error", "changed", 1L),
      ("signup", "signup", "unchanged", 1L))
    assert(got == want, s"extra ${got diff want}, missing ${want diff got}")
  }
}
