package graft.operators

import org.apache.spark.sql.functions._
import graft.core.{QueryDef, Snapshots, Tables}
import graft.core.QueryDef.sql

/** OLAP surface beyond the reference's own operators (SURVEY §2.5 notes
  * these as "absent — Catalyst provides them"): multi-dimensional
  * aggregation (rollup/cube/grouping sets), pivot, set operations,
  * distinct + approximate-distinct, and a composed as-of join.
  *
  * All are single-shuffle partial-aggregable shapes that hold at 100 TB.
  */
object Olap {

  /** ROLLUP over (returnflag, linestatus): subtotals + grand total.
    * `grouping()` disambiguates a SUBTOTAL row's NULL from a genuine NULL
    * data value (which renders "(null)") — coalesce alone would silently
    * merge a null-keyed data group into the subtotal line. */
  val rollupAgg = sql(
    "olap_rollup",
    """SELECT CASE WHEN GROUPING(l_returnflag) = 1 THEN '(all)'
      |            ELSE coalesce(l_returnflag, '(null)') END AS rf,
      |       CASE WHEN GROUPING(l_linestatus) = 1 THEN '(all)'
      |            ELSE coalesce(l_linestatus, '(null)') END AS ls,
      |       round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
      |FROM lineitem
      |GROUP BY ROLLUP (l_returnflag, l_linestatus)
      |ORDER BY rf, ls""".stripMargin) { (s, d) =>
    Tables.lineitem(s, d)
      .rollup("l_returnflag", "l_linestatus")
      .agg(grouping(col("l_returnflag")).as("g_rf"),
        grouping(col("l_linestatus")).as("g_ls"),
        round(sum("l_quantity"), 2).as("sum_qty"), count(lit(1)).as("n"))
      .select(
        when(col("g_rf") === 1, "(all)")
          .otherwise(coalesce(col("l_returnflag"), lit("(null)"))).as("rf"),
        when(col("g_ls") === 1, "(all)")
          .otherwise(coalesce(col("l_linestatus"), lit("(null)"))).as("ls"),
        col("sum_qty"), col("n"))
      .orderBy("rf", "ls")
  }

  /** CUBE over (orderstatus, orderpriority); same `grouping()` rule as
    * ROLLUP — subtotal NULLs render "(all)", data NULLs "(null)". */
  val cubeAgg = sql(
    "olap_cube",
    """SELECT CASE WHEN GROUPING(o_orderstatus) = 1 THEN '(all)'
      |            ELSE coalesce(o_orderstatus, '(null)') END AS st,
      |       CASE WHEN GROUPING(o_orderpriority) = 1 THEN '(all)'
      |            ELSE coalesce(o_orderpriority, '(null)') END AS pri,
      |       count(*) AS n, round(sum(o_totalprice), 2) AS total
      |FROM orders
      |GROUP BY CUBE (o_orderstatus, o_orderpriority)
      |ORDER BY st, pri""".stripMargin) { (s, d) =>
    Tables.orders(s, d)
      .cube("o_orderstatus", "o_orderpriority")
      .agg(grouping(col("o_orderstatus")).as("g_st"),
        grouping(col("o_orderpriority")).as("g_pri"),
        count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
      .select(
        when(col("g_st") === 1, "(all)")
          .otherwise(coalesce(col("o_orderstatus"), lit("(null)"))).as("st"),
        when(col("g_pri") === 1, "(all)")
          .otherwise(coalesce(col("o_orderpriority"), lit("(null)"))).as("pri"),
        col("n"), col("total"))
      .orderBy("st", "pri")
  }

  /** PIVOT: event counts per user pivoted by event_type (fixed key set —
    * the scalable form; dynamic pivot needs a driver-side distinct). */
  val pivotAgg = sql(
    "olap_pivot",
    """SELECT user_id,
      |       count(*) FILTER (WHERE event_type = 'click')    AS click,
      |       count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
      |       count(*) FILTER (WHERE event_type = 'error')    AS error
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
    Tables.events(s, d)
      .groupBy("user_id")
      .pivot("event_type", Seq("click", "purchase", "error"))
      .agg(count(lit(1)))
      .na.fill(0)
      .select(col("user_id"), col("click"), col("purchase"), col("error"))
      .orderBy("user_id")
  }

  /** INTERSECT: custkeys appearing in both market segments' big-spender
    * sets (distinct-based set op). */
  val intersectOp = sql(
    "olap_intersect",
    """SELECT o_custkey FROM orders WHERE o_totalprice > 200000
      |INTERSECT
      |SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
      |ORDER BY o_custkey""".stripMargin) { (s, d) =>
    val o = Tables.orders(s, d)
    o.filter(col("o_totalprice") > 200000).select("o_custkey")
      .intersect(o.filter(col("o_orderstatus") === "F").select("o_custkey"))
      .orderBy("o_custkey")
  }

  /** EXCEPT: customers with orders but none heavy. */
  val exceptOp = sql(
    "olap_except",
    """SELECT o_custkey FROM orders
      |EXCEPT
      |SELECT o_custkey FROM orders WHERE o_totalprice > 300000
      |ORDER BY o_custkey""".stripMargin) { (s, d) =>
    val o = Tables.orders(s, d)
    o.select("o_custkey")
      .except(o.filter(col("o_totalprice") > 300000).select("o_custkey"))
      .orderBy("o_custkey")
  }

  /** Exact + approximate distinct counts. HLL is the 100 TB path (fixed
    * memory, mergeable); the exact count is the oracle anchor. Spark's HLL++
    * and DuckDB's approx_count_distinct differ by design, so only the exact
    * value is oracle-compared; the approx column is checked for presence by
    * a relative-error bound in ScalaTest instead. */
  val distinctCounts = sql(
    "olap_distinct",
    """SELECT count(DISTINCT l_partkey) AS n_parts,
      |       count(DISTINCT l_suppkey) AS n_supps
      |FROM lineitem""".stripMargin) { (s, d) =>
    Tables.lineitem(s, d).agg(
      countDistinct(col("l_partkey")).as("n_parts"),
      countDistinct(col("l_suppkey")).as("n_supps"))
  }

  /** As-of join, composed from built-ins (SURVEY guide preference (a)):
    * for every order, the most recent event timestamp of its (derived)
    * user at-or-before the order date. Implemented as the scalable
    * union + sort-shuffle + running-max pattern — no per-row point
    * lookups, no range cross join.
    *
    * Skew control: the raw join key has only ~20 distinct values, so a
    * single window over `k` would sort at ≤20-way parallelism with 1/20th
    * of BOTH tables per partition — a straggler machine at 100 TB. The
    * window key is therefore composed with a coarse time bucket (k × day):
    * the running max runs per (k, bucket), and a second, TINY window over
    * the per-bucket maxima (|k|·|buckets| rows) carries the result across
    * bucket boundaries. Same answer, sort parallelism |k|·|buckets|
    * instead of |k|.
    *
    * Oracle: DuckDB correlated max() subquery (its ASOF JOIN drops
    * no-match rows; the subquery keeps left-outer semantics). */
  val asofJoin = sql(
    "olap_asof_join",
    """SELECT o.o_orderkey,
      |       (SELECT max(epoch_us(e.ts)) FROM events e
      |        WHERE e.user_id = o.o_custkey % 20
      |          AND epoch_us(e.ts) <= epoch_us(o.o_orderdate)) AS last_event_us
      |FROM orders o
      |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(s, d).select(
      col("user_id").as("k"),
      // µs on BOTH sides: DuckDB's epoch_ns on TIMESTAMP_NS truncates to
      // µs anyway, so raw nanos would silently disagree once a match exists
      col("t_us"),
      lit(0).as("side"),           // events sort before orders at equal ts (<=)
      lit(null).cast("long").as("o_orderkey"))
    val ord = Tables.orders(s, d).select(
      (col("o_custkey") % 20).as("k"),
      // o_orderdate is TIMESTAMP_NTZ; session TZ is UTC so the cast is the
      // identity instant, matching DuckDB's epoch_us on the naive timestamp
      unix_micros(col("o_orderdate").cast("timestamp")).as("t_us"),
      lit(1).as("side"),
      col("o_orderkey"))
    val DayUs = 86400L * 1000000L
    val u = ev.unionByName(ord).withColumn("bkt", floor(col("t_us") / DayUs))
    // pass 1: running event-max within each (k, day-bucket) — the big sort,
    // parallel across |k|·|buckets| groups instead of |k|
    val wLocal = Window.partitionBy("k", "bkt").orderBy("t_us", "side")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = u.withColumn(
      "local_max", max(when(col("side") === 0, col("t_us"))).over(wLocal))
    // pass 2: per-(k, bucket) event maxima over every bucket that appears on
    // EITHER side (so event-less buckets still receive the carry), then a
    // strictly-preceding prefix max per k. |k|·|buckets| rows: the ≤|k|-way
    // window here sorts a few thousand aggregates, not the fact tables.
    val wPrefix = Window.partitionBy("k").orderBy("bkt")
      .rowsBetween(Window.unboundedPreceding, -1)
    val prefix = u.groupBy("k", "bkt")
      .agg(max(when(col("side") === 0, col("t_us"))).as("bmax"))
      .withColumn("prev_max", max("bmax").over(wPrefix))
      .select("k", "bkt", "prev_max")
    // greatest() skips nulls: the in-bucket running max wins when both exist
    // (it is ≥ any earlier bucket's carry); all-null (no event at-or-before)
    // stays null = the oracle's left-outer no-match
    local.filter(col("side") === 1)
      .join(broadcast(prefix), Seq("k", "bkt"), "left")
      .withColumn("last_event_us", greatest(col("local_max"), col("prev_max")))
      .select(col("o_orderkey"), col("last_event_us"))
      .orderBy("o_orderkey")
  }

  /** GROUPING SETS with an explicit set list (distinct from rollup/cube). */
  val groupingSets = sql(
    "olap_grouping_sets",
    """SELECT CASE WHEN GROUPING(l_returnflag) = 1 THEN '(all)'
      |            ELSE coalesce(l_returnflag, '(null)') END AS rf,
      |       CASE WHEN GROUPING(l_linestatus) = 1 THEN '(all)'
      |            ELSE coalesce(l_linestatus, '(null)') END AS ls,
      |       count(*) AS n
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
      |ORDER BY rf, ls""".stripMargin) { (s, d) =>
    val li = Tables.lineitem(s, d)
    li.createOrReplaceTempView("lineitem")
    s.sql(
      """SELECT CASE WHEN GROUPING(l_returnflag) = 1 THEN '(all)'
        |            ELSE coalesce(l_returnflag, '(null)') END AS rf,
        |       CASE WHEN GROUPING(l_linestatus) = 1 THEN '(all)'
        |            ELSE coalesce(l_linestatus, '(null)') END AS ls,
        |       count(*) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY rf, ls""".stripMargin)
  }

  /** Window-function family: lag/lead/rank/dense_rank/ntile over one
    * partition-ordered frame (beyond-reference analytics). */
  val windowFamily = sql(
    "olap_window_family",
    """SELECT c_custkey, c_mktsegment,
      |       lag(c_custkey) OVER w AS prev_key,
      |       lead(c_custkey) OVER w AS next_key,
      |       rank() OVER w AS rnk,
      |       dense_rank() OVER w AS drnk,
      |       ntile(4) OVER w AS quartile
      |FROM customer
      |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)
      |ORDER BY c_custkey""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("c_mktsegment").orderBy(col("c_acctbal").desc, col("c_custkey"))
    Tables.customer(s, d).select(
      col("c_custkey"), col("c_mktsegment"),
      lag("c_custkey", 1).over(w).as("prev_key"),
      lead("c_custkey", 1).over(w).as("next_key"),
      rank().over(w).as("rnk"),
      dense_rank().over(w).as("drnk"),
      ntile(4).over(w).as("quartile"))
      .orderBy("c_custkey")
  }

  /** Distribution-position window family — percent_rank/cume_dist (the
    * per-row quantile position, what score normalization and outlier
    * trimming key on) plus frame-boundary first/last/nth_value with the
    * explicit RANGE frame last_value needs to mean "partition max" rather
    * than "current row". Same single partition-ordered shuffle as
    * `olap_window_family`; positions divide identical integers, rounded
    * 4 dp. */
  val windowFamily2 = sql(
    "olap_window_family2",
    """SELECT s_suppkey, s_nationkey,
      |       round(percent_rank() OVER w, 4) AS pct_rank,
      |       round(cume_dist() OVER w, 4) AS cume,
      |       first_value(s_suppkey) OVER w AS poorest,
      |       last_value(s_suppkey)
      |         OVER (PARTITION BY s_nationkey ORDER BY s_acctbal, s_suppkey
      |               RANGE BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      |         AS richest,
      |       nth_value(s_suppkey, 2)
      |         OVER (PARTITION BY s_nationkey ORDER BY s_acctbal, s_suppkey
      |               RANGE BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      |         AS second_poorest
      |FROM supplier
      |WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal, s_suppkey)
      |ORDER BY s_suppkey""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("s_nationkey")
      .orderBy(col("s_acctbal"), col("s_suppkey"))
    val wFull = w.rangeBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.supplier(s, d).select(
      col("s_suppkey"), col("s_nationkey"),
      round(percent_rank().over(w), 4).as("pct_rank"),
      round(cume_dist().over(w), 4).as("cume"),
      first(col("s_suppkey")).over(w).as("poorest"),
      last(col("s_suppkey")).over(wFull).as("richest"),
      nth_value(col("s_suppkey"), 2).over(wFull).as("second_poorest"))
      .orderBy("s_suppkey")
  }

  /** CLOSED-FORM LINEAR REGRESSION per group — slope/intercept/R² of
    * price-in-cents on quantity for each returnflag: the `regr_slope`
    * family of analytic SQL, computed from EXACT integer sums (n, Σx, Σy,
    * Σxy, Σx², Σy²) rather than each engine's streaming-covariance
    * kernel, whose accumulation order would differ. Sums run as
    * DECIMAL(38,0)/HUGEINT (Σy² at 1e7-cent prices × 6e5 rows tops 6e19 —
    * past int64); the closed forms then do identical double arithmetic on
    * identical integers, rounded 4 dp. ONE partial-aggregable pass, no
    * window, no join — the normal-equations shape that trains a linear
    * model in a single scan at any scale. */
  val mlLinreg = sql(
    "ml_linreg",
    """WITH b AS (SELECT l_returnflag AS flag,
      |                  CAST(l_quantity AS BIGINT) AS x,
      |                  CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS y
      |           FROM lineitem),
      |s AS (SELECT flag, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
      |             sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
      |      FROM b GROUP BY flag)
      |SELECT flag AS l_returnflag, CAST(n AS BIGINT) AS n,
      |       round(CAST(n * sxy - sx * sy AS DOUBLE)
      |             / CAST(n * sxx - sx * sx AS DOUBLE), 4) AS slope,
      |       round((CAST(sy AS DOUBLE)
      |              - CAST(n * sxy - sx * sy AS DOUBLE)
      |                / CAST(n * sxx - sx * sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |             / CAST(n AS DOUBLE), 4) AS intercept,
      |       round(CAST(n * sxy - sx * sy AS DOUBLE) * CAST(n * sxy - sx * sy AS DOUBLE)
      |             / (CAST(n * sxx - sx * sx AS DOUBLE) * CAST(n * syy - sy * sy AS DOUBLE)),
      |             4) AS r2
      |FROM s ORDER BY l_returnflag""".stripMargin) { (s, d) =>
    val dec = "decimal(38,0)"
    val b = Tables.lineitem(s, d).select(
      col("l_returnflag").as("flag"),
      col("l_quantity").cast("long").as("x"),
      round(col("l_extendedprice") * 100, 0).cast("long").as("y"))
    val st = b.groupBy("flag").agg(
      count(lit(1)).cast(dec).as("n"),
      sum(col("x").cast(dec)).as("sx"),
      sum(col("y").cast(dec)).as("sy"),
      sum((col("x") * col("y")).cast(dec)).as("sxy"),
      sum((col("x") * col("x")).cast(dec)).as("sxx"),
      sum((col("y") * col("y")).cast(dec)).as("syy"))
    val num = (col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
    val dx = (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
    val dy = (col("n") * col("syy") - col("sy") * col("sy")).cast("double")
    st.select(col("flag").as("l_returnflag"),
        col("n").cast("long").as("n"),
        round(num / dx, 4).as("slope"),
        round((col("sy").cast("double") - num / dx * col("sx").cast("double"))
          / col("n").cast("double"), 4).as("intercept"),
        round(num * num / (dx * dy), 4).as("r2"))
      .orderBy("l_returnflag")
  }

  /** Exact interpolated percentiles (both engines: lo + (hi-lo)*frac). */
  val percentiles = sql(
    "olap_percentiles",
    """SELECT c_mktsegment,
      |       quantile_cont(c_acctbal, 0.25) AS p25,
      |       quantile_cont(c_acctbal, 0.75) AS p75,
      |       quantile_cont(c_acctbal, 0.99) AS p99
      |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin) { (s, d) =>
    Tables.customer(s, d)
      .groupBy("c_mktsegment")
      .agg(
        expr("percentile(c_acctbal, 0.25)").as("p25"),
        expr("percentile(c_acctbal, 0.75)").as("p75"),
        expr("percentile(c_acctbal, 0.99)").as("p99"))
      .orderBy("c_mktsegment")
  }

  /** Temporal extraction + truncation + monthly aggregation. */
  val dateOps = sql(
    "olap_date_ops",
    """SELECT CAST(year(o_orderdate) AS INT) AS y,
      |       CAST(month(o_orderdate) AS INT) AS m,
      |       strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
      |       count(*) AS n, round(sum(o_totalprice), 2) AS total
      |FROM orders GROUP BY 1, 2, 3 ORDER BY y, m""".stripMargin) { (s, d) =>
    Tables.orders(s, d)
      .groupBy(
        year(col("o_orderdate")).cast("int").as("y"),
        month(col("o_orderdate")).cast("int").as("m"),
        date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM-dd").as("month_start"))
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
      .orderBy("y", "m")
  }

  /** Batch sessionization: the gaps-and-islands composition — flag rows
    * whose gap from the previous event exceeds 30 minutes, then a running
    * sum of flags is the session id. Per-user windows (parallel across
    * users); the streaming counterpart is `Jobs.sessionize`
    * (mapGroupsWithState). Safe under timestamp ties: equal-ts rows see
    * gap 0 and identical preceding flag sets, so every ordering yields the
    * same (user, ts, session) multiset — which is what the hash compares. */
  val sessionize = sql(
    "olap_sessionize",
    """WITH e AS (SELECT user_id, epoch_us(ts) AS t_us FROM events),
      |m AS (SELECT user_id, t_us,
      |             CASE WHEN t_us - lag(t_us) OVER (PARTITION BY user_id ORDER BY t_us)
      |                       > 1800000000 THEN 1 ELSE 0 END AS new_s
      |      FROM e)
      |SELECT user_id, t_us,
      |       CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY t_us
      |                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      |FROM m ORDER BY user_id, t_us""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val GapUs = 1800000000L // 30 min in µs (µs: DuckDB's epoch_ns truncates
    val byT = Window.partitionBy("user_id").orderBy("t_us") // TIMESTAMP_NS anyway)
    val run = byT.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, d).select(col("user_id"), col("t_us"))
      .withColumn("new_s",
        when(col("t_us") - lag("t_us", 1).over(byT) > GapUs, 1).otherwise(0))
      .select(col("user_id"), col("t_us"),
        sum("new_s").over(run).cast("long").as("session_id"))
      .orderBy("user_id", "t_us")
  }

  /** RANGE-frame rolling window: per-customer 7-day rolling revenue via
    * `RANGE BETWEEN 6 PRECEDING AND CURRENT ROW` over the integer day key —
    * the value-based frame class (rowsBetween is used elsewhere; range
    * frames bound by the ORDER BY value are their own windowing semantics).
    * Revenue is exact integer cents (per-row round before summing — the
    * ml_features rule), so every sum is engine-exact with no float policy
    * needed. Partitioned by customer: parallel, no global window. */
  val rollingWindow = sql(
    "olap_rolling_window",
    """WITH d AS (SELECT o_custkey,
      |                  datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS day,
      |                  CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
      |           FROM orders),
      |g AS (SELECT o_custkey, day, CAST(sum(cents) AS BIGINT) AS day_cents
      |      FROM d GROUP BY o_custkey, day)
      |SELECT o_custkey, day, day_cents,
      |       CAST(sum(day_cents) OVER (PARTITION BY o_custkey ORDER BY day
      |            RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS roll7_cents
      |FROM g ORDER BY o_custkey, day""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val day = datediff(col("o_orderdate").cast("date"), lit("1970-01-01").cast("date"))
    val g = Tables.orders(s, d)
      .select(col("o_custkey"), day.as("day"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      .groupBy("o_custkey", "day").agg(sum("cents").as("day_cents"))
    val w = Window.partitionBy("o_custkey").orderBy("day").rangeBetween(-6, 0)
    g.select(col("o_custkey"), col("day"), col("day_cents"),
      sum("day_cents").over(w).as("roll7_cents"))
      .orderBy("o_custkey", "day")
  }

  /** RANGE JOIN, decomposed to scale: orders matched to 25 nation-keyed
    * 14-day promo windows. The naive `day BETWEEN start AND end` theta-join
    * is a BroadcastNestedLoopJoin (every fact row probes every interval);
    * instead the INTERVAL side explodes into its member days (|dim|·len
    * tiny rows, broadcast) and the fact joins on the day EQUI-key — linear
    * in facts, never a nested-loop. This is the standard bucketed interval
    * decomposition (coarser buckets for longer intervals at scale). */
  val rangeJoin = sql(
    "olap_range_join",
    """WITH win AS (SELECT n_nationkey,
      |                    9131 + n_nationkey * 90 AS start_day
      |             FROM nation),
      |days AS (SELECT n_nationkey,
      |                unnest(generate_series(start_day, start_day + 13)) AS day
      |         FROM win),
      |o AS (SELECT datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS day,
      |             CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
      |      FROM orders)
      |SELECT d.n_nationkey, count(*) AS n_orders,
      |       CAST(sum(o.cents) AS BIGINT) AS rev_cents
      |FROM days d JOIN o ON o.day = d.day
      |GROUP BY d.n_nationkey ORDER BY d.n_nationkey""".stripMargin) { (s, dd) =>
    val days = Tables.nation(s, dd)
      .select(col("n_nationkey"),
        (lit(9131) + col("n_nationkey").cast("int") * 90).as("start_day"))
      .select(col("n_nationkey"),
        explode(sequence(col("start_day"), col("start_day") + 13)).as("day"))
    val day = datediff(col("o_orderdate").cast("date"), lit("1970-01-01").cast("date"))
    val o = Tables.orders(s, dd).select(day.as("day"),
      round(col("o_totalprice") * 100).cast("long").as("cents"))
    o.join(broadcast(days), "day")
      .groupBy("n_nationkey")
      .agg(count(lit(1)).as("n_orders"), sum("cents").as("rev_cents"))
      .orderBy("n_nationkey")
  }

  /** Time-series RESAMPLE with gap fill: per-type daily event counts with
    * missing days zero-filled between each type's first and last day — the
    * regularization step before any rolling/windowed time-series math.
    * The day grid is GENERATED from the tiny per-key bounds aggregate
    * (keys × span rows), never shuffled out of the fact table; the fill is
    * a left join of grid onto aggregated counts. Day bucketing goes through
    * µs truncation identically on both engines (TIMESTAMP_NS discipline). */
  val resample = sql(
    "olap_resample",
    """WITH e AS (SELECT event_type,
      |                  epoch_us(ts) // 86400000000 AS day
      |           FROM events),
      |g AS (SELECT event_type, day, count(*) AS n FROM e GROUP BY event_type, day),
      |b AS (SELECT event_type, min(day) AS lo, max(day) AS hi FROM g GROUP BY event_type),
      |grid AS (SELECT event_type, unnest(generate_series(lo, hi)) AS day FROM b)
      |SELECT f.event_type, f.day, coalesce(g.n, 0) AS n
      |FROM grid f LEFT JOIN g ON f.event_type = g.event_type AND f.day = g.day
      |ORDER BY f.event_type, f.day""".stripMargin) { (s, d) =>
    val e = Tables.events(s, d)
      .select(col("event_type"), expr("t_us div 86400000000").as("day"))
    val g = e.groupBy("event_type", "day").agg(count(lit(1)).as("n"))
    val grid = g.groupBy("event_type").agg(min("day").as("lo"), max("day").as("hi"))
      .select(col("event_type"), explode(sequence(col("lo"), col("hi"))).as("day"))
    grid.join(g, Seq("event_type", "day"), "left")
      .select(col("event_type"), col("day"), coalesce(col("n"), lit(0L)).as("n"))
      .orderBy("event_type", "day")
  }

  /** Sketch-based distinct counting, certified against exact. At 100 TB,
    * `count(DISTINCT user)` is the expensive shape (it expands every group
    * into per-value rows before the final dedup shuffle) while
    * `approx_count_distinct` is a single-pass partial-aggregable HLL++
    * sketch (constant bytes per group, mergeable map-side). This query runs
    * BOTH and emits the exact count plus a within-5%-error certificate —
    * the number that justifies switching the production path to the sketch.
    * The sketch at rsd=0.01 is deterministic for a given input, so the
    * certificate is a stable oracle-checkable value (5% = 5 sigma here),
    * not a flaky assertion. Oracle emits the same exact count and literal
    * TRUE. */
  val approxDistinct = sql(
    "olap_approx_distinct",
    """SELECT event_type,
      |       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
      |       TRUE AS approx_within_5pct
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
    // distinct-first shape: pre-aggregate on (type, user) so duplicate
    // events combine MAP-SIDE before the one shuffle; the per-type pass then
    // counts rows for the exact value and feeds the sketch unique values
    // (HLL over distinct inputs ≡ HLL over the raw stream — insertion is
    // idempotent). Avoids planAggregateWithOneDistinct's double aggregation
    // of the fact table that `countDistinct + other aggs` would plan.
    Tables.events(s, d)
      .select("event_type", "user_id").distinct()
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("exact_users"),
        approx_count_distinct(col("user_id"), 0.01).as("approx_users"))
      .select(col("event_type"), col("exact_users"),
        (abs(col("approx_users") - col("exact_users")) <=
          col("exact_users") * 0.05).as("approx_within_5pct"))
      .orderBy("event_type")
  }

  /** Ordered FUNNEL analysis (signup → view → click → purchase), the
    * standard product-analytics shape using each step's FIRST occurrence:
    * a user advances to step k only if its first step-k event is strictly
    * after their first step-(k−1) event. One conditional-min aggregation
    * per user (single shuffle, partial-aggregable mins), then a global
    * roll-up of the boolean chain — no self-joins, no per-step passes over
    * the fact table. Timestamps compared as µs longs (the cross-engine-safe
    * resolution for the nanos event clock). */
  val eventsFunnel = sql(
    "events_funnel",
    """WITH p AS (SELECT user_id,
      |  min(CASE WHEN event_type = 'signup'   THEN epoch_us(ts) END) AS t1,
      |  min(CASE WHEN event_type = 'view'     THEN epoch_us(ts) END) AS t2,
      |  min(CASE WHEN event_type = 'click'    THEN epoch_us(ts) END) AS t3,
      |  min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS t4
      |  FROM events GROUP BY user_id)
      |SELECT CAST(count(*) AS BIGINT) AS n_users,
      |  CAST(sum(CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
      |  CAST(sum(CASE WHEN t1 < t2 THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
      |  CAST(sum(CASE WHEN t1 < t2 AND t2 < t3 THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
      |  CAST(sum(CASE WHEN t1 < t2 AND t2 < t3 AND t3 < t4 THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase
      |FROM p""".stripMargin) { (s, d) =>
    def stepMin(t: String) =
      min(when(col("event_type") === t, col("t_us")))
    val p = Tables.events(s, d)
      .groupBy("user_id")
      .agg(stepMin("signup").as("t1"), stepMin("view").as("t2"),
        stepMin("click").as("t3"), stepMin("purchase").as("t4"))
    def cnt(c: org.apache.spark.sql.Column) =
      sum(when(c, 1L).otherwise(0L))
    p.agg(
      count(lit(1)).as("n_users"),
      cnt(col("t1").isNotNull).as("n_signup"),
      cnt(col("t1") < col("t2")).as("n_view"),
      cnt(col("t1") < col("t2") && col("t2") < col("t3")).as("n_click"),
      cnt(col("t1") < col("t2") && col("t2") < col("t3") &&
        col("t3") < col("t4")).as("n_purchase"))
  }

  /** TIME-BOUNDED funnel — each step must land within [[FunnelWindowUs]]
    * AFTER the previous QUALIFYING step (the conversion-window semantics
    * product analytics actually bills on). This is NOT expressible from
    * `events_funnel`'s global first-occurrence mins: a user who viewed
    * before signup AND again after it advances here but not there, and a
    * view 10 days after signup advances there but not here. The qualifying
    * chain is sequential, so each step is one conditional-min aggregation
    * of the fact filtered through the previous step's per-user bound —
    * k steps = k equi-joins on user_id over per-user frames that shrink
    * every step, each join reusing the same hash partitioning (ReuseExchange
    * collapses the repeated event-side shuffle), every min partial-
    * aggregable. No window function, no per-user event-sequence sort. */
  val FunnelWindowUs: Long = 3L * 86400L * 1000000L // 3 days in µs

  /** DuckDB CTE chain `e, s1..s4` of the windowed funnel — shared with
    * `events_conversion_time` so the qualifying-chain semantics cannot
    * fork between the counts and the timing distribution. */
  private val funnelChainSqlCte: String =
    s"""e AS (SELECT user_id, event_type, epoch_us(ts) AS t FROM events),
       |s1 AS (SELECT user_id, min(t) AS t1 FROM e
       |       WHERE event_type = 'signup' GROUP BY 1),
       |s2 AS (SELECT e.user_id, min(t) AS t2 FROM e JOIN s1 USING (user_id)
       |       WHERE event_type = 'view'
       |         AND t > t1 AND t <= t1 + $FunnelWindowUs GROUP BY 1),
       |s3 AS (SELECT e.user_id, min(t) AS t3 FROM e JOIN s2 USING (user_id)
       |       WHERE event_type = 'click'
       |         AND t > t2 AND t <= t2 + $FunnelWindowUs GROUP BY 1),
       |s4 AS (SELECT e.user_id, min(t) AS t4 FROM e JOIN s3 USING (user_id)
       |       WHERE event_type = 'purchase'
       |         AND t > t3 AND t <= t3 + $FunnelWindowUs GROUP BY 1)""".stripMargin

  /** Spark side of `s1..s4`: the per-step qualifying frames. */
  private def funnelChain(s: org.apache.spark.sql.SparkSession, d: String) = {
    val e = Tables.events(s, d).select(col("user_id"), col("event_type"), col("t_us"))
    def step(prev: org.apache.spark.sql.DataFrame, prevT: String,
        stepType: String, outT: String) =
      e.filter(col("event_type") === stepType)
        .join(prev.select("user_id", prevT), "user_id")
        .filter(col("t_us") > col(prevT) &&
          col("t_us") <= col(prevT) + FunnelWindowUs)
        .groupBy("user_id").agg(min("t_us").as(outT))
    val s1 = e.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min("t_us").as("t1"))
    val s2 = step(s1, "t1", "view", "t2")
    val s3 = step(s2, "t2", "click", "t3")
    val s4 = step(s3, "t3", "purchase", "t4")
    (e, s1, s2, s3, s4)
  }

  val eventsFunnelWindowed = sql(
    "events_funnel_windowed",
    s"""WITH $funnelChainSqlCte
       |SELECT (SELECT CAST(count(DISTINCT user_id) AS BIGINT) FROM e) AS n_users,
       |       (SELECT CAST(count(*) AS BIGINT) FROM s1) AS n_signup,
       |       (SELECT CAST(count(*) AS BIGINT) FROM s2) AS n_view,
       |       (SELECT CAST(count(*) AS BIGINT) FROM s3) AS n_click,
       |       (SELECT CAST(count(*) AS BIGINT) FROM s4) AS n_purchase""".stripMargin) { (s, d) =>
    val (e, s1, s2, s3, s4) = funnelChain(s, d)
    def cnt(df: org.apache.spark.sql.DataFrame, name: String) =
      df.agg(count(lit(1)).as(name))
    e.agg(countDistinct("user_id").as("n_users"))
      .crossJoin(broadcast(cnt(s1, "n_signup")))
      .crossJoin(broadcast(cnt(s2, "n_view")))
      .crossJoin(broadcast(cnt(s3, "n_click")))
      .crossJoin(broadcast(cnt(s4, "n_purchase")))
  }

  /** TIME-TO-CONVERT distribution — the windowed funnel's companion
    * metric: among users who COMPLETED the funnel, per-leg and end-to-end
    * elapsed time (exact interpolated p50/p90 in µs, plus min/max/count).
    * The chain definition is shared with `events_funnel_windowed`
    * ([[funnelChainSqlCte]]/[[funnelChain]]) so the completer set cannot
    * fork from the counts it reports. Scale shape: the percentile sort
    * runs over the COMPLETER frame (already funnel-filtered, ≤ n_purchase
    * rows), never the events fact. */
  val eventsConversionTime = sql(
    "events_conversion_time",
    s"""WITH $funnelChainSqlCte,
       |cmpl AS (SELECT s1.user_id,
       |                s2.t2 - s1.t1 AS leg1,
       |                s3.t3 - s2.t2 AS leg2,
       |                s4.t4 - s3.t3 AS leg3,
       |                s4.t4 - s1.t1 AS total
       |         FROM s1 JOIN s2 USING (user_id) JOIN s3 USING (user_id)
       |         JOIN s4 USING (user_id))
       |SELECT leg, CAST(count(*) AS BIGINT) AS n,
       |       CAST(min(us) AS BIGINT) AS min_us,
       |       round(quantile_cont(us, 0.5), 1) AS p50_us,
       |       round(quantile_cont(us, 0.9), 1) AS p90_us,
       |       CAST(max(us) AS BIGINT) AS max_us
       |FROM (SELECT 'leg1_signup_view' AS leg, leg1 AS us FROM cmpl
       |      UNION ALL SELECT 'leg2_view_click', leg2 FROM cmpl
       |      UNION ALL SELECT 'leg3_click_purchase', leg3 FROM cmpl
       |      UNION ALL SELECT 'total', total FROM cmpl)
       |GROUP BY leg ORDER BY leg""".stripMargin) { (s, d) =>
    val (_, s1, s2, s3, s4) = funnelChain(s, d)
    val full = s1.join(s2, "user_id").join(s3, "user_id").join(s4, "user_id")
      .select((col("t2") - col("t1")).as("leg1"),
        (col("t3") - col("t2")).as("leg2"),
        (col("t4") - col("t3")).as("leg3"),
        (col("t4") - col("t1")).as("total"))
    val legs = full.select(lit("leg1_signup_view").as("leg"), col("leg1").as("us"))
      .unionByName(full.select(lit("leg2_view_click").as("leg"), col("leg2").as("us")))
      .unionByName(full.select(lit("leg3_click_purchase").as("leg"), col("leg3").as("us")))
      .unionByName(full.select(lit("total").as("leg"), col("total").as("us")))
    legs.groupBy("leg")
      .agg(count(lit(1)).as("n"),
        min("us").as("min_us"),
        round(expr("percentile(us, 0.5)"), 1).as("p50_us"),
        round(expr("percentile(us, 0.9)"), 1).as("p90_us"),
        max("us").as("max_us"))
      .orderBy("leg")
  }

  /** COHORT RETENTION: users grouped by their first-activity day, counted
    * on each later day they return (day offset from cohort). The classic
    * engagement triangle. Shape: distinct (user, day) → per-user min-day
    * cohort → one equi-join back on user_id → (cohort, offset) counts.
    * Every step is a single-shuffle partial-aggregable pattern; the
    * distinct pre-shrinks the fact table before any join. */
  val eventsRetention = sql(
    "events_retention",
    """WITH ud AS (SELECT DISTINCT user_id,
      |                   CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day
      |            FROM events),
      |c AS (SELECT user_id, min(day) AS cohort FROM ud GROUP BY user_id)
      |SELECT c.cohort, u.day - c.cohort AS "offset",
      |       CAST(count(*) AS BIGINT) AS n_users
      |FROM ud u JOIN c ON u.user_id = c.user_id
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
    val ud = Tables.events(s, d)
      .select(col("user_id"), expr("t_us div 86400000000").as("day"))
      .distinct()
    val c = ud.groupBy("user_id").agg(min("day").as("cohort"))
    ud.join(c, "user_id")
      .groupBy(col("cohort"), (col("day") - col("cohort")).as("offset"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy("cohort", "offset")
  }

  /** Daily-revenue ANOMALY detection — |z| > 2 outlier days — computed in
    * EXACT integer arithmetic: the float z-score test (x−μ)² > k²σ² is
    * cross-multiplied into (n·x − S)² > k²·(n·Q − S²) over integer cents
    * (S=Σx, Q=Σx², population σ). No float mean/variance ever exists, so
    * the flag is bit-identical across engines and immune to summation
    * order. Wide intermediates ride DECIMAL(38)/HUGEINT: at 100 TB a day
    * can hold ~1e13 cents, whose square (1e26) overflows int64 but sits
    * comfortably in 38 digits.
    *
    * Shape: one partial-aggregable daily roll-up, a 1-row stats aggregate
    * broadcast back over the 365-row day frame — no window, no second
    * pass over the fact table. */
  val eventsAnomaly = sql(
    "events_anomaly",
    """WITH g AS (SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
      |                  CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS day_cents
      |           FROM events GROUP BY 1),
      |st AS (SELECT count(*) AS n, sum(day_cents) AS s,
      |              sum(CAST(day_cents AS HUGEINT) * day_cents) AS q
      |       FROM g)
      |SELECT day, day_cents,
      |       (CAST(n AS HUGEINT) * day_cents - s) * (CAST(n AS HUGEINT) * day_cents - s)
      |         > 4 * (n * q - CAST(s AS HUGEINT) * s) AS is_anomaly
      |FROM g CROSS JOIN st ORDER BY day""".stripMargin) { (s, d) =>
    val g = Tables.events(s, d)
      .select(expr("t_us div 86400000000").as("day"),
        round(col("value") * 100).cast("long").as("cents"))
      .groupBy("day").agg(sum("cents").as("day_cents"))
    val st = g.agg(
      count(lit(1)).cast("decimal(38,0)").as("n"),
      sum("day_cents").cast("decimal(38,0)").as("s"),
      sum(col("day_cents").cast("decimal(19,0)") * col("day_cents")).as("q"))
    val dev = col("n") * col("day_cents") - col("s")
    g.crossJoin(broadcast(st))
      .select(col("day"), col("day_cents"),
        (dev * dev > lit(4) * (col("n") * col("q") - col("s") * col("s")))
          .as("is_anomaly"))
      .orderBy("day")
  }

  /** Z-ORDER LAYOUT certificate — the data-layout decision behind
    * Delta/Iceberg `OPTIMIZE ZORDER BY`: RANK-NORMALIZE the two most-
    * filtered keys to 10 bits each (raw-bit interleaving degenerates when
    * cardinalities differ — measured on this data it produced cell areas
    * 1.19× the global area; production z-ordering normalizes first for
    * exactly this reason), interleave into a Morton code, split the code
    * space into 64 files (= an exact 8×8 quadrant decomposition), and
    * report each file's row count plus min/max in BOTH dimensions. Under
    * a LINEAR sort each file bounds one dimension and leaves the other at
    * full width; under the z-curve both ranges shrink to ~⅛, so a
    * predicate on EITHER key prunes ~7/8 of files by min/max stats — the
    * `(Δpart+1)·(Δsupp+1)` cell area is the number that decides whether
    * re-clustering pays.
    *
    * Scale shape: normalization uses one broadcast 1-row min/max
    * aggregate; the Morton code is a narrow 10-step bit loop per row (no
    * shuffle); the report is ONE partial-aggregable groupBy on the
    * 64-value file key. All exact integer arithmetic on both engines. */
  val layoutZorder = sql(
    "layout_zorder",
    """WITH m AS (SELECT min(l_partkey) AS lop, max(l_partkey) AS hip,
      |                  min(l_suppkey) AS los, max(l_suppkey) AS his
      |           FROM lineitem),
      |r AS (SELECT l_partkey AS p, l_suppkey AS s,
      |             CAST((l_partkey - lop) * 1024 // (hip - lop + 1) AS BIGINT) AS pn,
      |             CAST((l_suppkey - los) * 1024 // (his - los + 1) AS BIGINT) AS sn
      |      FROM lineitem CROSS JOIN m),
      |z AS (SELECT p, s, CAST(list_sum(
      |             [(((pn >> i) & 1) << (2 * i + 1))
      |              + (((sn >> i) & 1) << (2 * i))
      |              for i in range(0, 10)]) AS BIGINT) AS zval
      |      FROM r)
      |SELECT zval >> 14 AS z_file, count(*) AS n,
      |       min(p) AS min_part, max(p) AS max_part,
      |       min(s) AS min_supp, max(s) AS max_supp,
      |       CAST((max(p) - min(p) + 1) * (max(s) - min(s) + 1) AS BIGINT) AS cell_area
      |FROM z GROUP BY z_file ORDER BY z_file""".stripMargin) { (s, d) =>
    val m = Tables.lineitem(s, d).agg(
      min("l_partkey").as("lop"), max("l_partkey").as("hip"),
      min("l_suppkey").as("los"), max("l_suppkey").as("his"))
    // Spark computes the 6 bits `zval >> 14` actually keeps (the top 3 of
    // each normalized key, interleaved) as flat integer ops — a
    // higher-order `aggregate` over sequence(0,9) is a non-codegen
    // HigherOrderFunction that breaks whole-stage codegen for the scan
    // stage AND allocates a 10-element array per row; the oracle keeps the
    // full-Morton formulation and shifts, which is value-identical.
    Tables.lineitem(s, d).select(col("l_partkey").as("p"), col("l_suppkey").as("s"))
      .crossJoin(broadcast(m))
      .select(col("p"), col("s"),
        expr("CAST((p - lop) * 1024 div (hip - lop + 1) AS BIGINT) >> 7").as("pn3"),
        expr("CAST((s - los) * 1024 div (his - los + 1) AS BIGINT) >> 7").as("sn3"))
      .groupBy(expr(
        """((pn3 >> 2) & 1) * 32 + ((sn3 >> 2) & 1) * 16 +
          |((pn3 >> 1) & 1) * 8  + ((sn3 >> 1) & 1) * 4 +
          |( pn3       & 1) * 2  + ( sn3       & 1)""".stripMargin)
        .as("z_file"))
      .agg(count(lit(1)).as("n"),
        min("p").as("min_part"), max("p").as("max_part"),
        min("s").as("min_supp"), max("s").as("max_supp"),
        ((max("p") - min("p") + 1) * (max("s") - min("s") + 1)).cast("long")
          .as("cell_area"))
      .orderBy("z_file")
  }

  /** EWMA of daily revenue — the trend line dashboards smooth spiky daily
    * metrics with: half-life decay α = 1/2 per day, truncated at a 7-day
    * horizon, over the GAP-FILLED day grid (a missing day is a 0-revenue
    * day and decays the average — joining only observed days would let a
    * dead week hold the trend flat). pandas-`ewm(adjust=True)` start
    * handling: the first rows normalize by the weights actually present.
    *
    * EXACT ARITHMETIC: dyadic weights make the whole thing integer —
    * numerator·64 = Σ rev_{d-k}·2^{6-k} and denominator·64 = 128 −
    * 2^(7−min(rn,7)) are exact BIGINTs (the 7-term window keeps the
    * scaled numerator under 2⁵³ for 1e13-cent days), and the single float
    * op is the final division, identical on both engines.
    *
    * Scale shape: one partial-aggregable day aggregate, the grid explode,
    * then 6 lags + row_number in ONE window over the day grid — bounded
    * by CALENDAR SIZE (rows = days observed), not by event count; the
    * same bounded-frame argument as `olap_resample`'s grid and
    * `events_anomaly`'s stats row. */
  val eventsEwma = sql(
    "events_ewma",
    """WITH g AS (SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
      |                  CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents
      |           FROM events GROUP BY 1),
      |b AS (SELECT min(day) AS lo, max(day) AS hi FROM g),
      |grid AS (SELECT unnest(generate_series(lo, hi)) AS day FROM b),
      |f AS (SELECT grid.day, coalesce(g.cents, 0) AS cents
      |      FROM grid LEFT JOIN g ON g.day = grid.day),
      |w AS (SELECT day, cents,
      |             64 * cents
      |             + 32 * lag(cents, 1, 0) OVER o + 16 * lag(cents, 2, 0) OVER o
      |             + 8 * lag(cents, 3, 0) OVER o + 4 * lag(cents, 4, 0) OVER o
      |             + 2 * lag(cents, 5, 0) OVER o + lag(cents, 6, 0) OVER o AS num64,
      |             128 - (1 << CAST(7 - least(row_number() OVER o, 7) AS INT)) AS den64
      |      FROM f WINDOW o AS (ORDER BY day))
      |SELECT day, cents, round(CAST(num64 AS DOUBLE) / den64, 4) AS ewma_cents
      |FROM w ORDER BY day""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val g = Tables.events(s, d)
      .select(expr("t_us div 86400000000").as("day"),
        round(col("value") * 100).cast("long").as("cents"))
      .groupBy("day").agg(sum("cents").as("cents"))
    val grid = g.agg(min("day").as("lo"), max("day").as("hi"))
      .select(explode(sequence(col("lo"), col("hi"))).as("day"))
    val f = grid.join(g, Seq("day"), "left")
      .select(col("day"), coalesce(col("cents"), lit(0L)).as("cents"))
    val o = Window.orderBy("day")
    val num64 = lit(64) * col("cents") +
      lit(32) * lag(col("cents"), 1, 0L).over(o) +
      lit(16) * lag(col("cents"), 2, 0L).over(o) +
      lit(8) * lag(col("cents"), 3, 0L).over(o) +
      lit(4) * lag(col("cents"), 4, 0L).over(o) +
      lit(2) * lag(col("cents"), 5, 0L).over(o) +
      lag(col("cents"), 6, 0L).over(o)
    f.withColumn("rn", row_number().over(o))
      .withColumn("num64", num64)
      .withColumn("den64", lit(128) - expr("shiftleft(1, 7 - least(rn, 7))"))
      .select(col("day"), col("cents"),
        round(col("num64").cast("double") / col("den64"), 4).as("ewma_cents"))
      .orderBy("day")
  }

  /** DAU/WAU ACTIVE-USER report with the stickiness ratio (DAU/WAU) — the
    * engagement headline of any event pipeline. WAU is EXACT: each distinct
    * (user, day) activity contributes to the 7 day-windows it belongs to
    * via an explode to (user, window-day) — a pure equi-shape (no range
    * join, no window function over users). Scale: the explode is 7× the
    * DISTINCT user-day frame (already ≪ events), both counts are
    * distinct-first two-stage aggregates, and the final day frame is
    * calendar-bounded (365 rows/year). */
  val eventsDauWau = sql(
    "events_dau_wau",
    """WITH ud AS (SELECT DISTINCT user_id,
      |                   CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day
      |            FROM events),
      |dau AS (SELECT day, CAST(count(*) AS BIGINT) AS dau FROM ud GROUP BY day),
      |wx AS (SELECT DISTINCT u.user_id, u.day + i.i AS wday
      |       FROM ud u CROSS JOIN (SELECT unnest([0, 1, 2, 3, 4, 5, 6]) AS i) i),
      |wau AS (SELECT wday AS day, CAST(count(*) AS BIGINT) AS wau
      |        FROM wx GROUP BY wday)
      |SELECT d.day, d.dau, w.wau,
      |       round(d.dau * 1.0 / w.wau, 4) AS stickiness
      |FROM dau d JOIN wau w ON d.day = w.day
      |ORDER BY d.day""".stripMargin) { (s, d) =>
    val ud = Tables.events(s, d)
      .select(col("user_id"), expr("t_us div 86400000000").as("day"))
      .distinct()
    val dau = ud.groupBy("day").agg(count(lit(1)).as("dau"))
    val wau = ud
      .select(col("user_id"), explode(sequence(col("day"), col("day") + 6)).as("day"))
      .distinct()
      .groupBy("day").agg(count(lit(1)).as("wau"))
    dau.join(wau, "day")
      .select(col("day"), col("dau"), col("wau"),
        round(col("dau") * lit(1.0) / col("wau"), 4).as("stickiness"))
      .orderBy("day")
  }

  /** PER-DAY TOP-3 EVENT TYPES via the native space-saving sketch
    * (`graft.functions.TopKAgg`) — the constant-memory heavy-hitters
    * answer to "top values within each group". The exact formulation needs
    * a count-per-(group, value) shuffle PLUS a rank window; the sketch is
    * ONE partial-aggregable pass whose per-group state is bounded by
    * `capacity` regardless of how many distinct values a hot group sees.
    *
    * Certificate discipline (the `olap_approx_distinct` pattern): capacity
    * (64) exceeds the event-type domain (8), so the sketch is provably
    * exact and merge-order-independent here, and the DuckDB oracle is the
    * EXACT count + rank SQL — that equality is the test. At 100 TB the
    * same query with a million-value domain keeps the identical plan and
    * degrades to the space-saving ≤ n/capacity over-count bound. */
  val approxTopk = sql(
    "olap_approx_topk",
    """WITH g AS (SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
      |                  event_type, CAST(count(*) AS BIGINT) AS cnt
      |           FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2),
      |r AS (SELECT day, event_type, cnt,
      |             row_number() OVER (PARTITION BY day
      |                                ORDER BY cnt DESC, event_type) AS rank
      |      FROM g)
      |SELECT day, CAST(rank AS INT) AS rank, event_type, cnt
      |FROM r WHERE rank <= 3
      |ORDER BY day, rank""".stripMargin) { (s, d) =>
    Tables.events(s, d)
      // the sketch skips nulls (aggregate convention); the oracle's GROUP BY
      // would keep a NULL group — exclude it on both sides explicitly
      .filter(col("event_type").isNotNull)
      .select(expr("t_us div 86400000000").as("day"), col("event_type"))
      .groupBy("day")
      .agg(graft.functions.TopKAgg.approx_top_k(col("event_type"), 3, 64).as("tk"))
      .select(col("day"), posexplode(col("tk")).as(Seq("pos0", "s")))
      .select(col("day"), (col("pos0") + 1).cast("int").as("rank"),
        col("s.value").as("event_type"), col("s.cnt").as("cnt"))
      .orderBy("day", "rank")
  }

  /** EVENT-TRANSITION MATRIX (first-order Markov estimate): for every
    * (prev → next) event-type pair, the transition count and MLE
    * probability — the sequence-modeling primitive behind next-action
    * prediction, anomalous-flow detection and funnel discovery (a funnel is
    * a path through this matrix; `events_funnel` checks one fixed path).
    *
    * Scale shape: successor extraction is ONE `lead` window partitioned by
    * user (each user's events sort within their partition — never a global
    * sort; the same dateline as `w1_running_sum`), then a partial-aggregable
    * pair count. The row-probability denominator is a second window over
    * the PAIR FRAME — bounded at |type-domain|² rows by construction and
    * partitioned by prev_type, so it is never a corpus window; expressing
    * it as a groupBy + join-back instead would recompute the whole
    * events-window subtree for the totals branch (measured: Catalyst plans
    * the aggregate twice). The events table is scanned ONCE and nothing
    * joins (plan-guarded). Ordering ties broken by event_id so the
    * successor is engine-deterministic; probabilities divide identical
    * integers. */
  val eventsMarkov = sql(
    "events_markov",
    """WITH seq AS (
      |  SELECT event_type AS prev_type,
      |         lead(event_type) OVER (PARTITION BY user_id
      |                                ORDER BY ts, event_id) AS next_type
      |  FROM events),
      |tr AS (SELECT prev_type, next_type, count(*) AS n
      |       FROM seq WHERE next_type IS NOT NULL
      |       GROUP BY prev_type, next_type)
      |SELECT prev_type, next_type, n,
      |       round(n * 1.0 / sum(n) OVER (PARTITION BY prev_type), 4) AS p
      |FROM tr ORDER BY prev_type, next_type""".stripMargin) { (s, d) =>
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts", "event_id")
    val wPrev = org.apache.spark.sql.expressions.Window.partitionBy("prev_type")
    Tables.events(s, d)
      .select(col("event_type").as("prev_type"),
        lead("event_type", 1).over(w).as("next_type"))
      .filter(col("next_type").isNotNull)
      .groupBy("prev_type", "next_type")
      .agg(count(lit(1)).as("n"))
      .select(col("prev_type"), col("next_type"), col("n"),
        round(col("n") * lit(1.0) / sum("n").over(wPrev), 4).as("p"))
      .orderBy("prev_type", "next_type")
  }

  /** Approximate-percentile CERTIFICATE — the `olap_approx_distinct`
    * discipline applied to quantiles: per returnflag, the exact
    * interpolated p50/p90 of extendedprice plus a within-1% claim for the
    * Greenwald-Khanna sketch (`approx_percentile`, accuracy 10⁴). The
    * sketch is the 100 TB path (bounded memory, mergeable partials vs the
    * exact percentile's full sort per group); this query PRICES it against
    * ground truth so the substitution is justified by a checked number,
    * not hope. Oracle emits the same exact values and literal TRUE — at
    * accuracy 10⁴ the rank error is ≤ n/10⁴, far inside 1% of value on
    * this distribution, so the claim is stable, not flaky. */
  val approxPctlCert = sql(
    "olap_approx_pctl_cert",
    """SELECT l_returnflag,
      |       quantile_cont(l_extendedprice, 0.5) AS exact_p50,
      |       quantile_cont(l_extendedprice, 0.9) AS exact_p90,
      |       TRUE AS approx_within_1pct
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
    // SPLIT aggregates, deliberately: fusing the sort-based exact
    // percentile with the GK sketch in ONE agg forces every function down
    // the object-aggregation fallback (measured 5.5 s fused vs 2.5 + 0.6 s
    // split at sf0.1 — the sketch alone is 9× cheaper than the exact side
    // it certifies, which is the certificate's whole claim). The second
    // scan costs less than the fused fallback; the tiny per-flag frames
    // join broadcast.
    val li = Tables.lineitem(s, d)
    val exact = li.groupBy("l_returnflag").agg(
      expr("percentile(l_extendedprice, 0.5)").as("exact_p50"),
      expr("percentile(l_extendedprice, 0.9)").as("exact_p90"))
    val approx = li.groupBy("l_returnflag").agg(
      expr("approx_percentile(l_extendedprice, 0.5, 10000)").as("a50"),
      expr("approx_percentile(l_extendedprice, 0.9, 10000)").as("a90"))
    exact.join(broadcast(approx), "l_returnflag")
      .select(col("l_returnflag"), col("exact_p50"), col("exact_p90"),
        (abs(col("a50") - col("exact_p50")) <= col("exact_p50") * 0.01 &&
          abs(col("a90") - col("exact_p90")) <= col("exact_p90") * 0.01)
          .as("approx_within_1pct"))
      .orderBy("l_returnflag")
  }

  /** TOP EVENT PATHS — the order-3 extension of `events_markov`: the ten
    * most common 3-step event sequences across users (path mining; the
    * discovery counterpart of `events_funnel`'s fixed path). Two stacked
    * leads over ONE per-user window produce each trigram in place — the
    * sequence never materializes as joins — and the report is a
    * partial-aggregable count + TakeOrdered top-10 (plan-guarded: never a
    * global sort of the path space). */
  val eventsPathTopk = sql(
    "events_path_topk",
    """WITH seq AS (
      |  SELECT event_type AS e1,
      |         lead(event_type, 1) OVER w AS e2,
      |         lead(event_type, 2) OVER w AS e3
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      |SELECT e1 || '>' || e2 || '>' || e3 AS path, count(*) AS n
      |FROM seq WHERE e3 IS NOT NULL
      |GROUP BY e1 || '>' || e2 || '>' || e3
      |ORDER BY n DESC, path LIMIT 10""".stripMargin) { (s, d) =>
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts", "event_id")
    Tables.events(s, d)
      .select(col("event_type").as("e1"),
        lead("event_type", 1).over(w).as("e2"),
        lead("event_type", 2).over(w).as("e3"))
      .filter(col("e3").isNotNull)
      .select(concat_ws(">", col("e1"), col("e2"), col("e3")).as("path"))
      .groupBy("path")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("path"))
      .limit(10)
  }

  /** TIME-WEIGHTED AVERAGE per user — the metrics-correct mean for
    * irregularly-sampled values (a plain avg over-weights bursts; billing,
    * utilization and gauge rollups all need the value held UNTIL the next
    * observation). Each event's value is weighted by the μs interval to
    * the user's next event; users with one event have no held interval and
    * drop out.
    *
    * Exactness discipline (the `events_anomaly` policy): cents × μs
    * products are summed as DECIMAL(38,0) — a 1e5-cent value held for a
    * year of μs squares past int64, decimal does not — and the only float
    * op is the final division of two exact sums, identical on both
    * engines. Scale shape: one per-user lead window (each user sorts
    * within their partition) + one partial-aggregable groupBy; no join. */
  val eventsTimeWeighted = sql(
    "events_time_weighted",
    """WITH seq AS (
      |  SELECT user_id, CAST(round(value * 100, 0) AS BIGINT) AS cents,
      |         epoch_us(ts) AS t,
      |         lead(epoch_us(ts)) OVER (PARTITION BY user_id
      |                                  ORDER BY ts, event_id) AS tn
      |  FROM events),
      |iv AS (SELECT user_id,
      |              CAST(cents AS DECIMAL(38,0)) * (tn - t) AS wc,
      |              tn - t AS dur
      |       FROM seq WHERE tn IS NOT NULL)
      |SELECT user_id, CAST(sum(dur) AS BIGINT) AS span_us,
      |       round(CAST(sum(wc) AS DOUBLE) / CAST(sum(dur) AS DOUBLE) / 100.0, 4)
      |         AS tw_avg
      |FROM iv GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts", "event_id")
    Tables.events(s, d)
      .select(col("user_id"),
        round(col("value") * 100).cast("long").as("cents"),
        col("t_us").as("t"),
        lead(col("t_us"), 1).over(w).as("tn"))
      .filter(col("tn").isNotNull)
      .select(col("user_id"),
        (col("cents").cast("decimal(38,0)") * (col("tn") - col("t"))).as("wc"),
        (col("tn") - col("t")).as("dur"))
      .groupBy("user_id")
      .agg(sum("dur").cast("long").as("span_us"),
        round(sum("wc").cast("double") / sum("dur").cast("double") / 100.0, 4)
          .as("tw_avg"))
      .orderBy("user_id")
  }

  /** MERGE/UPSERT (CDC apply) — the `MERGE INTO base USING changes` shape
    * every lakehouse table maintenance job runs: a change set (updates,
    * deletes, inserts — derived deterministically from the base here so
    * the query is self-contained) applied to the base table in ONE pass.
    * Delete wins over update for a key in both sets (anti-join applied
    * after the update join).
    *
    * Scale shape — the part that matters at 100 TB: the change set of a
    * CDC batch is small relative to the base, so BOTH the update
    * left-outer join and the delete anti-join broadcast the change side;
    * the base table is read once and NEVER shuffled (no SortMergeJoin
    * anywhere), inserts arrive as a union. This is exactly the
    * copy-on-write MERGE plan Delta/Iceberg generate, minus the file-level
    * skipping their transaction log adds. */
  val mergeUpsert = sql(
    "olap_merge_upsert",
    """WITH upd AS (SELECT o_orderkey, 'U' AS u_st,
      |                    round(o_totalprice + 1000, 4) AS u_tp
      |             FROM orders WHERE o_orderkey % 10 = 0),
      |del AS (SELECT o_orderkey FROM orders WHERE o_orderkey % 17 = 0),
      |ins AS (SELECT o_orderkey + 10000000 AS o_orderkey, 'N' AS status,
      |               round(o_totalprice, 4) AS total
      |        FROM orders WHERE o_orderkey % 23 = 0)
      |SELECT * FROM (
      |  SELECT b.o_orderkey,
      |         coalesce(u.u_st, b.o_orderstatus) AS status,
      |         round(coalesce(u.u_tp, b.o_totalprice), 4) AS total
      |  FROM orders b
      |  LEFT JOIN upd u USING (o_orderkey)
      |  WHERE b.o_orderkey NOT IN (SELECT o_orderkey FROM del)
      |  UNION ALL
      |  SELECT o_orderkey, status, total FROM ins)
      |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
    val base = Tables.orders(s, d)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    val upd = base.filter(col("o_orderkey") % 10 === 0)
      .select(col("o_orderkey"), lit("U").as("u_st"),
        round(col("o_totalprice") + 1000, 4).as("u_tp"))
    val del = base.filter(col("o_orderkey") % 17 === 0).select("o_orderkey")
    val ins = base.filter(col("o_orderkey") % 23 === 0)
      .select((col("o_orderkey") + 10000000L).as("o_orderkey"),
        lit("N").as("status"), round(col("o_totalprice"), 4).as("total"))
    base.join(broadcast(upd), Seq("o_orderkey"), "left")
      .join(broadcast(del), Seq("o_orderkey"), "left_anti")
      .select(col("o_orderkey"),
        coalesce(col("u_st"), col("o_orderstatus")).as("status"),
        round(coalesce(col("u_tp"), col("o_totalprice")), 4).as("total"))
      .unionByName(ins)
      .orderBy("o_orderkey")
  }

  /** SKETCH-MERGE certificate — the INCREMENTAL distinct-count pattern at
    * 100 TB: one Datasketches HLL sketch per day (written once, kilobytes),
    * a month's distinct users = the UNION of 30 sketches with no rescan of
    * any day's data. This is what `olap_approx_distinct`'s single-pass
    * sketch can't show: mergeability is the whole reason sketches beat
    * exact counts operationally (exact distincts don't add across days —
    * on this corpus the naive sum of daily distincts is ~26× the true
    * month count). Two claims are certified against the exact count and
    * the direct whole-corpus sketch: the merged estimate is within 5%, and
    * merge-of-parts tracks sketching the whole to ≤2% relative. The union
    * itself is register-lossless (register-wise max), but the ESTIMATE is
    * not guaranteed bit-equal: while sketches stay in sparse/coupon mode
    * the two estimates coincide exactly, yet once dense a directly-built
    * sketch uses the HIP estimator while a union result must fall back to
    * the composite estimator — so the certificate asserts tight relative
    * agreement, which holds in both regimes, instead of an equality that
    * would flip to false at higher user_id cardinality for a non-bug.
    * Oracle: exact columns from DuckDB; the sketch columns are Spark-side
    * measured booleans (the `olap_approx_pctl_cert` discipline), bounded
    * numerically in OlapSpec. */
  val hllMerge = sql(
    "olap_hll_merge",
    """WITH d AS (SELECT DISTINCT epoch_us(ts) // 86400000000 AS day FROM events)
      |SELECT (SELECT CAST(count(*) AS BIGINT) FROM d) AS n_days,
      |       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct,
      |       TRUE AS merged_within_5pct,
      |       TRUE AS merge_matches_direct
      |FROM events""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d)
    val daily = ev.select(expr("t_us div 86400000000").as("day"), col("user_id"))
      .groupBy("day").agg(expr("hll_sketch_agg(user_id)").as("sk"))
    val merged = daily.agg(count(lit(1)).as("n_days"),
      expr("hll_sketch_estimate(hll_union_agg(sk))").as("est_merged"))
    val direct = ev.agg(countDistinct("user_id").as("exact_distinct"),
      expr("hll_sketch_estimate(hll_sketch_agg(user_id))").as("est_direct"))
    merged.crossJoin(broadcast(direct))
      .select(col("n_days"), col("exact_distinct"),
        (abs(col("est_merged") - col("exact_distinct")) <=
          col("exact_distinct") * 0.05).as("merged_within_5pct"),
        (abs(col("est_merged") - col("est_direct")) <=
          col("est_direct") * 0.02).as("merge_matches_direct"))
  }

  /** SCD TYPE-2 interval build — collapse each user's event-type stream
    * into versioned validity intervals (state, valid_from, valid_to): the
    * dimension-history shape every warehouse derives from a change
    * stream. Islands by LAG-compare: a version starts where the state
    * differs from the previous observation (null-safe, so row 1 always
    * opens version 1); the version number is the running count of starts;
    * `valid_to` is the NEXT version's start (the open interval carries a
    * -1 sentinel so the hash has no NULL/engine ambiguity).
    *
    * Scale shape: two user-partitioned windows over the (t_us, event_id)
    * total order plus one partial-aggregable roll-up — no self-join, no
    * unpartitioned frame; a user's history streams through one task
    * regardless of corpus size, and the second window runs over the
    * already-collapsed version frame, not the fact table. */
  val scd2 = sql(
    "olap_scd2",
    """WITH e AS (SELECT user_id, event_id, event_type,
      |                  CAST(epoch_us(ts) AS BIGINT) AS t_us
      |           FROM events),
      |m AS (SELECT user_id, event_type, t_us, event_id,
      |             CASE WHEN lag(event_type) OVER w IS DISTINCT FROM event_type
      |                  THEN 1 ELSE 0 END AS chg
      |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t_us, event_id)),
      |v AS (SELECT user_id, event_type, t_us,
      |             sum(chg) OVER (PARTITION BY user_id ORDER BY t_us, event_id
      |                            ROWS UNBOUNDED PRECEDING) AS version
      |      FROM m),
      |iv AS (SELECT user_id, CAST(version AS BIGINT) AS version,
      |              min(event_type) AS state,
      |              min(t_us) AS valid_from,
      |              CAST(count(*) AS BIGINT) AS n_obs
      |       FROM v GROUP BY user_id, version)
      |SELECT user_id, version, state, valid_from,
      |       coalesce(lead(valid_from) OVER (PARTITION BY user_id
      |                                       ORDER BY version), -1) AS valid_to,
      |       n_obs
      |FROM iv ORDER BY user_id, version""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("t_us", "event_id")
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val chg = when(not(lag("event_type", 1).over(w) <=> col("event_type")), 1L)
      .otherwise(0L)
    val iv = Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("event_type"), col("t_us"))
      .withColumn("chg", chg)
      .withColumn("version", sum("chg").over(wRun))
      .groupBy("user_id", "version")
      .agg(min("event_type").as("state"), min("t_us").as("valid_from"),
        count(lit(1)).as("n_obs"))
    val wVer = Window.partitionBy("user_id").orderBy("version")
    iv.select(col("user_id"), col("version"), col("state"), col("valid_from"),
        coalesce(lead("valid_from", 1).over(wVer), lit(-1L)).as("valid_to"),
        col("n_obs"))
      .orderBy("user_id", "version")
  }

  /** CALENDAR GAP-FILL + FORWARD FILL — per-user daily activity grid:
    * every day between a user's first and last activity appears exactly
    * once, absent days carry n=0, and the last observed daily spend
    * carries forward (`last(_, ignoreNulls)` over a ROWS frame) — the
    * feature-store "value as of day d" shape. Integer day numbers and
    * integer cents, so grid and fill are engine-exact.
    *
    * Scale shape: one partial-aggregable daily roll-up, a per-user bounds
    * aggregate, a `sequence()` explode whose size is bounded by the TIME
    * HORIZON (days/user), not the event count, one equi-join back, one
    * user-partitioned window. No unpartitioned frame anywhere. */
  val gapFill = sql(
    "olap_gap_fill",
    """WITH g AS (SELECT user_id,
      |                  CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
      |                  CAST(count(*) AS BIGINT) AS n,
      |                  CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents
      |           FROM events GROUP BY 1, 2),
      |b AS (SELECT user_id, min(day) AS lo, max(day) AS hi FROM g GROUP BY user_id),
      |grid AS (SELECT user_id, unnest(generate_series(lo, hi)) AS day FROM b),
      |f AS (SELECT grid.user_id, grid.day, coalesce(g.n, 0) AS n, g.cents
      |      FROM grid LEFT JOIN g ON g.user_id = grid.user_id AND g.day = grid.day)
      |SELECT user_id, day, n,
      |       coalesce(last_value(cents IGNORE NULLS)
      |                  OVER (PARTITION BY user_id ORDER BY day
      |                        ROWS UNBOUNDED PRECEDING), 0) AS cents_asof
      |FROM f ORDER BY user_id, day""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val g = Tables.events(s, d)
      .select(col("user_id"), expr("t_us div 86400000000").as("day"),
        round(col("value") * 100).cast("long").as("cents"))
      .groupBy("user_id", "day")
      .agg(count(lit(1)).as("n"), sum("cents").as("cents"))
    val grid = g.groupBy("user_id").agg(min("day").as("lo"), max("day").as("hi"))
      .select(col("user_id"), explode(sequence(col("lo"), col("hi"))).as("day"))
    val wFill = Window.partitionBy("user_id").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(g, Seq("user_id", "day"), "left")
      .select(col("user_id"), col("day"),
        coalesce(col("n"), lit(0L)).as("n"), col("cents"))
      .withColumn("cents_asof",
        coalesce(last("cents", ignoreNulls = true).over(wFill), lit(0L)))
      .drop("cents")
      .orderBy("user_id", "day")
  }

  /** MULTI-TOUCH ATTRIBUTION — for every purchase, the LAST-TOUCH click
    * (most recent click at-or-before it within a 7-day lookback) and the
    * LINEAR credit (split across the k clicks inside the lookback), the
    * two standard marketing-attribution models, over one event stream.
    * The linear split is emitted in exact integer parts-per-million
    * (floor(1e6/k) per purchase) — float 1/k sums would depend on
    * summation order across engines/executors; integer credits never do.
    *
    * Scale shape: the classic join-per-purchase formulation is quadratic
    * in a hot user's events; here it is two user-partitioned windows (a
    * ROWS carry-forward for the last click, a RANGE(7d) frame for the
    * lookback count) — one sorted pass per user, then one partial-
    * aggregable roll-up. */
  val eventsAttribution = sql(
    "events_attribution",
    """WITH e AS (SELECT user_id, event_id, event_type,
      |                  CAST(epoch_us(ts) AS BIGINT) AS t_us
      |           FROM events),
      |m AS (SELECT user_id, event_type, t_us,
      |             last_value(CASE WHEN event_type = 'click' THEN t_us END
      |                        IGNORE NULLS)
      |               OVER (PARTITION BY user_id ORDER BY t_us, event_id
      |                     ROWS UNBOUNDED PRECEDING) AS lc,
      |             sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
      |               OVER (PARTITION BY user_id ORDER BY t_us
      |                     RANGE BETWEEN 604800000000 PRECEDING
      |                           AND CURRENT ROW) AS k
      |      FROM e),
      |p AS (SELECT user_id, t_us - lc AS gap,
      |             (lc IS NOT NULL AND t_us - lc <= 604800000000) AS attr, k
      |      FROM m WHERE event_type = 'purchase')
      |SELECT user_id,
      |       CAST(count(*) AS BIGINT) AS n_purchases,
      |       CAST(sum(CASE WHEN attr THEN 1 ELSE 0 END) AS BIGINT) AS n_attributed,
      |       CASE WHEN sum(CASE WHEN attr THEN 1 ELSE 0 END) = 0 THEN -1
      |            ELSE round(sum(CASE WHEN attr THEN gap ELSE 0 END) * 1.0
      |                       / sum(CASE WHEN attr THEN 1 ELSE 0 END)
      |                       / 1000000, 4) END AS avg_gap_s,
      |       CAST(sum(CASE WHEN k > 0 THEN 1000000 // k ELSE 0 END) AS BIGINT)
      |         AS credit_ppm
      |FROM p GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val wRows = Window.partitionBy("user_id").orderBy("t_us", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wRange = Window.partitionBy("user_id").orderBy("t_us")
      .rangeBetween(-604800000000L, 0L)
    val p = Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("event_type"), col("t_us"))
      .withColumn("lc",
        last(when(col("event_type") === "click", col("t_us")),
          ignoreNulls = true).over(wRows))
      .withColumn("k",
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).over(wRange))
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), (col("t_us") - col("lc")).as("gap"),
        (col("lc").isNotNull && col("t_us") - col("lc") <= 604800000000L)
          .as("attr"), col("k"))
    val nAttr = sum(when(col("attr"), 1L).otherwise(0L))
    p.groupBy("user_id")
      .agg(count(lit(1)).as("n_purchases"),
        nAttr.as("n_attributed"),
        when(nAttr === 0, lit(-1.0))
          .otherwise(round(sum(when(col("attr"), col("gap")).otherwise(0L))
            * lit(1.0) / nAttr / 1000000, 4)).as("avg_gap_s"),
        sum(when(col("k") > 0, expr("CAST(1000000 div k AS BIGINT)"))
          .otherwise(0L)).as("credit_ppm"))
      .orderBy("user_id")
  }

  /** RFM SEGMENTATION — the classic recency/frequency/monetary customer
    * segmentation, banded by FIXED cuts (not ntile: a quantile band would
    * either window the full user frame unpartitioned or need a sampled
    * cutoff — fixed cuts keep the whole query two partial-aggregable
    * passes and make the segment of a user independent of every other
    * user, so the report composes across shards/date-ranges). Recency is
    * measured against the corpus max day, a broadcast 1-row aggregate.
    * All exact integers (days, counts, cents) — engine-exact bands.
    *
    * Scale shape: per-user roll-up (one shuffle on user_id), broadcast
    * scalar, then the ≤36-cell segment aggregate — no window, no
    * self-join; at 10⁹ users the second aggregate is still 36 cells. */
  val eventsRfm = sql(
    "events_rfm",
    """WITH u AS (SELECT user_id, CAST(count(*) AS BIGINT) AS f,
      |                  CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS m,
      |                  max(CAST(epoch_us(ts) // 86400000000 AS BIGINT)) AS umax
      |           FROM events GROUP BY user_id),
      |c AS (SELECT max(umax) AS cmax FROM u),
      |b AS (SELECT CASE WHEN cmax - umax <= 0 THEN 'r0_today'
      |                  WHEN cmax - umax <= 3 THEN 'r1_recent'
      |                  ELSE 'r2_stale' END AS r_band,
      |             CASE WHEN f >= 73 THEN 'f2_high'
      |                  WHEN f >= 60 THEN 'f1_mid'
      |                  ELSE 'f0_low' END AS f_band,
      |             CASE WHEN m >= 360000 THEN 'm2_high'
      |                  WHEN m >= 300000 THEN 'm1_mid'
      |                  ELSE 'm0_low' END AS m_band,
      |             f, m
      |      FROM u, c)
      |SELECT r_band, f_band, m_band,
      |       CAST(count(*) AS BIGINT) AS n_users,
      |       CAST(sum(f) AS BIGINT) AS n_events,
      |       CAST(sum(m) AS BIGINT) AS total_cents
      |FROM b GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin) { (s, d) =>
    val u = Tables.events(s, d)
      .select(col("user_id"), expr("t_us div 86400000000").as("day"),
        round(col("value") * 100).cast("long").as("cents"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("f"), sum("cents").as("m"), max("day").as("umax"))
    val c = u.agg(max("umax").as("cmax"))
    u.crossJoin(broadcast(c))
      .select(
        when(col("cmax") - col("umax") <= 0, "r0_today")
          .when(col("cmax") - col("umax") <= 3, "r1_recent")
          .otherwise("r2_stale").as("r_band"),
        when(col("f") >= 73, "f2_high")
          .when(col("f") >= 60, "f1_mid")
          .otherwise("f0_low").as("f_band"),
        when(col("m") >= 360000L, "m2_high")
          .when(col("m") >= 300000L, "m1_mid")
          .otherwise("m0_low").as("m_band"),
        col("f"), col("m"))
      .groupBy("r_band", "f_band", "m_band")
      .agg(count(lit(1)).as("n_users"), sum("f").as("n_events"),
        sum("m").as("total_cents"))
      .orderBy("r_band", "f_band", "m_band")
  }

  /** GROWTH ACCOUNTING — the daily new/retained/resurrected decomposition
    * every growth dashboard runs (churn is the complement at the weekly
    * grain and needs a negative "was absent today" join against the day
    * grid, so the daily report sticks to the three positive states): per
    * active (user, day), classify by the gap to the user's PREVIOUS
    * active day — first appearance is `new`, a return within 7 days
    * `retained`, a return after a longer silence `resurrected` — then
    * count per (day, state). Integer day arithmetic, engine-exact.
    *
    * Scale shape: distinct (user, day) pre-shrinks the fact, ONE
    * user-partitioned lag window over the per-user day list (bounded by
    * the calendar, not the event count), one partial-aggregable
    * (day, state) roll-up. No grid join, no self-join. */
  val eventsGrowthAccounting = sql(
    "events_growth_accounting",
    """WITH ud AS (SELECT DISTINCT user_id,
      |                   CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day
      |            FROM events),
      |g AS (SELECT user_id, day,
      |             day - lag(day) OVER (PARTITION BY user_id ORDER BY day) AS gap
      |      FROM ud),
      |st AS (SELECT day,
      |              CASE WHEN gap IS NULL THEN 'new'
      |                   WHEN gap <= 7 THEN 'retained'
      |                   ELSE 'resurrected' END AS state
      |       FROM g)
      |SELECT day, state, CAST(count(*) AS BIGINT) AS n_users
      |FROM st GROUP BY day, state ORDER BY day, state""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val ud = Tables.events(s, d)
      .select(col("user_id"), expr("t_us div 86400000000").as("day"))
      .distinct()
    val w = Window.partitionBy("user_id").orderBy("day")
    ud.withColumn("gap", col("day") - lag("day", 1).over(w))
      .select(col("day"),
        when(col("gap").isNull, "new")
          .when(col("gap") <= 7, "retained")
          .otherwise("resurrected").as("state"))
      .groupBy("day", "state")
      .agg(count(lit(1)).as("n_users"))
      .orderBy("day", "state")
  }

  /** COHORT LTV — cumulative revenue per signup cohort by day offset: the
    * lifetime-value curve that prices acquisition, the revenue
    * counterpart of `events_retention`'s activity triangle. Cohort = the
    * user's first active day; revenue accumulates in exact integer cents
    * over a cohort-partitioned window whose row count is bounded by the
    * CALENDAR span, never the event count; per-user LTV divides two
    * exact integers at the end (4 dp).
    *
    * Scale shape: per-user min-day cohort (partial-aggregable), one
    * equi-join back, (cohort, offset) cents roll-up, then the cumsum
    * window over the ≤|days| offset frame per cohort. */
  val eventsCohortLtv = sql(
    "events_cohort_ltv",
    """WITH e AS (SELECT user_id,
      |                  CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
      |                  CAST(round(value * 100, 0) AS BIGINT) AS cents
      |           FROM events),
      |c AS (SELECT user_id, min(day) AS cohort FROM e GROUP BY user_id),
      |cs AS (SELECT cohort, CAST(count(*) AS BIGINT) AS n_users
      |       FROM c GROUP BY cohort),
      |r AS (SELECT c.cohort, e.day - c.cohort AS "offset",
      |             CAST(sum(e.cents) AS BIGINT) AS cents
      |      FROM e JOIN c ON e.user_id = c.user_id
      |      GROUP BY 1, 2),
      |cum AS (SELECT cohort, "offset",
      |               sum(cents) OVER (PARTITION BY cohort ORDER BY "offset"
      |                                ROWS UNBOUNDED PRECEDING) AS cum_cents
      |        FROM r)
      |SELECT cum.cohort, cum."offset",
      |       cs.n_users,
      |       CAST(cum.cum_cents AS BIGINT) AS cum_cents,
      |       round(cum.cum_cents * 1.0 / cs.n_users, 4) AS ltv_cents
      |FROM cum JOIN cs ON cum.cohort = cs.cohort
      |ORDER BY cum.cohort, cum."offset"""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(s, d)
      .select(col("user_id"), expr("t_us div 86400000000").as("day"),
        round(col("value") * 100).cast("long").as("cents"))
    val c = e.groupBy("user_id").agg(min("day").as("cohort"))
    val cs = c.groupBy("cohort").agg(count(lit(1)).as("n_users"))
    val r = e.join(c, "user_id")
      .groupBy(col("cohort"), (col("day") - col("cohort")).as("offset"))
      .agg(sum("cents").as("cents"))
    val wCum = Window.partitionBy("cohort").orderBy("offset")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    r.withColumn("cum_cents", sum("cents").over(wCum))
      .join(cs, "cohort")
      .select(col("cohort"), col("offset"), col("n_users"), col("cum_cents"),
        round(col("cum_cents") * lit(1.0) / col("n_users"), 4).as("ltv_cents"))
      .orderBy("cohort", "offset")
  }

  /** SEASONAL-NAIVE BACKTEST — the forecast-accuracy report that decides
    * whether daily revenue needs a real model: over the gap-filled day
    * grid, score the two zero-parameter baselines every forecasting
    * effort must beat — `naive_1` (yesterday's value) and
    * `seasonal_naive_7` (same weekday last week) — on the last-14-day
    * holdout, by WAPE (Σ|err|/Σactual — the scale-free error ratio of
    * exact integer cents; MAPE explodes on near-zero days, so WAPE is
    * the robust choice). A model that can't beat the better baseline
    * here isn't worth its training cost.
    *
    * Scale shape: one partial-aggregable daily roll-up, then every
    * window runs over the gap-filled DAY GRID — bounded by the calendar
    * (the `events_ewma` frame argument), never the event count; the
    * holdout cut is a broadcast bounds scalar. */
  val eventsSeasonalBacktest = sql(
    "events_seasonal_backtest",
    """WITH g AS (SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
      |                  CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents
      |           FROM events GROUP BY 1),
      |b AS (SELECT min(day) AS lo, max(day) AS hi FROM g),
      |grid AS (SELECT unnest(generate_series(lo, hi)) AS day FROM b),
      |f AS (SELECT grid.day, coalesce(g.cents, 0) AS cents
      |      FROM grid LEFT JOIN g ON g.day = grid.day),
      |w AS (SELECT day, cents,
      |             lag(cents, 7) OVER (ORDER BY day) AS fc7,
      |             lag(cents, 1) OVER (ORDER BY day) AS fc1
      |      FROM f),
      |h AS (SELECT w.* FROM w CROSS JOIN b WHERE w.day > b.hi - 14),
      |sc AS (SELECT 'naive_1' AS model, count(*) AS n_days,
      |              CAST(sum(abs(cents - fc1)) AS BIGINT) AS sum_abs_err,
      |              sum(cents) AS sum_actual
      |       FROM h
      |       UNION ALL
      |       SELECT 'seasonal_naive_7', count(*),
      |              CAST(sum(abs(cents - fc7)) AS BIGINT), sum(cents)
      |       FROM h)
      |SELECT model, CAST(n_days AS BIGINT) AS n_days, sum_abs_err,
      |       CASE WHEN sum_actual = 0 THEN -1
      |            ELSE round(sum_abs_err * 1.0 / sum_actual, 4) END AS wape
      |FROM sc ORDER BY model""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val g = Tables.events(s, d)
      .select(expr("t_us div 86400000000").as("day"),
        round(col("value") * 100).cast("long").as("cents"))
      .groupBy("day").agg(sum("cents").as("cents"))
    val b = g.agg(min("day").as("lo"), max("day").as("hi"))
    val grid = b.select(explode(sequence(col("lo"), col("hi"))).as("day"))
    val f = grid.join(g, Seq("day"), "left")
      .select(col("day"), coalesce(col("cents"), lit(0L)).as("cents"))
    val o = Window.orderBy("day") // bounded day-grid frame (events_ewma argument)
    val h = f
      .withColumn("fc7", lag("cents", 7).over(o))
      .withColumn("fc1", lag("cents", 1).over(o))
      .crossJoin(broadcast(b))
      .filter(col("day") > col("hi") - 14)
    def score(model: String, fc: org.apache.spark.sql.Column) =
      h.agg(count(lit(1)).as("n_days"),
        sum(abs(col("cents") - fc)).as("sum_abs_err"),
        sum("cents").as("sum_actual"))
        .select(lit(model).as("model"), col("n_days"), col("sum_abs_err"),
          when(col("sum_actual") === 0, lit(-1.0))
            .otherwise(round(col("sum_abs_err") * lit(1.0) / col("sum_actual"), 4))
            .as("wape"))
    score("naive_1", col("fc1"))
      .unionByName(score("seasonal_naive_7", col("fc7")))
      .orderBy("model")
  }

  /** A/B EXPERIMENT READOUT — the two-proportion z-test every
    * experimentation platform runs, in EXACT integer arithmetic: variant
    * assignment by the shared md5 hash gate (deterministic, the
    * `split_assign` discipline — no assignment table to store), metric =
    * heavy-buyer conversion (≥ 14 purchases — the corpus mean, so the
    * null split lands near 50% and the test has real variance to work
    * with), and the |z| > 2 significance decision cross-multiplied into
    * D²·N > 4·X·(N−X)·n_a·n_b over integer counts (D = x_a·n_b − x_b·n_a,
    * X = x_a+x_b, N = n_a+n_b) — no float proportion or pooled variance
    * ever exists, so the verdict is bit-identical across engines. The
    * strict > also makes the zero-variance degenerate cases (all or none
    * converted → D = 0 = both sides) correctly NOT significant. On the
    * hash split this is an A/A test and the spec pins the null
    * calibration (must not fire) plus a planted divergent fixture (must
    * fire) — the `corpus_quality_drift` certificate discipline.
    * DECIMAL(38)/HUGEINT intermediates are exact through arm sizes ~10⁷;
    * beyond that any real difference is astronomically significant and
    * the float z is the honest form.
    *
    * Scale shape: one per-user purchase-count aggregate, a 2-row arm
    * aggregate — the test itself runs on 4 scalars. No window, no join
    * against an assignment table. */
  val eventsAbTest = sql(
    "events_ab_test",
    s"""WITH u AS (SELECT user_id,
       |                 CASE WHEN sum(CASE WHEN event_type = 'purchase'
       |                                    THEN 1 ELSE 0 END) >= 14
       |                      THEN 1 ELSE 0 END AS conv
       |          FROM events GROUP BY user_id),
       |arms AS (SELECT CASE WHEN ${Keys.hexBucketSql("user_id")} < 32768
       |                     THEN 'A' ELSE 'B' END AS variant,
       |                CAST(count(*) AS BIGINT) AS n,
       |                CAST(sum(conv) AS BIGINT) AS x
       |         FROM u GROUP BY 1),
       |s AS (SELECT max(CASE WHEN variant = 'A' THEN n END) AS na,
       |             max(CASE WHEN variant = 'A' THEN x END) AS xa,
       |             max(CASE WHEN variant = 'B' THEN n END) AS nb,
       |             max(CASE WHEN variant = 'B' THEN x END) AS xb
       |      FROM arms)
       |SELECT na AS n_a, xa AS conv_a, nb AS n_b, xb AS conv_b,
       |       round(xa * 1.0 / na, 4) AS rate_a,
       |       round(xb * 1.0 / nb, 4) AS rate_b,
       |       (CAST(xa * nb - xb * na AS HUGEINT)
       |          * (xa * nb - xb * na) * (na + nb)
       |        > 4 * CAST(xa + xb AS HUGEINT)
       |            * (na + nb - xa - xb) * na * nb) AS significant
       |FROM s""".stripMargin) { (s, d) =>
    val u = Tables.events(s, d)
      .groupBy("user_id")
      .agg(when(sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
        >= 14, 1L).otherwise(0L).as("conv"))
    val arms = u
      .select(when(Keys.hexBucketCol(col("user_id")) < 32768, "A").otherwise("B")
        .as("variant"), col("conv"))
      .groupBy("variant")
      .agg(count(lit(1)).as("n"), sum("conv").as("x"))
    val sc = arms.agg(
      max(when(col("variant") === "A", col("n"))).as("na"),
      max(when(col("variant") === "A", col("x"))).as("xa"),
      max(when(col("variant") === "B", col("n"))).as("nb"),
      max(when(col("variant") === "B", col("x"))).as("xb"))
    val dec = "decimal(38,0)"
    val dD = (col("xa") * col("nb") - col("xb") * col("na")).cast(dec)
    sc.select(col("na").as("n_a"), col("xa").as("conv_a"),
      col("nb").as("n_b"), col("xb").as("conv_b"),
      round(col("xa") * lit(1.0) / col("na"), 4).as("rate_a"),
      round(col("xb") * lit(1.0) / col("nb"), 4).as("rate_b"),
      (dD * dD * (col("na") + col("nb")).cast(dec) >
        lit(4) * (col("xa") + col("xb")).cast(dec)
          * (col("na") + col("nb") - col("xa") - col("xb")).cast(dec)
          * col("na").cast(dec) * col("nb").cast(dec)).as("significant"))
  }

  /** KAPLAN-MEIER repeat-purchase latency — the censoring-correct "days
    * until the next purchase" curve (the naive histogram of observed gaps
    * OVERSTATES fast repurchase: a customer whose observation window ends
    * before their next purchase is not a non-repurchaser — they are
    * CENSORED). Subjects are distinct per-user purchase DAYS: the next
    * purchase day is an observed death at t = next − day (one per-user
    * lead window); a user's last purchase day is censored at horizon −
    * day. S(t) multiplies (1 − d/n) over death times; the risk set
    * shrinks by both deaths and censorings. Exact integer day arithmetic
    * for every count; the only floats are the hazard ratios and the 4-dp
    * survival product (exp-sum-ln over the t-ordered frame).
    *
    * Scale shape: distinct (user, day) pre-shrink, ONE user-partitioned
    * lead window, a (t, flag) roll-up, then every remaining window runs
    * over the DISTINCT-DURATION frame — bounded by the calendar span
    * (the `events_ewma` argument), never the user or purchase count.
    * Horizon is a broadcast 1-row scalar. */
  val eventsSurvivalKm = sql(
    "events_survival_km",
    """WITH p AS (SELECT DISTINCT user_id,
      |                  CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day
      |           FROM events WHERE event_type = 'purchase'),
      |h AS (SELECT max(day) AS hz FROM p),
      |iv AS (SELECT user_id, day,
      |              lead(day) OVER (PARTITION BY user_id ORDER BY day) AS nxt
      |       FROM p),
      |lf AS (SELECT CASE WHEN iv.nxt IS NULL THEN h.hz - iv.day
      |                   ELSE iv.nxt - iv.day END AS t,
      |              CASE WHEN iv.nxt IS NULL THEN 0 ELSE 1 END AS death
      |       FROM iv CROSS JOIN h),
      |g AS (SELECT t, CAST(sum(death) AS BIGINT) AS d,
      |             CAST(count(*) AS BIGINT) AS leave_t
      |      FROM lf GROUP BY t),
      |r AS (SELECT t, d,
      |             (SELECT count(*) FROM lf) -
      |             coalesce(sum(leave_t) OVER (ORDER BY t
      |                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |               AS n_risk
      |      FROM g),
      |s AS (SELECT t, d, n_risk,
      |             round(CASE WHEN sum(CASE WHEN d >= n_risk THEN 1 ELSE 0 END)
      |                          OVER w > 0 THEN 0.0
      |                   ELSE exp(sum(CASE WHEN d < n_risk
      |                                     THEN ln(1.0 - d * 1.0 / n_risk)
      |                                     ELSE 0.0 END) OVER w) END, 4)
      |               AS survival
      |      FROM r WHERE d > 0
      |      WINDOW w AS (ORDER BY t ROWS UNBOUNDED PRECEDING))
      |SELECT t, CAST(n_risk AS BIGINT) AS n_risk, d AS n_deaths, survival
      |FROM s ORDER BY t""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val p = Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), expr("t_us div 86400000000").as("day"))
      .distinct()
    val h = p.agg(max("day").as("hz"))
    val wUser = Window.partitionBy("user_id").orderBy("day")
    val lf = p.withColumn("nxt", lead("day", 1).over(wUser))
      .crossJoin(broadcast(h))
      .select(
        when(col("nxt").isNull, col("hz") - col("day"))
          .otherwise(col("nxt") - col("day")).as("t"),
        when(col("nxt").isNull, 0L).otherwise(1L).as("death"))
    val g = lf.groupBy("t")
      .agg(sum("death").as("d"), count(lit(1)).as("leave_t"))
    val total = lf.agg(count(lit(1)).as("n_total"))
    val wPrior = Window.orderBy("t") // bounded distinct-duration frame
      .rowsBetween(Window.unboundedPreceding, -1)
    val wRun = Window.orderBy("t")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    g.crossJoin(broadcast(total))
      .withColumn("n_risk",
        col("n_total") - coalesce(sum("leave_t").over(wPrior), lit(0L)))
      .filter(col("d") > 0)
      // the terminal all-die time has factor 0: ln(0) errors in DuckDB and
      // nulls in Spark, so the zero factor is carried as a windowed flag
      .withColumn("survival",
        round(when(sum(when(col("d") >= col("n_risk"), 1L).otherwise(0L))
            .over(wRun) > 0, lit(0.0))
          .otherwise(exp(sum(when(col("d") < col("n_risk"),
            log(lit(1.0) - col("d") * lit(1.0) / col("n_risk")))
            .otherwise(lit(0.0))).over(wRun))), 4))
      .select(col("t"), col("n_risk"), col("d").as("n_deaths"), col("survival"))
      .orderBy("t")
  }

  /** KEY-SKEW PROFILE — the capacity-planning diagnostic that SIZES the
    * `j6_salted_join` salt factor instead of guessing it: per-key row
    * counts over `events.user_id` collapsed to one row of heavy-hitter
    * facts — total rows, distinct keys, the hottest key and its count,
    * mean rows/key, the skew ratio (hottest ÷ mean), and the SALT FACTOR
    * `ceil(32 · max_key_rows / n_rows)` — how many ways the hottest key
    * must split so its share of one shuffle task's input drops to the
    * uniform task size at 32 partitions (exact integer ceiling-division,
    * identical on both engines; the same formula reads off any shuffle
    * width). A ratio near 1 says shuffle plain; a large ratio says salt
    * or let AQE skew-split.
    *
    * Scale shape: ONE partial-aggregable groupBy on the key (map-side
    * combine collapses each partition to its distinct keys), then 1-row
    * aggregates + a broadcast argmax re-scan of the tiny key-count frame
    * — no window, no sort, no corpus pair join. */
  val skewProfile = sql(
    "olap_skew_profile",
    """WITH kc AS (SELECT user_id, count(*) AS c FROM events GROUP BY user_id),
      |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_rows,
      |               CAST(count(*) AS BIGINT) AS n_keys,
      |               CAST(max(c) AS BIGINT) AS max_key_rows
      |        FROM kc),
      |hot AS (SELECT min(user_id) AS hottest_key
      |        FROM kc CROSS JOIN tot WHERE kc.c = tot.max_key_rows)
      |SELECT n_rows, n_keys, max_key_rows, hottest_key,
      |       round(n_rows * 1.0 / n_keys, 4) AS mean_rows_per_key,
      |       round(max_key_rows * 1.0 * n_keys / n_rows, 4) AS skew_ratio,
      |       CAST(greatest(1, (32 * max_key_rows + n_rows - 1) // n_rows)
      |            AS BIGINT) AS salt_factor
      |FROM tot CROSS JOIN hot""".stripMargin) { (s, d) =>
    val kc = Tables.events(s, d).groupBy("user_id")
      .agg(count(lit(1)).as("c"))
    val tot = kc.agg(sum("c").cast("long").as("n_rows"),
      count(lit(1)).cast("long").as("n_keys"),
      max("c").cast("long").as("max_key_rows"))
    val hot = kc.crossJoin(broadcast(tot))
      .filter(col("c") === col("max_key_rows"))
      .agg(min("user_id").as("hottest_key"))
    tot.crossJoin(broadcast(hot))
      .select(col("n_rows"), col("n_keys"), col("max_key_rows"),
        col("hottest_key"),
        round(col("n_rows") * lit(1.0) / col("n_keys"), 4)
          .as("mean_rows_per_key"),
        round(col("max_key_rows") * lit(1.0) * col("n_keys") / col("n_rows"), 4)
          .as("skew_ratio"),
        greatest(lit(1L),
          expr("(32 * max_key_rows + n_rows - 1) div n_rows"))
          .cast("long").as("salt_factor"))
  }

  /** JOIN-EXPLOSION PROFILE — the pre-flight cardinality check before any
    * self-join on a grouping key (sessionization pairs, co-visit matrices,
    * within-user crosses): for `events ⋈ events ON user_id`, the EXACT
    * output size Σ c(k)² computed from per-key counts WITHOUT running the
    * join, the amplification factor vs the input, and the hottest key's
    * share of the output. An amplification near 1 says the join is safe;
    * a big top-key share says the explosion is a skew problem (salt that
    * key); a big amplification with a flat share says the join shape
    * itself is wrong at scale (use a window or pre-aggregate instead).
    *
    * Scale shape: ONE partial-aggregable per-key count, then 1-row
    * aggregates — the n²-sized join output is never materialized, which
    * is the entire point. Σc² rides DECIMAL(38)/HUGEINT (a 1e10-row key
    * squares past int64); the exposed row count casts back to BIGINT at
    * the wire (the profile's job is the ratio, and any corpus whose Σc²
    * genuinely tops int64 reads it from `amplification`). The top-key
    * re-scan joins the tiny key-count frame against a broadcast 1-row
    * max — no sort, no window. */
  val joinExplosion = sql(
    "olap_join_explosion",
    """WITH kc AS (SELECT user_id, count(*) AS c FROM events GROUP BY user_id),
      |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_rows,
      |               CAST(count(*) AS BIGINT) AS n_keys,
      |               CAST(sum(CAST(c AS HUGEINT) * c) AS BIGINT) AS out_rows,
      |               CAST(max(CAST(c AS HUGEINT) * c) AS BIGINT) AS max_key_out
      |        FROM kc),
      |hot AS (SELECT min(user_id) AS hottest_key
      |        FROM kc CROSS JOIN tot
      |        WHERE CAST(kc.c AS HUGEINT) * kc.c = tot.max_key_out)
      |SELECT n_rows, n_keys, out_rows, hottest_key,
      |       round(out_rows * 1.0 / n_rows, 4) AS amplification,
      |       round(max_key_out * 1.0 / out_rows, 4) AS top_key_share
      |FROM tot CROSS JOIN hot""".stripMargin) { (s, d) =>
    val dec = "decimal(38,0)"
    val kc = Tables.events(s, d).groupBy("user_id")
      .agg(count(lit(1)).as("c"))
    // squares stay DECIMAL(38) until the final wire cast — long c·c
    // overflows at a 3e9-row key
    val tot = kc.agg(sum("c").cast("long").as("n_rows"),
      count(lit(1)).cast("long").as("n_keys"),
      sum(col("c").cast(dec) * col("c")).as("out_d"),
      max(col("c").cast(dec) * col("c")).as("max_d"))
    val hot = kc.crossJoin(broadcast(tot))
      .filter(col("c").cast(dec) * col("c") === col("max_d"))
      .agg(min("user_id").as("hottest_key"))
    tot.crossJoin(broadcast(hot))
      .select(col("n_rows"), col("n_keys"),
        col("out_d").cast("long").as("out_rows"), col("hottest_key"),
        round(col("out_d").cast("long") * lit(1.0) / col("n_rows"), 4)
          .as("amplification"),
        round(col("max_d").cast("long") * lit(1.0) / col("out_d").cast("long"), 4)
          .as("top_key_share"))
  }

  /** Bucketed catalog twins of (lineitem, orders), materialized ONCE per
    * (application, dataset) in [[graft.core.Snapshots]] —
    * `bucketBy(8, orderkey).sortBy(orderkey)` into managed tables, the
    * layout investment a 100 TB deployment makes when a fact-fact join
    * runs repeatedly. 8 buckets is the local-test knob; at scale it is
    * thousands (≈ one bucket per target task). */
  private def bucketedTables(s: org.apache.spark.sql.SparkSession, d: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val (liT, oT) = Snapshots.once(s, d, "bucket-join") { base =>
      val tag = java.util.UUID.randomUUID().toString.take(8).replace("-", "")
      val li = s"li_bkt_$tag"; val o = s"o_bkt_$tag"
      Tables.lineitem(s, d).write.option("path", s"$base/$li")
        .mode("overwrite").bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .saveAsTable(li)
      Tables.orders(s, d).write.option("path", s"$base/$o")
        .mode("overwrite").bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .saveAsTable(o)
      (li, o)
    }
    (s.table(liT), s.table(oT))
  }

  /** CO-LOCATED BUCKETED JOIN — the shuffle-elimination layout strategy
    * promoted from spec evidence (BucketingSpec) to an oracle-checked
    * query: revenue per order priority over `lineitem ⋈ orders` where BOTH
    * sides read from bucketed catalog tables sharing the join key's
    * layout, so the SortMergeJoin consumes the scans DIRECTLY — zero
    * Exchange below the join (PlanSpec-guarded; the only shuffles in the
    * whole plan are the post-join aggregate and the final order). The
    * `merge` hint pins the join strategy so the guard cannot be
    * trivially satisfied by a broadcast at test scale. Same oracle SQL as
    * the plain join, so the driver's hash compare proves the bucketed
    * layout changes the PLAN, not the answer. */
  val bucketJoin = sql(
    "olap_bucket_join",
    """SELECT o.o_orderpriority,
      |       round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue,
      |       count(*) AS n_items
      |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |GROUP BY o.o_orderpriority
      |ORDER BY o.o_orderpriority""".stripMargin) { (s, d) =>
    val (li, o) = bucketedTables(s, d)
    li.hint("merge").join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
          .as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("o_orderpriority")
  }

  /** SESSION CO-OCCURRENCE PMI — the co-visit/market-basket signal behind
    * "users who did A also did B" recommenders: event types co-occurring
    * in the same (user, day) session, scored by pointwise mutual
    * information `ln(N·c_ab / (c_a·c_b))` with the raw lift alongside —
    * positive PMI = the pair co-occurs more than independence predicts.
    *
    * Exactness: all counts are exact integers off the DISTINCT
    * (user, day, type) frame; lift is one float expression over exact
    * ints (identical op order both engines), PMI its ln, both 4 dp.
    * Scale shape: the distinct pre-shrink bounds every (user, day) block
    * at |type domain| rows, so the session self-join is Σ session·k², and
    * the pair frame aggregates to ≤ k² rows at any corpus size — the
    * safe self-join shape `olap_join_explosion` exists to certify. */
  val eventsCopmi = sql(
    "events_copmi",
    """WITH st AS (SELECT DISTINCT user_id,
      |                   CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
      |                   event_type
      |            FROM events),
      |tc AS (SELECT event_type, count(*) AS c FROM st GROUP BY 1),
      |ns AS (SELECT CAST(count(*) AS BIGINT) AS n
      |       FROM (SELECT DISTINCT user_id, day FROM st)),
      |pc AS (SELECT a.event_type AS ta, b.event_type AS tb, count(*) AS c_ab
      |       FROM st a JOIN st b ON a.user_id = b.user_id AND a.day = b.day
      |         AND a.event_type < b.event_type
      |       GROUP BY 1, 2)
      |SELECT ta, tb, CAST(c_ab AS BIGINT) AS c_ab,
      |       CAST(ca.c AS BIGINT) AS c_a, CAST(cb.c AS BIGINT) AS c_b,
      |       round(c_ab * 1.0 * ns.n / (ca.c * cb.c), 4) AS lift,
      |       round(ln(c_ab * 1.0 * ns.n / (ca.c * cb.c)), 4) AS pmi
      |FROM pc JOIN tc ca ON ca.event_type = pc.ta
      |JOIN tc cb ON cb.event_type = pc.tb
      |CROSS JOIN ns
      |ORDER BY ta, tb""".stripMargin) { (s, d) =>
    val st = Tables.events(s, d)
      .select(col("user_id"), expr("t_us div 86400000000").as("day"),
        col("event_type"))
      .distinct()
    val tc = st.groupBy("event_type").agg(count(lit(1)).as("c"))
    val ns = st.select("user_id", "day").distinct()
      .agg(count(lit(1)).cast("long").as("n"))
    val a = st.toDF("user_id", "day", "ta")
    val b = st.toDF("user_id", "day", "tb")
    val pc = a.join(b, Seq("user_id", "day")).filter(col("ta") < col("tb"))
      .groupBy("ta", "tb").agg(count(lit(1)).as("c_ab"))
    val lift = col("c_ab") * lit(1.0) * col("n") / (col("c_a") * col("c_b"))
    pc.join(tc.toDF("ta", "c_a"), "ta")
      .join(tc.toDF("tb", "c_b"), "tb")
      .crossJoin(broadcast(ns))
      .select(col("ta"), col("tb"), col("c_ab").cast("long").as("c_ab"),
        col("c_a").cast("long").as("c_a"), col("c_b").cast("long").as("c_b"),
        round(lift, 4).as("lift"), round(log(lift), 4).as("pmi"))
      .orderBy("ta", "tb")
  }

  /** SKETCH-INTERSECTION certificate — AUDIENCE OVERLAP from HLL sketches
    * by inclusion–exclusion: |A∩B| ≈ est(A) + est(B) − est(A∪B), the
    * standard way two teams' pre-built distinct sketches answer an
    * overlap question with NO rescan of either fact table (HLL cannot
    * intersect natively — union is register-max, intersection only
    * exists through inclusion–exclusion, and its absolute error scales
    * with the UNION size, not the intersection). The certificate states
    * exactly that contract: the estimate must land within 5% OF THE
    * UNION — and the report carries the exact counts so a reader can see
    * when a small true overlap makes the relative error useless (the
    * honest limitation of the trick; theta sketches fix it, HLL does
    * not). A = click users, B = purchase users.
    *
    * Oracle emits the exact counts + TRUE for the certificate (the
    * `olap_hll_merge` discipline): Spark must EARN the TRUE from its own
    * sketches or the row hash fails. */
  val hllIntersect = sql(
    "olap_hll_intersect",
    """SELECT CAST(count(DISTINCT CASE WHEN event_type = 'click' THEN user_id END) AS BIGINT) AS exact_a,
      |       CAST(count(DISTINCT CASE WHEN event_type = 'purchase' THEN user_id END) AS BIGINT) AS exact_b,
      |       CAST(count(DISTINCT CASE WHEN event_type IN ('click', 'purchase') THEN user_id END) AS BIGINT) AS exact_union,
      |       CAST((SELECT count(*) FROM
      |              (SELECT user_id FROM events WHERE event_type = 'click'
      |               INTERSECT
      |               SELECT user_id FROM events WHERE event_type = 'purchase')) AS BIGINT) AS exact_both,
      |       TRUE AS within_5pct_of_union
      |FROM events""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d)
    val a = ev.filter(col("event_type") === "click").select("user_id")
    val b = ev.filter(col("event_type") === "purchase").select("user_id")
    val sk = ev.filter(col("event_type").isin("click", "purchase"))
      .agg(
        expr("hll_sketch_estimate(hll_sketch_agg(CASE WHEN event_type = 'click' THEN user_id END))").as("est_a"),
        expr("hll_sketch_estimate(hll_sketch_agg(CASE WHEN event_type = 'purchase' THEN user_id END))").as("est_b"),
        expr("hll_sketch_estimate(hll_sketch_agg(user_id))").as("est_u"),
        countDistinct(when(col("event_type") === "click", col("user_id"))).as("exact_a"),
        countDistinct(when(col("event_type") === "purchase", col("user_id"))).as("exact_b"),
        countDistinct("user_id").as("exact_union"))
    val both = a.intersect(b).agg(count(lit(1)).cast("long").as("exact_both"))
    sk.crossJoin(broadcast(both))
      .select(col("exact_a"), col("exact_b"), col("exact_union"), col("exact_both"),
        (abs(col("est_a") + col("est_b") - col("est_u") - col("exact_both"))
          <= col("exact_union") * 0.05).as("within_5pct_of_union"))
  }

  /** SNAPSHOT DIFF — the data-reconciliation report a warehouse runs when
    * two loads of a keyed table must be compared (yesterday's dimension vs
    * today's, replica vs primary, vendor feed v1 vs v2): per entity the
    * OLD state (last event_type in the first 15-day window) against the
    * NEW state (last in the second), rolled up into the
    * (old_state, new_state) transition matrix with an added / removed /
    * changed / unchanged verdict. Missing sides render as the literal
    * '(absent)' rather than NULL — cross-engine NULL ordering/grouping is
    * an avoidable hazard, and the label reads better in the report.
    *
    * Scale shape: two per-user ranked windows (keyed, bounded by a user's
    * events), ONE full outer equi-join on the entity key, then a tiny
    * partial-aggregable rollup — the diff never materializes row pairs
    * beyond the keyed join. Last-state pick breaks ties on event_id so
    * both engines choose identically. */
  val snapshotDiff = sql(
    "olap_snapshot_diff",
    """WITH mn AS (SELECT min(epoch_us(ts) // 86400000000) AS d0 FROM events),
      |e AS (SELECT user_id, event_type, event_id, epoch_us(ts) AS t_us,
      |             epoch_us(ts) // 86400000000 AS day
      |      FROM events),
      |olda AS (SELECT user_id, event_type AS st FROM (
      |           SELECT e.user_id, e.event_type,
      |                  row_number() OVER (PARTITION BY e.user_id
      |                                     ORDER BY e.t_us DESC, e.event_id DESC) AS rn
      |           FROM e, mn WHERE e.day < mn.d0 + 15)
      |         WHERE rn = 1),
      |newb AS (SELECT user_id, event_type AS st FROM (
      |           SELECT e.user_id, e.event_type,
      |                  row_number() OVER (PARTITION BY e.user_id
      |                                     ORDER BY e.t_us DESC, e.event_id DESC) AS rn
      |           FROM e, mn WHERE e.day >= mn.d0 + 15)
      |         WHERE rn = 1),
      |j AS (SELECT coalesce(o.st, '(absent)') AS old_state,
      |             coalesce(n.st, '(absent)') AS new_state
      |      FROM olda o FULL JOIN newb n ON n.user_id = o.user_id)
      |SELECT old_state, new_state,
      |       CASE WHEN old_state = '(absent)' THEN 'added'
      |            WHEN new_state = '(absent)' THEN 'removed'
      |            WHEN old_state = new_state THEN 'unchanged'
      |            ELSE 'changed' END AS verdict,
      |       CAST(count(*) AS BIGINT) AS n_users
      |FROM j GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("event_type"), col("event_id"),
        col("t_us"), expr("t_us div 86400000000").as("day")) // exact int div
    val d0 = ev.agg(min("day").as("d0"))
    // last-event-per-user as an ARG-MAX aggregate (round 12): the rank
    // window would sort each user's FULL event history per side; min
    // over the ascending (−t_us, −event_id) struct picks the identical
    // row (both longs positive — exact negation) with O(1) state per
    // user and a partial-aggregable shuffle.
    def lastState(half: org.apache.spark.sql.DataFrame, as: String) =
      half.groupBy("user_id")
        .agg(min(struct((-col("t_us")).as("nt"), (-col("event_id")).as("ne"),
          col("event_type").as("et"))).as("m"))
        .select(col("user_id"), col("m.et").as(as))
    val withD0 = ev.crossJoin(broadcast(d0))
    val olda = lastState(withD0.filter(col("day") < col("d0") + 15), "ost")
    val newb = lastState(withD0.filter(col("day") >= col("d0") + 15), "nst")
    olda.join(newb, Seq("user_id"), "full_outer")
      .select(coalesce(col("ost"), lit("(absent)")).as("old_state"),
        coalesce(col("nst"), lit("(absent)")).as("new_state"))
      .groupBy("old_state", "new_state")
      .agg(count(lit(1)).as("n_users"))
      .select(col("old_state"), col("new_state"),
        when(col("old_state") === "(absent)", "added")
          .when(col("new_state") === "(absent)", "removed")
          .when(col("old_state") === col("new_state"), "unchanged")
          .otherwise("changed").as("verdict"),
        col("n_users"))
      .orderBy("old_state", "new_state")
  }

  /** INCREMENTAL AGGREGATE MAINTENANCE — the materialized-view merge every
    * warehouse refresh runs: the per-type metrics view is NOT recomputed
    * from scratch — a BASE aggregate (the first 25 days, standing in for
    * yesterday's materialization) merges with the DELTA aggregate (the new
    * days) by one full outer equi-join and coalesced sums. The ORACLE is
    * deliberately the DIRECT full recompute over all events: the hash
    * match IS the certificate that the merge path produces bit-identical
    * results to rescanning history — count and sum are the mergeable
    * aggregates, exact integer cents make the merge associativity exact
    * (float sums would differ by reduction order).
    *
    * Scale shape: the delta side scans only new data (the entire point —
    * at 100 TB the base is a stored kilobyte-scale view, never rescanned);
    * both aggregates partial-aggregate; the merge join is view-sized. */
  val incrementalAgg = sql(
    "olap_incremental_agg",
    """WITH e AS (SELECT event_type,
      |                 CAST(round(value * 100, 0) AS BIGINT) AS cents
      |          FROM events)
      |SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
      |       CAST(sum(cents) AS BIGINT) AS cents
      |FROM e GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d)
      .select(col("event_type"), expr("t_us div 86400000000").as("day"),
        round(col("value") * 100, 0).cast("long").as("cents"))
    val d0 = ev.agg(min("day").as("d0"))
    val withD0 = ev.crossJoin(broadcast(d0))
    def agg(half: org.apache.spark.sql.DataFrame, p: String) =
      half.groupBy("event_type")
        .agg(count(lit(1)).as(s"${p}_n"), sum("cents").as(s"${p}_c"))
    val base = agg(withD0.filter(col("day") < col("d0") + 25), "b")
    val delta = agg(withD0.filter(col("day") >= col("d0") + 25), "n")
    base.join(delta, Seq("event_type"), "full_outer")
      .select(col("event_type"),
        (coalesce(col("b_n"), lit(0L)) + coalesce(col("n_n"), lit(0L)))
          .as("n_events"),
        (coalesce(col("b_c"), lit(0L)) + coalesce(col("n_c"), lit(0L)))
          .as("cents"))
      .orderBy("event_type")
  }

  /** CUPED variance reduction — the experimentation-platform standard
    * (Deng et al. 2013): each user's POST-period revenue is adjusted by
    * their PRE-period revenue (y' = y − θ·(x − x̄), θ = cov(x,y)/var(x)),
    * which removes the between-user variance the pre-period predicts and
    * typically cuts experiment runtime ~var_reduction-fold. Variant
    * assignment is the same deterministic hash gate as `events_ab_test`;
    * the readout is per-arm raw vs adjusted means plus θ and the ρ²
    * variance-reduction factor.
    *
    * Determinism: all SUMS (Σx, Σy, Σxy, Σx², Σy², per-arm twins) are
    * exact integer cents in HUGEINT/DECIMAL(38); every derived statistic
    * is the IDENTICAL arithmetic expression over those exact scalars on
    * both engines (single-rounded at 4 dp), so no accumulation-order
    * epsilon exists anywhere. Two partial-aggregable passes (per-user
    * roll-up, then global + per-arm conditional aggregates), scalars
    * broadcast — no window, no join beyond the 1-row cross. */
  val eventsCuped = sql(
    "events_cuped",
    s"""WITH e AS (SELECT user_id,
       |                 epoch_us(ts) // 86400000000 AS day,
       |                 CAST(round(value * 100, 0) AS BIGINT) AS cents
       |          FROM events),
       |mn AS (SELECT min(day) AS d0 FROM e),
       |pp AS (SELECT user_id,
       |              sum(CASE WHEN day < d0 + 15 THEN cents ELSE 0 END) AS pre,
       |              sum(CASE WHEN day >= d0 + 15 THEN cents ELSE 0 END) AS post
       |       FROM e CROSS JOIN mn GROUP BY user_id),
       |g AS (SELECT count(*) AS n,
       |             sum(CAST(pre AS HUGEINT)) AS sx,
       |             sum(CAST(post AS HUGEINT)) AS sy,
       |             sum(CAST(pre AS HUGEINT) * pre) AS sxx,
       |             sum(CAST(pre AS HUGEINT) * post) AS sxy,
       |             sum(CAST(post AS HUGEINT) * post) AS syy
       |      FROM pp),
       |a AS (SELECT CASE WHEN ${Keys.hexBucketSql("user_id")} < 32768
       |                  THEN 'A' ELSE 'B' END AS variant,
       |             count(*) AS nv,
       |             sum(CAST(pre AS HUGEINT)) AS sxv,
       |             sum(CAST(post AS HUGEINT)) AS syv
       |      FROM pp GROUP BY 1),
       |d2 AS (SELECT variant, nv,
       |              CAST(sx AS DOUBLE) AS dx, CAST(sy AS DOUBLE) AS dy,
       |              CAST(sxx AS DOUBLE) AS dxx, CAST(sxy AS DOUBLE) AS dxy,
       |              CAST(syy AS DOUBLE) AS dyy, CAST(n AS DOUBLE) AS dn,
       |              CAST(sxv AS DOUBLE) AS dxv, CAST(syv AS DOUBLE) AS dyv,
       |              CAST(nv AS DOUBLE) AS dnv
       |       FROM a CROSS JOIN g)
       |SELECT variant, CAST(nv AS BIGINT) AS n_users,
       |       round(1.0 * dxv / dnv, 4) AS mean_pre,
       |       round(1.0 * dyv / dnv, 4) AS mean_post,
       |       round(1.0 * dyv / dnv
       |             - ((1.0 * dn * dxy - 1.0 * dx * dy)
       |                / (1.0 * dn * dxx - 1.0 * dx * dx))
       |               * (1.0 * dxv / dnv - 1.0 * dx / dn), 4) AS mean_adjusted,
       |       round((1.0 * dn * dxy - 1.0 * dx * dy)
       |             / (1.0 * dn * dxx - 1.0 * dx * dx), 4) AS theta,
       |       round(((1.0 * dn * dxy - 1.0 * dx * dy) * (1.0 * dn * dxy - 1.0 * dx * dy))
       |             / ((1.0 * dn * dxx - 1.0 * dx * dx) * (1.0 * dn * dyy - 1.0 * dy * dy)), 4)
       |         AS var_reduction
       |FROM d2 ORDER BY variant""".stripMargin) { (s, d) =>
    val dec = "decimal(38,0)"
    val ev = Tables.events(s, d)
      .select(col("user_id"), expr("t_us div 86400000000").as("day"),
        round(col("value") * 100, 0).cast("long").as("cents"))
    val d0 = ev.agg(min("day").as("d0"))
    val pp = ev.crossJoin(broadcast(d0))
      .groupBy("user_id")
      .agg(sum(when(col("day") < col("d0") + 15, col("cents")).otherwise(0L)).as("pre"),
        sum(when(col("day") >= col("d0") + 15, col("cents")).otherwise(0L)).as("post"))
    val g = pp.agg(count(lit(1)).as("n"),
      sum(col("pre").cast(dec)).as("sx"),
      sum(col("post").cast(dec)).as("sy"),
      sum(col("pre").cast(dec) * col("pre")).as("sxx"),
      sum(col("pre").cast(dec) * col("post")).as("sxy"),
      sum(col("post").cast(dec) * col("post")).as("syy"))
    val a = pp
      .select(when(Keys.hexBucketCol(col("user_id")) < 32768, "A").otherwise("B")
        .as("variant"), col("pre"), col("post"))
      .groupBy("variant")
      .agg(count(lit(1)).as("nv"),
        sum(col("pre").cast(dec)).as("sxv"),
        sum(col("post").cast(dec)).as("syv"))
    // the decimal scalars must enter the formulas as DOUBLES (Spark decimal
    // arithmetic would keep decimals; DuckDB's 1.0* promotes) — same IEEE
    // op sequence both engines
    val dbl = a.crossJoin(broadcast(g)).selectExpr(
      "variant", "nv",
      "CAST(sx AS DOUBLE) AS dx", "CAST(sy AS DOUBLE) AS dy",
      "CAST(sxx AS DOUBLE) AS dxx", "CAST(sxy AS DOUBLE) AS dxy",
      "CAST(syy AS DOUBLE) AS dyy", "CAST(n AS DOUBLE) AS dn",
      "CAST(sxv AS DOUBLE) AS dxv", "CAST(syv AS DOUBLE) AS dyv",
      "CAST(nv AS DOUBLE) AS dnv")
    dbl.select(col("variant"), col("nv").as("n_users"),
        expr("round(1.0 * dxv / dnv, 4)").as("mean_pre"),
        expr("round(1.0 * dyv / dnv, 4)").as("mean_post"),
        expr("""round(1.0 * dyv / dnv
               |      - ((1.0 * dn * dxy - 1.0 * dx * dy)
               |         / (1.0 * dn * dxx - 1.0 * dx * dx))
               |        * (1.0 * dxv / dnv - 1.0 * dx / dn), 4)""".stripMargin)
          .as("mean_adjusted"),
        expr("""round((1.0 * dn * dxy - 1.0 * dx * dy)
               |      / (1.0 * dn * dxx - 1.0 * dx * dx), 4)""".stripMargin)
          .as("theta"),
        expr("""round(((1.0 * dn * dxy - 1.0 * dx * dy) * (1.0 * dn * dxy - 1.0 * dx * dy))
               |      / ((1.0 * dn * dxx - 1.0 * dx * dx) * (1.0 * dn * dyy - 1.0 * dy * dy)), 4)"""
          .stripMargin).as("var_reduction"))
      .orderBy("variant")
  }

  /** RETENTION HALF-LIFE — the one-number decay summary a growth team
    * quotes from the retention triangle: fit ln r(o) = a + b·o over the
    * corpus-wide return-rate curve (share of users active o days after
    * their first day) and report the decay rate b, the half-life
    * −ln2/b, and the fit's r². The regression uses the `ml_linreg`
    * exactness discipline EXTENDED to a float input: each point's
    * ln-rate is 4-dp-rounded and lifted to a ×10⁴ BIGINT, so all five
    * regression sums are EXACT integers and the slope is one double
    * expression over exact scalars — no accumulation-order epsilon,
    * although ln() feeds the points (the repo-wide ln policy).
    *
    * Scale shape: first-day frame and distinct (user, offset) activity
    * partial-aggregate; the curve is calendar-bounded (≤ horizon rows);
    * the regression is one aggregate over that bounded frame. */
  val eventsRetentionHalflife = sql(
    "events_retention_halflife",
    """WITH e AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
      |f AS (SELECT user_id, min(day) AS f0 FROM e GROUP BY user_id),
      |n0 AS (SELECT count(*) AS n0 FROM f),
      |act AS (SELECT DISTINCT e.user_id, e.day - f.f0 AS o
      |        FROM e JOIN f USING (user_id) WHERE e.day > f.f0),
      |rc AS (SELECT o, count(*) AS cnt FROM act GROUP BY o),
      |pts AS (SELECT CAST(o AS BIGINT) AS x,
      |               CAST(round(ln(cnt * 1.0 / n0.n0) * 10000, 0) AS BIGINT) AS y
      |        FROM rc CROSS JOIN n0),
      |g AS (SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
      |             sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
      |      FROM pts)
      |SELECT CAST(n AS BIGINT) AS n_offsets,
      |       round(((1.0 * n * sxy - 1.0 * sx * sy)
      |              / (1.0 * n * sxx - 1.0 * sx * sx)) / 10000.0, 4) AS decay_rate,
      |       round(-ln(2) * 10000.0
      |             / ((1.0 * n * sxy - 1.0 * sx * sy)
      |                / (1.0 * n * sxx - 1.0 * sx * sx)), 4) AS half_life_days,
      |       round(((1.0 * n * sxy - 1.0 * sx * sy) * (1.0 * n * sxy - 1.0 * sx * sy))
      |             / ((1.0 * n * sxx - 1.0 * sx * sx) * (1.0 * n * syy - 1.0 * sy * sy)), 4)
      |         AS r2
      |FROM g""".stripMargin) { (s, d) =>
    val e = Tables.events(s, d)
      .select(col("user_id"), expr("t_us div 86400000000").as("day"))
    val f = e.groupBy("user_id").agg(min("day").as("f0"))
    val n0 = f.agg(count(lit(1)).as("n0"))
    val act = e.join(f, "user_id").filter(col("day") > col("f0"))
      .select(col("user_id"), (col("day") - col("f0")).as("o")).distinct()
    val rc = act.groupBy("o").agg(count(lit(1)).as("cnt"))
    val pts = rc.crossJoin(broadcast(n0))
      .select(col("o").cast("long").as("x"),
        round(log(col("cnt") * lit(1.0) / col("n0")) * 10000, 0)
          .cast("long").as("y"))
    pts.agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      // 1.0D: Spark's bare 1.0 literal is DECIMAL(2,1) and would keep the
      // whole chain decimal; DuckDB's 1.0 promotes through division to
      // DOUBLE — the D suffix makes both sides the same double arithmetic
      .selectExpr("CAST(n AS BIGINT) AS n_offsets",
        """round(((1.0D * n * sxy - 1.0D * sx * sy)
          |       / (1.0D * n * sxx - 1.0D * sx * sx)) / 10000.0D, 4) AS decay_rate"""
          .stripMargin,
        """round(-ln(2) * 10000.0D
          |      / ((1.0D * n * sxy - 1.0D * sx * sy)
          |         / (1.0D * n * sxx - 1.0D * sx * sx)), 4) AS half_life_days"""
          .stripMargin,
        """round(((1.0D * n * sxy - 1.0D * sx * sy) * (1.0D * n * sxy - 1.0D * sx * sy))
          |      / ((1.0D * n * sxx - 1.0D * sx * sx) * (1.0D * n * syy - 1.0D * sy * sy)), 4)
          |  AS r2""".stripMargin)
  }

  val defs: Seq[QueryDef] = Seq(
    snapshotDiff, incrementalAgg, eventsCuped, eventsRetentionHalflife,
    skewProfile, joinExplosion, bucketJoin, eventsCopmi, hllIntersect,
    mergeUpsert, hllMerge, eventsRfm, eventsGrowthAccounting, eventsCohortLtv,
    eventsSeasonalBacktest, eventsAbTest, eventsSurvivalKm,
    rollupAgg, cubeAgg, pivotAgg, intersectOp, exceptOp, distinctCounts, asofJoin,
    groupingSets, windowFamily, percentiles, dateOps, sessionize,
    rollingWindow, rangeJoin, resample, approxDistinct,
    eventsFunnel, eventsRetention, eventsAnomaly, eventsDauWau, approxTopk,
    eventsMarkov, approxPctlCert, eventsPathTopk, eventsTimeWeighted,
    windowFamily2, mlLinreg, eventsEwma, layoutZorder, eventsFunnelWindowed,
    eventsConversionTime, scd2, gapFill, eventsAttribution)
}
