package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.HDFSMetadataLog
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite
import graft.core.Tables
import graft.ml.QuarterPrediction
import graft.streaming.Jobs

class StreamingSpec extends AnyFunSuite with TempDirs {
  lazy val spark: SparkSession = Tables.localSession("streaming-spec", cores = 8)
  val sf = "/root/testdata/sf0.001"

  test("quarter prediction: identical plan runs batch AND streaming (the Spark-first bridge)") {
    import spark.implicits._
    val model = QuarterPrediction.train(QuarterPrediction.trainingFrame(spark, sf))
    // two reference-shaped CSV lines (FIXTURES.md A1 sample)
    val lines = Seq(
      "2,11,7,2,6,2,2,4,2,2,0,2,3,7,1",
      "0,8,9,0,1,2,3,0,0,0,2,3,2,13,1")

    // batch
    val batchOut = Jobs.quarterPrediction(model)(lines.toDF("value")).collect()
    assert(batchOut.length == 2)
    batchOut.foreach(r => assert(r.getAs[String]("value").matches("""\d+,\d+(\.\d+)?""")))

    // streaming via MemoryStream — same transform function
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[String]
    mem.addData(lines: _*)
    val streamOut = Jobs.runToMemory(spark,
      Jobs.quarterPrediction(model)(mem.toDF().toDF("value")), "qp_stream")
    assert(streamOut.count() == 2)
    // identical results in both execution modes
    assert(streamOut.select("value").collect().map(_.getString(0)).sorted.toSeq ==
      batchOut.map(_.getAs[String]("value")).sorted.toSeq)
  }

  test("player identification stream emits K2-format messages") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val stats = Seq(("team_a", 6, 10.0, 5.0, 2.0), ("team_b", 6, 8.0, 4.0, 1.0))
      .toDF("team", "num", "score", "reb", "ast")
    val mem = MemoryStream[Array[Byte]]
    mem.addData((1 to 8).map(i => s"synthetic image payload $i".getBytes): _*)
    val out = Jobs.runToMemory(spark,
      Jobs.playerIdentification(stats)(mem.toDF().toDF("value")), "pi_stream")
    val msgs = out.collect().map(_.getString(0))
    assert(msgs.nonEmpty)
    msgs.foreach(m => assert(m.split(",").length == 5 || m.contains("player not found")))
  }

  test("windowed aggregation with watermark over the events table") {
    val events = Tables.events(spark, sf)
    // batch execution of the same windowed plan (streaming parity by construction)
    val out = Jobs.windowedEventCounts(events)
    assert(out.count() > 0)
    assert(out.columns.toSeq == Seq("win_start", "event_type", "n", "total"))

    // and genuinely streaming, file-source driven (the source needs a
    // directory; t_us/ts_micros re-derived by the SAME canonicalization the
    // batch loader uses, whichever ts layout the file has)
    import java.nio.file.{Files, Path}
    val dir = tempDir("evstream")
    Files.copy(Path.of(s"$sf/events.parquet"), dir.resolve("events.parquet"))
    val streamed = spark.readStream
      .schema(events.drop("ts_micros", "t_us").schema)
      .parquet(dir.toString)
      .transform(Tables.canonicalEventTime)
      .transform(Jobs.windowedEventCounts)
    val got = Jobs.runToMemory(spark, streamed, "win_stream", OutputMode.Complete)
    assert(got.count() == out.count())
  }

  test("streaming trending top-k: sketch ranks inside windows, batch ≡ stream") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val t0 = 1700000000000000L // μs
    val min = 60L * 1000000
    // window 1: a=3, b=2, c=1 → top-2 is a, b; window 2 (15 min later): b=2, c=1
    val data = Seq(
      (t0, "a"), (t0 + 1, "a"), (t0 + 2, "a"), (t0 + 3, "b"), (t0 + 4, "b"),
      (t0 + 5, "c"),
      (t0 + 15 * min, "b"), (t0 + 15 * min + 1, "b"), (t0 + 15 * min + 2, "c"))
    def shape(df: org.apache.spark.sql.DataFrame) =
      df.toDF("us", "event_type")
        .withColumn("ts_micros", timestamp_micros($"us"))
    val batch = Jobs.trendingTopK(shape(data.toDF()), k = 2).collect()
    val mem = MemoryStream[(Long, String)]
    mem.addData(data: _*)
    val streamed = Jobs.runToMemory(spark,
      Jobs.trendingTopK(shape(mem.toDF()), k = 2), "topk_stream",
      OutputMode.Complete)
    // identical rows in both execution modes (the sketch merges in the
    // state store exactly as it partial-aggregates in batch)
    assert(streamed.collect().map(_.toString).sorted.toSeq ==
      batch.map(_.toString).sorted.toSeq)
    // semantic check, window 1: rank 1 = a(3), rank 2 = b(2), no rank 3
    val w1Start = (t0 / 1000) / 300000 * 300000 // 5-min tumbling alignment, ms
    val w1 = batch.filter(_.getAs[java.sql.Timestamp]("win_start").getTime ==
      w1Start).sortBy(_.getAs[Int]("rank"))
    assert(w1.map(r => (r.getAs[Int]("rank"), r.getAs[String]("event_type"),
      r.getAs[Long]("n"))).toSeq == Seq((1, "a", 3L), (2, "b", 2L)))
  }

  test("stream-stream interval join with watermarks on both sides") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val t0 = 1700000000000000L // μs
    val min = 60L * 1000000
    val clicks = MemoryStream[(Long, Long, Double)]
    val purchases = MemoryStream[(Long, Long, Double)]
    clicks.addData((1L, t0, 0.0), (2L, t0, 0.0))
    purchases.addData(
      (1L, t0 + 2 * min, 9.99),   // within 5 min of user 1's click → joins
      (1L, t0 + 30 * min, 5.00),  // outside the interval → dropped
      (3L, t0 + 1 * min, 7.00))   // no matching click → dropped
    def shape(m: MemoryStream[(Long, Long, Double)]) =
      m.toDF().toDF("user_id", "us", "value")
        .withColumn("ts_micros", timestamp_micros($"us"))
    val out = Jobs.runToMemory(spark,
      Jobs.clickToPurchaseJoin(shape(clicks), shape(purchases)), "ss_join")
    val rows = out.collect()
    assert(rows.length == 1)
    assert(rows.head.getAs[Long]("user_id") == 1L)
    assert(rows.head.getAs[Double]("amount") == 9.99)
  }

  test("checkpoint recovery: a restarted query resumes offsets AND dedup state, exactly-once") {
    // the operational contract local tests usually skip: stop the query,
    // start a NEW one from the same checkpoint, and prove (a) batch-1 input
    // is not reprocessed into duplicates (source offsets recovered), and
    // (b) a payload first seen before the restart still dedups after it
    // (operator state recovered) — the exactly-once story a 100 TB
    // streaming job stands on
    import java.nio.file.Files
    val in = tempDir("ckpt_in")
    val out = tempDir("ckpt_out")
    val ckpt = tempDir("ckpt_meta")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    def runOnce(): Unit = {
      val q = Jobs.streamingDedupUnbounded(
        spark.readStream.schema(schema).json(in.toString), "text")
        .writeStream.format("parquet")
        .option("path", out.toString)
        .option("checkpointLocation", ckpt.toString)
        .outputMode("append").start()
      q.processAllAvailable(); q.stop()
    }
    Files.writeString(in.resolve("b1.json"),
      """{"id":1,"text":"alpha"}""" + "\n" + """{"id":2,"text":"beta"}""" + "\n")
    runOnce()
    // "alpha" repeats ACROSS the restart; "gamma" is new
    Files.writeString(in.resolve("b2.json"),
      """{"id":3,"text":"alpha"}""" + "\n" + """{"id":4,"text":"gamma"}""" + "\n")
    runOnce()
    val texts = spark.read.schema(schema.add("h",
      org.apache.spark.sql.types.StringType)).parquet(out.toString)
      .select("text").collect().map(_.getString(0)).sorted.toSeq
    assert(texts == Seq("alpha", "beta", "gamma"),
      s"restart must neither replay batch 1 nor forget its dedup state: $texts")
  }

  test("funnelSteps checkpoint recovery: a restarted query keeps funnel positions") {
    // the funnel state machine's operational contract: stop after the
    // signup batch, restart from the checkpoint, feed the view — the user
    // must advance from RECOVERED step-1 state (not re-emit step 1, not
    // reset to step 0), and the pre-restart hit must not be replayed
    import java.nio.file.Files
    val in = tempDir("fun_in")
    val out = tempDir("fun_out")
    val ckpt = tempDir("fun_ckpt")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("userId",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("tsMicros",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("eventType",
        org.apache.spark.sql.types.StringType)))
    import spark.implicits._
    def runOnce(): Unit = {
      val q = Jobs.funnelSteps(
        spark.readStream.schema(schema).json(in.toString).as[Jobs.FunnelEvent])
        .writeStream.format("parquet")
        .option("path", out.toString)
        .option("checkpointLocation", ckpt.toString)
        .outputMode("append").start()
      q.processAllAvailable(); q.stop()
    }
    val t0 = 1700000000000000L
    val hour = 3600L * 1000000
    Files.writeString(in.resolve("b1.json"),
      s"""{"userId":7,"tsMicros":$t0,"eventType":"signup"}""" + "\n")
    runOnce()
    Files.writeString(in.resolve("b2.json"),
      s"""{"userId":7,"tsMicros":${t0 + hour},"eventType":"view"}""" + "\n" +
      s"""{"userId":7,"tsMicros":${t0 + 2 * hour},"eventType":"click"}""" + "\n")
    runOnce()
    val hits = spark.read.schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("userId",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("step",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("tsMicros",
          org.apache.spark.sql.types.LongType))))
      .parquet(out.toString).collect()
      .map(r => (r.getInt(1), r.getLong(2))).sortBy(_._1).toSeq
    assert(hits == Seq((1, t0), (2, t0 + hour), (3, t0 + 2 * hour)),
      s"restart must resume from recovered step-1 state, exactly-once: $hits")
  }

  test("streaming dedup drops repeated payloads across micro-batches") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val dedup = Jobs.streamingDedupUnbounded(mem.toDF().toDF("id", "text"), "text")
    val q = dedup.writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    mem.addData((1L, "alpha"), (2L, "beta"), (3L, "alpha")) // dup within batch
    q.processAllAvailable()
    mem.addData((4L, "beta"), (5L, "gamma")) // dup across batches (state!)
    q.processAllAvailable()
    q.stop()
    val texts = spark.table("dedup_stream").select("text")
      .collect().map(_.getString(0)).sorted
    assert(texts.toSeq == Seq("alpha", "beta", "gamma"))
  }

  test("watermark-bounded dedup evicts state: duplicate beyond horizon re-emits") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val t0 = 1700000000000000L // μs
    val min = 60L * 1000000
    val mem = MemoryStream[(String, Long)]
    val dedup = Jobs.streamingDedup(
      mem.toDF().toDF("text", "us").withColumn("ts", timestamp_micros($"us")),
      "text", "ts", "10 minutes")
    val q = dedup.writeStream.format("memory").queryName("dedup_wm")
      .outputMode("append").start()
    mem.addData(("alpha", t0), ("alpha", t0 + min)) // in-horizon dup → dropped
    q.processAllAvailable()
    mem.addData(("bump", t0 + 60 * min)) // advances watermark to t0+50min → alpha evicted
    q.processAllAvailable()
    mem.addData(("alpha", t0 + 70 * min)) // same content, original aged out → re-emitted
    q.processAllAvailable()
    q.stop()
    val texts = spark.table("dedup_wm").select("text")
      .collect().map(_.getString(0)).sorted
    // two alphas: the watermark BOUNDS state (production semantics at 100 TB),
    // so dedup is exact only within the horizon
    assert(texts.toSeq == Seq("alpha", "alpha", "bump"))
  }

  test("funnelSteps: streaming conversion feed reproduces the batch windowed funnel") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // batch truth at the real corpus: counts of users reaching each step
    val batch = SparkEntry.queries("events_funnel_windowed")(spark, sf)
      .collect().head
    val expected = Seq(batch.getAs[Long]("n_signup"), batch.getAs[Long]("n_view"),
      batch.getAs[Long]("n_click"), batch.getAs[Long]("n_purchase"))
    // streaming: the same events in event-time order through the state
    // machine (the batch query IS the exact event-time replay)
    val events = Tables.events(spark, sf)
      .select(col("user_id"), col("t_us"), col("event_type"))
      .collect()
      .map(r => Jobs.FunnelEvent(r.getLong(0), r.getLong(1), r.getString(2)))
      .sortBy(_.tsMicros)
    val mem = MemoryStream[Jobs.FunnelEvent]
    val q = Jobs.funnelSteps(mem.toDS()).writeStream.format("memory")
      .queryName("funnel_stream").outputMode("append").start()
    // two batches to exercise cross-batch state carry (split at the median)
    val (h1, h2) = events.splitAt(events.length / 2)
    mem.addData(h1.toIndexedSeq: _*); q.processAllAvailable()
    mem.addData(h2.toIndexedSeq: _*); q.processAllAvailable()
    q.stop()
    val hits = spark.table("funnel_stream").as[Jobs.FunnelHit].collect()
    val got = (1 to 4).map(k => hits.count(_.step == k).toLong)
    assert(got == expected, s"streaming step counts $got != batch $expected")
    // each user advances through contiguous steps at increasing timestamps
    hits.groupBy(_.userId).foreach { case (u, hs) =>
      val steps = hs.sortBy(_.step)
      assert(steps.map(_.step).toSeq == (1 to steps.length), s"user $u gaps")
      assert(steps.map(_.tsMicros).toSeq == steps.map(_.tsMicros).sorted.toSeq,
        s"user $u steps not time-ordered")
    }
  }

  test("growthStream: live lifecycle feed reproduces the batch growth accounting") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val batch = SparkEntry.queries("events_growth_accounting")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    val events = Tables.events(spark, sf)
      .select(col("user_id"), col("t_us"), col("value"))
      .collect()
      .map(r => Jobs.Event(r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_.tsMicros)
    val mem = MemoryStream[Jobs.Event]
    val q = Jobs.growthStream(mem.toDS()).writeStream.format("memory")
      .queryName("growth_stream").outputMode("append").start()
    val (h1, h2) = events.splitAt(events.length / 2)
    mem.addData(h1.toIndexedSeq: _*); q.processAllAvailable()
    mem.addData(h2.toIndexedSeq: _*); q.processAllAvailable()
    q.stop()
    val got = spark.table("growth_stream").as[Jobs.GrowthHit].collect()
      .groupBy(h => (h.day, h.state)).view.mapValues(_.length.toLong).toMap
    assert(got == batch,
      s"streaming lifecycle counts diverged: extra=${(got.toSet -- batch.toSet).take(3)} " +
        s"missing=${(batch.toSet -- got.toSet).take(3)}")
  }

  test("scd2Stream: live closed intervals match the batch SCD-2 build row-for-row") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // batch truth: every CLOSED interval (valid_to != -1); the single open
    // interval per user is the stream's live state, never emitted early
    val batch = SparkEntry.queries("olap_scd2")(spark, sf)
      .filter(col("valid_to") =!= -1L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet
    val events = Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"), col("t_us"), col("event_type"))
      .collect()
      .map(r => Jobs.Scd2Event(r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3)))
      .sortBy(e => (e.tsMicros, e.eventId))
    val mem = MemoryStream[Jobs.Scd2Event]
    val q = Jobs.scd2Stream(mem.toDS()).writeStream.format("memory")
      .queryName("scd2_stream").outputMode("append").start()
    // two batches: closed-interval rows must survive the cross-batch state carry
    val (h1, h2) = events.splitAt(events.length / 2)
    mem.addData(h1.toIndexedSeq: _*); q.processAllAvailable()
    mem.addData(h2.toIndexedSeq: _*); q.processAllAvailable()
    q.stop()
    val got = spark.table("scd2_stream").as[Jobs.Scd2Row].collect()
      .map(r => (r.userId, r.version, r.state, r.validFrom, r.validTo, r.nObs))
      .toSet
    assert(got == batch,
      s"streaming SCD-2 diverged: ${got.diff(batch).take(3)} extra, " +
        s"${batch.diff(got).take(3)} missing")
  }

  test("funnelSteps stateTtl: expiry permits a second journey; in-window " +
    "journeys are unaffected; default TTL-off keeps one-journey-per-user") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val t0 = 1700000000000000L
    val min = 60L * 1000000
    val win = 30 * min // funnel window
    val ttl = 60 * min // state horizon (> window, per the operator doc)
    def run(name: String, ttlUs: Option[Long]): Map[Long, Seq[Int]] = {
      val mem = MemoryStream[Jobs.FunnelEvent]
      val q = Jobs.funnelSteps(mem.toDS(), windowUs = win,
        delay = "10 minutes", stateTtlUs = ttlUs)
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      // b1/b2: user 1 advances signup→view in-window
      mem.addData(Jobs.FunnelEvent(1L, t0, "signup")); q.processAllAvailable()
      mem.addData(Jobs.FunnelEvent(1L, t0 + 10 * min, "view")); q.processAllAvailable()
      // b3: user 2 starts much later — advances the watermark past user 1's
      // horizon (t0+10min+1h); b4 is the batch where the timeout FIRES
      mem.addData(Jobs.FunnelEvent(2L, t0 + 180 * min, "signup")); q.processAllAvailable()
      mem.addData(Jobs.FunnelEvent(2L, t0 + 181 * min, "view")); q.processAllAvailable()
      // b5: user 1 signs up AGAIN after expiry
      mem.addData(Jobs.FunnelEvent(1L, t0 + 240 * min, "signup")); q.processAllAvailable()
      q.stop()
      spark.table(name).as[Jobs.FunnelHit].collect().toSeq
        .groupBy(_.userId)
        .map { case (u, hs) => u -> hs.sortBy(_.tsMicros).map(_.step) }
    }
    val withTtl = run("funnel_ttl_on", Some(ttl))
    val noTtl = run("funnel_ttl_off", None)
    // in-window journeys identical under both modes (user 2, and user 1's
    // first journey) — the TTL only acts AFTER the horizon
    assert(withTtl(2L) == Seq(1, 2) && noTtl(2L) == Seq(1, 2))
    // the documented divergence: expiry lets user 1 START A SECOND JOURNEY
    assert(withTtl(1L) == Seq(1, 2, 1),
      s"TTL-on must re-admit an expired user: ${withTtl(1L)}")
    assert(noTtl(1L) == Seq(1, 2),
      s"TTL-off must keep one-journey-per-user: ${noTtl(1L)}")
  }

  test("sessionize: streaming operator agrees with the batch gaps-and-islands twin") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // batch truth: olap_sessionize's per-event session ids → per-session spans
    val batchSessions = SparkEntry.queries("olap_sessionize")(spark, sf)
      .groupBy(col("user_id"), col("session_id"))
      .agg(min("t_us").as("s"), max("t_us").as("e"), count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4).toInt))
      .toSet
    // streaming: same events through the stateful operator; two sentinel
    // batches from a synthetic user push the watermark past every real
    // user's last+gap so ALL sessions flush (gap-close or idle-timeout)
    val events = Tables.events(spark, sf)
      .select(col("user_id"), col("t_us"))
      .collect().map(r => Jobs.Event(r.getLong(0), r.getLong(1), 0.0))
    val maxTs = events.map(_.tsMicros).max
    val mem = MemoryStream[Jobs.Event]
    val q = Jobs.sessionize(mem.toDS()).writeStream.format("memory")
      .queryName("sess_parity").outputMode("append").start()
    mem.addData(events.toIndexedSeq: _*)
    q.processAllAvailable()
    mem.addData(Jobs.Event(-1L, maxTs + 100L * 60 * 1000000, 0.0))
    q.processAllAvailable()
    mem.addData(Jobs.Event(-1L, maxTs + 101L * 60 * 1000000, 0.0))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("sess_parity").as[Jobs.SessionOut].collect()
      .filter(_.userId >= 0)
      .map(s => (s.userId, s.start, s.end, s.n)).toSet
    assert(streamed == batchSessions,
      s"batch-only: ${(batchSessions -- streamed).take(3)}; stream-only: ${(streamed -- batchSessions).take(3)}")
  }

  test("sessionize: late-but-within-watermark event merges without corrupting session bounds") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val min = 60L * 1000000
    val gap = 30L * 60 * 1000000
    val t0 = 1700000000000000L
    val mem = MemoryStream[Jobs.Event]
    val q = Jobs.sessionize(mem.toDS()).writeStream.format("memory")
      .queryName("sess_late").outputMode("append").start()
    mem.addData(Jobs.Event(1, t0, 1.0), Jobs.Event(1, t0 + 20 * min, 2.0))
    q.processAllAvailable() // state.last = t0+20min; watermark = t0+10min
    // late event BEHIND the stored last but inside the watermark delay: it
    // must merge (n,total) without moving `last` backward
    mem.addData(Jobs.Event(1, t0 + 15 * min, 3.0))
    q.processAllAvailable()
    // 47min: gap from the TRUE last (20min) is 27min < 30min → same session;
    // a backward-moving `last` (15min) would wrongly measure 32min and close
    mem.addData(Jobs.Event(1, t0 + 47 * min, 4.0))
    q.processAllAvailable()
    // flush via watermark advance from another user
    mem.addData(Jobs.Event(9, t0 + gap * 10, 0.0))
    q.processAllAvailable()
    mem.addData(Jobs.Event(9, t0 + gap * 10 + min, 0.0))
    q.processAllAvailable()
    q.stop()
    val u1 = spark.table("sess_late").as[Jobs.SessionOut].collect().filter(_.userId == 1)
    assert(u1.length == 1, s"late event must not split the session: ${u1.toSeq}")
    assert(u1.head.n == 4 && u1.head.total == 10.0)
    assert(u1.head.start == t0 && u1.head.end == t0 + 47 * min)
  }

  test("streaming document ingest: quality gate before dedup, enrichment after") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val t0 = 1700000000000000L
    val mem = MemoryStream[(Long, String, Long)]
    val shaped = mem.toDF().toDF("id", "text", "us")
      .withColumn("ts", timestamp_micros($"us"))
    val q = Jobs.documentIngest(shaped).writeStream.format("memory")
      .queryName("ingest").outputMode("append").start()
    mem.addData(
      (1L, "a clean document with enough tokens here", t0),
      (2L, "too short", t0),                                  // gated: < 5 tokens
      (3L, "1234 5678 9012 3456 7890 1111", t0),              // gated: not alphabetic
      (4L, "a clean document with enough tokens here", t0))   // dup of 1 → dropped
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("ingest").collect()
    assert(rows.map(_.getAs[Long]("id")).toSeq == Seq(1L))
    assert(rows.head.getAs[Int]("n_tokens") == 7)
  }

  test("kafka production wiring: source/sink/job builders carry the full config") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val cfg = Jobs.KafkaConfig(
      bootstrapServers = "broker1:9092,broker2:9092",
      inputTopic = "ml_input", outputTopic = "ml_output",
      checkpointLocation = "/tmp/graft-ckpt")
    // no connector jar ships in this container: resolution of the "kafka"
    // format fails at load()/start(), and the error naming the format is
    // itself proof the production wiring reaches the Kafka data source
    val srcErr = intercept[Exception](Jobs.kafkaTextSource(spark, cfg))
    assert(srcErr.getMessage.toLowerCase.contains("kafka"))

    // sink side: builder must compile against a genuine streaming frame and
    // carry topic + servers + checkpoint; options are inspectable pre-start
    val mem = MemoryStream[String]
    val writer = Jobs.kafkaSink(mem.toDF().toDF("value"), cfg)
    val opts = {
      // DataStreamWriter keeps options private; walk the field hierarchy
      def fields(c: Class[_]): Seq[java.lang.reflect.Field] =
        if (c == null) Nil else c.getDeclaredFields.toSeq ++ fields(c.getSuperclass)
      fields(writer.getClass)
        .map { f => f.setAccessible(true); f.get(writer) }
        .collectFirst { case m: scala.collection.Map[_, _]
          if m.keys.exists(_.toString.equalsIgnoreCase("topic")) =>
          m.map { case (k, v) => k.toString.toLowerCase -> v.toString } }
        .getOrElse(Map.empty[String, String])
    }
    assert(opts.get("topic").contains("ml_output"))
    assert(opts.get("kafka.bootstrap.servers").contains("broker1:9092,broker2:9092"))
    assert(opts.get("checkpointlocation").contains("/tmp/graft-ckpt"))
    val startErr = intercept[Exception](writer.start())
    assert(startErr.getMessage.toLowerCase.contains("kafka"))
  }

  test("idempotent foreachBatch sink: batch replay never duplicates rows") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val dir = tempDir("idem-sink")
    val data = s"$dir/data"
    // streaming path: two batches land in their own partitions
    val mem = MemoryStream[(Long, String)]
    val q = Jobs.idempotentParquetSink(
      mem.toDF().toDF("id", "value"), data, s"$dir/ckpt").start()
    mem.addData((1L, "a"), (2L, "b"))
    q.processAllAvailable()
    mem.addData((3L, "c"))
    q.processAllAvailable()
    q.stop()
    assert(spark.read.parquet(data).count() == 3)
    // crash-replay simulation: re-writing batch 1 (as the checkpoint would
    // after a failure between write and commit) must be a no-op overwrite
    Jobs.writeBatchIdempotent(Seq((3L, "c")).toDF("id", "value"), 1L, data)
    Jobs.writeBatchIdempotent(Seq((3L, "c")).toDF("id", "value"), 1L, data)
    val after = spark.read.parquet(data)
    assert(after.count() == 3, s"replay duplicated rows: ${after.collect().toSeq}")
    assert(after.filter(col("batch_id") === 0).count() == 2, "other batches untouched")
  }

  test("transformWithState: per-source running ingest stats across micro-batches") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // transformWithState requires the RocksDB state store provider
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[Jobs.DocEvent]
      val out = Jobs.sourceStats(mem.toDS())
      val q = out.writeStream.format("memory").queryName("src_stats")
        .outputMode("update").start()
      mem.addData(Jobs.DocEvent("a", 10), Jobs.DocEvent("a", 20), Jobs.DocEvent("b", 5))
      q.processAllAvailable()
      mem.addData(Jobs.DocEvent("a", 5)) // state carries across batches
      q.processAllAvailable()
      q.stop()
      val rows = spark.table("src_stats").as[Jobs.SourceStats].collect().toSet
      assert(rows == Set(
        Jobs.SourceStats("a", 2, 30), Jobs.SourceStats("b", 1, 5),
        Jobs.SourceStats("a", 3, 35)))
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("stateful sessionization: gap-close AND idle-timeout emission") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val gap = 30L * 60 * 1000000
    val min = 60L * 1000000
    val t0 = 1700000000000000L // µs; events AT the initial watermark (epoch
    // 0) would be dropped as late — use a realistic base like production
    val mem = MemoryStream[Jobs.Event]
    val sessions = Jobs.sessionize(mem.toDS())
    val q = sessions.writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    // batch 1: user 1 has two sessions (third event past the gap closes the
    // first); user 2 has one event and then goes idle FOREVER
    mem.addData(
      Jobs.Event(1, t0, 1.0), Jobs.Event(1, t0 + min, 2.0),
      Jobs.Event(1, t0 + gap * 2, 5.0),
      Jobs.Event(2, t0, 7.0))
    q.processAllAvailable()
    // batch 2: only ANOTHER user's event, far in the future — advances the
    // watermark past users 1/2's last+gap; their idle sessions must be
    // emitted by EventTimeTimeout with no further event from either user
    mem.addData(Jobs.Event(9, t0 + gap * 10, 0.5))
    q.processAllAvailable()
    // batch 3: timeouts fire in a batch that EXECUTES after the watermark
    // advanced; one more unrelated event makes that batch deterministic
    // (not dependent on the async no-data micro-batch racing q.stop())
    mem.addData(Jobs.Event(9, t0 + gap * 10 + 1000000, 0.5))
    q.processAllAvailable()
    q.stop()
    val closed = spark.table("sessions").as[Jobs.SessionOut].collect()
    // gap-close: user 1's first session (2 events, closed by its 3rd event)
    val u1 = closed.filter(_.userId == 1).sortBy(_.start)
    assert(u1.length == 2)
    assert(u1.head.n == 2 && u1.head.total == 3.0 && u1.head.end == t0 + min)
    // idle-timeout: user 1's final session emitted with NO later user-1 event
    assert(u1.last.start == t0 + gap * 2 && u1.last.n == 1 && u1.last.total == 5.0)
    // idle-timeout: one-time user 2's only session emitted, state cleared
    val u2 = closed.filter(_.userId == 2)
    assert(u2.length == 1 && u2.head.n == 1 && u2.head.total == 7.0)
    // user 9's session is still within its gap horizon → not yet emitted
    assert(!closed.exists(_.userId == 9))
  }

  test("streaming contamination gate: bloom-flagged docs dropped at arrival, clean pass") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val benchGram = (1 to 8).map(i => s"bench$i").mkString(" ")
    val evalSet = Seq(s"prefix words then $benchGram and a suffix")
      .toDF("text")
    val mem = MemoryStream[(Long, String)]
    val gated = Jobs.contaminationGate(mem.toDF().toDF("id", "text"), evalSet)
    val q = gated.writeStream.format("memory").queryName("decontam_gate")
      .outputMode("append").start()
    mem.addData(
      (1L, s"a train doc quoting $benchGram inside it"), // contaminated → drop
      (2L, (1 to 12).map(i => s"clean$i").mkString(" ")), // clean → keep
      (3L, "short doc"))                                  // < 8 tokens → keep
    q.processAllAvailable()
    q.stop()
    val kept = spark.table("decontam_gate").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 3L),
      s"gate must drop exactly the benchmark-overlapping doc, got $kept")
  }

  test("curation composition: streamed quality→dedup→decontam→budget matches " +
      "the batch chain of the same stage definitions") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val t0 = 1700000000000000L
    val benchGram = (1 to 8).map(i => s"bench$i").mkString(" ")
    val evalSet = Seq(s"benchmark prompt containing $benchGram verbatim").toDF("text")
    def words(p: String, n: Int) = (1 to n).map(i => s"$p$i").mkString(" ")
    val docs = Seq(
      // batch 1
      Seq(1L -> words("alpha", 8),              // clean, 8 tokens
        2L -> "too short",                      // quality-gated (< 5 tokens)
        3L -> words("alpha", 8),                // exact dup of 1 → dropped
        4L -> s"padding words around $benchGram here", // contaminated → dropped
        5L -> words("beta", 10)),               // clean, 10 tokens
      // batch 2
      Seq(6L -> words("alpha", 8),              // cross-batch dup of 1 → dropped
        7L -> words("gamma", 12),               // clean, 12 → cum 30, selected
        8L -> words("delta", 9)),               // clean, 9 → cum 39 > budget
      // batch 3
      Seq(9L -> words("eps", 7),                // clean but budget already spent
        10L -> "1234 5678 9012 3456 7890 1111")) // non-alphabetic → gated
    val budget = 35L

    // --- streamed composition, fed in doc_id order across 3 micro-batches
    val mem = MemoryStream[(Long, String, Long)]
    val shaped = mem.toDF().toDF("doc_id", "text", "us")
      .withColumn("ts", timestamp_micros($"us"))
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    val ckpt = tempDir("curation-ckpt").toString
    val q = Jobs.curationSink(Jobs.curationStream(shaped, evalSet), budget) {
      (sel, _) =>
        got ++= sel.select("doc_id", "n_tokens", "cum_tokens").collect()
          .map(r => (r.getLong(0), r.getAs[Number](1).longValue(), r.getLong(2)))
        ()
    }.option("checkpointLocation", ckpt).start()
    docs.foreach { b =>
      mem.addData(b.map { case (id, t) => (id, t, t0) }: _*)
      q.processAllAvailable()
    }
    q.stop()

    // --- batch chain of the SAME stage definitions
    val all = docs.flatten.toDF("doc_id", "text")
    val toks = size(split(col("text"), " "))
    val alpha = length(regexp_replace(col("text"), "[^a-zA-Z]", "")) * 1.0 >=
      length(col("text")) * 0.5
    val gate = all.filter(toks >= 5 && alpha)
      .withColumn("h", md5(col("text").cast("binary")))
    val keepFirst = gate.groupBy("h").agg(min("doc_id").as("doc_id"))
      .select("doc_id")
    val dedup = gate.join(keepFirst, "doc_id")
    val decontam = Jobs.contaminationGate(dedup, evalSet)
      .withColumn("n_tokens", toks)
    val expect = graft.operators.Sampling
      .docOrderedCumsum(decontam.select("doc_id", "n_tokens"))
      .filter(col("cum_tokens") <= budget)
      .collect().map(r => (r.getLong(0), r.getAs[Number](1).longValue(),
        r.getLong(2))).toSet

    assert(expect == Set((1L, 8L, 8L), (5L, 10L, 18L), (7L, 12L, 30L)),
      s"batch reference drifted from the designed fixture: $expect")
    assert(got.toSet == expect,
      s"streamed selection forked from the batch chain: ${got.toSet} vs $expect")
    // the budget genuinely truncated mid-stream AND selection spans batches
    // (batch 2's pick carries batch 1's running offset)
    assert(got.exists(_._1 == 7L) && !got.exists(_._1 == 8L))
  }

  test("curationSink recovery: a restarted query resumes the budget ledger, " +
      "not from zero") {
    // the budget stage's operational contract: stop after batch 1, start a
    // NEW query (new driver counter) from the same checkpoint + state dir,
    // and prove batch 2's selection uses batch 1's RECOVERED running total
    // — a reset-to-zero counter would wrongly select both batch-2 docs
    import java.nio.file.Files
    val in = tempDir("cur_in")
    val ckpt = tempDir("cur_ckpt")
    val state = tempDir("cur_state")
    val evalSet = {
      import spark.implicits._
      Seq((1 to 9).map(i => s"bench$i").mkString(" ")).toDF("text")
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("us",
        org.apache.spark.sql.types.LongType)))
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    def runOnce(): Unit = {
      val shaped = spark.readStream.schema(schema).json(in.toString)
        .withColumn("ts", timestamp_micros(col("us")))
      val q = Jobs.curationSink(
        Jobs.curationStream(shaped, evalSet), budget = 45L,
        stateDir = Some(state.toString)) { (sel, _) =>
        got ++= sel.select("doc_id", "cum_tokens").collect()
          .map(r => (r.getLong(0), r.getLong(1)))
        ()
      }.option("checkpointLocation", ckpt.toString).start()
      q.processAllAvailable(); q.stop()
    }
    val t0 = 1700000000000000L
    def doc(id: Long, p: String, n: Int) =
      s"""{"doc_id":$id,"text":"${(1 to n).map(i => s"$p$i").mkString(" ")}","us":$t0}"""
    // batch 1: 30 survivor tokens → counter must land at 30
    Files.writeString(in.resolve("b1.json"),
      doc(1, "alpha", 12) + "\n" + doc(2, "beta", 18) + "\n")
    runOnce()
    // restart; batch 2: 10-token doc fits (cum 40 ≤ 45), 8-token doesn't
    // (cum 48) — iff the 30 was recovered
    Files.writeString(in.resolve("b2.json"),
      doc(3, "gamma", 10) + "\n" + doc(4, "delta", 8) + "\n")
    runOnce()
    assert(got.toSet == Set((1L, 12L), (2L, 30L), (3L, 40L)),
      s"restart must resume the 30-token ledger (4 rejected at cum 48): " +
        s"${got.toSet}")
  }

  test("curationSink runs each data trigger as ONE Spark job and caches nothing") {
    // counter pin for the driver-side budget: the gated micro-batch is
    // collected once and the emitted frame is local, so a trigger that
    // carries data starts exactly one job (jobs are matched to triggers by
    // the batch-id local property streaming sets), and no persisted frame
    // exists during or after the emit
    import spark.implicits._
    implicit val sq = spark.sqlContext
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import scala.jdk.CollectionConverters._
    // frames an earlier suite cached in the shared session would mask the check
    spark.catalog.clearCache()
    val cacheManager = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    val evalSet = Seq((1 to 9).map(i => s"bench$i").mkString(" ")).toDF("text")
    val mem = MemoryStream[(Long, String, Long)]
    val shaped = mem.toDF().toDF("doc_id", "text", "us")
      .withColumn("ts", timestamp_micros($"us"))
    val marker = "curation-job-count-marker"
    val markerSeen = new java.util.concurrent.CountDownLatch(1)
    val jobsByBatch = new java.util.concurrent.ConcurrentHashMap[(String, Long), Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties).getOrElse(new java.util.Properties)
        Option(p.getProperty("streaming.sql.batchId")).foreach { b =>
          jobsByBatch.merge((p.getProperty("sql.streaming.queryId"), b.toLong), 1,
            (x: Int, y: Int) => x + y)
        }
        if (p.getProperty("spark.job.description") == marker) markerSeen.countDown()
      }
    }
    val cachedDuringEmit = new java.util.concurrent.atomic.AtomicInteger
    val emitted = scala.collection.mutable.ArrayBuffer.empty[Long]
    val ckpt = tempDir("curation-jobs")
    spark.sparkContext.addSparkListener(listener)
    try {
      val q = Jobs.curationSink(Jobs.curationStream(shaped, evalSet),
          budget = Long.MaxValue / 4) { (sel, _) =>
        if (!cacheManager.isEmpty) cachedDuringEmit.incrementAndGet()
        emitted ++= sel.select("doc_id").collect().map(_.getLong(0))
        ()
      }.option("checkpointLocation", ckpt.toString).start()
      try {
        (0 until 4).foreach { b =>
          mem.addData((0 until 5).map { i =>
            val id = b * 10L + i
            // alphabetic, distinct texts: every doc passes the gates
            val tag = id.toString.map(c => ('a' + (c - '0')).toChar)
            (id, (1 to 6 + i).map(w => tag + "x" * w).mkString(" "), 1700000000000000L)
          }: _*)
          q.processAllAvailable()
          assert(cacheManager.isEmpty, s"a frame is still cached after trigger $b")
        }
      } finally q.stop()
      // the listener bus delivers in order: once this job's start arrives,
      // every streaming job's start has been counted
      spark.sparkContext.setJobDescription(marker)
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setJobDescription(null)
      assert(markerSeen.await(60, java.util.concurrent.TimeUnit.SECONDS))
      val jobs = jobsByBatch.asScala.collect {
        case ((qid, b), n) if qid == q.id.toString => b -> n }.toMap
      val dataBatches = q.recentProgress.filter(_.numInputRows > 0).map(_.batchId)
      assert(dataBatches.length >= 3, s"fixture must drive 3+ data triggers: $dataBatches")
      dataBatches.foreach(b => assert(jobs.get(b).contains(1),
        s"data trigger $b ran ${jobs.getOrElse(b, 0)} jobs: $jobs"))
      assert(jobs.values.forall(_ == 1), s"a trigger ran more than one job: $jobs")
      assert(cachedDuringEmit.get == 0, "the emitted selection read a cached frame")
      assert(emitted.sorted == (0 until 4).flatMap(b => (0 until 5).map(b * 10L + _)))
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("curationSink replay: a batch re-run after a crash reuses its ledger base") {
    // crash between emit and checkpoint commit: batch 0 was emitted and its
    // ledger entry written, but its commit-log entry is lost. The restarted
    // query re-runs batch 0; it must emit the recorded selection (base 0
    // from the ledger, not the seeded 30) and then advance the counter once.
    // No watermark-only trigger may follow batch 0, so that batch 0 is the
    // last batch and the one whose commit is lost.
    import java.nio.file.Files
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    val in = tempDir("cur_replay_in")
    val ckpt = tempDir("cur_replay_ckpt")
    val state = tempDir("cur_replay_state")
    try {
      val evalSet = {
        import spark.implicits._
        Seq((1 to 9).map(i => s"bench$i").mkString(" ")).toDF("text")
      }
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id BIGINT, text STRING, us BIGINT")
      val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
      def runOnce(): Unit = {
        val shaped = spark.readStream.schema(schema).json(in.toString)
          .withColumn("ts", timestamp_micros(col("us")))
        val q = Jobs.curationSink(
          Jobs.curationStream(shaped, evalSet), budget = 45L,
          stateDir = Some(state.toString)) { (sel, id) =>
          got ++= sel.select("doc_id", "cum_tokens").collect()
            .map(r => (id, r.getLong(0), r.getLong(1)))
          ()
        }.option("checkpointLocation", ckpt.toString).start()
        try q.processAllAvailable() finally q.stop()
      }
      val t0 = 1700000000000000L
      def doc(id: Long, p: String, n: Int) =
        s"""{"doc_id":$id,"text":"${(1 to n).map(i => s"$p$i").mkString(" ")}","us":$t0}"""
      Files.writeString(in.resolve("b1.json"),
        doc(1, "alpha", 12) + "\n" + doc(2, "beta", 18) + "\n")
      runOnce()
      val first = got.toSeq
      assert(first == Seq((0L, 1L, 12L), (0L, 2L, 30L)), s"batch 0: $first")
      Files.delete(ckpt.resolve("commits").resolve("0"))
      Files.writeString(in.resolve("b2.json"),
        doc(3, "gamma", 10) + "\n" + doc(4, "delta", 8) + "\n")
      runOnce()
      val rerun = got.toSeq.drop(first.size)
      assert(rerun.filter(_._1 == 0L) == first,
        s"the replayed batch must re-emit the recorded selection: $rerun")
      // base 30 + 10 fits, + 8 does not; a doubly advanced counter (60)
      // would select nothing
      assert(rerun.filter(_._1 == 1L) == Seq((1L, 3L, 40L)), s"batch 1: $rerun")
      val ledger = new HDFSMetadataLog[Jobs.Ledger](spark, state.toString)
      assert(ledger.get(0).contains(Jobs.Ledger(0, 30)) &&
        ledger.get(1).contains(Jobs.Ledger(30, 18)),
        s"ledger: ${ledger.get(0)} / ${ledger.get(1)}")
    } finally spark.conf.unset("spark.sql.streaming.noDataMicroBatches.enabled")
  }

  test("curationSink seeding ignores a stray tmp- file in the state dir") {
    // orphans of a crash between a ledger entry's temp write and its
    // publish, in the hand-written name and in the checkpoint-file
    // manager's; parsed as an entry either would seed the counter at 2000,
    // past the budget, and nothing would be selected
    import spark.implicits._
    implicit val sq = spark.sqlContext
    import java.nio.file.Files
    val ckpt = tempDir("cur_tmp_ckpt")
    val state = tempDir("cur_tmp_state")
    Files.writeString(state.resolve("tmp-12345"), "1000 1000")
    Files.writeString(state.resolve(s".0.${java.util.UUID.randomUUID()}.tmp"),
      """{"base":1000,"total":1000}""")
    val evalSet = Seq((1 to 9).map(i => s"bench$i").mkString(" ")).toDF("text")
    val mem = MemoryStream[(Long, String, Long)]
    val shaped = mem.toDF().toDF("doc_id", "text", "us")
      .withColumn("ts", timestamp_micros($"us"))
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val q = Jobs.curationSink(Jobs.curationStream(shaped, evalSet),
        budget = 45L, stateDir = Some(state.toString)) { (sel, _) =>
      got ++= sel.select("doc_id", "cum_tokens").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      ()
    }.option("checkpointLocation", ckpt.toString).start()
    try {
      def words(p: String, n: Int) = (1 to n).map(i => s"$p$i").mkString(" ")
      mem.addData((1L, words("alpha", 12), 1700000000000000L),
        (2L, words("beta", 18), 1700000000000000L))
      q.processAllAvailable()
    } finally q.stop()
    assert(got.toSet == Set((1L, 12L), (2L, 30L)), s"seeded from the tmp file: $got")
    assert(new HDFSMetadataLog[Jobs.Ledger](spark, state.toString).get(0)
      .contains(Jobs.Ledger(0, 30)))
  }

  test("anomalyAlerts: online z-alerts match the batch prior-window replay exactly") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val us = 1000000L
    // user 1: 11 quiet events, a 100x spike (must alert), then 3 more quiet
    // (variance now blown up → no alert); user 2: all quiet, never alerts
    val u1 = (0 until 11).map(i => Jobs.Event(1L, i * us, 1.0)) ++
      Seq(Jobs.Event(1L, 11 * us, 100.0)) ++
      (12 until 15).map(i => Jobs.Event(1L, i * us, 1.0))
    val u2 = (0 until 15).map(i => Jobs.Event(2L, i * us, 1.0 + (i % 2) * 0.02))
    val (batch1, batch2) = (u1.take(13) ++ u2.take(13), u1.drop(13) ++ u2.drop(13))

    val mem = MemoryStream[Jobs.Event]
    val q = Jobs.anomalyAlerts(mem.toDS()).writeStream.format("memory")
      .queryName("anomaly_alerts").outputMode("append").start()
    mem.addData(batch1: _*); q.processAllAvailable()
    mem.addData(batch2: _*); q.processAllAvailable()
    q.stop()
    val streamed = spark.table("anomaly_alerts").as[Jobs.AnomalyAlert].collect()
      .map(a => (a.userId, a.tsMicros, a.cents, a.nPrior)).toSet

    val batchDf = (u1 ++ u2).toDF("userId", "tsMicros", "value")
      .select(col("userId").as("user_id"), col("tsMicros").as("ts_micros"), col("value"))
    val replay = Jobs.anomalyAlertsBatch(batchDf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet

    assert(streamed == replay,
      s"stream-only: ${(streamed -- replay).take(3)}; batch-only: ${(replay -- streamed).take(3)}")
    assert(streamed.exists(a => a._1 == 1L && a._3 == 10000L && a._4 == 11L),
      s"the 100x spike must alert with 11 priors: $streamed")
    assert(!streamed.exists(_._1 == 2L), "quiet user must never alert")
  }

  test("embeddingRouter: streaming cell assignment matches the batch argmin bit-for-bit") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    import org.apache.spark.sql.functions._

    val rows = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val codebook = rows.filter(_._1 < 8).map { case (id, v) => (id.toInt, v) }.toSeq

    // batch ground truth: the sim_kmeans_step assignment shape — broadcast
    // codebook rows + native squared_distance, deterministic min(struct)
    val cb = codebook.toDF("cell", "cvec")
    val dist = graft.functions.SquaredDistance.squared_distance(
      col("embedding"), col("cvec"))
    val batch = Tables.embeddings(spark, sf)
      .crossJoin(broadcast(cb))
      .select(col("vec_id"), col("cell"), dist.as("dist"))
      .groupBy("vec_id")
      .agg(min(struct(col("dist"), col("cell"))).getField("cell").as("cell"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap

    val mem = MemoryStream[(Long, Array[Float])]
    val routed = Jobs.embeddingRouter(
      mem.toDF().toDF("vec_id", "embedding"), codebook)
    val q = routed.writeStream.format("memory").queryName("emb_router")
      .outputMode("append").start()
    mem.addData(rows.toIndexedSeq: _*)
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("emb_router").collect()
      .map(r => r.getLong(0) -> r.getInt(2)).toMap

    assert(streamed.size == rows.length)
    assert(streamed == batch,
      s"diverging ids: ${streamed.collect { case (k, v) if batch(k) != v => k }.take(5)}")
    // seed vectors route to their own cell (distance 0 to themselves)
    (0 until 8).foreach(i => assert(streamed(i.toLong) == i))
  }

  test("embeddingRouter: malformed records route to cell NULL, not a crash") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val good = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
      .head()
    val codebook = Seq((0, good._2))
    val mem = MemoryStream[(Long, Array[Float])]
    val q = Jobs.embeddingRouter(mem.toDF().toDF("vec_id", "embedding"), codebook)
      .writeStream.format("memory").queryName("emb_router_bad")
      .outputMode("append").start()
    mem.addData(
      (1L, good._2),            // well-formed → cell 0
      (2L, null),               // null embedding → NULL cell
      (3L, Array(1.0f, 2.0f)))  // wrong dimension → NULL cell
    q.processAllAvailable(); q.stop()
    val got = spark.table("emb_router_bad").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(2)) None else Some(r.getInt(2)))).toMap
    assert(got == Map(1L -> Some(0), 2L -> None, 3L -> None), s"got $got")
  }

  test("dsirGate: streamed frozen-λ scores match batch corpus_dsir_weights " +
      "row-for-row; threshold gates strictly") {
    import spark.implicits._
    implicit val sq = spark.sqlContext

    // train once offline (the deploy shape), freeze the 1024-bucket model
    val lam = Jobs.freezeDsir(graft.operators.Sampling.dsirLambda(spark, sf))
    assert(lam.exists(_ != 0.0), "trained λ must be non-trivial")

    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val rows = docs.as[(Long, String)].collect()

    val mem = MemoryStream[(Long, String)]
    val q = Jobs.dsirGate(mem.toDF().toDF("doc_id", "text"), lam)
      .writeStream.format("memory").queryName("dsir_gate_all")
      .outputMode("append").start()
    rows.grouped(200).foreach(g => mem.addData(g.toSeq))
    q.processAllAvailable(); q.stop()

    val streamed = spark.table("dsir_gate_all")
      .select("doc_id", "n_feats", "logw")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val batch = SparkEntry.queries("corpus_dsir_weights")(spark, sf)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap

    assert(streamed.size == batch.size,
      s"row counts diverge: streamed ${streamed.size} vs batch ${batch.size}")
    val diff = batch.collect { case (k, v) if streamed(k) != v => k }
    assert(diff.isEmpty, s"diverging doc_ids: ${diff.take(5)}")

    // gating: a threshold keeps exactly the docs the batch scores admit
    val thr = batch.values.map(_._2).toSeq.sorted.apply(batch.size / 2)
    val mem2 = MemoryStream[(Long, String)]
    val q2 = Jobs.dsirGate(mem2.toDF().toDF("doc_id", "text"), lam, minLogw = thr)
      .writeStream.format("memory").queryName("dsir_gate_thr")
      .outputMode("append").start()
    mem2.addData(rows.toSeq)
    q2.processAllAvailable(); q2.stop()
    val kept = spark.table("dsir_gate_thr").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val want = batch.collect { case (k, (_, w)) if w >= thr => k }.toSet
    assert(kept == want,
      s"threshold gate forked from batch scores: ${(kept diff want).take(3)} / ${(want diff kept).take(3)}")
  }

  test("minhashGate: streamed drops equal the batch decontam_minhash flag " +
      "population on the real corpus") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    import graft.operators.Keys

    // deploy shape: the benchmark (test split) is frozen once; the train
    // split arrives as a stream. sf0.01 is used because its batch query
    // output is known non-empty (both verdicts exercised).
    val dir = "/root/testdata/sf0.01"
    val docs = Tables.documents(spark, dir)
    val bucket = Keys.hexBucketCol(col("doc_id"))
    val idx = Jobs.freezeBandIndex(
      docs.filter(bucket >= Keys.ValThr).select("text")) // test split
    val trains = docs.filter(bucket < Keys.TrainThr)
      .select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)))

    val mem = MemoryStream[(Long, String)]
    val q = Jobs.minhashGate(mem.toDF().toDF("doc_id", "text"), idx)
      .select("doc_id")
      .writeStream.format("memory").queryName("minhash_gate")
      .outputMode("append").start()
    trains.grouped(100).foreach(g => mem.addData(g.toSeq))
    q.processAllAvailable(); q.stop()
    val kept = spark.table("minhash_gate").collect().map(_.getLong(0)).toSet

    // the batch query's output rows are EXACTLY the train docs holding ≥1
    // band candidate against the eval split — the gate must drop those and
    // only those
    val flagged = SparkEntry.queries("decontam_minhash")(spark, dir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val want = trains.map(_._1).toSet diff flagged
    assert(kept == want,
      s"gate forked from batch candidates: extra drops ${(want diff kept).take(3)}, " +
        s"leaked ${(kept diff want).take(3)}")
    assert(flagged.nonEmpty && kept.nonEmpty,
      s"fixture must exercise both verdicts: dropped ${flagged.size}, kept ${kept.size}")
  }

  test("minhashGate filters by a Catalyst set membership, with no ScalaUDF") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    import org.apache.spark.sql.catalyst.expressions.{InSet, ScalaUDF}
    import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
    def words(p: String) = (1 to 12).map(i => s"$p$i").mkString(" ")
    // 3 eval docs: 12 band keys, past the optimizer's In → InSet threshold
    val idx = Jobs.freezeBandIndex(Seq(words("a"), words("b"), words("c")).toDF("text"))
    val mem = MemoryStream[(Long, String)]
    val q = Jobs.minhashGate(mem.toDF().toDF("doc_id", "text"), idx)
      .select("doc_id")
      .writeStream.format("memory").queryName("minhash_gate_plan")
      .outputMode("append").start()
    mem.addData((1L, words("b")), (2L, words("z")), (3L, "too short"), (4L, null))
    val plan = try {
      q.processAllAvailable()
      q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan
    } finally q.stop()
    val exprs = plan.flatMap(_.expressions)
    assert(!exprs.exists(_.exists(_.isInstanceOf[ScalaUDF])), plan)
    assert(exprs.exists(_.exists(_.isInstanceOf[InSet])), plan)
    // a short doc and a null text have no band keys: kept, never indexed
    assert(spark.table("minhash_gate_plan").as[Long].collect().toSet == Set(2L, 3L, 4L))
  }

  test("annGate: streamed survivors of the frozen-index near-dup gate " +
      "equal the batch verdict on a disjoint corpus split") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    import graft.operators.Similarity

    // deploy shape: corpus = even vec_ids (frozen index + codebook trained
    // on the full dir), incoming = odd vec_ids streamed one batch at a time
    val full = Similarity.ivfIndex(spark, sf).cache()
    val corpus = full.filter(col("vec_id") % 2 === 0).cache()
    val (labels, cents) = Similarity.frozenCodebook(spark, sf)

    val incRows = Tables.embeddings(spark, sf).filter(col("vec_id") % 2 === 1)
      .select("vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))

    val mem = MemoryStream[(Long, Array[Float])]
    val q = Jobs.annGate(mem.toDF().toDF("vec_id", "embedding"), corpus,
        labels, cents)
      .select("vec_id", "cell")
      .writeStream.format("memory").queryName("ann_gate")
      .outputMode("append").start()
    incRows.grouped(40).foreach(g => mem.addData(g.toSeq))
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("ann_gate").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap

    // batch expectation from the same index frames: an odd vector survives
    // iff no even vector in its cell reaches the near-dup cosine
    val oddIdx = full.filter(col("vec_id") % 2 === 1)
      .select(col("vec_id").as("ov"), col("cell"),
        col("embedding").as("oe"), col("nrm").as("on"))
    val dupped = oddIdx.join(corpus.select(col("cell"),
        col("embedding").as("ce"), col("nrm").as("cn")), "cell")
      .filter(graft.functions.DotProduct.dot_product(col("oe"), col("ce"))
        / (col("on") * col("cn")) >= Similarity.CosineNearDupThreshold)
      .select("ov").distinct().collect().map(_.getLong(0)).toSet
    val expected = oddIdx.collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
      .filterNot { case (id, _) => dupped(id) }

    assert(streamed == expected,
      s"gate forked: extra ${(streamed.keySet diff expected.keySet).take(3)}, " +
        s"missing ${(expected.keySet diff streamed.keySet).take(3)}")
    assert(streamed.nonEmpty && dupped.nonEmpty,
      s"fixture must exercise both verdicts: kept ${streamed.size}, dropped ${dupped.size}")
  }

  test("annServe: streamed per-micro-batch top-k equals sim_ivf_batch_topk " +
      "on the same query/corpus split") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    import graft.operators.Similarity

    // serving shape: corpus index frozen over vec_id >= 10 (the batch
    // query's candidate side), queries 0-9 streamed in small micro-batches
    val index = Similarity.ivfIndex(spark, sf)
      .filter(col("vec_id") >= 10).cache()
    val (labels, cents) = Similarity.frozenCodebook(spark, sf)
    val qRows = Tables.embeddings(spark, sf).filter(col("vec_id") < 10)
      .select("vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))

    val mem = MemoryStream[(Long, Array[Float])]
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Double)]
    val q = Jobs.annServe(mem.toDF().toDF("vec_id", "embedding"),
        index, labels, cents) { b =>
      got ++= b.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    }.start()
    qRows.grouped(4).foreach(g => mem.addData(g.toSeq)) // 3 micro-batches
    q.processAllAvailable(); q.stop()

    val want = SparkEntry.queries("sim_ivf_batch_topk")(spark, sf)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got.toSet == want,
      s"serving forked from batch: extra ${(got.toSet diff want).take(3)}, " +
        s"missing ${(want diff got.toSet).take(3)}")
    assert(want.size >= 10, s"fixture too small to prove parity: ${want.size} rows")
  }
}
