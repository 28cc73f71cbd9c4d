package graft.streaming

import org.apache.spark.ml.PipelineModel
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.checkpointing.HDFSMetadataLog
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._
import graft.cv.PlayerIdent
import graft.ml.QuarterPrediction

/** Structured Streaming rebuilds of the reference's two streaming jobs plus
  * the windowed/stateful semantics the reference lacks (SURVEY §1.3: it is
  * stateless 1 s micro-batches with no watermarks — Structured Streaming
  * gives us checkpointed exactly-once, event-time windows and state for
  * free).
  *
  * Each job is a pure `DataFrame => DataFrame` transform: the SAME plan runs
  * in batch or with `readStream`/`writeStream` — that is the Spark-first
  * replacement for the reference's hand-rolled per-batch `transform()`
  * (ml_k_to_ss.py:67). In production the source/sink are Kafka
  * (`format("kafka")`, topics ml_input/ml_output, dl_input/dl_output as in
  * ml_k_to_ss.py:63 and dl_k_to_ss.py:429); no Kafka connector ships in
  * this container, so tests drive the transforms with MemoryStream — the
  * transform itself is identical either way.
  */
object Jobs {

  /** The 15-int CSV schema of the quarter-stats stream (FIXTURES.md A1,
    * ml_k_to_ss.py:9-14 col_mapping). */
  val quarterSchema: StructType = StructType(
    (QuarterPrediction.categoricalCol +:
      QuarterPrediction.featureCols :+ QuarterPrediction.labelCol)
      .map(StructField(_, IntegerType)))

  /** Quarter-prediction stream transform: CSV line → typed row (P2/P3) →
    * load-once model score (Q2 fixed) → "{pred},{prob}" message (Q3/Q5).
    * Input: a `value: String` column (the Kafka value projection P1). */
  def quarterPrediction(model: PipelineModel)(lines: DataFrame): DataFrame = {
    val parsed = lines
      .select(from_csv(col("value"), quarterSchema,
        Map.empty[String, String]).as("r"))
      .select(col("r.*"))
    QuarterPrediction.score(model, parsed)
      .select(col("prediction"), col("prob"), col("msg").as("value"))
  }

  /** Player-identification stream transform: binary image → detections →
    * broadcast stats lookup → "{team},{num},{score},{reb},{ast}" message
    * (dl_k_to_ss.py:397-415, K2). Input: `value: Binary` column. */
  def playerIdentification(stats: DataFrame, cfg: PlayerIdent.Config = PlayerIdent.Config())(
      images: DataFrame): DataFrame = {
    val spark = images.sparkSession
    PlayerIdent.pipeline(spark, images, "value", stats, cfg)
      .select(concat_ws(",",
        col("team"), col("num"),
        coalesce(col("score").cast("string"), lit("player not found")),
        col("reb"), col("ast")).as("value"))
  }

  /** Event-time windowed aggregation with watermark (beyond-reference):
    * 5-minute tumbling windows of event counts/value sums per type, late
    * data bounded at 10 minutes. Input needs `ts_micros`/`event_type`/
    * `value` (Tables.events shape). */
  def windowedEventCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts_micros", "10 minutes")
      .groupBy(window(col("ts_micros"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("total"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n"), col("total"))

  /** STREAMING TRENDING TOP-K (beyond-reference): per 5-minute event-time
    * window, the k most frequent event types — the live "what's hot right
    * now" report. The ranking happens INSIDE the space-saving sketch
    * aggregate (`graft.functions.TopKAgg`, the same native
    * TypedImperativeAggregate the batch `olap_approx_topk` certifies):
    * per-window state is one bounded value→count summary regardless of the
    * type-domain size, it partial-aggregates map-side before the window
    * shuffle, and merges associatively in the state store — so the
    * operator needs NO per-(window, type) count rows and NO rank window,
    * the two shapes that don't survive a high-cardinality domain in
    * streaming state. Late data is bounded by the 10-minute watermark;
    * exactness holds while a window's distinct types ≤ capacity (64 — the
    * 8-value domain is certified exact by `olap_approx_topk`). */
  def trendingTopK(events: DataFrame, k: Int = 3): DataFrame =
    events
      .withWatermark("ts_micros", "10 minutes")
      .groupBy(window(col("ts_micros"), "5 minutes"))
      .agg(graft.functions.TopKAgg.approx_top_k(col("event_type"), k, 64).as("tk"))
      .select(col("window.start").as("win_start"),
        posexplode(col("tk")).as(Seq("rank0", "e")))
      .select(col("win_start"), (col("rank0") + 1).as("rank"),
        col("e.value").as("event_type"), col("e.cnt").as("n"))

  /** Stream-stream interval join with watermarks on both sides
    * (beyond-reference): each click joined to the same user's purchases
    * within the following 5 minutes; both states bounded at 10 minutes.
    * Inputs need (`user_id`, `ts_micros`, ...) columns. */
  def clickToPurchaseJoin(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    val c = clicks.withWatermark("ts_micros", "10 minutes")
      .select(col("user_id"), col("ts_micros").as("click_ts"))
    val p = purchases.withWatermark("ts_micros", "10 minutes")
      .select(col("user_id").as("p_user"), col("ts_micros").as("purchase_ts"),
        col("value").as("amount"))
    c.join(p,
      col("user_id") === col("p_user") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("interval 5 minutes"))
      .select(col("user_id"), col("click_ts"), col("purchase_ts"), col("amount"))
  }

  final case class Event(userId: Long, tsMicros: Long, value: Double)
  final case class SessionState(start: Long, last: Long, n: Int, total: Double)
  final case class SessionOut(userId: Long, start: Long, end: Long, n: Int, total: Double)

  /** Custom stateful operator (mapGroupsWithState): per-user session
    * aggregation with a 30-minute inactivity gap. A session closes either
    * when the same user's next event arrives past the gap, or — the idle
    * case — when the event-time watermark passes `last + gap` with no
    * further events from that user (EventTimeTimeout): a user who stops
    * clicking still gets their final session emitted, and their state is
    * cleared rather than living forever. The watermark also bounds input:
    * events older than it are dropped as late (the standard trade for
    * bounded state + guaranteed emission). The reference has no stateful
    * streaming at all; this is the KeyValueGroupedDataset state surface
    * the prompt requires. */
  def sessionize(events: Dataset[Event],
      gapMicros: Long = 30L * 60 * 1000000,
      delay: String = "10 minutes"): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    // correctness precondition: a late event can arrive up to `delay` after
    // the frontier; if delay >= gap it could merge into a session whose
    // true distance exceeds the gap (min/max merge can't re-split). The
    // batch twin (olap_sessionize) would disagree — reject the config.
    val delayIv = org.apache.spark.sql.catalyst.util.IntervalUtils
      .stringToInterval(org.apache.spark.unsafe.types.UTF8String.fromString(delay))
    val delayMicros = delayIv.months * 2592000000000L +
      delayIv.days * 86400000000L + delayIv.microseconds
    require(delayMicros < gapMicros,
      s"watermark delay ($delay) must be shorter than the session gap " +
        s"($gapMicros us): a late event older than the gap could otherwise merge")
    // EventTimeTimeout needs a watermarked event-time column in the plan;
    // carry it through the grouping as a 4th tuple field.
    val marked = events.toDF()
      .withColumn("eventTime", timestamp_micros(col("tsMicros")))
      .withWatermark("eventTime", delay)
      .as[(Long, Long, Double, java.sql.Timestamp)]
    marked
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (userId: Long, rows: Iterator[(Long, Long, Double, java.sql.Timestamp)],
            state: GroupState[SessionState]) => {
          if (state.hasTimedOut) {
            // watermark passed last+gap with no new events: close idle session
            val st = state.get
            state.remove()
            Iterator.single(SessionOut(userId, st.start, st.last, st.n, st.total))
          } else {
            val sorted = rows.map(r => Event(r._1, r._2, r._3)).toSeq.sortBy(_.tsMicros)
            var cur = state.getOption
            val closed = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
            sorted.foreach { e =>
              cur match {
                case Some(st) if e.tsMicros - st.last > gapMicros =>
                  closed += SessionOut(userId, st.start, st.last, st.n, st.total)
                  cur = Some(SessionState(e.tsMicros, e.tsMicros, 1, e.value))
                case Some(st) =>
                  // min/max merge, not assignment: a LATE event (older than
                  // the stored bounds but inside the watermark delay) must
                  // never move `last` backward — that would make later gap
                  // checks measure from the wrong timestamp and break parity
                  // with the batch twin
                  cur = Some(SessionState(
                    math.min(st.start, e.tsMicros), math.max(st.last, e.tsMicros),
                    st.n + 1, st.total + e.value))
                case None =>
                  cur = Some(SessionState(e.tsMicros, e.tsMicros, 1, e.value))
              }
            }
            cur.foreach { st =>
              state.update(st)
              // timeout must stay ahead of the current watermark (late rows
              // can put last+gap behind it); the +1 ms floor keeps the call legal
              state.setTimeoutTimestamp(
                math.max(st.last / 1000 + gapMicros / 1000,
                  state.getCurrentWatermarkMs() + 1))
            }
            closed.iterator
          }
        })
  }

  final case class FunnelEvent(userId: Long, tsMicros: Long, eventType: String)
  final case class FunnelHit(userId: Long, step: Int, tsMicros: Long)
  final case class FunnelState(step: Int, lastT: Long)

  /** Funnel step sequence shared by the streaming state machine and the
    * batch `events_funnel_windowed` twin. */
  val FunnelSteps: IndexedSeq[String] =
    IndexedSeq("signup", "view", "click", "purchase")

  /** STREAMING conversion funnel — the online twin of the batch
    * `events_funnel_windowed` query: per user, a step-k event advances the
    * funnel iff it is the first event of the expected next type strictly
    * after the previous QUALIFYING step and within `windowUs` of it. Each
    * advance is emitted as it happens (the live conversion feed a
    * product-analytics dashboard consumes), so counts-by-step downstream
    * reproduce the batch funnel's n_signup..n_purchase exactly.
    *
    * State per key is two words (current step, its qualifying timestamp).
    * The DEFAULT (`stateTtl = None`) persists it for the stream's
    * lifetime: the batch twin counts ONE funnel journey per user — a user
    * whose window expired never re-enters — so expiring the state would
    * let the same user convert twice (measured: expiry doubled every step
    * count vs the batch twin). Two words per key over the bounded
    * per-entity domain is the `anomalyAlerts` state-size argument, the
    * cheapest state this engine carries.
    *
    * `stateTtlUs = Some(horizonUs)`: the OPS KNOB for an UNBOUNDED keyspace
    * (10⁹+ anonymous users where even two words per key is a real RocksDB
    * bill) — state expires via event-time timeout once the watermark
    * passes `last qualifying step + horizon`, with the documented semantic
    * divergence: an expired user who signs up again starts a SECOND
    * journey, so step counts become "journeys started ≥horizon apart" per
    * user, not one-per-user. Pick a horizon ≥ the funnel window so an
    * in-flight journey can't expire mid-window (the spec's TTL-on parity
    * case proves in-window journeys are unaffected).
    *
    * Within a micro-batch rows apply in event-time order; across batches
    * in arrival order — the same online-processing contract as
    * `anomalyAlerts`, with the batch query as the exact event-time replay
    * (parity spec feeds time-ordered batches and compares step counts). */
  def funnelSteps(events: Dataset[FunnelEvent],
      windowUs: Long = 3L * 86400L * 1000000L,
      delay: String = "10 minutes",
      stateTtlUs: Option[Long] = None): Dataset[FunnelHit] = {
    import events.sparkSession.implicits._
    val ttlUs = stateTtlUs
    val marked = events.toDF()
      .withColumn("eventTime", timestamp_micros(col("tsMicros")))
      .withWatermark("eventTime", delay)
      .as[(Long, Long, String, java.sql.Timestamp)]
    val timeoutConf =
      if (ttlUs.isDefined) GroupStateTimeout.EventTimeTimeout
      else GroupStateTimeout.NoTimeout
    marked
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, timeoutConf)(
        (userId: Long, rows: Iterator[(Long, Long, String, java.sql.Timestamp)],
            state: GroupState[FunnelState]) => {
          if (state.hasTimedOut) {
            // horizon passed with no qualifying advance: drop the journey
            state.remove()
            Iterator.empty
          } else {
            var st = state.getOption.getOrElse(FunnelState(0, 0L))
            val out = scala.collection.mutable.ArrayBuffer.empty[FunnelHit]
            rows.map(r => (r._2, r._3)).toSeq.sortBy(_._1).foreach { case (t, tpe) =>
              if (st.step < FunnelSteps.length && tpe == FunnelSteps(st.step) &&
                  (st.step == 0 ||
                    (t > st.lastT && t <= st.lastT + windowUs))) {
                st = FunnelState(st.step + 1, t)
                out += FunnelHit(userId, st.step, t)
              }
            }
            if (st.step == 0) {
              // never entered the funnel: the default state IS (0, 0) —
              // storing it per never-signing-up user would waste state
              if (state.exists) state.remove()
            } else {
              state.update(st)
              // event-time TTL anchored at the last QUALIFYING step; the
              // max() guard keeps the timestamp legal (never behind the
              // current watermark) when this batch processed late rows
              ttlUs.foreach { ttl =>
                state.setTimeoutTimestamp(math.max(
                  st.lastT / 1000L + ttl / 1000L,
                  state.getCurrentWatermarkMs() + 1L))
              }
            }
            out.iterator
          }
        })
  }

  final case class Scd2Event(userId: Long, eventId: Long, tsMicros: Long,
      eventType: String)
  final case class Scd2State(state: String, version: Long, validFrom: Long,
      nObs: Long)
  final case class Scd2Row(userId: Long, version: Long, state: String,
      validFrom: Long, validTo: Long, nObs: Long)

  /** STREAMING SCD TYPE-2 — the online twin of the batch `olap_scd2`
    * interval build: per entity, the current (state, version, valid_from,
    * n_obs) lives in group state; an observation of a DIFFERENT state
    * closes the open interval (emitted immediately with valid_to = the
    * new version's start — the live dimension-history feed a warehouse
    * merge consumes) and opens the next version. Same-state observations
    * just bump n_obs. The batch query is the exact event-time replay:
    * its closed intervals (valid_to ≠ -1) match this feed row-for-row;
    * the one OPEN interval per entity is the state itself, which Append
    * mode correctly never emits early.
    *
    * State is four words per entity and, like `funnelSteps`' default,
    * persists for the stream's lifetime — dimension history is per-entity
    * durable by definition (expiring it would fork version numbering on
    * the entity's next observation; the `stateTtlUs` pattern from
    * `funnelSteps` applies verbatim if an unbounded keyspace forces the
    * trade). Within a micro-batch rows apply in (event-time, event-id)
    * order; across batches in arrival order — the `anomalyAlerts` online
    * contract, with the batch query as the ordered replay. */
  def scd2Stream(events: Dataset[Scd2Event]): Dataset[Scd2Row] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.userId)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (userId: Long, rows: Iterator[Scd2Event],
            state: GroupState[Scd2State]) => {
          var cur = state.getOption
          val out = scala.collection.mutable.ArrayBuffer.empty[Scd2Row]
          rows.toSeq.sortBy(e => (e.tsMicros, e.eventId)).foreach { e =>
            cur match {
              case Some(st) if st.state == e.eventType =>
                cur = Some(st.copy(nObs = st.nObs + 1))
              case Some(st) =>
                out += Scd2Row(userId, st.version, st.state, st.validFrom,
                  e.tsMicros, st.nObs)
                cur = Some(Scd2State(e.eventType, st.version + 1, e.tsMicros, 1))
              case None =>
                cur = Some(Scd2State(e.eventType, 1L, e.tsMicros, 1))
            }
          }
          cur.foreach(state.update)
          out.iterator
        })
  }

  final case class GrowthHit(userId: Long, day: Long, state: String)

  /** STREAMING growth accounting — the online twin of the batch
    * `events_growth_accounting` query: per entity, ONE word of state (the
    * last active day); the first event of each new activity day emits the
    * user's lifecycle classification live (`new` on first sight,
    * `retained` within 7 days, `resurrected` after a longer silence) —
    * counts-by-(day, state) downstream reproduce the batch decomposition
    * exactly (parity spec). Same-day repeat events emit nothing and cost
    * nothing. One word per entity is the smallest state this engine
    * carries (half of `funnelSteps`' two); the `stateTtlUs` pattern
    * applies verbatim if an unbounded anonymous keyspace forces the
    * trade, with the documented divergence that an expired user re-enters
    * as `new`. Within a micro-batch rows apply in event-time order;
    * across batches in arrival order (the `anomalyAlerts` contract, the
    * batch query as the ordered replay). */
  def growthStream(events: Dataset[Event]): Dataset[GrowthHit] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.userId)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (userId: Long, rows: Iterator[Event], state: GroupState[Long]) => {
          var last = state.getOption.getOrElse(Long.MinValue)
          val out = scala.collection.mutable.ArrayBuffer.empty[GrowthHit]
          rows.map(_.tsMicros / 86400000000L).toSeq.sorted.foreach { day =>
            if (day > last) {
              val st =
                if (last == Long.MinValue) "new"
                else if (day - last <= 7) "retained"
                else "resurrected"
              out += GrowthHit(userId, day, st)
              last = day
            }
          }
          state.update(last)
          out.iterator
        })
  }

  final case class StatState(n: Long, s: Long, q: Long)
  final case class AnomalyAlert(userId: Long, tsMicros: Long, cents: Long, nPrior: Long)

  /** ONLINE anomaly alerts — the streaming twin of the batch
    * `events_anomaly` query, per key: an event is flagged when its value is
    * more than k sigma from the mean of that key's PRIOR events. The same
    * exact-integer policy as the batch side: values become cents, the
    * z-test is the cross-multiplied `(n·x−S)² > k²(n·Q−S²)` evaluated in
    * BigInt — no float mean/variance ever exists, so an alert decision is
    * bit-stable and the batch twin (`anomalyAlertsBatch`) reproduces it
    * row-for-row.
    *
    * State per key is three longs (count, Σcents, Σcents²) — constant
    * size, never a sample buffer; Σx² stays inside Long for ~1e9 events/key
    * at the corpus's cent magnitudes (the state would be lifted to two-word
    * arithmetic long before a single key sees more). "Prior" means events
    * already processed: within a micro-batch rows apply in event-time
    * order, across batches in arrival order — the standard online-scoring
    * semantics (an exact event-time replay would need full buffering; the
    * batch twin IS that replay, and the parity spec runs time-ordered
    * batches where both agree exactly). No timeout: the keyspace is the
    * bounded per-entity domain, and three longs per key is the cheapest
    * state this engine carries. */
  def anomalyAlerts(events: Dataset[Event], k: Long = 2, minPrior: Long = 10):
      Dataset[AnomalyAlert] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.userId)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (userId: Long, rows: Iterator[Event], state: GroupState[StatState]) => {
          var st = state.getOption.getOrElse(StatState(0L, 0L, 0L))
          val alerts = scala.collection.mutable.ArrayBuffer.empty[AnomalyAlert]
          rows.toSeq.sortBy(_.tsMicros).foreach { e =>
            val x = math.round(e.value * 100) // HALF_UP, = the batch round()
            if (st.n >= minPrior) {
              val (n, s, q, xb) = (BigInt(st.n), BigInt(st.s), BigInt(st.q), BigInt(x))
              val dev = n * xb - s
              if (dev * dev > k * k * (n * q - s * s))
                alerts += AnomalyAlert(userId, e.tsMicros, x, st.n)
            }
            st = StatState(st.n + 1, st.s + x, st.q + x * x)
          }
          state.update(st)
          alerts.iterator
        })
  }

  /** Batch replay of `anomalyAlerts` over (user_id, ts_micros, value) rows:
    * per-key prior-window stats via ROWS UNBOUNDED PRECEDING .. 1 PRECEDING,
    * the identical cross-multiplied integer test in DECIMAL(38). Exists so
    * the online operator has an oracle-grade twin (parity-proven in
    * StreamingSpec). */
  def anomalyAlertsBatch(events: DataFrame, k: Long = 2, minPrior: Long = 10):
      DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts_micros", "value")
      .rowsBetween(Window.unboundedPreceding, -1)
    val cents = round(col("value") * 100).cast("long")
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    events
      .withColumn("cents", cents)
      .withColumn("pn", count(lit(1)).over(w))
      .withColumn("ps", sum("cents").over(w))
      .withColumn("pq", sum(col("cents").cast("decimal(19,0)") * col("cents")).over(w))
      .filter(col("pn") >= minPrior)
      .withColumn("dev", dec(col("pn")) * col("cents") - col("ps"))
      .filter(col("dev") * col("dev") >
        lit(k * k) * (dec(col("pn")) * col("pq") - dec(col("ps")) * col("ps")))
      .select(col("user_id").as("userId"), col("ts_micros").as("tsMicros"),
        col("cents"), col("pn").as("nPrior"))
  }

  final case class DocEvent(source: String, nBytes: Long)
  final case class SourceStats(source: String, nDocs: Long, totBytes: Long)

  /** Spark 4 arbitrary-state operator (`transformWithState`): per-source
    * running ingest statistics with TTL-able ValueState — the
    * current-generation replacement for mapGroupsWithState (typed state
    * cells, per-state TTL, timers; RocksDB-backed). Demonstrates the
    * engine on the newest state API alongside the classic one above. */
  class SourceStatsProcessor(ttl: org.apache.spark.sql.streaming.TTLConfig)
      extends org.apache.spark.sql.streaming.StatefulProcessor[String, DocEvent, SourceStats] {
    @transient private var state: org.apache.spark.sql.streaming.ValueState[(Long, Long)] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      state = getHandle.getValueState(
        "stats",
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong),
        ttl)

    override def handleInputRows(key: String, rows: Iterator[DocEvent],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[SourceStats] = {
      var (n, b) = if (state.exists()) state.get() else (0L, 0L)
      rows.foreach { r => n += 1; b += r.nBytes }
      state.update((n, b))
      Iterator.single(SourceStats(key, n, b))
    }
  }

  /** Per-source running (docs, bytes) over a document-ingest stream;
    * emits the updated stats once per key per micro-batch (Update mode).
    * Requires the RocksDB state store provider (transformWithState's
    * backing store): set
    * `spark.sql.streaming.stateStore.providerClass` to
    * `...state.RocksDBStateStoreProvider`. */
  def sourceStats(docs: Dataset[DocEvent],
      ttl: org.apache.spark.sql.streaming.TTLConfig =
        org.apache.spark.sql.streaming.TTLConfig.NONE): Dataset[SourceStats] = {
    import docs.sparkSession.implicits._
    docs.groupByKey(_.source)
      .transformWithState(new SourceStatsProcessor(ttl),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  /** Streaming exact dedup, watermark-bounded — the DEFAULT variant.
    * Drops records whose content hash was already seen within the watermark
    * horizon (training-data ingest dedup, the streaming counterpart of the
    * batch `dedup_exact` operator). State is the set of seen md5 keys,
    * EVICTED once older than the event-time watermark: at 100 TB of stream
    * an unbounded seen-set is a state-store OOM, so the bound is the
    * production semantics (a duplicate arriving after its original has aged
    * past the watermark is, by design, re-emitted). */
  def streamingDedup(docs: DataFrame, contentCol: String, eventTimeCol: String,
      delay: String = "10 minutes"): DataFrame =
    docs.withColumn("h", md5(col(contentCol).cast("binary")))
      .withWatermark(eventTimeCol, delay)
      .dropDuplicatesWithinWatermark("h")

  /** Unbounded-state variant (exact global dedup). Only for bounded inputs
    * or keyspaces that fit in the state store — not the 100 TB default. */
  def streamingDedupUnbounded(docs: DataFrame, contentCol: String): DataFrame =
    docs.withColumn("h", md5(col(contentCol).cast("binary")))
      .dropDuplicates("h")

  /** End-to-end streaming DOCUMENT INGEST — the streaming shape of the
    * batch training-data pipeline: cheap stateless quality gate FIRST
    * (length + alphabetic-ratio, so junk never reaches the state store),
    * then exact dedup bounded by a 10-minute watermark, then the
    * enrichment columns the batch operators key on (token count, content
    * hash). Pure `DataFrame => DataFrame`: the same plan runs in batch or
    * behind a Kafka source/sink. Input needs (`text`, event-time `ts`). */
  def documentIngest(docs: DataFrame): DataFrame =
    qualityGate(docs)
      .transform(streamingDedup(_, "text", "ts"))
      .withColumn("n_tokens", tokenCount)

  private def tokenCount: Column = size(split(col("text"), " "))

  /** The stateless quality gate: at least 5 space-split tokens and at
    * least half the characters alphabetic. */
  private def qualityGate(docs: DataFrame): DataFrame =
    docs.filter(tokenCount >= 5 &&
      length(regexp_replace(col("text"), "[^a-zA-Z]", "")) * 1.0 >=
        length(col("text")) * 0.5)

  /** STREAMING DECONTAMINATION GATE: drop incoming train documents that
    * share an 8-token shingle with the (static) eval benchmark set — the
    * arrival-time twin of the batch `decontam_ngram` check, so contaminated
    * crawl pages never even land in the corpus.
    *
    * The eval set is compiled ONCE, on the driver, into the sorted distinct
    * keys of its shingles ([[contaminationKeys]]) and broadcast once: 8
    * bytes per distinct eval key on the driver and in the broadcast (4.2 KB
    * for 520 keys). Each micro-batch then runs one code-generating probe
    * per doc ([[graft.functions.ShingleKeyProbe]]) in the map stage — no
    * stream-static join, no state store, no per-batch scan of the eval
    * table. The gate is exact, like `decontam_ngram`: a doc is dropped only
    * if one of its window keys is an eval key. A doc with a null text or
    * under 8 tokens has no shingle and is kept. */
  def contaminationGate(docs: DataFrame, evalTexts: DataFrame): DataFrame = {
    val keys = docs.sparkSession.sparkContext.broadcast(contaminationKeys(evalTexts))
    docs.filter(!graft.functions.ShingleHashes.contains_shingle(col("text"), keys))
  }

  /** The eval set's shingle keys, built on the driver: the `text` column is
    * collected and every window key of [[graft.functions.ShingleHashes]] is
    * kept once, in ascending order. Over a local eval frame this starts no
    * Spark job. The collect holds the eval texts on the driver once:
    * benchmark suites are tiny relative to a web-scale train corpus, so
    * this is the MODEL, not the corpus — the same bound as
    * [[freezeBandIndex]]. */
  def contaminationKeys(evalTexts: DataFrame): Array[Long] =
    evalTexts.select("text").collect().flatMap { r =>
      if (r.isNullAt(0)) Array.emptyLongArray
      else graft.functions.ShingleHashes.windowHashes(
        org.apache.spark.unsafe.types.UTF8String.fromString(r.getString(0)))
    }.distinct.sorted

  /** Per-document MinHash band keys as a COLUMN — the ONE streaming-side
    * definition of the dedup family's signature/band chain (word-trigram
    * shingle md5s → 8 disjoint 4-hex signature windows → 4 band digests),
    * shared by [[freezeBandIndex]] and [[minhashGate]] so the two sides of
    * the gate cannot fork. Emits `"b:md5hex"` keys; docs with fewer than 3
    * tokens have no shingles and yield an empty array (they cannot match
    * anything). StreamingSpec proves the chain produces the exact batch
    * candidate (output-row) population of `decontam_minhash` — any band
    * hit, i.e. every doc that query emits a row for (n_windows >= 2), NOT
    * only its flagged >= 6/8 subset; the gate is deliberately conservative
    * in that direction (see [[minhashGate]]'s any-band-hit semantics). */
  private def bandKeys(text: Column): Column =
    overBands(text, array().cast("array<string>"))(bs => array(bs: _*))

  /** `onBands` over a doc's 4 band-key columns, or `short` for a doc with
    * no shingles: the guard keeps an empty signature from being indexed. */
  private def overBands(text: Column, short: Column)(onBands: Seq[Column] => Column): Column = {
    // native per-row window minima (one compiled loop per doc) instead of
    // 8 interpreted array_min(transform(...)) passes — bit-identical to
    // the lambda construction (MinhashSigsSpec) and to the batch chain
    val ms = graft.functions.MinhashSigs.minhash_sigs(
      graft.functions.ShingleMd5s.shingle_md5s(split(text, " "), 3), 8)
    val mh = (0 until 8).map(j => ms.getItem(j))
    val bands = (0 until 4).map(b =>
      concat(lit(s"$b:"), md5(concat(mh(2 * b), mh(2 * b + 1)))))
    when(size(ms) > 0, onBands(bands)).otherwise(short)
  }

  /** Freeze the eval benchmark set's MinHash band index into the Set the
    * streaming gate tests membership in. Benchmark suites are tiny relative
    * to a web-scale train corpus — this collect is the MODEL (4 keys per
    * eval doc), not the corpus, the same justification as [[freezeDsir]]. */
  def freezeBandIndex(evalTexts: DataFrame): Set[String] =
    evalTexts.select(explode(bandKeys(col("text"))).as("k"))
      .distinct().collect().map(_.getString(0)).toSet

  /** STREAMING FUZZY DECONTAMINATION GATE — the arrival-time twin of the
    * batch `decontam_minhash` check: drop incoming train documents that
    * share a MinHash LSH band with ANY frozen eval document — the
    * near-duplicate leak the exact-shingle [[contaminationGate]] misses
    * when the benchmark copy was paraphrased, re-tokenized or truncated.
    * The frozen band index rides the plan as one set literal (kilobytes per
    * thousand eval docs; Catalyst turns the `isin` into a hash-set `InSet`)
    * and each micro-batch runs a stateless, code-generated filter over the
    * doc's 4 band keys — no UDF, no stream-static join, no state store, no
    * shuffle. A band hit only MIGHT be true contamination (LSH candidate
    * probability), so, unlike the exact-shingle gate, it is conservative
    * in the safe direction: it can drop an extra clean doc, never keep a
    * near-dup of the benchmark. Input needs a `text` column. */
  def minhashGate(docs: DataFrame, bandIndex: Set[String]): DataFrame = {
    val keys = bandIndex.toSeq
    docs.filter(!overBands(col("text"), lit(false))(
      _.map(_.isin(keys: _*)).reduce(_ || _)))
  }

  /** STREAMING CURATION COMPOSITION (pre-budget stages) — the arrival-time
    * twin of the batch `corpus_curation_e2e` chain, composed from the SAME
    * streaming pieces the batch stages twin individually, in this order:
    *
    *   1. quality gate (the stateless filter of [[documentIngest]]);
    *   2. decontamination ([[contaminationGate]] — the static eval set's
    *      sorted shingle keys, broadcast at 8 B per key, one native probe
    *      per doc);
    *   3. content hash `h`, a 10-minute watermark and
    *      `dropDuplicatesWithinWatermark` ([[streamingDedup]]);
    *   4. `n_tokens`.
    *
    * Both gates run in the map stage, below the dedup's shuffle, so junk
    * and contaminated docs are never shuffled and never enter the state
    * store. The output is the dedup-then-decontaminate order's: the
    * gate's verdict depends on `text` alone and the dedup key is
    * `md5(text)`, so every copy of a text gets the same verdict; a
    * contaminated text is dropped whether or not it was seen, and a clean
    * text meets the same keys in state it met before. One edge differs:
    * the watermark advances only on docs that pass both gates, so in a
    * batch whose latest event time belongs to a contaminated doc it
    * advances less (state is evicted later, fewer late rows are dropped).
    * Output columns: the input's, then `h`, then `n_tokens`.
    *
    * Pure `DataFrame => DataFrame`: these stages run inside the streaming
    * plan itself. The token-budget stage needs cross-batch state and lives
    * in [[curationSink]]'s foreachBatch. Input needs (doc_id, text, ts). */
  def curationStream(docs: DataFrame, evalTexts: DataFrame): DataFrame =
    contaminationGate(qualityGate(docs), evalTexts)
      .transform(streamingDedup(_, "text", "ts"))
      .withColumn("n_tokens", tokenCount)

  /** Freeze a trained DSIR λ table ([[graft.operators.Sampling.dsirLambda]],
    * `(b, lam)` with b ∈ [0, [[graft.operators.Sampling.DsirBuckets]])) into
    * the dense array the streaming gate embeds. Buckets the training corpus
    * never produced score `default` (0.0 = neutral; pass the add-1-smoothed
    * unseen-bucket estimate `ln(rtot+B) − ln(ttot+B)` for strict Xie-et-al
    * semantics on out-of-vocabulary text). ≤ B rows by construction — this
    * collect is the MODEL, not the corpus. */
  def freezeDsir(lambda: DataFrame, default: Double = 0.0): Array[Double] = {
    val lam = Array.fill(graft.operators.Sampling.DsirBuckets)(default)
    lambda.select(col("b").cast("int"), col("lam").cast("double"))
      .collect().foreach(r => lam(r.getInt(0)) = r.getDouble(1))
    lam
  }

  /** STREAMING DSIR DOMAIN GATE — the arrival-time twin of the batch
    * `corpus_dsir_weights` scorer: score each incoming document's log
    * importance ratio toward the target domain using a FROZEN λ table
    * trained offline, and keep only docs with `logw ≥ minLogw` (pass
    * `-∞`/`Double.MinValue` to score without gating). This is how DSIR
    * deploys at 100 TB: train the 2·B-counter model once on a sample,
    * freeze it, and steer the firehose statelessly at ingest.
    *
    * Scale shape: the λ array rides into the plan as a B-element LITERAL
    * (kilobytes — the plan itself is the broadcast), and scoring is pure
    * codegen — tokenize once, build uni+bigrams with `transform`, sum
    * `element_at(λ, bucket+1)` with the `aggregate` higher-order function.
    * No UDF, no state store, no shuffle, no stream-static join: each doc
    * is scored and gated in the map stage it arrived in. The feature
    * definition (split, bigram windows, md5 hex bucketing mod B) is
    * textually the batch chain's, and StreamingSpec proves the streamed
    * (doc_id, n_feats, logw) matches `corpus_dsir_weights` row-for-row on
    * a λ trained from the same corpus. Input needs a `text` column. */
  def dsirGate(docs: DataFrame, lam: Array[Double],
      minLogw: Double = Double.MinValue): DataFrame = {
    require(lam.length == graft.operators.Sampling.DsirBuckets,
      s"λ table must have exactly ${graft.operators.Sampling.DsirBuckets} buckets, got ${lam.length}")
    val lamLit = typedLit(lam.toSeq)
    val bucketOf: Column => Column = g =>
      conv(substring(md5(g.cast("string")), 1, 4), 16, 10).cast("int")
        .%(graft.operators.Sampling.DsirBuckets)
    docs.withColumn("__t", split(col("text"), " "))
      // 1-token docs: sequence(0, -1) infers step -1 (descending), so the
      // bigram arm must be explicitly emptied — same guard as the batch side
      .withColumn("__g", concat(col("__t"), expr(
        """if(size(__t) >= 2,
          |   transform(sequence(0, size(__t) - 2),
          |             i -> concat_ws(' ', __t[i], __t[i + 1])),
          |   array())""".stripMargin)))
      .withColumn("n_feats", size(col("__g")).cast("long"))
      .withColumn("logw", round(aggregate(col("__g"), lit(0.0d),
        (acc, g) => acc + element_at(lamLit, bucketOf(g) + 1)), 4))
      .drop("__t", "__g")
      .filter(col("logw") >= minLogw)
  }

  /** The label of the codebook centroid nearest to `embedding`: native
    * `squared_distance` to each centroid, then the first minimum, which
    * reproduces the batch `min(struct(dist, label))` label tie-break. A
    * null embedding, or a centroid of another dimension, has a null
    * distance, which `array_min` skips. With no candidate the cell is
    * null: `element_at` over a null-free literal array would read the
    * null index as a non-null default. */
  private def nearestCell(labels: Array[Int], cents: Array[Array[Double]]): Column = {
    require(labels.length == cents.length && labels.nonEmpty,
      "codebook labels and centroids must align")
    val dists = transform(typedLit(cents.map(_.toSeq).toSeq),
      c => graft.functions.SquaredDistance.squared_distance(col("embedding"), c))
    val pos = array_position(dists, array_min(dists)).cast("int")
    when(pos.isNotNull, element_at(typedLit(labels.toSeq), pos))
  }

  /** STREAMING EMBEDDING NEAR-DUP GATE — the arrival-time twin of
    * SemDeDup's eviction rule: an incoming vector is dropped when the
    * FROZEN corpus index already holds a vector in its IVF cell at cosine
    * ≥ the near-dup threshold; survivors flow through with their assigned
    * cell. This is how semantic dedup deploys at 100 TB: the corpus index
    * ([[graft.operators.Similarity.ivfIndex]]) is materialized once,
    * cell-partitioned; the codebook rides into the streaming plan as a
    * k×64 LITERAL (kilobytes); each micro-batch is one stream-static
    * LEFT ANTI equi-join on the cell key.
    *
    * Determinism parity: cells come from [[nearestCell]] over the SAME
    * 4-dp-rounded centroids as the batch `sim_ivf_assign` — StreamingSpec
    * proves streamed survivors equal the batch-computed verdict set on a
    * disjoint even/odd corpus split. Input needs (vec_id, embedding);
    * `index` needs (cell, embedding, nrm). */
  def annGate(incoming: DataFrame, index: DataFrame,
      labels: Array[Int], cents: Array[Array[Double]],
      thr: Double = graft.operators.Similarity.CosineNearDupThreshold)
      : DataFrame = {
    val inc = incoming
      .withColumn("cell", nearestCell(labels, cents))
      .withColumn("nrm", sqrt(graft.functions.DotProduct
        .dot_product(col("embedding"), col("embedding"))))
    val idx = index.select(col("cell").as("__icell"),
      col("embedding").as("__ie"), col("nrm").as("__inrm"))
    inc.join(idx,
      col("cell") === col("__icell") &&
        graft.functions.DotProduct.dot_product(col("embedding"), col("__ie"))
          / (col("nrm") * col("__inrm")) >= thr,
      "left_anti")
  }

  /** One micro-batch of the STREAMING ANN SERVING path — the query-side twin of
    * [[annGate]]'s ingest side: a batch of query vectors is assigned to cells
    * by [[nearestCell]], then joined against the frozen cell-partitioned corpus
    * index so each index vector is scored only against the queries probing its
    * cell — the `sim_ivf_batch_topk` economics, per micro-batch. Cosines use
    * the index's precomputed norms and the shared native dot-product fold, and
    * round 4 dp exactly like the batch query; per-query top-k is a window over
    * the bounded probed-cell candidates. StreamingSpec proves the streamed
    * results row-identical to `sim_ivf_batch_topk` on the same query/corpus
    * split. Input needs (vec_id, embedding); `index` needs (cell, vec_id,
    * embedding, nrm). */
  def annServeBatch(queryBatch: DataFrame, index: DataFrame,
      labels: Array[Int], cents: Array[Array[Double]], k: Int = 3)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val qs = queryBatch
      .withColumn("cell", nearestCell(labels, cents))
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("cell"))
    val qn = sqrt(graft.functions.DotProduct.dot_product(col("qv"), col("qv")))
    index
      .select(col("cell"), col("vec_id"), col("embedding").as("__ie"),
        col("nrm").as("__inrm"))
      .join(broadcast(qs), "cell")
      .select(col("query_id"), col("vec_id"),
        round(graft.functions.DotProduct.dot_product(col("__ie"), col("qv"))
          / (col("__inrm") * qn), 4).as("cos"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cos").desc, col("vec_id")))
        .cast("long"))
      .filter(col("rnk") <= k)
      .select("query_id", "vec_id", "rnk", "cos")
  }

  /** The streaming wrapper: query stream → [[annServeBatch]] per
    * micro-batch → `onBatch` (the service's reply path). The index and
    * codebook are FROZEN — the 100 TB serving shape where the corpus scan
    * amortizes across each query batch and the model rides broadcast. */
  def annServe(queries: DataFrame, index: DataFrame,
      labels: Array[Int], cents: Array[Array[Double]], k: Int = 3)
      (onBatch: DataFrame => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    queries.writeStream.outputMode("append")
      .foreachBatch((batch: DataFrame, _: Long) =>
        onBatch(annServeBatch(batch, index, labels, cents, k)))

  /** One [[curationSink]] ledger entry: the running token total before
    * the batch and the batch's own total. */
  final case class Ledger(base: Long, total: Long)

  /** The budget + emit stage of the streaming curation job: a foreachBatch
    * sink that keeps the greedy running token total across micro-batches
    * and emits each batch's selected docs (cum_tokens ≤ budget, the batch
    * pipeline's selection rule) to `onBatch`.
    *
    * Semantics: greedy in ARRIVAL order — within a batch docs are ordered
    * by doc_id (ascending, nulls first) and the running total is exact
    * longs with a null `n_tokens` counting 0: the arithmetic of the batch
    * e2e's [[graft.operators.Sampling.docOrderedCumsum]] over the same
    * order, without its corpus-scale bucket reduction, because a
    * micro-batch is bounded by the trigger. The cross-batch offset
    * advances by every gated survivor's tokens whether or not it fit (the
    * batch chain's cum-over-all-survivors semantics). When docs arrive in
    * doc_id order the streamed selection is therefore IDENTICAL to the
    * batch chain's — StreamingSpec proves it.
    *
    * Cost: ONE Spark job per trigger. The gated micro-batch is collected
    * once; the sort, the prefix sum, the batch total (the last prefix) and
    * the selection all run on the driver, and `onBatch` receives a local
    * frame (the batch's columns plus `cum_tokens`) whose collect runs no
    * job. Memory: one trigger's gated rows sit on the driver — the same
    * kind of bound as a single task holding the whole micro-batch. The
    * source's per-trigger cap (Kafka's `maxOffsetsPerTrigger` in
    * production) bounds it.
    *
    * Recovery: with `stateDir` set, the running total is CRASH-RECOVERABLE
    * and batch-replay-IDEMPOTENT via a per-batch [[Ledger]] kept in Spark's
    * own metadata log (`HDFSMetadataLog` over `stateDir`, the class of the
    * query's offset and commit logs, writing through the session's
    * checkpoint-file manager). Before a batch is emitted its (base, total)
    * is added under the batch id; the add publishes atomically and never
    * overwrites. A restarted query seeds the counter from the latest entry
    * (base + total: totals are non-negative, so the newest batch holds the
    * largest running total), and a REPLAYED batch (crash between emit and
    * checkpoint commit) finds its entry already there, reads its recorded
    * base back and recomputes the identical selection instead of
    * double-counting. One tiny file per micro-batch: a long-running
    * deployment purges old entries the way it expires checkpoint files.
    * `stateDir = None` keeps the in-memory counter (tests, bounded
    * replays). */
  def curationSink(gated: DataFrame, budget: Long,
      stateDir: Option[String] = None)(
      onBatch: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    import org.apache.spark.sql.Row
    val log = stateDir.map(new HDFSMetadataLog[Ledger](gated.sparkSession, _))
    val seed = log.flatMap(_.getLatest()).fold(0L) { case (_, l) => l.base + l.total }
    val idType = gated.schema("doc_id").dataType
    require(Seq(LongType, IntegerType, ShortType, ByteType).contains(idType),
      s"curationSink orders by doc_id as a long; got doc_id: $idType")
    val spent = new java.util.concurrent.atomic.AtomicLong(seed)
    gated.writeStream.outputMode("append").foreachBatch {
      (rawBatch: DataFrame, id: Long) =>
        val schema = rawBatch.schema
        val idIdx = schema.fieldIndex("doc_id")
        val ntIdx = schema.fieldIndex("n_tokens")
        // the trigger's only Spark job; the rest is driver-local
        val rows = rawBatch.collect().sortBy(r =>
          if (r.isNullAt(idIdx)) None else Some(r.getAs[Number](idIdx).longValue))
        var acc = 0L
        val cum = rows.map { r =>
          // a null n_tokens doc contributes 0 instead of killing the stream
          if (!r.isNullAt(ntIdx)) acc += r.getAs[Number](ntIdx).longValue
          acc
        }
        val total = acc
        // ledger BEFORE emit: a replayed batch finds its entry and reuses
        // the recorded base, so the re-emitted selection is identical
        val base = log match {
          case Some(l) if !l.add(id, Ledger(spent.get(), total)) => l.get(id).get.base
          case _ => spent.get()
        }
        val sel = rows.zip(cum).collect { case (r, c) if base + c <= budget =>
          Row.fromSeq(r.toSeq :+ (base + c)) }
        onBatch(rawBatch.sparkSession.createDataFrame(
          java.util.Arrays.asList(sel: _*),
          schema.add("cum_tokens", LongType, nullable = false)), id)
        spent.set(base + total)
    }
  }

  /** STREAMING EMBEDDING ROUTER — the ingest path of a vector index: each
    * arriving embedding is assigned to its nearest codebook cell, so a
    * downstream `partitionBy("cell")` sink co-locates every cell's vectors
    * and the batch IVF probe (`sim_ivf_topk`) can prune to one shard.
    *
    * Streaming shape: the codebook is tiny (k rows) and rides the plan as
    * a LITERAL; the argmin is [[nearestCell]], a STATELESS narrow map (no
    * stream-static join, no state store). Sorted by cell id and widened to
    * double (exact), the codebook gives the batch argmin bit for bit
    * (parity-proven in StreamingSpec). A null embedding or a dimension
    * that matches no codebook entry routes to cell NULL. */
  def embeddingRouter(embs: DataFrame,
      codebook: Seq[(Int, Array[Float])]): DataFrame = {
    val sorted = codebook.sortBy(_._1).toArray
    embs.withColumn("cell",
      nearestCell(sorted.map(_._1), sorted.map(_._2.map(_.toDouble))))
  }

  /** Production Kafka wiring (S1/S2 sources, K1/K2 sinks;
    * ml_k_to_ss.py:63, dl_k_to_ss.py:429). The transforms above are pure
    * `DataFrame => DataFrame`, so production is exactly: kafka source →
    * transform → kafka sink + checkpoint. The connector jar
    * (spark-sql-kafka-0-10) is a runtime dependency of the CLUSTER, not of
    * this library — these builders compile and construct the full wiring;
    * `start()` requires the jar on the executor classpath. */
  final case class KafkaConfig(
      bootstrapServers: String,
      inputTopic: String,
      outputTopic: String,
      checkpointLocation: String,
      startingOffsets: String = "latest")

  /** S1: Kafka text source — value bytes decoded to UTF-8 string. */
  def kafkaTextSource(spark: SparkSession, cfg: KafkaConfig): DataFrame =
    spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", cfg.bootstrapServers)
      .option("subscribe", cfg.inputTopic)
      .option("startingOffsets", cfg.startingOffsets)
      .load()
      .select(col("value").cast("string").as("value"))

  /** S2: Kafka binary source — raw value bytes (image payloads). */
  def kafkaBinarySource(spark: SparkSession, cfg: KafkaConfig): DataFrame =
    spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", cfg.bootstrapServers)
      .option("subscribe", cfg.inputTopic)
      .option("startingOffsets", cfg.startingOffsets)
      .load()
      .select(col("value"))

  /** K1/K2: Kafka sink for any transform output with a `value` column —
    * ready to `.start()`: topic, servers and checkpoint all set. */
  def kafkaSink(out: DataFrame, cfg: KafkaConfig)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    out.select(col("value").cast("string").as("value"))
      .writeStream
      .format("kafka")
      .option("kafka.bootstrap.servers", cfg.bootstrapServers)
      .option("topic", cfg.outputTopic)
      .option("checkpointLocation", cfg.checkpointLocation)
      .outputMode(OutputMode.Append)

  /** End-to-end production job: ml_input topic → quarter prediction →
    * ml_output topic (ml_k_to_ss.py:63-70, checkpointed exactly-once). */
  def quarterPredictionKafkaJob(spark: SparkSession, model: PipelineModel,
      cfg: KafkaConfig)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    kafkaSink(quarterPrediction(model)(kafkaTextSource(spark, cfg)), cfg)

  /** End-to-end production job: dl_input topic → player identification →
    * dl_output topic (dl_k_to_ss.py:429-447). */
  def playerIdentificationKafkaJob(spark: SparkSession, stats: DataFrame,
      cfg: KafkaConfig, pid: PlayerIdent.Config = PlayerIdent.Config())
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    kafkaSink(playerIdentification(stats, pid)(kafkaBinarySource(spark, cfg)), cfg)

  /** One micro-batch written idempotently: the batch lands in its own
    * `batch_id=` partition with DYNAMIC partition overwrite, so replaying
    * a batch after a crash overwrites exactly its own partition — no
    * duplicates, no clobbering of other batches. This is the standard
    * exactly-once recipe for non-transactional sinks (plain parquet/object
    * stores): checkpoint gives at-least-once replay, idempotent writes
    * upgrade it to effective exactly-once. */
  def writeBatchIdempotent(df: DataFrame, batchId: Long, path: String): Unit =
    df.withColumn("batch_id", lit(batchId))
      .write
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(path)

  /** foreachBatch parquet sink wired for exactly-once (checkpoint +
    * idempotent per-batch overwrite). Ready to `.start()`. */
  def idempotentParquetSink(out: DataFrame, path: String, checkpointLocation: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    out.writeStream
      .option("checkpointLocation", checkpointLocation)
      .foreachBatch((batch: DataFrame, batchId: Long) =>
        writeBatchIdempotent(batch, batchId, path))

  /** Run any streaming transform to completion over a bounded source using
    * the memory sink; returns the collected result. Test/demo harness —
    * production uses writeStream.format("kafka") + checkpointLocation.
    * Aggregations under watermark need Complete/Update to observe
    * still-open windows; stateless transforms use Append. */
  def runToMemory(spark: SparkSession, out: DataFrame, name: String,
      mode: OutputMode = OutputMode.Append): DataFrame = {
    val q = out.writeStream
      .format("memory")
      .queryName(name)
      .outputMode(mode)
      .start()
    q.processAllAvailable()
    q.stop()
    spark.table(name)
  }
}
