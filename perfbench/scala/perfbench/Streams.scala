package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.locks.LockSupport

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Encoder, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener,
  StreamingQueryProgress, Trigger}

/** Output keys each micro-batch delivered, with the sink callback's span. */
final class SinkLog {
  final case class Entry(startNs: Long, endNs: Long, keys: Seq[String])
  val batches = new ConcurrentHashMap[Long, Entry]()

  /** Runs `deliver` as the sink callback of batch `id` and records it. */
  def record(id: Long)(deliver: => Seq[String]): Unit = {
    val t0 = System.nanoTime()
    val keys = deliver
    batches.put(id, Entry(t0, System.nanoTime(), keys))
  }
}

/** A streaming pipeline under test, fed from a `MemoryStream[T]`. */
trait StreamWorkload[T] {
  type State
  def name: String
  /** Events offered per second. */
  def rate: Int
  def encoder: Encoder[T]
  /** Pre-generated events, from the seed only. */
  def generate(seed: Long, n: Int): IndexedSeq[T]
  /** Work done once before any setup (offline training). */
  def prepare(work: String): Unit = ()
  /** Static state a setup builds: model, tables, broadcast index. */
  def setup(spark: SparkSession, seed: Long, work: String): State
  /** Starts the pipeline on `mem` with a 1 s trigger, delivering into `log`. */
  def start(spark: SparkSession, st: State, mem: MemoryStream[T],
      log: SinkLog, trigger: Trigger): StreamingQuery
  /** The output keys each event must produce, from a batch-mode reference. */
  def expected(spark: SparkSession, st: State, events: IndexedSeq[T]): IndexedSeq[Seq[String]]
  /** Per-layer timings of the workload's modules, from driver-side calls. */
  def traceModules(spark: SparkSession, st: State, events: IndexedSeq[T], m: Metrics): Unit = ()
}

/** Collects the progress of every query through the public listener. */
final class ProgressTrace extends StreamingQueryListener {
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    progress.add(e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}

object Streams {
  val TriggerMs = 1000L
  /** The generator offers one block per tick, 5 per trigger, whatever the
    * rate: each block becomes a partition, so a rate-dependent cadence
    * would measure the source instead of the pipeline. Ticks sit at
    * x.1, x.3, x.5, x.7 and x.9 s, between the epoch-aligned triggers. */
  val TickMs = 200L
  val TickPhaseMs = 100L
  val WarmupS = 2
  val DrainS = 30

  final case class Ready[S](spark: SparkSession, st: S,
      mem: MemoryStream[_], q: StreamingQuery, log: SinkLog)

  /** What one fed-and-drained query shows. */
  final case class Phase(
      warmLatMs: IndexedSeq[Double],
      attempted: Long,
      failed: Long,
      progress: Seq[StreamingQueryProgress],
      log: SinkLog,
      lateMsMax: Double,
      sweepS: Double,
      measureS: Int,
      heapMb: Double) {
    private def dataBatches = progress.filter(_.numInputRows > 0).sortBy(_.batchId)
    /** Data batches after the first, which carries codegen. */
    def warmBatches: Seq[StreamingQueryProgress] = dataBatches.drop(1)
  }

  def dur(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

  private def endOffset(p: StreamingQueryProgress): Long =
    Option(p.sources).filter(_.nonEmpty).flatMap(s => Option(s(0).endOffset))
      .map(_.trim.stripPrefix("\"").stripSuffix("\"").toLong).getOrElse(-1L)

  /** Feeds `events` block by block on the fixed tick, drains, stops the
    * query and checks every batch's output against `exp`, the reference
    * output of each event. */
  def feed[T](r: Ready[_], events: IndexedSeq[T], perBlock: Int,
      exp: IndexedSeq[Seq[String]], measureS: Int,
      drainS: Int = DrainS, heap: Boolean = false): Phase = {
    val mem = r.mem.asInstanceOf[MemoryStream[T]]
    val nBlocks = events.size / perBlock
    val tickNs = TickMs * 1000000L
    val now = System.currentTimeMillis()
    val t0Epoch = (now / TriggerMs + 1) * TriggerMs + TickPhaseMs
    val base = System.nanoTime() + (t0Epoch - System.currentTimeMillis()) * 1000000L
    var lateMax = 0L
    var b = 0
    while (b < nBlocks) {
      val target = base + b * tickNs
      var wait = target - System.nanoTime()
      while (wait > 0) { LockSupport.parkNanos(wait); wait = target - System.nanoTime() }
      mem.addData(events.slice(b * perBlock, (b + 1) * perBlock): _*)
      lateMax = math.max(lateMax, System.nanoTime() - target)
      b += 1
    }
    val deadline = System.nanoTime() + drainS * 1000000000L
    def covered = r.q.recentProgress.map(endOffset).foldLeft(-1L)(math.max)
    while (covered < nBlocks - 1 && System.nanoTime() < deadline && r.q.isActive)
      Thread.sleep(20)
    val progress = r.q.recentProgress.toSeq
    val heapMb = if (heap) Env.heapLiveMb() else 0.0
    r.q.stop()
    Env.mark("drained")
    System.err.println(s"[perfbench] triggers (id:rows:ms) " + progress.filter(_.numInputRows > 0)
      .map(p => s"${p.batchId}:${p.numInputRows}:${dur(p, "triggerExecution").toLong}").mkString(" "))

    // batch -> the blocks it consumed, from each batch's end offset
    val ends = progress.filter(p => p.numInputRows > 0 && endOffset(p) >= 0)
      .map(p => p.batchId -> endOffset(p)).sortBy(_._1)
    val blockBatch = new Array[Long](nBlocks).map(_ => -1L)
    var prev = -1L
    ends.foreach { case (id, end) =>
      var k = prev + 1
      while (k <= math.min(end, nBlocks - 1L)) { blockBatch(k.toInt) = id; k += 1 }
      prev = math.max(prev, end)
    }
    val okBatch = ends.map(_._1).map { id =>
      val blocks = blockBatch.indices.filter(blockBatch(_) == id)
      val want = blocks.flatMap(k => (k * perBlock until (k + 1) * perBlock).flatMap(exp))
      val got = Option(r.log.batches.get(id)).map(_.keys)
      id -> got.exists(g => g.sorted == want.sorted)
    }.toMap
    val lat = scala.collection.mutable.ArrayBuffer[Double]()
    var failed = 0L
    var lastEnd = base
    (0 until nBlocks).foreach { k =>
      val id = blockBatch(k)
      val ok = id >= 0 && okBatch.getOrElse(id, false)
      if (!ok) failed += perBlock
      else {
        val end = r.log.batches.get(id).endNs
        lastEnd = math.max(lastEnd, end)
        if (k * TickMs >= WarmupS * 1000L) {
          val l = Stat.ms(end - (base + k * tickNs))
          (0 until perBlock).foreach(_ => lat += l)
        }
      }
    }
    Phase(lat.toIndexedSeq, nBlocks.toLong * perBlock, failed, progress, r.log,
      Stat.ms(lateMax), Stat.s(lastEnd - base), measureS, heapMb)
  }

  /** The end-to-end metrics of one phase. */
  def endToEnd(ph: Phase, m: Metrics): Unit = {
    m.put("latency_p50_ms", Stat.pct(ph.warmLatMs, 0.5), "ms")
    m.put("latency_p99_ms", Stat.pct(ph.warmLatMs, 0.99), "ms")
    m.put("sweep_s", ph.sweepS, "s")
  }

  /** Per-layer metrics of the micro-batch engine over one traced phase. */
  def engineLayers(ph: Phase, m: Metrics, perBlock: Int): Unit = {
    val w = ph.warmBatches
    def p50(k: String) = Stat.median(w.map(dur(_, k)))
    m.put("jobs.trigger_ms_p50", p50("triggerExecution"), "ms")
    m.put("jobs.trigger_ms_p80", Stat.pct(w.map(dur(_, "triggerExecution")), 0.8), "ms")
    m.put("jobs.add_batch_ms_p50", p50("addBatch"), "ms")
    m.put("jobs.query_planning_ms_p50", p50("queryPlanning"), "ms")
    m.put("jobs.wal_commit_ms_p50", p50("walCommit"), "ms")
    m.put("jobs.commit_offsets_ms_p50", p50("commitOffsets"), "ms")
    m.put("jobs.get_batch_ms_p50", p50("getBatch"), "ms")
    val waits = w.map { p =>
      (java.time.Instant.parse(p.timestamp).toEpochMilli % TriggerMs).toDouble
    }
    m.put("jobs.trigger_wait_ms_p50", Stat.median(waits), "ms")
    m.put("jobs.busy_ratio",
      w.map(dur(_, "triggerExecution")).sum / (ph.measureS * 1000.0), "ratio")
    m.put("jobs.rows_per_trigger_p50", Stat.median(w.map(_.numInputRows.toDouble)), "rows")
    val sinkMs = w.flatMap(p => Option(ph.log.batches.get(p.batchId)))
      .map(e => Stat.ms(e.endNs - e.startNs))
    m.put("jobs.sink_ms_p50", Stat.median(sinkMs), "ms")
    val last = ph.progress.sortBy(_.batchId).lastOption.toSeq
      .flatMap(p => Option(p.stateOperators).toSeq.flatten)
    m.put("jobs.state_rows", last.map(_.numRowsTotal).sum.toDouble, "rows")
    m.put("jobs.state_memory_mb", last.map(_.memoryUsedBytes).sum / 1048576.0, "MB")
    m.put("jobs.state_commit_ms_p50", Stat.median(w.map(p =>
      Option(p.stateOperators).toSeq.flatten.map(_.commitTimeMs).sum.toDouble)), "ms")
    m.put("gen.late_ms_max", ph.lateMsMax, "ms")
    m.put("gen.blocks_per_trigger", Stat.median(w.map(_.numInputRows.toDouble / perBlock)), "blocks")
    m.put("gen.offered_rows", ph.attempted.toDouble, "rows")
  }

  def run[T](w: StreamWorkload[T], seed: Long, seconds: Int, trace: Boolean,
      work: String, setups: Int): Outcome = {
    val perBlock = (w.rate * TickMs / 1000).toInt
    val nBlocks = ((WarmupS + seconds) * 1000 / TickMs).toInt
    val events = w.generate(seed, nBlocks * perBlock)
    w.prepare(work)
    Env.mark("inputs ready")
    def query(spark: SparkSession, st: w.State, trigger: Trigger): Ready[w.State] = {
      val mem = MemoryStream[T](w.encoder, spark)
      val log = new SinkLog
      Ready(spark, st, mem, w.start(spark, st, mem, log, trigger), log)
    }
    def ready(cores: Int): Ready[w.State] = {
      val spark = graft.core.Tables.localSession(s"perfbench-${w.name}", cores)
      query(spark, w.setup(spark, seed, work), Trigger.ProcessingTime(TriggerMs))
    }
    val (r, setupTimes) = Setup.repeat(setups)(() => ready(Env.cores)) { r =>
      r.q.stop(); Env.stop(r.spark)
    }
    r.q.stop()
    Env.mark("setups done: " + setupTimes.map(t => f"$t%.2f").mkString(" "))
    // a throwaway query over the warm-up events absorbs code generation and
    // JIT warm-up, which would otherwise back up the first measured triggers
    val p = query(r.spark, r.st, Trigger.ProcessingTime(0))
    val pm = p.mem.asInstanceOf[MemoryStream[T]]
    events.take(WarmupS * 1000 / TickMs.toInt * perBlock).grouped(perBlock)
      .foreach(b => pm.addData(b: _*))
    p.q.processAllAvailable()
    val primeFirstMs = p.q.recentProgress.find(_.numInputRows > 0)
      .map(dur(_, "triggerExecution")).getOrElse(0.0)
    p.q.stop()

    Env.mark("primed")
    // the reference outputs, computed before any listener is attached
    val exp = w.expected(r.spark, r.st, events)
    // a traced run is the same phase with every listener attached; the
    // difference from the untraced run of the same seed is the overhead
    val exec = new ExecTrace
    val prog = new ProgressTrace
    if (trace) {
      exec.attach(r.spark)
      r.spark.streams.addListener(prog)
    }
    val rq = query(r.spark, r.st, Trigger.ProcessingTime(TriggerMs))
    val a = feed(rq, events, perBlock, exp, seconds, heap = !trace)
    Env.mark("measured and checked")
    val e2e = new Metrics
    Streams.endToEnd(a, e2e)
    if (!trace) {
      e2e.put("setup_s", Stat.median(setupTimes), "s")
      e2e.put("heap_live_mb", a.heapMb, "MB")
      Env.stop(r.spark)
      return Outcome(a.attempted, a.failed, e2e)
    }

    exec.detach(r.spark)
    r.spark.streams.removeListener(prog)
    val m = new Metrics
    engineLayers(a.copy(progress = prog.progress.asScala.toSeq.filter(_.id == rq.q.id)),
      m, perBlock)
    m.put("jobs.first_trigger_ms", primeFirstMs, "ms")
    exec.report(m)
    for (k <- Seq("latency_p50_ms", "latency_p99_ms", "sweep_s"))
      m.put(s"trace.$k", e2e.get(k), if (k.endsWith("ms")) "ms" else "s")
    m.put("setup.first_s", setupTimes.head, "s")
    w.traceModules(r.spark, r.st, events, m)
    Env.stop(r.spark)

    // single-core baseline: a shorter phase at local[1]
    val one = ready(1)
    val oneS = math.max(2, seconds / 2)
    val oneN = ((WarmupS + oneS) * 1000 / TickMs).toInt * perBlock
    val c = feed(one, events.take(oneN), perBlock, exp.take(oneN), oneS, drainS = 90)
    m.put("jobs.busy_ratio_1core",
      c.warmBatches.map(dur(_, "triggerExecution")).sum / (oneS * 1000.0), "ratio")
    Env.stop(one.spark)
    Outcome(a.attempted + c.attempted, a.failed + c.failed, m)
  }
}
