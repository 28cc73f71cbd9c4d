package graft.dev

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.core.Tables
import graft.streaming.Jobs

/** STREAMING LATENCY BUDGET probe (round-9 VERDICT #7): the reference's
  * one hard performance fact is its 1-second micro-batch trigger
  * (`quarter_prediction/ml_k_to_ss.py:61` — `ssc = StreamingContext(sc,
  * 1)`). This main measures whether the three composed streaming jobs
  * hold that budget at sf0.1 ingest volumes: per-micro-batch
  * `triggerExecution` durations (p50/p95), rows/s, and the headroom
  * factor vs the 1 s trigger. The first data batch is excluded from the
  * percentiles — it legitimately carries codegen compile (the same
  * discipline Bench's spread field applies); it is still reported.
  *
  * Jobs probed:
  *  - curation e2e: ingest gate → streaming dedup → bloom decontam →
  *    budget sink ([[Jobs.curationStream]] + [[Jobs.curationSink]]);
  *  - annServe: per-micro-batch top-k against the frozen broadcast IVF
  *    index ([[Jobs.annServe]]);
  *  - sessionize: the stateful flatMapGroupsWithState path
  *    ([[Jobs.sessionize]]).
  *
  * Output: BENCH_STREAM.json. StreamLatencySpec asserts the sf0.01-scale
  * version of the same harness stays under the 1 s trigger.
  *
  * Usage: runMain graft.dev.StreamLatencyProbe [sfDir]
  */
object StreamLatencyProbe {

  final case class Stats(batches: Int, rows: Long, firstMs: Long,
      p50Ms: Long, p95Ms: Long, rowsPerSec: Double) {
    /** Sustainable-at-1s headroom: how many 1 s triggers of this batch
      * size fit into the observed p95 — >1 means the job holds the
      * reference's budget with room. */
    def headroom: Double = if (p95Ms <= 0) Double.PositiveInfinity
      else 1000.0 / p95Ms.toDouble
    def json: String = {
      def f(d: Double) = String.format(java.util.Locale.ROOT, "%.2f", Double.box(d))
      s"""{"batches":$batches,"rows":$rows,"first_ms":$firstMs,"p50_ms":$p50Ms,""" +
        s""""p95_ms":$p95Ms,"rows_per_sec":${f(rowsPerSec)},"headroom_vs_1s":${f(headroom)}}"""
    }
  }

  /** Runs `feeds` against a started query (each feed = one addData; one
    * processAllAvailable per feed → one data micro-batch each) and
    * extracts trigger-duration stats from recentProgress.
    * `dropLastSentinel`: the sessionize harness appends a 1-row
    * watermark-flush sentinel feed — it must be PROCESSED (it is what
    * closes the open sessions) but it is not a representative batch, so
    * it is excluded from the warm percentile/rows-per-sec population
    * (left in, its 1-row fast batch pulls the asserted median down).
    * The sentinel is identified by its SIGNATURE — the single trailing
    * numInputRows == 1 batch (a 1-row feed produces exactly one
    * micro-batch) — not by position alone: at most ONE trailing 1-row
    * batch is dropped, so a legitimate 1-row data batch earlier in a
    * trailing run is never excluded (r11 ADVICE). */
  def run(q: StreamingQuery, feeds: Seq[() => Unit],
      dropLastSentinel: Boolean = false): Stats = {
    feeds.foreach { f => f(); q.processAllAvailable() }
    val progAll = q.recentProgress.toSeq.filter(_.numInputRows > 0)
    q.stop()
    // The sentinel feed is 1 row → exactly ONE micro-batch; drop at most
    // one trailing 1-row batch so a legitimate 1-row data batch earlier
    // in a trailing run is never silently excluded (r11 ADVICE).
    val prog = if (dropLastSentinel && progAll.size > 1 &&
        progAll.last.numInputRows == 1) progAll.dropRight(1)
    else progAll
    val durs = prog.map(p => p.durationMs.get("triggerExecution").longValue())
    val rows = prog.map(_.numInputRows).sum
    require(durs.nonEmpty, "no data batches recorded")
    val warm = if (durs.size > 1) durs.drop(1) else durs
    val sorted = warm.sorted
    def pct(p: Double) = sorted(math.min(sorted.size - 1,
      math.ceil(p * sorted.size).toInt - 1).max(0))
    val warmRows = if (prog.size > 1) prog.drop(1).map(_.numInputRows).sum else rows
    val rps = warmRows.toDouble / (warm.sum.toDouble / 1000.0)
    Stats(durs.size, rows, durs.head, pct(0.5), pct(0.95), rps)
  }

  /** Ceil-division slicer: exactly ≤ nBatches groups. (`length /
    * nBatches` floor-divides, which yields nBatches+1 groups — the last
    * a tiny remainder batch — whenever the count isn't divisible, so a
    * probe labeled nBatches=10 would measure 11 micro-batches.) */
  private def slices[T](xs: Seq[T], nBatches: Int): Seq[Seq[T]] =
    xs.grouped(math.max(1, (xs.length + nBatches - 1) / nBatches)).toSeq

  /** Curation e2e: nBatches equal doc_id-ordered slices of the documents
    * table through ingest → dedup → decontam → budget sink. */
  def curation(spark: SparkSession, sfDir: String, nBatches: Int): Stats = {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val evalSet = Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 50 === 0).select("text").cache()
    evalSet.count()
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "text").orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val t0 = 1700000000000000L
    val mem = MemoryStream[(Long, String, Long)]
    val shaped = mem.toDF().toDF("doc_id", "text", "us")
      .withColumn("ts", timestamp_micros(col("us")))
    val ckpt = java.nio.file.Files.createTempDirectory("latency-cur")
    try {
      val q = Jobs.curationSink(Jobs.curationStream(shaped, evalSet),
          budget = Long.MaxValue / 4) { (sel, _) => sel.count(); () }
        .option("checkpointLocation", ckpt.toString).start()
      val feeds = slices(docs.toSeq, nBatches)
        .map(g => () => { mem.addData(g.map { case (id, t) => (id, t, t0) }.toIndexedSeq: _*); () })
      try run(q, feeds) finally q.stop()
    } finally graft.core.NioCheckpointFileManager.deleteTree(ckpt)
  }

  /** annServe: frozen index over vec_id >= nQueries, the first nQueries
    * vectors streamed as query batches. */
  def annServe(spark: SparkSession, sfDir: String, nQueries: Int,
      nBatches: Int): Stats = {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    import graft.operators.Similarity
    val index = Similarity.ivfIndex(spark, sfDir)
      .filter(col("vec_id") >= nQueries).cache()
    index.count()
    val (labels, cents) = Similarity.frozenCodebook(spark, sfDir)
    val qRows = Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") < nQueries)
      .select("vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val mem = MemoryStream[(Long, Array[Float])]
    val q = Jobs.annServe(mem.toDF().toDF("vec_id", "embedding"),
        index, labels, cents) { b => b.count(); () }.start()
    val feeds = slices(qRows.toSeq, nBatches)
      .map(g => () => { mem.addData(g.toIndexedSeq: _*); () })
    run(q, feeds)
  }

  /** sessionize: the events table in timestamp order, nBatches slices,
    * plus a final watermark-flush sentinel. */
  def sessionize(spark: SparkSession, sfDir: String, nBatches: Int): Stats = {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val events = Tables.events(spark, sfDir)
      .select(col("user_id"), col("t_us")).orderBy("t_us")
      .collect().map(r => Jobs.Event(r.getLong(0), r.getLong(1), 0.0))
    val maxTs = events.map(_.tsMicros).max
    val mem = MemoryStream[Jobs.Event]
    val q = Jobs.sessionize(mem.toDS()).writeStream.format("noop")
      .outputMode("append").start()
    val feeds = slices(events.toSeq, nBatches)
      .map(g => () => { mem.addData(g.toIndexedSeq: _*); () }) :+
      (() => { mem.addData(Jobs.Event(-1L, maxTs + 100L * 60 * 1000000, 0.0)); () })
    run(q, feeds, dropLastSentinel = true)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = Tables.localSession("stream-latency", cores = 32)
    // Stateful-stream sizing (round-12 VERDICT #3; see StreamLatencySpec
    // for the full rationale): state-store partition count is pinned
    // from this conf at query start, and each store's delta commit is a
    // fixed cost (Hadoop's local filesystem forked chmod/stat per file
    // until CheckpointFiles; not fsync) — right-size to the per-trigger
    // volume instead of inheriting the batch-analytics 32. Measured at sf0.1
    // 500-doc batches: p50 1239 ms @ 32 → 628-700 ms @ 8 (an A/B with the
    // since-deleted dev/CurationProfile probe; RocksDB+changelog 10.5 s,
    // measured and rejected).
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    // one warmup batch job to absorb session/codegen startup
    try graft.SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }

    // curation is measured at TWO batch sizes: its per-trigger cost is
    // dominated by fixed micro-batch machinery (after the round-11 cut —
    // one upstream execution + trigger-bounded cumsum — what remains is
    // the dedup-watermark state-store commit wave and offset/commit log
    // writes; perfbench's traced curation_stream run attributes it per
    // phase, as the deleted dev/CurationProfile did), so rows/s rising
    // with batch size is the evidence that the composition amortizes —
    // the ingest pipeline's operating point is throughput per trigger,
    // not single-row latency (that is annServe's job).
    val results = Seq(
      "curation_e2e" -> curation(spark, sfDir, nBatches = 10),
      "curation_e2e_big_batches" -> curation(spark, sfDir, nBatches = 3),
      "ann_serve" -> annServe(spark, sfDir, nQueries = 100, nBatches = 10),
      "sessionize" -> sessionize(spark, sfDir, nBatches = 10))
    results.foreach { case (n, s) =>
      println(f"[streamlatency] $n%-14s p50 ${s.p50Ms} ms  p95 ${s.p95Ms} ms  " +
        f"${s.rowsPerSec}%.0f rows/s  headroom ${s.headroom}%.1fx")
    }
    val json = results.map { case (n, s) => s""""$n":${s.json}""" }
      .mkString(s"""{"sf":"$sfDir","trigger_budget_ms":1000,"jobs":{""", ",", "}}")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("BENCH_STREAM.json"), json + "\n")
    println(json)
    spark.stop()
  }
}
