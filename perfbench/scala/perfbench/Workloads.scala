package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.ml.PipelineModel
import org.apache.spark.sql.{DataFrame, Encoder, Encoders, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.cv.{Heatmaps, PlayerIdent}
import graft.ml.QuarterPrediction
import graft.notify.Notifier
import graft.streaming.Jobs

/** Times `f` `reps` times and returns the median in microseconds. */
object Time {
  def medianUs(reps: Int)(f: => Any): Double =
    Stat.median((1 to reps).map { _ =>
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e3
    })
}

/** Paper pipeline 1: 15-int CSV lines scored by the offline-trained forest. */
object QuarterStream extends StreamWorkload[String] {
  type State = PipelineModel
  val name = "quarter_stream"
  val rate = 200
  val encoder: Encoder[String] = Encoders.STRING
  private val loadS = ArrayBuffer[Double]()

  /** One reference-shaped line (FIXTURES A1). `enemyStyle` stays in its
    * documented domain 0..2: the fitted encoder rejects any other value and
    * that would end the whole streaming query (see README). */
  private def line(rnd: scala.util.Random): String = {
    val team = rnd.nextInt(26)
    val enemy = rnd.nextInt(26)
    val f = Seq(rnd.nextInt(3), team, enemy) ++ Seq.fill(10)(rnd.nextInt(11)) :+
      rnd.nextInt(31)
    val win = if (team - enemy + rnd.nextInt(7) - 3 > 0) 1 else 0
    (f :+ win).mkString(",")
  }

  def generate(seed: Long, n: Int): IndexedSeq[String] = {
    val rnd = new scala.util.Random(seed)
    IndexedSeq.fill(n)(line(rnd))
  }

  private def modelDir(work: String) = s"$work/quarter-model"

  private def parsed(spark: SparkSession, lines: Seq[String]): DataFrame =
    spark.createDataset(lines)(Encoders.STRING).toDF("value")

  /** Trains the forest once per build and saves it, as the reference
    * trains offline (ml_model.py) and loads at stream start. */
  override def prepare(work: String): Unit = {
    val dir = new java.io.File(modelDir(work))
    if (dir.exists()) return
    val spark = graft.core.Tables.localSession("perfbench-train", Env.cores)
    val rows = parsed(spark, generate(1L, 4000))
      .select(from_csv(col("value"), Jobs.quarterSchema, Map.empty[String, String]).as("r"))
      .select(col("r.*"))
    val tmp = s"${dir.getPath}.tmp-${ProcessHandle.current().pid()}"
    QuarterPrediction.train(rows).write.overwrite().save(tmp)
    Env.stop(spark)
    java.nio.file.Files.move(java.nio.file.Paths.get(tmp), dir.toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  def setup(spark: SparkSession, seed: Long, work: String): PipelineModel = {
    val t0 = System.nanoTime()
    val model = PipelineModel.load(modelDir(work))
    loadS += Stat.s(System.nanoTime() - t0)
    model
  }

  def start(spark: SparkSession, model: PipelineModel, mem: MemoryStream[String],
      log: SinkLog, trigger: Trigger): StreamingQuery =
    Jobs.quarterPrediction(model)(mem.toDF().toDF("value"))
      .writeStream.trigger(trigger)
      .foreachBatch { (df: DataFrame, id: Long) =>
        log.record(id)(df.select("value").collect().map(_.getString(0)).toSeq)
      }.start()

  def expected(spark: SparkSession, model: PipelineModel,
      events: IndexedSeq[String]): IndexedSeq[Seq[String]] = {
    val out = Jobs.quarterPrediction(model)(parsed(spark, events))
      .select("value").collect().map(_.getString(0))
    require(out.length == events.size, s"batch scoring returned ${out.length} rows")
    out.toIndexedSeq.map(Seq(_))
  }

  override def traceModules(spark: SparkSession, model: PipelineModel,
      events: IndexedSeq[String], m: Metrics): Unit = {
    m.put("ml.model_load_s", Stat.median(loadS.toSeq), "s")
    val k = parsed(spark, events.take(1000))
    val one = parsed(spark, events.take(1))
    def score(df: DataFrame) = Jobs.quarterPrediction(model)(df).collect()
    score(k)
    m.put("ml.score_ms_per_1k_rows", Time.medianUs(5)(score(k)) / 1e3, "ms")
    m.put("ml.score_fixed_ms", Time.medianUs(5)(score(one)) / 1e3, "ms")
    val scored = Jobs.quarterPrediction(model)(k).cache()
    val n = scored.count()
    var delivered = 0L
    val us = Time.medianUs(3) {
      delivered = Notifier.notifyQuarter(scored, () => new Notifier.RecordingSender)
    }
    m.put("notify.us_per_message", us / n, "us")
    m.put("notify.delivered_ratio", delivered.toDouble / n, "ratio")
    scored.unpersist()
  }
}

/** Paper pipeline 2: binary payloads through the CV chain and a broadcast
  * stats lookup whose table misses some players. */
object PlayerStream extends StreamWorkload[Array[Byte]] {
  final case class Stats(df: DataFrame, table: Map[(String, Int), (Double, Double, Double)])
  type State = Stats
  val name = "player_stream"
  val rate = 1500
  val encoder: Encoder[Array[Byte]] = Encoders.BINARY
  private val cfg = PlayerIdent.Config()

  def generate(seed: Long, n: Int): IndexedSeq[Array[Byte]] = {
    val rnd = new scala.util.Random(seed)
    IndexedSeq.fill(n) {
      val b = new Array[Byte](64 + rnd.nextInt(961))
      rnd.nextBytes(b)
      b
    }
  }

  /** About 70% of (team, number) pairs have stats; the rest miss. */
  private def statsTable(seed: Long) = {
    val rnd = new scala.util.Random(seed ^ 0x5eedL)
    def stat() = rnd.nextInt(300) / 10.0
    (for {
      (team, _) <- cfg.teams
      num <- 0 until 100
      if rnd.nextDouble() < 0.7
    } yield (team, num) -> ((stat(), stat(), stat()))).toMap
  }

  def setup(spark: SparkSession, seed: Long, work: String): Stats = {
    val table = statsTable(seed)
    val schema = StructType(Seq(StructField("team", StringType), StructField("num", IntegerType),
      StructField("score", DoubleType), StructField("reb", DoubleType),
      StructField("ast", DoubleType)))
    val rows = table.toSeq.sortBy(_._1).map { case ((t, n), (s, r, a)) => Row(t, n, s, r, a) }
    Stats(spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema), table)
  }

  def start(spark: SparkSession, st: Stats, mem: MemoryStream[Array[Byte]],
      log: SinkLog, trigger: Trigger): StreamingQuery =
    Jobs.playerIdentification(st.df)(mem.toDF().toDF("value"))
      .writeStream.trigger(trigger)
      .foreachBatch { (df: DataFrame, id: Long) =>
        log.record(id)(df.collect().map(_.getString(0)).toSeq)
      }.start()

  /** The message `Jobs.playerIdentification` formats for one detection. */
  private def message(st: Stats, team: String, num: Int): String =
    st.table.get((team, num)) match {
      case Some((s, r, a)) => s"$team,$num,$s,$r,$a"
      case None => s"$team,$num,player not found"
    }

  def expected(spark: SparkSession, st: Stats,
      events: IndexedSeq[Array[Byte]]): IndexedSeq[Seq[String]] =
    Par.map(events) { b =>
      PlayerIdent.identifyPlayers(b, cfg).map { case (t, n) => message(st, t, n) }
    }

  override def traceModules(spark: SparkSession, st: Stats,
      events: IndexedSeq[Array[Byte]], m: Metrics): Unit =
    cvModules(st.table, events.take(1000), m)

  /** The `graft.cv` layers on payloads from `seed`, without a stream. */
  def cvLayers(seed: Long, m: Metrics): Unit =
    cvModules(statsTable(seed), generate(seed, 1000), m)

  private def cvModules(table: Map[(String, Int), (Double, Double, Double)],
      sample: IndexedSeq[Array[Byte]], m: Metrics): Unit = {
    sample.take(200).foreach(PlayerIdent.identifyPlayers(_, cfg))
    val imgs = sample.flatMap(cfg.decoder.decode)
    val clean = imgs.map(Heatmaps.boxDenoise)
    val crops = clean.flatMap(i => cfg.pose.estimate(i).flatMap(PlayerIdent.torsoCrop).map(i -> _))
    def perCall[A](xs: Seq[A])(f: A => Any): Double = {
      val t0 = System.nanoTime(); xs.foreach(f); (System.nanoTime() - t0) / 1e3 / xs.size
    }
    m.put("cv.identify_us", perCall(sample)(PlayerIdent.identifyPlayers(_, cfg)), "us")
    m.put("cv.decode_us", perCall(sample)(cfg.decoder.decode), "us")
    m.put("cv.denoise_us", perCall(imgs)(Heatmaps.boxDenoise), "us")
    m.put("cv.pose_us", perCall(clean)(cfg.pose.estimate), "us")
    m.put("cv.spot_digit_us", perCall(crops) { case (i, c) => PlayerIdent.spotDigit(i, c, cfg) }, "us")
    m.put("cv.team_color_us", perCall(crops) { case (i, c) => PlayerIdent.teamByColor(i, c, cfg) }, "us")
    val dets = sample.map(PlayerIdent.identifyPlayers(_, cfg))
    val all = dets.flatten
    m.put("cv.detections_per_image", all.size.toDouble / sample.size, "count")
    m.put("cv.not_found_ratio",
      if (all.isEmpty) 0.0 else all.count(d => !table.contains(d)).toDouble / all.size, "ratio")
  }
}

/** The stateful ingest stream: quality gate, watermarked dedup, bloom
  * decontamination and the budget ledger sink. */
object CurationStream extends StreamWorkload[(Long, String, Long)] {
  final case class Eval(df: DataFrame)
  type State = Eval
  val name = "curation_stream"
  val rate = 150
  val encoder: Encoder[(Long, String, Long)] =
    Encoders.tuple(Encoders.scalaLong, Encoders.STRING, Encoders.scalaLong)
  /** Event time of the first doc; later docs advance with their tick. */
  private val T0Us = 1700000000000000L
  private val vocab = (0 until 400).map(i =>
    Seq(i % 26, i / 26 % 26, i / 676).map(d => ('a' + d).toChar).mkString("w", "", ""))
  private def evalTexts(seed: Long): IndexedSeq[String] = {
    val rnd = new scala.util.Random(seed ^ 0xe7a1L)
    IndexedSeq.fill(40)(Seq.fill(20)("bench" + rnd.nextInt(5000)).mkString(" "))
  }

  /** The seed sets the shares of junk, duplicate and contaminated docs. */
  def generate(seed: Long, n: Int): IndexedSeq[(Long, String, Long)] = {
    val rnd = new scala.util.Random(seed)
    val junk = 0.05 + 0.10 * rnd.nextDouble()
    val dup = 0.10 + 0.10 * rnd.nextDouble()
    val contam = 0.02 + 0.06 * rnd.nextDouble()
    val evals = evalTexts(seed)
    def words(k: Int) = Seq.fill(k)(vocab(rnd.nextInt(vocab.size)))
    val perTick = (rate * Streams.TickMs / 1000).toInt
    val texts = ArrayBuffer[String]()
    (0 until n).map { i =>
      val u = rnd.nextDouble()
      val text =
        if (u < junk) {
          if (rnd.nextBoolean()) words(1 + rnd.nextInt(3)).mkString(" ")
          else Seq.fill(6)(rnd.nextInt(100000).toString).mkString(" ")
        } else if (u < junk + dup && texts.nonEmpty)
          texts(texts.size - 1 - rnd.nextInt(math.min(texts.size, 300)))
        else if (u < junk + dup + contam) {
          val e = evals(rnd.nextInt(evals.size)).split(' ')
          val at = rnd.nextInt(e.length - 8)
          (words(3) ++ e.slice(at, at + 8) ++ words(4)).mkString(" ")
        } else words(6 + rnd.nextInt(35)).mkString(" ")
      texts += text
      (i.toLong, text, T0Us + (i / perTick) * Streams.TickMs * 1000L)
    }
  }

  def setup(spark: SparkSession, seed: Long, work: String): Eval = {
    import spark.implicits._
    Eval(evalTexts(seed).toDF("text"))
  }

  private def shaped(df: DataFrame) =
    df.toDF("doc_id", "text", "us").withColumn("ts", timestamp_micros(col("us")))

  def start(spark: SparkSession, st: Eval, mem: MemoryStream[(Long, String, Long)],
      log: SinkLog, trigger: Trigger): StreamingQuery =
    Jobs.curationSink(Jobs.curationStream(shaped(mem.toDF()), st.df),
        budget = Long.MaxValue / 4, stateDir = Some(Env.freshDir("ledger"))) {
        (sel: DataFrame, id: Long) =>
          log.record(id)(sel.select("text").collect().map(_.getString(0)).toSeq)
      }
      .option("checkpointLocation", Env.freshDir("ckpt"))
      .trigger(trigger).start()

  /** The same composition over all docs in one micro-batch gives the
    * surviving texts (dropDuplicatesWithinWatermark has no batch mode);
    * each survivor's first arrival must be delivered. */
  def expected(spark: SparkSession, st: Eval,
      events: IndexedSeq[(Long, String, Long)]): IndexedSeq[Seq[String]] = {
    val mem = MemoryStream[(Long, String, Long)](encoder, spark)
    mem.addData(events: _*)
    val kept = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val q = Jobs.curationSink(Jobs.curationStream(shaped(mem.toDF()), st.df),
        budget = Long.MaxValue / 4) { (sel: DataFrame, _: Long) =>
        sel.select("text").collect().foreach(r => kept.add(r.getString(0)))
      }
      .option("checkpointLocation", Env.freshDir("ckpt")).start()
    q.processAllAvailable()
    q.stop()
    val survivors = kept.asScala.toSet
    val seen = scala.collection.mutable.HashSet[String]()
    events.map { case (_, t, _) => if (survivors(t) && seen.add(t)) Seq(t) else Nil }
  }
}

/** A fixed pool over the host's cores for driver-side reference work. */
object Par {
  def map[A, B](xs: IndexedSeq[A])(f: A => B): IndexedSeq[B] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(Env.cores)
    try {
      val chunk = math.max(1, xs.size / (Env.cores * 4))
      val fs = xs.indices.grouped(chunk).map { idx =>
        pool.submit(new java.util.concurrent.Callable[IndexedSeq[B]] {
          def call(): IndexedSeq[B] = idx.map(i => f(xs(i)))
        })
      }.toList
      fs.flatMap(_.get()).toIndexedSeq
    } finally pool.shutdown()
  }
}
