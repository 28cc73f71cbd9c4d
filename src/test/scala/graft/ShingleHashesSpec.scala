package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{HigherOrderFunction, Literal, RegExpReplace, ScalaUDF}
import org.apache.spark.sql.execution.{FilterExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite
import graft.core.Tables
import graft.functions.{ShingleHashes, ShingleKeyProbe}
import graft.streaming.Jobs

/** The contamination gate's shingle keys ([[graft.functions.ShingleHashes]])
  * must equal Spark's `xxhash64(concat_ws(' ', slice(split(text, ' '), ...)))`
  * lambda, its driver-built key array must equal the lambda's sorted
  * distinct keys, the gate must keep exactly the docs none of whose keys is
  * an eval key, building the gate must start no Spark job, and the planned
  * curation stream must gate in the map stage with no UDF or higher-order
  * function. */
class ShingleHashesSpec extends AnyFunSuite with TempDirs {
  lazy val spark: SparkSession = Tables.localSession("shingle-hashes-spec", cores = 4)

  /** Spark's own construction of the keys, the one the gate used to run. */
  private val lambdaKeys = expr(
    """if(size(split(text, ' ')) >= 8,
      |   transform(sequence(0, size(split(text, ' ')) - 8),
      |             i -> xxhash64(concat_ws(' ', slice(split(text, ' '), i + 1, 8)))),
      |   cast(array() as array<bigint>))""".stripMargin)

  private def words(n: Int, p: String = "t") = (1 to n).map(i => s"$p$i").mkString(" ")

  private val edgeTexts: Seq[String] = Seq(
    words(7), words(8), words(9), "", " ", " " * 7, " " * 8,
    "a  b c d e f g h i", " a b c d e f g h", "a b c d e f g h ",
    "  lead two " + words(8) + "  ",
    "café naïve 東京 über ü ñ 😀 ß x y 中文 z",
    "😀 😀 😀 😀 😀 😀 😀 😀 😀")

  private def randomTexts(seed: Long, n: Int): Seq[String] = {
    val rnd = new scala.util.Random(seed)
    val pool = Array("", "a", "bb", "cat", "naïve", "東京", "😀", "x1", "ß", "word")
    Seq.fill(n)(Seq.fill(rnd.nextInt(20))(pool(rnd.nextInt(pool.length))).mkString(" "))
  }

  private def perfbenchEval(seed: Long): Seq[String] = {
    val rnd = new scala.util.Random(seed ^ 0xe7a1L)
    Seq.fill(40)(Seq.fill(20)("bench" + rnd.nextInt(5000)).mkString(" "))
  }

  test("window keys equal Spark's xxhash64(concat_ws(slice(split))) lambda, edge cases included") {
    import spark.implicits._
    val texts = edgeTexts ++ randomTexts(11, 3000)
    val ref = texts.toDF("text").select(col("text"), lambdaKeys.as("k")).collect()
    assert(ref.length == texts.length)
    ref.foreach { r =>
      val t = r.getString(0)
      val got = ShingleHashes.windowHashes(UTF8String.fromString(t)).toSeq
      assert(got == r.getSeq[Long](1), s"keys of '$t'")
    }
    assert(ShingleHashes.windowHashes(UTF8String.fromString(words(7))).isEmpty)
    assert(ShingleHashes.windowHashes(UTF8String.fromString(words(9))).length == 2)
  }

  test("the probe keeps null and short texts and drops a bloom hit, codegen and interpreted") {
    import spark.implicits._
    val keys = spark.sparkContext.broadcast(Jobs.contaminationKeys(
      Seq(words(8), "a  b c d e f g h i", null).toDF("text")))
    val docs = Seq[(Long, String)](1L -> null, 2L -> words(7), 3L -> "", 4L -> words(9),
      5L -> ("x " + words(8)), 6L -> "a  b c d e f g h i", 7L -> words(12, "clean"))
      .toDF("id", "text")
    val kept = docs.filter(!ShingleHashes.contains_shingle(col("text"), keys))
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 2L, 3L, 7L), kept)
    val probe = ShingleKeyProbe(Literal(null, org.apache.spark.sql.types.StringType), keys)
    assert(probe.eval(InternalRow.empty) == false)
    def interpreted(t: String) =
      ShingleKeyProbe(Literal(t), keys).eval(InternalRow.empty)
    assert(interpreted(words(9)) == true && interpreted(words(7)) == false &&
      interpreted(words(12, "clean")) == false)
  }

  test("the driver-built keys equal the sorted distinct lambda keys") {
    import spark.implicits._
    val sets = (1L to 5L).map(perfbenchEval) :+ (edgeTexts ++ randomTexts(5, 500))
    for (texts <- sets) {
      val eval = texts.toDF("text")
      val ref = eval.select(explode(lambdaKeys).as("k")).distinct()
        .collect().map(_.getLong(0)).sorted
      assert(Jobs.contaminationKeys(eval).toSeq == ref.toSeq)
    }
  }

  test("the gate keeps exactly the docs whose window keys miss the eval keys, codegen and interpreted") {
    import spark.implicits._
    // the first 50 random docs are eval texts too, so random docs hit as well
    val evalTexts = perfbenchEval(1) ++ randomTexts(13, 50)
    val rnd = new scala.util.Random(17)
    val embedded = perfbenchEval(1).map { t =>
      val ws = t.split(' ')
      val at = rnd.nextInt(ws.length - 7)
      (words(rnd.nextInt(4), "pre") +: ws.slice(at, at + 8) :+ words(3, "post")).mkString(" ")
    }
    val texts = (edgeTexts ++ randomTexts(13, 3000) ++ embedded :+ null).toIndexedSeq
    val evalKeys = evalTexts.flatMap(t => ShingleHashes.windowHashes(UTF8String.fromString(t))).toSet
    val expected = texts.indices.filter { i =>
      texts(i) == null ||
        !ShingleHashes.windowHashes(UTF8String.fromString(texts(i))).exists(evalKeys)
    }.map(_.toLong).toSet
    assert(expected.size < texts.size - embedded.size - 10 && expected.size > texts.size / 2)
    val docs = texts.indices.map(i => (i.toLong, texts(i))).toDF("id", "text")
    val eval = evalTexts.toDF("text")
    def kept = Jobs.contaminationGate(docs, eval).collect().map(_.getLong(0)).toSet
    assert(kept == expected)
    val confs = Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try assert(kept == expected)
    finally confs.foreach { case (k, _) => spark.conf.unset(k) }
  }

  test("building the contamination gate over a local eval frame starts no Spark job") {
    import spark.implicits._
    val sc = spark.sparkContext
    val tagKey = "graft.spec.gate-build"
    val tag = java.util.UUID.randomUUID().toString
    val marker = "shingle-gate-marker-" + tag
    val tagged = new java.util.concurrent.atomic.AtomicInteger
    val markerSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties).getOrElse(new java.util.Properties)
        if (p.getProperty("spark.job.description") == marker) markerSeen.countDown()
        else if (p.getProperty(tagKey) == tag) tagged.incrementAndGet()
      }
    }
    val eval = perfbenchEval(1).toDF("text")
    val docs = Seq((1L, words(9))).toDF("id", "text")
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(tagKey, tag)
      try Jobs.contaminationGate(docs, eval)
      finally sc.setLocalProperty(tagKey, null)
      // the listener bus delivers in order: once the marker's start arrives,
      // every job the build started has been counted
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setJobDescription(null)
      assert(markerSeen.await(60, java.util.concurrent.TimeUnit.SECONDS))
      assert(tagged.get == 0, s"building the gate ran ${tagged.get} Spark jobs")
    } finally sc.removeSparkListener(listener)
  }

  test("planned curation stream: no UDF or higher-order function, both gates below the dedup shuffle") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, String, Long)]
    mem.addData((1L, words(9, "alpha"), 1700000000000000L),
      (2L, "too short", 1700000000000000L))
    val shaped = mem.toDF().toDF("doc_id", "text", "us")
      .withColumn("ts", timestamp_micros($"us"))
    // the last execution must be the data trigger, not a watermark-only one
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    val plan = try {
      val q = Jobs.curationStream(shaped, perfbenchEval(1).toDF("text"))
        .writeStream.format("noop")
        .option("checkpointLocation", tempDir("shingle-plan").toString).start()
      try {
        q.processAllAvailable()
        q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan
      } finally q.stop()
    } finally spark.conf.unset("spark.sql.streaming.noDataMicroBatches.enabled")
    def exprs(p: SparkPlan) = p.collect { case n => n.expressions }.flatten.flatMap(_.collect { case e => e })
    assert(!exprs(plan).exists(_.isInstanceOf[ScalaUDF]), plan.toString)
    assert(!exprs(plan).exists(_.isInstanceOf[HigherOrderFunction]), plan.toString)
    val exchanges = plan.collect { case e: ShuffleExchangeExec => e }
    assert(exchanges.size == 1, plan.toString)
    val below = exchanges.head.child
    def filters(p: SparkPlan) = p.collect { case f: FilterExec => f.condition }
    assert(filters(plan).size == filters(below).size, s"a filter sits above the shuffle: $plan")
    val gates = filters(below).flatMap(_.collect { case e => e })
    assert(gates.count(_.isInstanceOf[ShingleKeyProbe]) == 1, plan.toString)
    assert(gates.exists(_.isInstanceOf[RegExpReplace]), plan.toString)
    val inCodegen = below.collect { case w: WholeStageCodegenExec => w.child }
      .flatMap(exprs).exists(_.isInstanceOf[ShingleKeyProbe])
    assert(inCodegen, plan.toString)
  }
}
