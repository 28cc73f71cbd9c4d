package graft

import org.apache.spark.ml.{GraftMlBridge, Pipeline, PipelineModel}
import org.apache.spark.ml.GraftMlBridge.{GCatSplit, GLeaf, GSplit, GTree}
import org.apache.spark.ml.classification.{RandomForestClassificationModel, RandomForestClassifier}
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.ml.linalg.SQLDataTypes
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Attribute, ScalaUDF}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.Tables
import graft.ml.{ForestScore, QuarterPrediction}
import graft.streaming.Jobs

/** The serving path ([[graft.ml.ForestScore]] over the flattened forest)
  * must replay MLlib's `PipelineModel.transform` exactly: the same
  * prediction, bit-identical probabilities and the same message, on the
  * training frame and on seeded stream lines that sit on every split
  * threshold and cover every `enemyStyle`. Invalid input still fails the
  * query, and the planned stream carries no UDF or vector column. */
class ForestScoreSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Tables.localSession("forest-score-spec", cores = 4)
  val sf: String = graft.dev.PlanBudget.SfDir // the sf0.001 tables

  lazy val train: DataFrame = QuarterPrediction.trainingFrame(spark, sf).cache()
  lazy val model: PipelineModel = QuarterPrediction.train(train)

  /** The MLlib scoring this replaces: the pipeline's own transform. */
  def viaTransform(df: DataFrame): DataFrame = {
    val probArr = vector_to_array(col("probability"))
    model.transform(df)
      .withColumn("prob", element_at(probArr, col("prediction").cast("int") + 1))
      .withColumn("p1", element_at(probArr, 2))
      .withColumn("msg", concat_ws(",", col("prediction").cast("int"), round(col("prob"), 2)))
  }

  /** Rows keyed by `key`, outputs as raw double bits. */
  def outputs(df: DataFrame, key: String): Map[Long, (Long, Long, Long, String)] =
    df.select(col(key).cast("long"), col("prediction"), col("prob"), col("p1"), col("msg"))
      .collect().map { r =>
        r.getLong(0) -> ((java.lang.Double.doubleToRawLongBits(r.getDouble(1)),
          java.lang.Double.doubleToRawLongBits(r.getDouble(2)),
          java.lang.Double.doubleToRawLongBits(r.getDouble(3)), r.getString(4)))
      }.toMap

  def assertIdentical(df: DataFrame, key: String): Unit = {
    val native = outputs(QuarterPrediction.score(model, df), key)
    val mllib = outputs(viaTransform(df), key)
    assert(native.size == df.count() && native.keySet == mllib.keySet)
    val diff = native.collect { case (k, v) if mllib(k) != v => (k, v, mllib(k)) }
    if (diff.nonEmpty) fail(s"${diff.size} rows diverge; first: ${diff.head}")
  }

  /** Continuous split thresholds per feature slot. */
  def thresholds: Map[Int, Seq[Double]] = {
    val rf = model.stages(2).asInstanceOf[RandomForestClassificationModel]
    def walk(t: GTree): Seq[(Int, Double)] = t match {
      case GLeaf(_) => Nil
      case GSplit(f, thr, l, r) => (f -> thr) +: (walk(l) ++ walk(r))
      case GCatSplit(_, _, l, r) => walk(l) ++ walk(r)
    }
    GraftMlBridge.trees(rf).toSeq.flatMap(walk).groupMap(_._1)(_._2)
  }

  /** Reference-shaped lines (enemyStyle first) whose feature values are the
    * integers on and beside every split threshold, plus a spread around
    * them; `enemyStyle` cycles through its whole fitted domain. */
  def seededLines(seed: Long, n: Int): Seq[String] = {
    val rnd = new scala.util.Random(seed)
    val thr = thresholds
    val nf = QuarterPrediction.featureCols.size
    Seq.tabulate(n) { i =>
      val feats = (0 until nf).map { f =>
        thr.get(f) match {
          case Some(ts) if rnd.nextInt(4) > 0 =>
            val t = ts(rnd.nextInt(ts.size))
            Seq(math.floor(t), math.ceil(t), math.round(t).toDouble)(rnd.nextInt(3)).toInt
          case Some(ts) => ts.min.toInt - 2 + rnd.nextInt(ts.max.toInt - ts.min.toInt + 5)
          case None => rnd.nextInt(40)
        }
      }
      ((i % 3) +: feats :+ rnd.nextInt(2)).mkString(",")
    }
  }

  def parsed(lines: Seq[String]): DataFrame = {
    import spark.implicits._
    lines.zipWithIndex.toDF("value", "id")
      .select(col("id"), from_csv(col("value"), Jobs.quarterSchema, Map.empty[String, String]).as("r"))
      .select(col("id"), col("r.*"))
  }

  test("native scoring ≡ PipelineModel.transform bit-for-bit on the sf0.001 training frame") {
    assertIdentical(train, "rowId")
  }

  test("native scoring ≡ PipelineModel.transform on 20k seeded lines at the split thresholds") {
    val lines = seededLines(7L, 20000)
    val df = parsed(lines).cache()
    assert(df.select("enemyStyle").distinct().count() == 3)
    // the integers on both sides of every numeric split threshold occur
    for ((f, ts) <- thresholds if f < QuarterPrediction.featureCols.size) {
      val c = QuarterPrediction.featureCols(f)
      val seen = df.select(c).distinct().collect().map(_.getInt(0)).toSet
      ts.foreach(t => assert(seen(math.floor(t).toInt) && seen(math.ceil(t).toInt), s"$c $t"))
    }
    assertIdentical(df, "id")
    // and the interpreted path (no generated code anywhere) agrees too
    val confs = Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try assertIdentical(df, "id")
    finally confs.foreach { case (k, _) => spark.conf.unset(k) }
  }

  def causes(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString("\n")

  test("a null field or an enemyStyle outside the fitted domain fails the query, naming it") {
    val ok = "1,11,7,2,6,2,2,4,2,2,0,2,3,7,1"
    for (style <- Seq(3, 5, -1)) {
      val e = intercept[Exception](
        QuarterPrediction.score(model, parsed(Seq(ok, s"$style" + ok.drop(1)))).collect())
      assert(causes(e).contains(s"enemyStyle value $style"), causes(e))
    }
    val e = intercept[Exception](
      QuarterPrediction.score(model, parsed(Seq(ok.replace(",7,2,", ",,2,")))).collect())
    assert(causes(e).contains("null enemyNumber"), causes(e))
    // and a streaming query dies on it rather than dropping the line
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[String]
    mem.addData(ok, "5" + ok.drop(1))
    val q = Jobs.quarterPrediction(model)(mem.toDF().toDF("value"))
      .writeStream.format("noop").start()
    val se = intercept[Exception](q.processAllAvailable())
    q.stop()
    assert(causes(se).contains("enemyStyle value 5"), causes(se))
  }

  test("an unexpected pipeline fails when score is defined, not at its first row") {
    val noEncoder = new Pipeline().setStages(Array(
      new VectorAssembler().setInputCols(QuarterPrediction.featureCols.toArray)
        .setOutputCol("features"),
      new RandomForestClassifier().setLabelCol(QuarterPrediction.labelCol).setNumTrees(2)))
      .fit(train.limit(200))
    val e = intercept[IllegalArgumentException](QuarterPrediction.score(noEncoder, train))
    assert(e.getMessage.contains("OneHotEncoder"), e.getMessage)
  }

  test("planned quarterPrediction stream: no ScalaUDF, no vector column, forest scored once in codegen") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[String]
    mem.addData("1,11,7,2,6,2,2,4,2,2,0,2,3,7,1")
    val q = Jobs.quarterPrediction(model)(mem.toDF().toDF("value"))
      .writeStream.format("noop").start()
    q.processAllAvailable()
    val plan = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan
    q.stop()
    val exprs = plan.collect { case p => p.expressions }.flatten.flatMap(_.collect { case e => e })
    assert(exprs.count(_.isInstanceOf[ScalaUDF]) == 0, plan.toString)
    val attrs = exprs.collect { case a: Attribute => a } ++ plan.collect { case p => p.output }.flatten
    assert(!attrs.exists(_.dataType == SQLDataTypes.VectorType), plan.toString)
    assert(exprs.count(_.isInstanceOf[ForestScore]) == 1, plan.toString)
    val inCodegen = plan.collect { case w: WholeStageCodegenExec => w.child }
      .flatMap(_.collect { case p => p.expressions }.flatten)
      .exists(_.exists(_.isInstanceOf[ForestScore]))
    assert(inCodegen, plan.toString)
  }
}
