package graft

import org.apache.spark.ml.PipelineModel
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.core.Tables
import graft.ml.QuarterPrediction

/** K4 (SURVEY §2.2): MLWritable/MLReadable persistence — the fitted
  * pipeline (encoder INCLUDED, fixing quirk Q1: the reference persists the
  * unfitted estimator and re-fits per batch) saves and reloads to identical
  * scores. */
class MlPersistenceSpec extends AnyFunSuite with TempDirs {
  lazy val spark: SparkSession = Tables.localSession("ml-persist-spec", cores = 4)
  val sf = "/root/testdata/sf0.001"

  test("fitted pipeline save/load round trip scores identically") {
    val df = QuarterPrediction.trainingFrame(spark, sf).cache()
    val model = QuarterPrediction.train(df)
    val dir = tempDir("qp-model").toString + "/model"
    model.write.overwrite().save(dir)
    val loaded = PipelineModel.load(dir)
    val a = QuarterPrediction.score(model, df)
      .select("rowId", "prediction", "prob").collect().map(_.toString).sorted
    val b = QuarterPrediction.score(loaded, df)
      .select("rowId", "prediction", "prob").collect().map(_.toString).sorted
    assert(a.toSeq == b.toSeq)
  }

  test("AUC evaluates the p1 probability score, not the hard prediction (A9)") {
    import org.apache.spark.sql.functions._
    val df = QuarterPrediction.trainingFrame(spark, sf).cache()
    val scored = QuarterPrediction.score(QuarterPrediction.train(df), df).cache()
    val auc = QuarterPrediction.auc(scored)
    assert(auc > 0.5 && auc <= 1.0, s"AUC $auc not better than random")
    // probability-based AUC must differ from plain accuracy — equality would
    // mean the evaluator is still ranking on the degenerate 0/1 prediction
    val acc = scored
      .agg(avg((col("prediction") === col(QuarterPrediction.labelCol)).cast("double")))
      .head.getDouble(0)
    assert(math.abs(auc - acc) > 1e-9, s"AUC $auc == accuracy $acc (degenerate)")
    // p1 is a genuine probability: spread across (0,1), not two point masses
    val nDistinct = scored.select("p1").distinct().count()
    assert(nDistinct > 2, s"p1 has only $nDistinct distinct values")
  }
}
