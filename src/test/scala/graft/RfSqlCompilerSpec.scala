package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import graft.core.Tables
import graft.ml.QuarterPrediction

/** The compiled-forest oracle ([[graft.ml.RfSqlCompiler]]) must replay
  * Spark's RandomForest scoring exactly: same prediction, BIT-identical
  * probability (every step is the same IEEE-754 op in the same order), and
  * the same rendered msg string. Proven here by executing the generated
  * scoring SQL in Spark itself over the real feature frame and comparing
  * row-for-row with `model.transform`; cross-engine (DuckDB) parity is
  * then the driver's Verify + check.py gate.
  */
class RfSqlCompilerSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Tables.localSession("rf-sql-spec", cores = 8)
  val sf = "/root/testdata/sf0.001"

  test("generated scoring SQL replays model.transform bit-for-bit") {
    val scored = QuarterPrediction.trainAndScore(spark, sf) // trains + caches
    val oracle = QuarterPrediction.rfScoreOracleSql
    assert(oracle.isDefined, "model trained → oracle SQL must exist")

    // extract the scoring SELECT (everything after the shared feat CTEs —
    // those use DuckDB's fmod and are already proven by ml_features); run
    // it over the REAL feature frame registered as `base`
    val scoreSql = oracle.get.split("\\Qbase AS (\\E").last
      .split("\n").dropWhile(!_.startsWith("votes AS")).mkString("\n")
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.ansi.enabled", "true")
    s2.conf.set("spark.sql.ansi.doubleQuotedIdentifiers", "true")
    QuarterPrediction.trainingFrame(s2, sf).createOrReplaceTempView("base")
    val viaSql = s2.sql(s"WITH $scoreSql").collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getDouble(2), r.getDouble(3), r.getString(4)))
      .toMap

    val direct = scored.collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getDouble(2), r.getDouble(3), r.getString(4)))
      .toMap
    assert(viaSql.keySet == direct.keySet)
    val mismatches = direct.collect {
      case (k, v) if viaSql(k) != v => (k, v, viaSql(k))
    }
    assert(mismatches.isEmpty,
      s"${mismatches.size} rows diverge; first: ${mismatches.headOption}")
  }

  test("oracle SQL is regenerated per trained model (def, not frozen val)") {
    QuarterPrediction.trainAndScore(spark, sf)
    val a = graft.operators.Pipelines.mlRfScore
    assert(a.oracle.isDefined)
    // the SQL embeds literal leaf counts — sanity: it mentions CASE and
    // the vote normalization, and round-trips through SparkEntry.oracleSql
    assert(a.oracle.get.contains("CASE WHEN") && a.oracle.get.contains("v0 + v1"))
    assert(SparkEntry.oracleSql.contains("ml_rf_score"))
  }

  test("training writes no file: the oracle is compiled from the scored model") {
    QuarterPrediction.trainAndScore(spark, sf)
    // the oracle has no on-disk copy: no file under ml-state/, the dir a
    // persisted compilation used, may be newer than this JVM
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val dir = java.nio.file.Paths.get("ml-state")
    val written =
      if (!java.nio.file.Files.isDirectory(dir)) Seq.empty
      else scala.util.Using.resource(java.nio.file.Files.walk(dir)) {
        _.iterator.asScala.filter(java.nio.file.Files.isRegularFile(_))
          .filter(java.nio.file.Files.getLastModifiedTime(_).toMillis >= jvmStart).toList
      }
    assert(written.isEmpty, s"this JVM wrote under ml-state/: $written")
    assert(QuarterPrediction.rfScoreOracleSql.isDefined)
    assert(QuarterPrediction.rfScoreOracleSql == graft.operators.Pipelines.mlRfScore.oracle)
  }
}
