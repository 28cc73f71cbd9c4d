package graft.operators

import org.apache.spark.sql.functions._
import graft.core.{QueryDef, Tables}
import graft.core.QueryDef.{rowsOnly, sql}
import graft.cv.PlayerIdent
import graft.ml.QuarterPrediction

/** The reference's two end-to-end pipelines as declared queries — BOTH
  * oracle-checked: the CV UDF chain is replayed stage-for-stage in DuckDB
  * ([[CvOracle]]), and the trained RandomForest is compiled into
  * nested-CASE oracle SQL ([[graft.ml.RfSqlCompiler]]).
  */
object Pipelines {

  /** The ONE SQL definition of the ML feature frame, as CTEs ending in
    * `base("rowId", features..., "winPeriod")` — shared by the
    * `ml_features` oracle and the compiled-forest `ml_rf_score` oracle so
    * the feature surface cannot fork between them. */
  private[graft] val featFrameSqlCtes: String =
    """feat AS (
      |  SELECT l_orderkey,
      |         CAST(max(l_partkey) % 3 AS INT) AS "enemyStyle",
      |         CAST(sum(l_quantity) AS INT) AS "teamNumber",
      |         CAST(fmod(sum(l_quantity), 19) AS INT) AS "enemyNumber",
      |         CAST(count(*) AS INT) AS "fastBreak",
      |         CAST(sum(l_linenumber) % 7 AS INT) AS "restrictedNumber",
      |         CAST(max(l_suppkey) % 11 AS INT) AS "perimeterNumber",
      |         CAST(min(l_partkey) % 5 AS INT) AS "threeNumber",
      |         CAST(sum(l_partkey) % 6 AS INT) AS "freethrowNumber",
      |         CAST(max(l_linenumber) AS INT) AS "assist",
      |         CAST(min(l_suppkey) % 4 AS INT) AS "steal",
      |         CAST(sum(l_suppkey) % 3 AS INT) AS "block",
      |         CAST(fmod(max(l_quantity), 8) AS INT) AS "foul",
      |         CAST(fmod(min(l_quantity), 9) AS INT) AS "turnover",
      |         CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) % 30 AS INT)
      |           AS "enemyPeriodScore"
      |  FROM lineitem GROUP BY l_orderkey),
      |base AS (
      |  SELECT f.l_orderkey AS "rowId", f."enemyStyle", f."teamNumber",
      |         f."enemyNumber", f."fastBreak", f."restrictedNumber",
      |         f."perimeterNumber", f."threeNumber", f."freethrowNumber",
      |         f."assist", f."steal", f."block", f."foul", f."turnover",
      |         f."enemyPeriodScore",
      |         CAST(o.o_totalprice > 150000 AS INT) AS "winPeriod"
      |  FROM feat f JOIN orders o ON f.l_orderkey = o.o_orderkey)""".stripMargin

  /** Quarter prediction: train (seeded) + score + "{pred},{prob}" output
    * over features derived from the sfDir tables (SURVEY §3.1/§3.3).
    *
    * ORACLE-CHECKED once a model exists: DuckDB cannot TRAIN a forest, but
    * it can evaluate one — after `trainAndScore` runs (Verify runs every
    * query before dumping oracle_sql.json), the fitted 14-tree forest is
    * compiled into nested CASE expressions that replay Spark's scoring
    * IEEE-op-for-IEEE-op ([[graft.ml.RfSqlCompiler]]). The oracle is
    * always the forest this process last scored with; a JVM that has not
    * trained yet declares the query rows-only (DeterminismSpec pins its
    * output). */
  def mlRfScore: QueryDef = QuarterPrediction.rfScoreOracleSql match {
    case Some(sqlText) =>
      sql("ml_rf_score", sqlText)((s, d) => QuarterPrediction.trainAndScore(s, d))
    case None =>
      rowsOnly("ml_rf_score")((s, d) => QuarterPrediction.trainAndScore(s, d))
  }

  /** The ML pipeline's deterministic feature frame, oracle-checked: every
    * column of `QuarterPrediction.trainingFrame` is integer groupBy/join
    * arithmetic (quantity doubles are integer-valued, prices are rounded to
    * exact cents per row before summing), so the entire surface up to the
    * RandomForest boundary hash-verifies against DuckDB — and since round
    * 9 the model transform itself is oracle-replayed too (`ml_rf_score`). */
  val mlFeatures = sql(
    "ml_features",
    s"""WITH $featFrameSqlCtes
       |SELECT * FROM base ORDER BY "rowId"""".stripMargin) { (s, d) =>
    QuarterPrediction.trainingFrame(s, d).orderBy("rowId")
  }

  /** Player identification: binary image column → pose/digit/color stub
    * pipeline → explode detections → broadcast stats lookup (SURVEY §3.2).
    * Images are synthesized from document text bytes (no image corpus in
    * testdata); the stats dimension is generated to cover both teams.
    *
    * ORACLE-CHECKED since round 8: every stage of the stub pipeline is
    * deterministic integer/IEEE math over the payload bytes, and
    * [[CvOracle.pipelineSql]] replays it stage-for-stage in DuckDB
    * (splitmix decode → box denoise → pose → acos gate → box-sum digit
    * spotting with closed-form 3-box NMS → 10-round Lloyd's k-means →
    * L1 team → stats join). The stat columns are integer-exact k/10
    * arithmetic (not round(double·fmod)) so values AND their string
    * renderings in `msg` agree bit-for-bit across engines. */
  val cvPlayerPipeline = sql("cv_player_pipeline", CvOracle.pipelineSql) {
    (s, d) =>
      val images = Tables.documents(s, d)
        .select(col("doc_id"), col("text").cast("binary").as("img"))
      val stats = s.range(0, 100).select(
        explode(array(lit("team_a"), lit("team_b"))).as("team"),
        col("id").cast("int").as("num"),
        (col("id") * 17 % 300 / 10.0).as("score"),
        (col("id") * 13 % 150 / 10.0).as("reb"),
        (col("id") * 7 % 120 / 10.0).as("ast"))
        .filter(col("num") % 3 =!= 0) // force some 'player not found' misses
      PlayerIdent.pipeline(s, images, "img", stats)
        .withColumn("msg", concat_ws(",",
          col("team"), col("num"), col("score"), col("reb"), col("ast")))
        .orderBy("doc_id", "team", "num")
  }

  /** One detected pose-heatmap peak (the `cv_pose_peaks` UDF row). */
  final case class PosePeak(x: Int, y: Int, score: Float)

  /** The A5/M8 heatmap math oracle-checked relationally: stub decode →
    * one 16×16 green-channel "heatmap" → REAL σ=3 gaussian blur + REAL
    * 4-neighbor peak detection (`Heatmaps.detectPeaks` — the same code
    * path HeatmapsSpec drives with hand fixtures) → keypoint table.
    * [[CvOracle.posePeaksSql]] replays the blur as explicit ordered
    * 19-term IEEE sums with the shared kernel literals, so this takes the
    * pose stage's ScalaTest-only surface down to the CNN seam itself.
    * Doc subset (id % 50) bounds the pixel replay on both engines. */
  val cvPosePeaks = sql("cv_pose_peaks", CvOracle.posePeaksSql) { (s, d) =>
    val peaksUdf = udf((bytes: Array[Byte]) =>
      PlayerIdent.StubDecoder.decode(bytes).toSeq.flatMap { img =>
        val w = 16; val h = 16
        val map = Array.tabulate(w * h) { i =>
          ((img.pixels((i / w) * img.w + (i % w)) >> 8) & 0xff) / 255.0f
        }
        graft.cv.Heatmaps.detectPeaks(map, w, h)
          .map(p => PosePeak(p.x, p.y, p.score))
      })
    Tables.documents(s, d)
      .filter(col("doc_id") % 50 === 0)
      .select(col("doc_id"),
        explode(peaksUdf(col("text").cast("binary"))).as("pk"))
      .select(col("doc_id"), col("pk.x").as("x"), col("pk.y").as("y"),
        col("pk.score").as("score"))
      .orderBy("doc_id", "y", "x")
  }

  /** def, not val: `mlRfScore`'s oracle SQL materializes once a model has
    * been trained this process (Verify dumps oracle_sql.json AFTER running
    * the queries, so the driver always sees the compiled-forest oracle). */
  def defs: Seq[QueryDef] =
    Seq(mlRfScore, mlFeatures, cvPlayerPipeline, cvPosePeaks)
}
