package graft.ml

import org.apache.spark.ml.{GraftMlBridge, Pipeline, PipelineModel}
import org.apache.spark.ml.classification.{RandomForestClassificationModel, RandomForestClassifier}
import org.apache.spark.ml.evaluation.BinaryClassificationEvaluator
import org.apache.spark.ml.feature.{OneHotEncoder, OneHotEncoderModel, VectorAssembler}
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Quarter-prediction ML pipeline — the Spark-native rebuild of the
  * reference's `quarter_prediction/ml_model.py` (train) and
  * `ml_k_to_ss.py` (score).
  *
  * Capability parity, Spark-first:
  *  - same stage chain: one-hot encode the categorical `enemyStyle`
  *    (ml_model.py:10-13) → assemble features (ml_model.py:19-23) →
  *    RandomForest maxDepth=6, numTrees=14, entropy (ml_model.py:25);
  *  - quirks fixed with documented divergence (SURVEY §2.8): Q1/Q2 — the
  *    reference re-loads and re-FITS the encoder on every micro-batch; we
  *    fit once and persist the fitted `PipelineModel` (MLWritable), loaded
  *    once per process;
  *  - Q3/Q5 — output is the probability OF the predicted class
  *    (ml_k_to_ss.py:45-49) in the `"{pred},{prob}"` message format
  *    (ml_k_to_ss.py:51), probability rounded to 2 dp at the notifier edge
  *    (ml_IFTTT.py:15).
  *
  * Scale: training is MLlib's distributed RF, and the fitted
  * `PipelineModel` is what persists. Scoring does not run the pipeline's
  * UDF stages: the fitted forest is flattened into primitive arrays and
  * evaluated by one code-generating Catalyst expression ([[ForestScore]])
  * over the 14 int columns — a narrow map with no shuffle, no vector
  * columns, and no model object graph shipped with each task.
  */
object QuarterPrediction {

  val featureCols: Seq[String] = Seq(
    "teamNumber", "enemyNumber", "fastBreak", "restrictedNumber",
    "perimeterNumber", "threeNumber", "freethrowNumber", "assist",
    "steal", "block", "foul", "turnover", "enemyPeriodScore")
  val categoricalCol = "enemyStyle"
  val labelCol = "winPeriod"
  val Seed = 42L

  /** The reference's 15-int stream schema (FIXTURES.md A1), derived here
    * deterministically from the synthetic `lineitem`/`orders` tables so the
    * pipeline runs on driver-provided inputs at any scale factor. */
  def trainingFrame(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    val o = Tables.orders(spark, sfDir)
    li.groupBy("l_orderkey").agg(
      (max("l_partkey") % 3).cast("int").as(categoricalCol),
      sum("l_quantity").cast("int").as("teamNumber"),
      (sum("l_quantity") % 19).cast("int").as("enemyNumber"),
      count(lit(1)).cast("int").as("fastBreak"),
      (sum("l_linenumber") % 7).cast("int").as("restrictedNumber"),
      (max("l_suppkey") % 11).cast("int").as("perimeterNumber"),
      (min("l_partkey") % 5).cast("int").as("threeNumber"),
      (sum("l_partkey") % 6).cast("int").as("freethrowNumber"),
      (max("l_linenumber")).cast("int").as("assist"),
      (min("l_suppkey") % 4).cast("int").as("steal"),
      (sum("l_suppkey") % 3).cast("int").as("block"),
      (max("l_quantity") % 8).cast("int").as("foul"),
      (min("l_quantity") % 9).cast("int").as("turnover"),
      // cents-exact: l_extendedprice is a 2-dp double whose sum is
      // accumulation-order-sensitive (and ~1/100 groups sum to .00, right
      // on the int-cast boundary); per-row round-to-cents makes the sum an
      // exact integer on every engine — the oracle-stable formulation
      (sum(round(col("l_extendedprice") * 100).cast("long")) % 30)
        .cast("int").as("enemyPeriodScore"))
      .join(o.select(col("o_orderkey"), col("o_totalprice")),
        col("l_orderkey") === col("o_orderkey"))
      .withColumn(labelCol, (col("o_totalprice") > 150000).cast("int"))
      .drop("o_orderkey", "o_totalprice")
      .withColumnRenamed("l_orderkey", "rowId")
  }

  /** Fit the full pipeline (fitted encoder persisted — Q1 fixed). */
  def train(df: DataFrame): PipelineModel = {
    val ohe = new OneHotEncoder()
      .setInputCols(Array(categoricalCol))
      .setOutputCols(Array(s"${categoricalCol}_classVec"))
    val assembler = new VectorAssembler()
      .setInputCols((featureCols :+ s"${categoricalCol}_classVec").toArray)
      .setOutputCol("features")
    val rf = new RandomForestClassifier()
      .setLabelCol(labelCol)
      .setFeaturesCol("features")
      .setMaxDepth(6)
      .setNumTrees(14)
      .setImpurity("entropy")
      .setSeed(Seed)
    new Pipeline().setStages(Array(ohe, assembler, rf)).fit(df)
  }

  /** The fitted pipeline's forest and its category count, after checking
    * the pipeline is the one [[train]] fits: OneHotEncoder (dropLast,
    * handleInvalid=error) → VectorAssembler (handleInvalid=error) →
    * forest without thresholds over exactly the assembled slots. */
  private def forestOf(pm: PipelineModel): (RandomForestClassificationModel, Int) =
    pm.stages match {
      case Array(ohe: OneHotEncoderModel, asm: VectorAssembler,
          rf: RandomForestClassificationModel) =>
        val classVec = s"${categoricalCol}_classVec"
        require(ohe.getInputCols.toSeq == Seq(categoricalCol) &&
          ohe.getOutputCols.toSeq == Seq(classVec) && ohe.getDropLast &&
          ohe.getHandleInvalid == "error", s"unexpected encoder: ${ohe.extractParamMap()}")
        require(asm.getInputCols.toSeq == featureCols :+ classVec &&
          asm.getOutputCol == rf.getFeaturesCol && asm.getHandleInvalid == "error",
          s"unexpected assembler: ${asm.extractParamMap()}")
        require(!rf.isDefined(rf.thresholds), "forest with class thresholds")
        val categories = ohe.categorySizes(0)
        require(rf.numFeatures == featureCols.size + categories - 1, // dropLast
          s"feature-slot mismatch: rf=${rf.numFeatures} vs ${featureCols.size}+${categories - 1}")
        (rf, categories)
      case stages =>
        throw new IllegalArgumentException("expected OneHotEncoder → VectorAssembler → " +
          s"RandomForest, got ${stages.map(_.getClass.getSimpleName).mkString(" → ")}")
    }

  /** Score and project the reference's observable output: prediction,
    * probability-of-predicted-class (Q3), and the "{pred},{prob}" message
    * (Q5), prob rounded 2 dp as at the notifier edge. The model's shape is
    * checked here, when the plan is built, not at its first row. */
  def score(model: PipelineModel, df: DataFrame): DataFrame = {
    val (rf, categories) = forestOf(model)
    val inputs = featureCols :+ categoricalCol
    val forest = FlatForest(GraftMlBridge.trees(rf), inputs, categories)
    val scored = GraftSqlBridge.column(
      ForestScore(inputs.map(c => GraftSqlBridge.expression(col(c))), forest))
    // p1 = P(class 1): the continuous ranking score AUC needs (a hard 0/1
    // prediction would make AUC degenerate — accuracy in disguise)
    df.withColumn("_forest", scored)
      .select(col("*"), col("_forest.*")) // prediction, prob, p1
      .drop("_forest")
      .withColumn("msg",
        concat_ws(",", col("prediction").cast("int"), round(col("prob"), 2)))
  }

  /** AUC on a scored frame (ml_model.py:31-33, the intended metric):
    * evaluated on the `p1` probability score, not the hard prediction. */
  def auc(scored: DataFrame): Double =
    new BinaryClassificationEvaluator()
      .setLabelCol(labelCol)
      .setRawPredictionCol("p1")
      .evaluate(scored)

  /** Fitted models per training dir — the reference's Q2 semantics: the
    * model is trained offline once (ml_model.py) and LOADED ONCE per
    * process for scoring (ml_k_to_ss.py:22-28); re-fitting per invocation
    * was the reference's quirk Q1, fixed. Training is seeded, so the cached
    * model is identical to a fresh fit. */
  private val modelCache =
    scala.collection.concurrent.TrieMap.empty[String, PipelineModel]

  /** The key of the most recently trained sfDir — the model whose scores
    * the oracle must replay. Within one Verify/Bench run there is exactly
    * one sfDir, so "last" is unambiguous there. */
  private val lastKey =
    new java.util.concurrent.atomic.AtomicReference[String]()

  /** Compiled oracle SQL per sfDir key, filled at train time (in-memory
    * twin of the on-disk [[persistRoot]] files). */
  private val compiledSqlCache =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** On-disk home of the compiled-forest oracle SQL: training is seeded
    * and the training frame is deterministic per sfDir, so a persisted
    * compilation is byte-identical to a fresh one for the same sfDir
    * AND the same trainer — a pure cache keyed by the full (sanitized)
    * sfDir path plus [[TrainerLayoutVersion]]. */
  private val persistRoot = "ml-state"

  /** Version stamp of everything the fitted forest depends on: the
    * key-sample rule, the repartition/sort layout pin, the seed, and the
    * [[RfSqlCompiler]] output format. BUMP THIS whenever any of those
    * change — a persisted compilation from an older trainer replays a
    * forest the current code no longer fits, and a cold-start Verify
    * would trust it and hash-mismatch a CORRECT result (exactly what the
    * round-10 coalesce(4)→repartition(4) layout pin would have done to
    * any pre-existing ml-state file; the version key makes such files
    * invisible instead). */
  private val TrainerLayoutVersion = 2
  private def sfKey(sfDir: String): String =
    new java.io.File(sfDir).getAbsolutePath.replaceAll("[^A-Za-z0-9._-]", "_")
  private def oracleFile(key: String) =
    s"rf_oracle_v${TrainerLayoutVersion}_$key.sql"
  private def oraclePath(key: String) =
    java.nio.file.Paths.get(persistRoot, oracleFile(key))

  /** Compiles the fitted pipeline's forest into the full `ml_rf_score`
    * oracle SQL. See [[RfSqlCompiler]] for the replay contract. */
  private def compileOracle(pm: PipelineModel): String = {
    val (rf, _) = forestOf(pm)
    // feature-vector slot i → SQL over the feature frame: the 13 int
    // columns in assembler order, then the OHE classVec (dropLast) as
    // explicit 0/1 indicators of enemyStyle
    def feat(i: Int): String =
      if (i < featureCols.size) s""""${featureCols(i)}""""
      else s"""CASE WHEN "$categoricalCol" = ${i - featureCols.size} THEN 1.0 ELSE 0.0 END"""
    s"""WITH ${graft.operators.Pipelines.featFrameSqlCtes},
       |${RfSqlCompiler.scoreSelectSql(rf, feat, "base")}""".stripMargin
  }

  /** Cold-start fallback: the persisted compilation, but ONLY when the
    * right file is unambiguous — the sfDir hint (`graft.sf.dir` set by
    * Verify, or `SPARK_GRAFT_SF_DIR` which Bench always has) naming a
    * current-[[TrainerLayoutVersion]] file. No hint, a missing file, or
    * a file from another trainer version all degrade to None (the
    * rows-only check), never to a wrong-sfDir or stale-trainer oracle
    * that would hash-mismatch a correct result. (A no-hint "exactly one
    * file on disk" guess used to exist here; it could silently pick a
    * file another process persisted for a DIFFERENT sfDir, so it is
    * gone — every oracle-dumping path sets a hint.) */
  private def loadPersisted(): Option[String] = {
    val hint = sys.props.get("graft.sf.dir") // set by Verify from its arg
      .orElse(sys.env.get("SPARK_GRAFT_SF_DIR")) // set for Bench by the driver
    hint.map(k => oraclePath(sfKey(k))).filter(java.nio.file.Files.exists(_))
      .map(p => new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
  }

  /** Oracle SQL for `ml_rf_score`. In-JVM: available once `trainAndScore`
    * has run (the driver's Verify runs every query BEFORE dumping
    * oracle_sql.json, so the model for its sfDir is always compiled by
    * then). Cold start (round-9 VERDICT #4): falls back to the SQL
    * persisted at the last train for the same sfDir — so a fresh JVM that
    * never trains still dumps the full oracle instead of silently
    * degrading to rows-only. */
  def rfScoreOracleSql: Option[String] =
    Option(lastKey.get()).flatMap(compiledSqlCache.get)
      .orElse(try loadPersisted() catch { case _: Throwable => None })

  /** End-to-end: train on the sfDir tables (once per process, Q2), score
    * the full frame, emit the observable columns. Deterministic under the
    * fixed seed. */
  def trainAndScore(spark: SparkSession, sfDir: String): DataFrame = {
    val df = trainingFrame(spark, sfDir).cache()
    val model = modelCache.getOrElseUpdate(sfDir, {
      // Train on a deterministic 10% key-sample, score the full frame — the
      // at-scale pattern (the model doesn't need 100 TB of rows; scoring is
      // a narrow map over all of them). Sample is keyed, not random: stable
      // across runs and engines.
      // Pin the training-side LAYOUT, not just its rows: MLlib RF's
      // split-finding samples per partition, so the fitted trees depend on
      // partition count AND per-partition row order. `coalesce(4)` (round
      // 9) inherited whatever layout the ambient session produced — AQE
      // on/off flipped the upstream aggregate's partitioning and yielded a
      // deterministic-but-DIFFERENT model (caught by the DeterminismSpec
      // golden pin when PlanBudgetSpec, which measures plans AQE-off,
      // trained first). repartition(4, rowId) + sortWithinPartitions is
      // bit-stable under any session config: hash placement and in-
      // partition order both derive from the unique key alone. The 4-way
      // repartition also keeps the round-9 win (per-iteration tree-agg
      // overhead on a thousands-of-rows sample).
      val trainDf = df.filter(pmod(col("rowId"), lit(10)) === 0)
        .repartition(4, col("rowId"))
        .sortWithinPartitions("rowId")
        .cache()
      train(if (trainDf.isEmpty) df else trainDf)
    })
    val key = sfKey(sfDir)
    compiledSqlCache.getOrElseUpdate(key, {
      val sqlText = compileOracle(model)
      // best-effort persist: the compilation is deterministic per sfDir
      // (seeded training over a deterministic frame), so the file is a
      // pure cache a cold JVM can trust; IO failure only costs cold-start
      // oracle availability, never correctness
      try {
        java.nio.file.Files.createDirectories(
          java.nio.file.Paths.get(persistRoot))
        java.nio.file.Files.writeString(oraclePath(key), sqlText)
        // hygiene: drop this key's files from other trainer versions
        // (including the pre-versioning name) so stale compilations
        // can't linger next to the live one. EXACT-name match only — a
        // suffix match could hit a different sfDir whose sanitized key
        // happens to end with "_<key>" and delete its live cache.
        val stale = java.util.regex.Pattern.compile(
          "rf_oracle(_v\\d+)?_" + java.util.regex.Pattern.quote(key) + "\\.sql")
        val dir = new java.io.File(persistRoot)
        Option(dir.list()).getOrElse(Array.empty[String])
          .filter(n => stale.matcher(n).matches() && n != oracleFile(key))
          .foreach(n => new java.io.File(dir, n).delete())
      } catch { case e: Throwable =>
        System.err.println(s"[ml] rf oracle persist failed: ${e.getMessage}")
      }
      sqlText
    })
    lastKey.set(key)
    score(model, df)
      .select("rowId", "winPeriod", "prediction", "prob", "msg")
      .orderBy("rowId")
  }
}
