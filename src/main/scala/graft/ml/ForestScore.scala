package graft.ml

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkException
import org.apache.spark.ml.GraftMlBridge.{GCatSplit, GLeaf, GSplit, GTree}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, StructType}

/** A fitted binary random forest flattened into primitive arrays, scored
  * over the int inputs `numeric ++ Seq(category)`.
  *
  * Feature slot `s < numeric` reads input `s`; slot `numeric + j` is the
  * dropLast one-hot indicator `category == j` — the slot layout of the
  * OneHotEncoder → VectorAssembler stages the forest was trained behind.
  * Nodes are numbered across the whole forest; `feature(n) < 0` marks a
  * leaf, whose per-class votes are `count_c / total` divided once here
  * (0 for an empty leaf, which `predictRaw` skips).
  *
  * Scoring replays `RandomForestClassificationModel` step for step, the
  * same contract [[RfSqlCompiler]] compiles to SQL: votes accumulate in
  * tree order, prediction is the raw-vote argmax (first max wins),
  * probabilities are the votes divided by `v0 + v1`.
  */
final class FlatForest private (
    roots: Array[Int],
    feature: Array[Int],
    threshold: Array[Double],
    leftCategories: Array[Array[Double]],
    left: Array[Int],
    right: Array[Int],
    vote0: Array[Double],
    vote1: Array[Double],
    val inputs: Array[String],
    categories: Int) extends Serializable {

  private val numeric = inputs.length - 1

  override def toString: String = s"FlatForest(${roots.length} trees, ${feature.length} nodes)"

  /** Fails on a null input, naming the column. */
  def nullInput(i: Int): Unit =
    throw new SparkException(s"null ${inputs(i)}: every scored column is required")

  /** `(prediction, prob, p1)` for one row of inputs. */
  def score(x: Array[Int]): InternalRow = {
    val category = x(numeric)
    if (category < 0 || category >= categories)
      throw new SparkException(s"${inputs(numeric)} value $category is outside " +
        s"the fitted domain 0..${categories - 1}")
    var v0 = 0.0
    var v1 = 0.0
    var t = 0
    while (t < roots.length) {
      var n = roots(t)
      while (feature(n) >= 0) {
        val s = feature(n)
        val v = if (s < numeric) x(s).toDouble else if (category == s - numeric) 1.0 else 0.0
        val cats = leftCategories(n)
        val goLeft = if (cats == null) v <= threshold(n) else contains(cats, v)
        n = if (goLeft) left(n) else right(n)
      }
      v0 += vote0(n)
      v1 += vote1(n)
      t += 1
    }
    val sum = v0 + v1
    val pred1 = v1 > v0
    new GenericInternalRow(Array[Any](if (pred1) 1.0 else 0.0,
      if (pred1) v1 / sum else v0 / sum, v1 / sum))
  }

  private def contains(cats: Array[Double], v: Double): Boolean = {
    var i = 0
    while (i < cats.length && cats(i) != v) i += 1
    i < cats.length
  }
}

object FlatForest {

  /** Flattens `trees` (in `predictRaw` order) for inputs named `inputs`,
    * the last one categorical with `categories` fitted values. */
  def apply(trees: Array[GTree], inputs: Seq[String], categories: Int): FlatForest = {
    val feature, left, right = ArrayBuffer[Int]()
    val threshold, vote0, vote1 = ArrayBuffer[Double]()
    val leftCategories = ArrayBuffer[Array[Double]]()
    def add(t: GTree): Int = {
      val n = feature.size
      feature += -1; threshold += 0.0; leftCategories += null
      left += -1; right += -1; vote0 += 0.0; vote1 += 0.0
      t match {
        case GLeaf(stats) =>
          require(stats.length == 2, s"binary forest expected, got ${stats.length} classes")
          val total = stats.sum
          if (total != 0.0) { vote0(n) = stats(0) / total; vote1(n) = stats(1) / total }
        case GSplit(f, thr, l, r) =>
          feature(n) = f; threshold(n) = thr; left(n) = add(l); right(n) = add(r)
        case GCatSplit(f, cats, l, r) =>
          feature(n) = f; leftCategories(n) = cats; left(n) = add(l); right(n) = add(r)
      }
      n
    }
    val roots = trees.map(add)
    new FlatForest(roots, feature.toArray, threshold.toArray, leftCategories.toArray,
      left.toArray, right.toArray, vote0.toArray, vote1.toArray,
      inputs.toArray, categories)
  }
}

/** Scores a [[FlatForest]] as one code-generating Catalyst expression over
  * its int input columns, yielding `struct<prediction, prob, p1>` (prob is
  * the probability of the predicted class). A null input or a category
  * outside the fitted domain fails the query, naming the column or value.
  *
  * The generated code evaluates the inputs inline and calls the forest's
  * array walk; the task carries only the forest's primitive arrays. */
case class ForestScore(children: Seq[Expression], forest: FlatForest) extends Expression {

  override def nullable: Boolean = false
  override def dataType: DataType = ForestScore.outputType

  override def checkInputDataTypes(): TypeCheckResult =
    if (children.size == forest.inputs.length && children.forall(_.dataType == IntegerType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"forest_score requires ${forest.inputs.length} INT inputs, got " +
        children.map(_.dataType.sql).mkString("(", ", ", ")"))

  override def eval(input: InternalRow): Any = {
    val x = new Array[Int](children.size)
    for (i <- x.indices) {
      val v = children(i).eval(input)
      if (v == null) forest.nullInput(i) else x(i) = v.asInstanceOf[Int]
    }
    forest.score(x)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val f = ctx.addReferenceObj("forest", forest, classOf[FlatForest].getName)
    val x = ctx.addMutableState("int[]", "forestInputs",
      v => s"$v = new int[${children.size}];")
    val fill = children.zipWithIndex.map { case (c, i) =>
      val e = c.genCode(ctx)
      s"""${e.code}
         |if (${e.isNull}) { $f.nullInput($i); } else { $x[$i] = ${e.value}; }""".stripMargin
    }
    ev.copy(code = code"""
      |${fill.mkString("\n")}
      |InternalRow ${ev.value} = $f.score($x);""".stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): ForestScore = copy(children = newChildren)
}

object ForestScore {
  val outputType: StructType = new StructType()
    .add("prediction", DoubleType, nullable = false)
    .add("prob", DoubleType, nullable = false)
    .add("p1", DoubleType, nullable = false)
}
