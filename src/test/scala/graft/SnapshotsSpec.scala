package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{Snapshots, Tables}

/** The materialize-once store ([[graft.core.Snapshots]]): one build per
  * (application, dataset, name), nested builds, failed builds, and the
  * deletion of an application's snapshot dirs when it ends. */
class SnapshotsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Tables.localSession("snapshots-spec", cores = 4)
  val sf = "/root/testdata/sf0.001"

  val specNames = Seq("spec-inner", "spec-outer", "spec-shared", "spec-fails")

  private def inTmp(name: String): Seq[Path] = {
    val s = Files.list(Paths.get(System.getProperty("java.io.tmpdir")))
    try s.toArray.toSeq.map(_.asInstanceOf[Path])
      .filter(_.getFileName.toString.startsWith(s"$name-snap"))
    finally s.close()
  }
  private val stale = specNames.flatMap(inTmp).toSet

  /** This application's `<name>-snap*` dirs in the JVM temp dir: those a
    * killed earlier run of this suite left behind do not count. */
  def snapDirs(name: String): Seq[Path] = inTmp(name).filterNot(stale)

  test("two calls of one name build once; a build may call another name's build") {
    val builds = new AtomicInteger
    def inner() = Snapshots.parquet(spark, sf, "spec-inner") {
      builds.incrementAndGet(); spark.range(5).toDF("id")
    }
    def outer() = Snapshots.parquet(spark, sf, "spec-outer") {
      builds.incrementAndGet(); inner().withColumn("twice", col("id") * 2)
    }
    assert(outer().count() == 5)
    assert(outer().agg(sum("twice")).head().getLong(0) == 20)
    assert(inner().count() == 5)
    assert(builds.get == 2)

    // concurrent callers of one key wait for one build
    val pool = Executors.newFixedThreadPool(3)
    try {
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      val calls = Seq.fill(3)(Future(Snapshots.once(spark, sf, "spec-shared") { _ =>
        Thread.sleep(200); builds.incrementAndGet()
      }))
      assert(Await.result(Future.sequence(calls), 1.minute).distinct == Seq(3))
      assert(builds.get == 3)
    } finally {
      pool.shutdown(); pool.awaitTermination(1, TimeUnit.MINUTES)
    }
  }

  test("a failed build leaves no dir, and the next call builds") {
    var fail = true
    def snap() = Snapshots.parquet(spark, sf, "spec-fails") {
      val id = spark.range(0, 40, 1, 4).toDF("id")
      if (fail) id.select(when(col("id") === 37, raise_error(lit("injected build failure")))
        .otherwise(col("id")).as("id"))
      else id
    }
    intercept[Exception](snap())
    assert(snapDirs("spec-fails").isEmpty)
    fail = false
    assert(snap().count() == 40)
    assert(snap().agg(sum("id")).head().getLong(0) == 780)
    assert(snapDirs("spec-fails").size == 1)
  }

  test("stopping the context deletes its snapshot dirs; a fresh context rebuilds " +
      "the same rows") {
    def run(s: SparkSession) = {
      val df = SparkEntry.queries("dedup_labels_materialized")(s, sf)
      val dirs = df.inputFiles.toSeq.filter(_.contains("cluster-labels-snap"))
        .map(f => Paths.get(new java.net.URI(f)).getParent).distinct
      (df.collect().map(_.toString).sorted.toSeq, dirs)
    }
    val (rows, dirs) = run(spark)
    assert(rows.nonEmpty)
    assert(dirs.size == 1 && Files.isDirectory(dirs.head), s"snapshot dirs: $dirs")
    val owned = specNames.flatMap(snapDirs)
    assert(owned.size == 4, s"this application's spec dirs: $owned")

    // Bench's fresh-context re-measure
    val cores = "local\\[(\\d+)\\]".r.findFirstMatchIn(spark.sparkContext.master)
      .map(_.group(1).toInt).getOrElse(4)
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    (dirs ++ owned).foreach(d => assert(!Files.exists(d), s"$d outlived its application"))

    val fresh = Tables.localSession("snapshots-spec", cores)
    val (again, dirsAgain) = run(fresh)
    assert(again == rows)
    assert(dirsAgain.size == 1 && dirsAgain != dirs && Files.isDirectory(dirsAgain.head))
  }
}
