package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Ordered name -> (value, unit) map; printed as the result's `metrics`. */
final class Metrics {
  private val m = mutable.LinkedHashMap[String, (Double, String)]()
  def put(name: String, value: Double, unit: String): Unit = m(name) = (value, unit)
  def ++=(o: Metrics): Unit = m ++= o.m
  def get(name: String): Double = m(name)._1
  def entries: Seq[(String, (Double, String))] = m.toSeq
}

/** What one run reports besides its metrics. */
final case class Outcome(attempted: Long, failed: Long, metrics: Metrics) {
  def correct: Boolean = failed == 0 && attempted > 0
}

object Stat {
  /** Nearest-rank percentile, `p` in (0, 1]. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
    }
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)
  def ms(nanos: Long): Double = nanos / 1e6
  def s(nanos: Long): Double = nanos / 1e9
}

object Env {
  /** Cores of the local master: the host's processors, as `nproc` reports. */
  val cores: Int = Runtime.getRuntime.availableProcessors()

  /** Heap in use after a full collection: what the program keeps alive. */
  def heapLiveMb(): Double = {
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    // the context cleaner drops unreferenced broadcasts and shuffles only
    // after a collection found them, so collect until the heap stops falling
    (1 to 5).map { _ =>
      System.gc(); Thread.sleep(200)
      mx.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
  }

  /** Logs a step with the JVM's uptime, for reading where a run's time goes. */
  def mark(step: String): Unit = System.err.println(
    f"[perfbench] ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%7.2f s $step")

  def tmpDir: java.nio.file.Path =
    java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))

  /** A fresh directory under this run's temp dir. */
  def freshDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(tmpDir, prefix).toString

  /** Stops the active session and waits until its context is gone. */
  def stop(spark: SparkSession): Unit = {
    spark.streams.active.foreach(_.stop())
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }
}

/** Runs `setup` `n` times, each in a session of its own, and returns the
  * last result with every setup's wall time. All but the last session are
  * stopped; `teardown` releases what a setup built before its session goes.
  */
object Setup {
  def repeat[T](n: Int)(setup: () => T)(teardown: T => Unit): (T, Seq[Double]) = {
    var last: Option[T] = None
    val times = (1 to n).map { _ =>
      last.foreach(teardown)
      val t0 = System.nanoTime()
      last = Some(setup())
      Stat.s(System.nanoTime() - t0)
    }
    (last.get, times)
  }
}

/** Engine counters of the traced phase, from Spark's public listeners:
  * jobs, stages and task metrics from a `SparkListener`, Catalyst phase
  * times from a `QueryExecutionListener`. */
final class ExecTrace extends SparkListener with QueryExecutionListener {
  private val jobs, stages, tasks = new AtomicLong
  private val runMs, cpuNs, gcMs = new AtomicLong
  private val inputB, shufWB, shufRB, spillB = new AtomicLong
  private val analysisMs, optimizationMs, planningMs = new AtomicLong
  private val queries = new AtomicLong

  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      inputB.addAndGet(m.inputMetrics.bytesRead)
      shufWB.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shufRB.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spillB.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  private def phases(qe: QueryExecution): Unit = {
    queries.incrementAndGet()
    qe.tracker.phases.foreach { case (name, p) =>
      name match {
        case "analysis" => analysisMs.addAndGet(p.durationMs)
        case "optimization" => optimizationMs.addAndGet(p.durationMs)
        case "planning" => planningMs.addAndGet(p.durationMs)
        case _ => ()
      }
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    phases(qe)

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  /** Detaches after the listener buses had time to deliver the last events. */
  def detach(spark: SparkSession): Unit = {
    Thread.sleep(1000)
    spark.listenerManager.unregister(this)
    spark.sparkContext.removeSparkListener(this)
  }

  def report(m: Metrics): Unit = {
    val mb = 1048576.0
    m.put("catalyst.analysis_s", analysisMs.get / 1e3, "s")
    m.put("catalyst.optimization_s", optimizationMs.get / 1e3, "s")
    m.put("catalyst.planning_s", planningMs.get / 1e3, "s")
    m.put("catalyst.queries", queries.get.toDouble, "count")
    m.put("exec.jobs", jobs.get.toDouble, "count")
    m.put("exec.stages", stages.get.toDouble, "count")
    m.put("exec.tasks", tasks.get.toDouble, "count")
    m.put("exec.executor_run_s", runMs.get / 1e3, "s")
    m.put("exec.executor_cpu_s", cpuNs.get / 1e9, "s")
    m.put("exec.gc_s", gcMs.get / 1e3, "s")
    m.put("exec.input_mb", inputB.get / mb, "MB")
    m.put("exec.shuffle_write_mb", shufWB.get / mb, "MB")
    m.put("exec.shuffle_read_mb", shufRB.get / mb, "MB")
    m.put("exec.spill_mb", spillB.get / mb, "MB")
  }
}

/** Shared-snapshot directories (`<name>-snap*`) and bucket-join scratch
  * directories the program leaves in the JVM temp dir. */
object TempDirs {
  private def isSnap(n: String) = n.contains("-snap")
  private def isBucket(n: String) = n.startsWith("bucket-join")

  def list(): Seq[java.io.File] =
    Option(Env.tmpDir.toFile.listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && (isSnap(f.getName) || isBucket(f.getName)))

  def sizeMb(f: java.io.File): Double = {
    def walk(x: java.io.File): Long =
      if (x.isDirectory) Option(x.listFiles()).toSeq.flatten.map(walk).sum
      else x.length()
    walk(f) / 1048576.0
  }

  def snapshots(): Seq[java.io.File] = list().filter(f => isSnap(f.getName))

  def delete(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(delete)
    f.delete()
  }
}
