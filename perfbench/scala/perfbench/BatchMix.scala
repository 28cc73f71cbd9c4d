package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.SparkEntry
import graft.operators._

/** One closed-loop client making a cold pass over a fixed query list: the
  * light queries in an order the seed shuffles, then `ml_rf_score`, then
  * the other heavy ones (pipelines and shared-snapshot consumers), also
  * shuffled. Whichever consumer of a shared snapshot comes first builds it.
  * The fixed part of the order keeps the JVM's warm-up on the same queries
  * in every run: it would otherwise land on whichever heavy query the
  * shuffle puts first and decide the slowest query's time. */
object BatchMix {
  val LeadQuery = "ml_rf_score"

  final case class Entry(name: String, hash: String, heavy: Boolean)

  /** Module of each declared query. */
  lazy val moduleOf: Map[String, String] = Seq(
    "Relational" -> Relational.defs, "TextOps" -> TextOps.defs,
    "Similarity" -> Similarity.defs, "Pipelines" -> Pipelines.defs,
    "Multimodal" -> Multimodal.defs, "Olap" -> Olap.defs,
    "Sampling" -> Sampling.defs, "TpchShapes" -> TpchShapes.defs)
    .flatMap { case (m, ds) => ds.map(_.name -> m) }.toMap
  val Modules: Seq[String] = Seq("Relational", "TextOps", "Similarity", "Olap",
    "Sampling", "TpchShapes", "Pipelines", "Multimodal")

  def readList(path: String): IndexedSeq[Entry] =
    Files.readAllLines(Paths.get(path)).asScala.toIndexedSeq
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val f = l.split("\t")
        Entry(f(0), if (f.length > 1) f(1) else "", f.length > 2 && f(2) == "heavy")
      }

  /** Order-insensitive content hash: columns by name, rows sorted. */
  def hash(columns: Seq[String], rows: Array[Row]): String = {
    def canon(v: Any): String = v match {
      case null => "null"
      case r: Row => r.toSeq.map(canon).mkString("{", ",", "}")
      case m: scala.collection.Map[_, _] =>
        m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted.mkString("{", ",", "}")
      case b: Array[Byte] => b.map("%02x".format(_)).mkString
      case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
      case x => x.toString
    }
    val order = columns.zipWithIndex.sortBy(_._1).map(_._2)
    val lines = rows.map(r => order.map(i => canon(r.get(i))).mkString("|")).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(order.map(columns).mkString("|").getBytes("UTF-8"))
    lines.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    md.digest().take(8).map("%02x".format(_)).mkString
  }

  final case class Done(name: String, seconds: Double, hash: String, error: Option[String])

  /** Runs every query once, submit to materialized result, in `order`. */
  def pass(spark: SparkSession, data: String, order: Seq[Entry],
      record: Option[String]): Seq[Done] =
    order.map { e =>
      // the program's own Verify/Bench discipline between queries
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      try {
        val df: DataFrame = SparkEntry.queries(e.name)(spark, data)
        val rows = df.collect()
        val s = Stat.s(System.nanoTime() - t0)
        record.foreach(dir => df.coalesce(1).write.mode("overwrite").parquet(s"$dir/${e.name}"))
        Done(e.name, s, hash(df.columns.toSeq, rows), None)
      } catch {
        case t: Throwable =>
          Done(e.name, Stat.s(System.nanoTime() - t0), "", Some(String.valueOf(t.getMessage)))
      }
    }

  def run(seed: Long, trace: Boolean, data: String, list: String, setups: Int,
      record: Option[String]): Outcome = {
    val entries = readList(list)
    val rnd = new scala.util.Random(seed)
    val (heavy, light) = entries.partition(_.heavy)
    val (lead, rest) = heavy.partition(_.name == LeadQuery)
    val order = rnd.shuffle(light) ++ lead ++ rnd.shuffle(rest)
    def session() = graft.core.Tables.localSession("perfbench-batch_mix", Env.cores)
    val (spark, setupTimes) = Setup.repeat(setups)(() => session())(Env.stop)
    warmUp(spark, data)
    Env.mark("warmed up")
    // a traced run is the same pass with every listener attached; the
    // difference from the untraced run of the same seed is the overhead
    val exec = new ExecTrace
    if (trace) exec.attach(spark)
    val t0 = System.nanoTime()
    val done = pass(spark, data, order, record)
    val sweep = Stat.s(System.nanoTime() - t0)
    if (trace) exec.detach(spark)
    spark.catalog.clearCache()
    val heap = Env.heapLiveMb()
    val snaps = TempDirs.snapshots()
    Env.stop(spark)
    val want = entries.map(e => e.name -> e.hash).toMap
    val failed = done.filter(d => d.error.nonEmpty || d.hash != want(d.name))
    done.foreach(d => System.err.println(f"[perfbench] ${d.name}%-36s ${d.seconds}%7.3f s ${d.hash}"))
    failed.foreach { d =>
      System.err.println(s"[perfbench] ${d.name} failed: " +
        d.error.getOrElse(s"hash ${d.hash} != expected ${want(d.name)}"))
    }
    record.foreach { dir =>
      val q = (s: String) => "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"
        case '\t' => "\\t"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
      Files.writeString(Paths.get(s"$dir/oracle_sql.json"), SparkEntry.oracleSql
        .filter(kv => want.contains(kv._1))
        .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
      Files.writeString(Paths.get(s"$dir/hashes.tsv"),
        entries.map { e =>
          s"${e.name}\t${done.find(_.name == e.name).get.hash}\t${if (e.heavy) "heavy" else "light"}\n"
        }.mkString)
    }
    val times = done.map(_.seconds)
    val m = new Metrics
    if (!trace) {
      m.put("setup_s", Stat.median(setupTimes), "s")
      m.put("latency_p50_ms", Stat.pct(times, 0.5) * 1e3, "ms")
      m.put("latency_p99_ms", Stat.pct(times, 0.99) * 1e3, "ms")
      m.put("sweep_s", sweep, "s")
      m.put("heap_live_mb", heap, "MB")
      cleanTemp()
      return Outcome(done.size, failed.size, m)
    }

    m.put("snapshot.builds", snaps.size.toDouble, "count")
    m.put("snapshot.mb", snaps.map(TempDirs.sizeMb).sum, "MB")
    m.put("snapshot.leaked_dirs", cleanTemp().toDouble, "count")
    exec.report(m)
    Modules.foreach { mod =>
      m.put(s"ops.${mod}_s", done.filter(d => moduleOf.get(d.name).contains(mod))
        .map(_.seconds).sum, "s")
    }
    m.put("trace.latency_p50_ms", Stat.pct(times, 0.5) * 1e3, "ms")
    m.put("trace.latency_p99_ms", Stat.pct(times, 0.99) * 1e3, "ms")
    m.put("trace.sweep_s", sweep, "s")
    m.put("batch.query_p80_s", Stat.pct(times, 0.8), "s")
    m.put("setup.first_s", setupTimes.head, "s")
    PlayerStream.cvLayers(seed, m)
    Outcome(done.size, failed.size, m)
  }

  /** Two cheap queries outside the list absorb the first-use costs of the
    * session and the table scans before the pass. */
  def warmUp(spark: SparkSession, data: String): Unit =
    Seq("p1_project", "a1_median").foreach(q => SparkEntry.queries(q)(spark, data).collect())

  /** Deletes the snapshot and bucket-join directories left in the temp dir
    * and returns how many there were. */
  def cleanTemp(): Int = {
    val left = TempDirs.list()
    left.foreach(TempDirs.delete)
    left.size
  }
}
