package graft
import graft.core.Tables
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // sfDir hint for cold-start oracle resolution (ml_rf_score's persisted
    // compiled-forest SQL is keyed by sfDir; see QuarterPrediction)
    System.setProperty("graft.sf.dir", sfDir)
    val spark = Tables.localSession("verify", Tables.envCores)
    new java.io.File(outDir).mkdirs()
    // Failure honesty: a throwing query MUST leave a visible artifact, not
    // silently vanish from the correctness compare (round 5 lost 21 red
    // rows exactly that way). Each failure is recorded in failed.json and
    // the process exits nonzero, mirroring Bench's failed/rc discipline.
    val failed = scala.collection.mutable.LinkedHashMap[String, String]()
    // dev-only subset filter (driver never sets it): comma-separated names
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(',').map(_.trim).toSet).filter(_.nonEmpty)
    def wanted(n: String) = only.forall(_.contains(n))
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => wanted(n) }.foreach { case (name, fn) =>
      // queries that cache intermediates (shingle/decontam/cluster family)
      // must not pin executor storage for the remaining ~80 queries
      spark.catalog.clearCache()
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failed(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)

    // Determinism gate for rows-only queries (no DuckDB oracle exists for
    // them): run each twice and compare a canonical content hash — catches
    // nondeterminism regressions the rows-count check cannot.
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] = {
      val cols = df.columns.sorted.toSeq
      df.select(cols.map(c => org.apache.spark.sql.functions.col(c)
        .cast("string")): _*)
        .collect().map(_.mkString("\u0001")).sorted.toSeq
    }
    val rowsOnlyNames =
      (SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet)
        .toSeq.sorted.filter(wanted)
    val selfJson = rowsOnlyNames.map { name =>
      spark.catalog.clearCache() // same storage discipline as the dump loop
      val ok =
        try canon(SparkEntry.queries(name)(spark, sfDir)) ==
          canon(SparkEntry.queries(name)(spark, sfDir))
        catch { case e: Throwable =>
          System.err.println(s"[verify] self-consistency $name failed: ${e.getMessage}")
          false
        }
      s"${q(name)}: {${q("self_consistent")}: $ok}"
    }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/self_consistency.json"), selfJson)

    val failedJson = failed
      .map { case (k, v) => s"${q(k)}: ${q(v.take(500))}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/failed.json"), failedJson)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} queries FAILED: " +
        failed.keys.mkString(", "))
      sys.exit(1)
    }
  }
}
