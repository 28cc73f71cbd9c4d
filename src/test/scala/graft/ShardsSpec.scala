package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.core.Tables
import graft.sources.Shards

/** Write-side shard management: size bounds hold, partition layout prunes,
  * compaction collapses fragmented outputs — with no data loss in either
  * direction. */
class ShardsSpec extends AnyFunSuite with TempDirs {
  lazy val spark: SparkSession = Tables.localSession("shards-spec", cores = 8)
  val sf = "/root/testdata/sf0.01"

  private def parquetFiles(dir: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.endsWith(".parquet")) Seq(f)
      else Nil
    walk(new java.io.File(dir))
  }

  test("writeSized: every shard respects the row cap; nothing lost") {
    val docs = Tables.documents(spark, sf) // 500 rows
    val out = tempDir("shards-sized").toString
    Shards.writeSized(docs, out, maxRecordsPerFile = 100L)
    val files = parquetFiles(out)
    assert(files.nonEmpty)
    files.foreach { f =>
      val n = spark.read.parquet(f.getAbsolutePath).count()
      assert(n <= 100, s"${f.getName} holds $n rows > cap")
    }
    assert(spark.read.parquet(out).count() == 500)
  }

  test("writeSized: hive partitioning by lang gives readers partition pruning") {
    val docs = Tables.documents(spark, sf)
    val out = tempDir("shards-part").toString
    Shards.writeSized(docs, out, maxRecordsPerFile = 1000L,
      partitionCols = Seq("lang"))
    val langDirs = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("lang=")).map(_.getName).toSet
    assert(langDirs.size >= 3, s"expected per-lang dirs, got $langDirs")
    // pruning: the lang predicate must land in the scan's PartitionFilters
    // (directory-level pruning), not survive as a post-scan data filter
    val pruned = spark.read.parquet(out).filter("lang = 'en'")
    pruned.collect()
    val scan = pruned.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PartitionFilters: [") &&
      scan.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
        .contains("lang"),
      s"lang predicate not in PartitionFilters:\n$scan")
  }

  test("compact: fragmented output collapses to byte-sized shard count, content preserved") {
    val docs = Tables.documents(spark, sf)
    val frag = tempDir("shards-frag").toString
    docs.repartition(50).write.mode("overwrite").parquet(frag)
    assert(parquetFiles(frag).size == 50)
    val out = tempDir("shards-compact").toString
    // target ≈ half the total bytes → expect 2 output partitions
    val totalBytes = parquetFiles(frag).map(_.length).sum
    val n = Shards.compact(spark, frag, out, targetBytes = totalBytes / 2 + 1)
    assert(n == 2, s"expected 2 partitions from byte sizing, got $n")
    assert(parquetFiles(out).size == 2)
    assert(spark.read.parquet(out).count() == 500)
  }

  test("compact: partitionCols preserves the hive layout through the rewrite") {
    val docs = Tables.documents(spark, sf)
    val frag = tempDir("shards-frag-part").toString
    docs.repartition(20).write.mode("overwrite").partitionBy("lang").parquet(frag)
    val out = tempDir("shards-compact-part").toString
    Shards.compact(spark, frag, out, targetBytes = Long.MaxValue,
      partitionCols = Seq("lang"))
    val langDirs = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("lang=")).map(_.getName).toSet
    assert(langDirs.size >= 3, s"hive layout lost in compaction: $langDirs")
    assert(spark.read.parquet(out).count() == 500)
  }
}
