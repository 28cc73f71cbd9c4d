package graft

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.Tables

/** Source/sink operator coverage (SURVEY §2.1-2.2): CSV with schema
  * inference (S3, ml_model.py:8), CSV with fixed headerless schema + CJK
  * strings (S4, dl_k_to_ss.py:66), JSON (S7), parquet write/read, and the
  * group-by-median over the reference-shaped jersey-color fixture (A1).
  */
class SourcesSpec extends AnyFunSuite with TempDirs {
  lazy val spark: SparkSession = Tables.localSession("sources-spec", cores = 4)

  private def tmp(prefix: String): String = tempDir(prefix).toString

  test("S3: CSV read with header + inferSchema types the 15 int columns") {
    val dir = tmp("csv-inferred")
    val header = "enemyStyle,teamNumber,enemyNumber,fastBreak,restrictedNumber," +
      "perimeterNumber,threeNumber,freethrowNumber,assist,steal,block,foul," +
      "turnover,enemyPeriodScore,winPeriod"
    // FIXTURES.md A1 sample rows (test_line.csv:2-3)
    val rows = Seq("2,11,7,2,6,2,2,4,2,2,0,2,3,7,1", "0,8,9,0,1,2,3,0,0,0,2,3,2,13,1")
    Files.writeString(java.nio.file.Path.of(dir, "data.csv"),
      (header +: rows).mkString("\n"))
    val df = spark.read.option("header", "true").option("inferSchema", "true").csv(dir)
    assert(df.count() == 2)
    assert(df.schema.fields.forall(_.dataType == IntegerType))
    assert(df.columns.head == "enemyStyle" && df.columns.last == "winPeriod")
  }

  test("S4 + A1: fixed headerless schema, CJK strings, exact group-by median") {
    val dir = tmp("csv-fixed")
    // FIXTURES.md A2 shape: Team,Num,Name,R,G,B — CJK team names, 2 teams
    Files.writeString(java.nio.file.Path.of(dir, "player_info.csv"),
      Seq(
        "德親設計-進攻犯規,1,John,245,232,230",
        "德親設計-進攻犯規,5,Mike,235,222,228",
        "德親設計-進攻犯規,9,Paul,241,230,224",
        "PENRITE 更好的機油,17,Owen,27,48,157",
        "PENRITE 更好的機油,23,Dave,31,52,149").mkString("\n"))
    val schema = StructType(Seq(
      StructField("Team", StringType), StructField("Num", IntegerType),
      StructField("Name", StringType), StructField("R", IntegerType),
      StructField("G", IntegerType), StructField("B", IntegerType)))
    val df = spark.read.schema(schema).csv(dir)
    assert(df.count() == 5)
    // UTF-8 CJK round-trips intact (SURVEY §7.4 risk 6)
    assert(df.filter(col("Team") === "德親設計-進攻犯規").count() == 3)
    // dl_k_to_ss.py:67-69: per-team medians; odd count → middle, even → mean
    val med = df.groupBy("Team")
      .agg(median(col("R")).as("mr"), median(col("G")).as("mg"), median(col("B")).as("mb"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3)))
      .toMap
    assert(med("德親設計-進攻犯規") == ((241.0, 230.0, 228.0)))
    assert(med("PENRITE 更好的機油") == ((29.0, 50.0, 153.0))) // interpolated
  }

  test("S7: JSON write/read round trip preserves schema and values") {
    val dir = tmp("json-rt")
    val src = Tables.nation(spark, "/root/testdata/sf0.001")
    src.write.mode("overwrite").json(dir)
    val back = spark.read.json(dir)
    assert(back.count() == src.count())
    assert(back.select("n_name").except(src.select("n_name")).isEmpty)
  }

  test("parquet sink/source round trip is lossless (incl. doubles)") {
    val dir = tmp("pq-rt")
    val src = Tables.customer(spark, "/root/testdata/sf0.001")
    src.write.mode("overwrite").parquet(dir)
    val back = spark.read.parquet(dir)
    assert(back.count() == src.count())
    assert(back.except(src).isEmpty && src.except(back).isEmpty)
  }

  test("ORC sink/source round trip is lossless (second columnar format)") {
    val dir = tmp("orc-rt")
    val src = Tables.customer(spark, "/root/testdata/sf0.001")
    src.write.mode("overwrite").orc(dir)
    val back = spark.read.orc(dir)
    assert(back.schema == src.schema)
    assert(back.except(src).isEmpty && src.except(back).isEmpty)
  }

  test("CSV sink round trip with explicit schema (the Kafka-file interchange shape)") {
    val dir = tmp("csv-rt")
    val src = Tables.nation(spark, "/root/testdata/sf0.001")
      .select("n_nationkey", "n_name", "n_regionkey")
    src.write.mode("overwrite").option("header", "true").csv(dir)
    val back = spark.read.option("header", "true").schema(src.schema).csv(dir)
    assert(back.except(src).isEmpty && src.except(back).isEmpty)
  }

  test("corrupt records quarantine instead of failing the batch (PERMISSIVE)") {
    import java.nio.file.{Files, Path}
    val dir = tmp("corrupt")
    Files.writeString(Path.of(dir, "data.json"),
      """{"id": 1, "v": 10}
        |not json at all
        |{"id": 2, "v": 20}
        |{"id": "wrong-type", "v": 30}
        |""".stripMargin)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "id BIGINT, v BIGINT, _corrupt_record STRING")
    val df = spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(dir).cache()
    // clean rows parse; bad rows land in the quarantine column, batch survives
    assert(df.filter(col("_corrupt_record").isNull).count() == 2)
    val bad = df.filter(col("_corrupt_record").isNotNull)
    assert(bad.count() == 2)
    // the 100 TB contract: a handful of rotten rows must not kill the job,
    // and the quarantined originals stay available for a dead-letter sink
    assert(bad.select("_corrupt_record").collect()
      .exists(_.getString(0).contains("not json")))
  }

  test("binaryFile source: raw media files load as binary columns with metadata") {
    // the multimodal INGEST path at 100 TB: image/audio/video files land as
    // opaque binary columns + path/length metadata, downstream decode stays
    // in partition-local seams (Multimodal.*). Fixture: write media blobs
    // as loose files, read back via the built-in binaryFile source.
    import java.nio.file.{Files, Path}
    val dir = tempDir("binsrc")
    val blobs = Map(
      "a.bin" -> Array[Byte](0x50, 0x4b, 3, 4, 9, 9),         // zip magic
      "b.bin" -> Array[Byte](-1, -40, -1, -32, 0, 1, 2, 3, 4)) // jpeg magic
    blobs.foreach { case (n, b) => Files.write(dir.resolve(n), b) }
    val df = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.bin").load(dir.toString)
    assert(df.columns.toSet == Set("path", "modificationTime", "length", "content"))
    val got = df.select("path", "length", "content").collect()
      .map(r => r.getString(0).split('/').last ->
        (r.getLong(1), r.getAs[Array[Byte]]("content"))).toMap
    assert(got.keySet == blobs.keySet)
    blobs.foreach { case (n, b) =>
      assert(got(n)._1 == b.length.toLong, s"$n length")
      assert(got(n)._2.toSeq == b.toSeq, s"$n content must round-trip bit-exact")
    }
    // and the loaded binary column feeds the existing multimodal meta path:
    // magic-byte detection runs on the ingested content as-is
    val magics = df.select(expr("substring(hex(content), 1, 4)").as("m"))
      .collect().map(_.getString(0)).toSet
    assert(magics == Set("504B", "FFD8"), s"magic bytes drifted: $magics")
  }

  test("K1/P2: message format -> parse round trip is the identity") {
    // the Kafka value contract: format as '{a},{b}' then split back
    val src = Tables.orders(spark, "/root/testdata/sf0.001")
      .select(col("o_orderkey"), col("o_orderstatus"))
    val rt = src
      .select(concat_ws(",", col("o_orderkey"), col("o_orderstatus")).as("value"))
      .select(split(col("value"), ",").as("p"))
      .select(element_at(col("p"), 1).cast("long").as("o_orderkey"),
        element_at(col("p"), 2).as("o_orderstatus"))
    assert(rt.except(src).isEmpty && src.except(rt).isEmpty)
  }
}
