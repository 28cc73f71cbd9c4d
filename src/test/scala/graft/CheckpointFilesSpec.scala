package graft

import java.nio.file.{Files, Path => JPath}

import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, CommitLog, CommitMetadata, FileContextBasedCheckpointFileManager}
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{CheckpointFiles, NioCheckpointFileManager, Tables}

/** The local checkpoint-file manager ([[graft.core.CheckpointFiles]]):
  * what `localSession` resolves per scheme, and the atomic-publish
  * contract Spark's offset and commit logs and state stores rely on. The
  * checkpoint-restart specs in StreamingSpec run under it unchanged. */
class CheckpointFilesSpec extends AnyFunSuite with TempDirs {
  lazy val spark: SparkSession = Tables.localSession("checkpoint-files-spec", cores = 2)

  def manager(p: Path): CheckpointFileManager =
    CheckpointFileManager.create(p, spark.sessionState.newHadoopConf())

  def names(dir: JPath): Set[String] =
    Files.list(dir).toArray.map(_.asInstanceOf[JPath].getFileName.toString).toSet

  def write(fm: CheckpointFileManager, p: Path, text: String, overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(text.getBytes("UTF-8"))
    out.close()
  }

  test("localSession resolves file: paths to the nio manager, other schemes to Spark's") {
    val dir = tempDir("ckpt-resolve")
    for (p <- Seq(new Path(dir.toUri), new Path(dir.toString))) {
      val fm = manager(p)
      assert(fm.asInstanceOf[CheckpointFiles].underlying.isInstanceOf[NioCheckpointFileManager])
    }
    val remote = manager(new Path("hdfs://localhost:9/ckpt"))
    assert(remote.asInstanceOf[CheckpointFiles].underlying
      .isInstanceOf[FileContextBasedCheckpointFileManager])
  }

  test("a published file appears whole on close; until then only a hidden temp exists") {
    val dir = tempDir("ckpt-publish")
    val fm = manager(new Path(dir.toUri))
    val out = fm.createAtomic(new Path(new Path(dir.toUri), "0"), false)
    out.write("offsets".getBytes("UTF-8"))
    out.flush()
    assert(!Files.exists(dir.resolve("0")))
    assert(names(dir).forall(n => n.startsWith(".0.") && n.endsWith(".tmp")))
    out.close()
    assert(names(dir) == Set("0"))
    assert(Files.readString(dir.resolve("0")) == "offsets")
    val in = fm.open(new Path(new Path(dir.toUri), "0"))
    try assert(new String(in.readAllBytes(), "UTF-8") == "offsets") finally in.close()
  }

  test("cancel() leaves no file behind") {
    val dir = tempDir("ckpt-cancel")
    val out = manager(new Path(dir.toUri)).createAtomic(new Path(new Path(dir.toUri), "1.delta"), true)
    out.write(Array[Byte](1, 2, 3))
    out.cancel()
    out.close()
    assert(names(dir).isEmpty)
  }

  test("a no-overwrite create against an existing file fails and keeps the old content") {
    val dir = tempDir("ckpt-exists")
    val fm = manager(new Path(dir.toUri))
    val p = new Path(new Path(dir.toUri), "3")
    write(fm, p, "first", overwrite = false)
    intercept[FileAlreadyExistsException](write(fm, p, "second", overwrite = false))
    assert(Files.readString(dir.resolve("3")) == "first")
    assert(names(dir) == Set("3"))
    // an overwrite replaces it, and drops a checksum Hadoop left beside it
    Files.writeString(dir.resolve(".3.crc"), "stale")
    write(fm, p, "third", overwrite = true)
    assert(Files.readString(dir.resolve("3")) == "third")
    assert(names(dir) == Set("3"))
  }

  test("temp files never match the batch-file listing") {
    val dir = tempDir("ckpt-log").resolve("commits")
    val log = new CommitLog(spark, dir.toString)
    assert(log.add(0, CommitMetadata()))
    assert(!log.add(0, CommitMetadata()), "a batch is written once")
    val pending = manager(new Path(dir.toUri)).createAtomic(new Path(new Path(dir.toUri), "1"), false)
    pending.write("v1\n{}".getBytes("UTF-8"))
    pending.flush()
    assert(log.get(None, None).map(_._1).toSeq == Seq(0L))
    assert(log.getLatestBatchId().contains(0L))
    pending.cancel()
    log.purge(1)
    assert(log.get(None, None).isEmpty && names(dir).isEmpty)
  }
}
