package graft

import java.nio.file.{Files, Path}
import scala.collection.mutable.ListBuffer
import org.scalatest.{BeforeAndAfterAll, Suite}
import graft.core.NioCheckpointFileManager

/** Temp dirs a suite's tests write, deleted once the suite ends. */
trait TempDirs extends BeforeAndAfterAll { this: Suite =>
  private val dirs = ListBuffer.empty[Path]

  def tempDir(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    dirs += d
    d
  }

  override def afterAll(): Unit =
    try dirs.foreach(NioCheckpointFileManager.deleteTree)
    finally super.afterAll()
}
