package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.scalatest.{BeforeAndAfterAll, Suite}

/** Temp directories of one spec suite: each is deleted, with everything under it, when the suite
  * ends, so a test run leaves no tables behind in the temp directory.
  */
trait TempDirs extends BeforeAndAfterAll { this: Suite =>
  private val dirs = new ConcurrentLinkedQueue[Path]

  def tempDir(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    dirs.add(d)
    d
  }

  override def afterAll(): Unit =
    try super.afterAll()
    finally dirs.asScala.foreach { d =>
      if (Files.exists(d)) {
        val walk = Files.walk(d)
        try walk.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
        finally walk.close()
      }
    }
}
