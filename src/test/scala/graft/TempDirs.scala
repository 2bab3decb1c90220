package graft

import java.nio.file.{Files, Path, Paths}
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

  /** A byte-identical copy of the table tree at `root`, as the sibling `<root>-clone`: the same
    * data and manifest file names, so the copy plans and prunes exactly as the original does.
    * It is deleted with the suite's temp directories.
    */
  def cloneTable(root: String): String = {
    val from = Paths.get(root)
    val to = Paths.get(root + "-clone")
    dirs.add(to)
    val walk = Files.walk(from)
    try walk.iterator().asScala.foreach(p => Files.copy(p, to.resolve(from.relativize(p).toString)))
    finally walk.close()
    to.toString
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
