package graft

import java.nio.file.{Files, Path}
import scala.collection.mutable.ArrayBuffer
import org.scalatest.{Outcome, TestSuite, TestSuiteMixin}

/** Temporary directories that live as long as one test: every
  * directory made by [[tempDir]] is deleted with its contents when the
  * test ends, whether it passed or failed.
  */
trait TempDirs extends TestSuiteMixin { this: TestSuite =>
  private val dirs = ArrayBuffer.empty[Path]

  def tempDir(prefix: String): String = {
    val d = Files.createTempDirectory(prefix)
    dirs.synchronized(dirs += d)
    d.toString
  }

  abstract override def withFixture(test: NoArgTest): Outcome =
    try super.withFixture(test)
    finally dirs.synchronized {
      dirs.foreach(TempDirs.deleteTree)
      dirs.clear()
    }
}

object TempDirs {
  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
    finally s.close()
  }
}
