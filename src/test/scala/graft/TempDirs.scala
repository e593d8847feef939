package graft

import java.io.IOException
import java.nio.file.{FileVisitResult, Files, Path, SimpleFileVisitor}
import java.nio.file.attribute.BasicFileAttributes
import java.util.concurrent.ConcurrentLinkedQueue

/** Temp directories for specs. `TempDirs(prefix)` creates a fresh directory
  * under java.io.tmpdir named after `prefix` and registers it; every
  * registered directory is deleted recursively when the test JVM exits
  * (Test / fork := true, so that is the end of the test run). Until then a
  * failing test's directory can still be found by its prefix. */
object TempDirs {

  private val created = new ConcurrentLinkedQueue[Path]()

  sys.addShutdownHook(created.forEach(d => deleteRecursively(d)))

  def path(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    created.add(d)
    d
  }

  def apply(prefix: String): String = path(prefix).toString

  /** Best effort: a file that vanished or cannot be removed is skipped, so
    * one stuck file never keeps the rest of the tree on disk. Links are
    * removed, never followed. */
  private def deleteRecursively(root: Path): Unit =
    try {
      Files.walkFileTree(root, new SimpleFileVisitor[Path] {
        override def visitFile(f: Path, a: BasicFileAttributes): FileVisitResult = {
          try Files.deleteIfExists(f) catch { case _: IOException => }
          FileVisitResult.CONTINUE
        }
        override def visitFileFailed(f: Path, e: IOException): FileVisitResult =
          FileVisitResult.CONTINUE
        override def postVisitDirectory(d: Path, e: IOException): FileVisitResult = {
          try Files.deleteIfExists(d) catch { case _: IOException => }
          FileVisitResult.CONTINUE
        }
      })
    } catch { case _: IOException => }
}
