package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.scalatest.Assertions._

import graft.io.TableCommitter

/** Helpers for the specs of layouts older than the current on-disk format
  * ([[TableCommitter.Format]]): each such layout must be refused with the
  * one [[TableCommitter.OlderFormat]] message and left as it was. */
object OlderLayouts {

  /** Every path under `root`, relative, with its content's hash (a
    * directory's is 0): equal listings before and after a call mean the
    * call wrote, moved and deleted nothing there. */
  def listing(root: Path): Map[String, Int] = {
    val s = Files.walk(root)
    try s.iterator().asScala.toList.map { p =>
      root.relativize(p).toString ->
        (if (Files.isDirectory(p)) 0 else java.util.Arrays.hashCode(Files.readAllBytes(p)))
    }.toMap
    finally s.close()
  }

  /** `body` is refused with the one older-format message, and `root` is
    * unchanged afterwards. */
  def refused(root: Path)(body: => Any): TableCommitter.OlderFormat = {
    val before = listing(root)
    val e = intercept[TableCommitter.OlderFormat](body)
    Seq(s"graft format ${TableCommitter.Format}", "f69f29c", "fresh workDir")
      .foreach(m => assert(e.getMessage.contains(m), e.getMessage))
    val after = listing(root)
    assert(after == before, (after.toSet diff before.toSet, before.toSet diff after.toSet))
    e
  }

  /** Delete the pins of every table under `workDir`: tables as a writer
    * before the format pin left them. */
  def unpin(workDir: Path): Unit = {
    val s = Files.walk(workDir)
    val pins = try s.iterator().asScala.filter(p => p.getFileName.toString == "pins" &&
      p.getParent.getFileName.toString == "_meta").toList
      finally s.close()
    pins.foreach(graft.io.SparkIo.deleteRecursively)
  }
}
