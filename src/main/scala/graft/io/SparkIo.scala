package graft.io

import java.nio.file.{Files, NoSuchFileException, Path, StandardCopyOption}
import java.util.Comparator

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFooterReader
import org.apache.spark.sql.functions.collect_set
import org.apache.spark.sql.types.{DataType, StructType}

/** Shared small I/O helpers used by the committer, the checkpoint store, the
  * pipeline and the admin CLI — single definitions so semantics
  * (job-description restore, small-file atomicity, closed directory streams,
  * schema-JSON format) cannot drift between call sites. Main code lists,
  * walks, atomically writes and footer-reads files only through here
  * (ReachabilitySpec guards the listings). */
object SparkIo {

  /** Label the Spark jobs of `body` in the UI / listeners, restoring the
    * caller's description afterwards (calls nest). */
  def withJobDesc[T](spark: SparkSession, desc: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(s"graft:$desc")
    try body finally sc.setJobDescription(prev)
  }

  /** Run two data-independent blocks at the same time: `b` on a fresh
    * thread, `a` on the caller's, and return when BOTH have finished. If
    * either fails, the first failure is rethrown once both are done, with
    * the other one's failure added as suppressed — a caller never moves on
    * (say, to a commit) while a branch is still writing.
    *
    * The thread is fresh, never pooled: Spark's local properties (job
    * group, `graft:` description, FAIR pool) are inheritable thread-locals
    * copied when a thread is CREATED, so only a new thread runs `b`'s jobs
    * under the caller's labels. The one audited place main code starts a
    * thread (ReachabilitySpec guards it). */
  def both[A, B](a: => A, b: => B): (A, B) = {
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    def attempt[T](body: => T): T =
      try body catch {
        case e: Throwable =>
          if (!failure.compareAndSet(null, e) && (failure.get ne e))
            failure.get.addSuppressed(e)
          null.asInstanceOf[T]
      }
    var rb: B = null.asInstanceOf[B] // published to this thread by join
    val t = new Thread(() => rb = attempt(b), "graft-both")
    t.setDaemon(true)
    t.start()
    val ra = attempt(a)
    // an interrupt must not let the caller return while `b` still runs
    var interrupted = false
    while (t.isAlive)
      try t.join() catch { case _: InterruptedException => interrupted = true }
    if (interrupted) Thread.currentThread().interrupt()
    Option(failure.get).foreach(e => throw e)
    (ra, rb)
  }

  /** Materialize `df` once (`localCheckpoint(true)`) and learn the distinct
    * values of `bucket` over it in the SAME Spark job: a `collect_set` rides
    * the checkpoint through `observe` (at most B driver-side ints), so the
    * bucket set costs no job of its own. The job is labelled
    * `graft:collect:<name>`. A missing observation means AQE pruned the plan
    * to an empty relation: the empty set. */
  def checkpointBuckets(df: DataFrame, bucket: Column,
                        name: String): (DataFrame, Set[Int]) = {
    val obs = new Observation()
    val ck = withJobDesc(df.sparkSession, s"collect:$name")(
      df.observe(obs, collect_set(bucket).as("buckets")).localCheckpoint(true))
    val bs = obs.get.get("buckets").toSeq
      .flatMap(_.asInstanceOf[scala.collection.Seq[Any]]).map(_.toString.toInt)
    (ck, bs.toSet)
  }

  /** Write `value` (UTF-8) to `f`, creating its parent dirs, through a
    * dotted, uniquely named sibling tmp file and an atomic rename over `f`:
    * a reader sees the old or the new value, never a torn or empty file,
    * and a crash leaves at most a dotted tmp file that readers skip. */
  def writeAtomically(f: Path, value: String): Unit = {
    Files.createDirectories(f.getParent)
    val tmp = f.resolveSibling(s".${f.getFileName}.${java.util.UUID.randomUUID()}.tmp")
    Files.writeString(tmp, value)
    Files.move(tmp, f, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** `dir`'s child `name`, where `name` must be one plain path segment (no
    * separator, not `.` or `..`): a name that arrives from argv never
    * reaches outside `dir`. */
  def child(dir: Path, name: String): Path = {
    val p = dir.resolve(name)
    require(p.getParent == dir && name != "." && name != "..",
      s"'$name' is not one plain path segment")
    p
  }

  /** The trimmed content of `f`, or `None` when `f` does not exist. */
  def readString(f: Path): Option[String] =
    try Some(Files.readString(f).trim)
    catch { case _: NoSuchFileException => None }

  /** The children of `dir`; empty when `dir` is not a directory. */
  def list(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Seq.empty
    else {
      val s = Files.list(dir)
      try s.iterator().asScala.toList finally s.close()
    }

  /** The regular files under `dir`, at any depth; empty when `dir` is not a
    * directory. */
  def files(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Seq.empty
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toList
      finally s.close()
    }

  /** Delete `p` and everything under it; nothing when `p` does not exist. */
  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
      finally s.close()
    }

  /** The row count in each parquet file's footer, in `files`' order — driver
    * side metadata reads, no Spark job. The opens fan out over the driver's
    * cores: footers are independent (remote, at scale) reads whose latency,
    * not CPU, is the cost. */
  def footerRowCounts(files: Seq[Path], conf: Configuration): Seq[Long] =
    files.asJava.parallelStream().map[java.lang.Long](f => footer(f, conf).getBlocks
      .asScala.map(_.getRowCount).sum).toList.asScala.map(_.longValue).toSeq

  /** The Spark schema a Spark writer left in parquet file `f`'s footer. */
  def footerSchema(f: Path, conf: Configuration): Option[StructType] =
    Option(footer(f, conf).getFileMetaData.getKeyValueMetaData
      .get("org.apache.spark.sql.parquet.row.metadata"))
      .map(DataType.fromJson(_).asInstanceOf[StructType])

  /** The footer alone, read the way Spark's scan reads it: opening a whole
    * `ParquetFileReader` per file costs an order of magnitude more. */
  private def footer(f: Path, conf: Configuration): ParquetMetadata =
    ParquetFooterReader.readFooter(HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(f.toUri), conf), ParquetMetadataConverter.NO_FILTER)

  /** The schema sidecar of a parquet directory, if it has one. */
  def schemaSidecar(dir: Path): Option[StructType] =
    readString(dir.resolve(TableCommitter.SchemaSidecar))
      .map(DataType.fromJson(_).asInstanceOf[StructType])
}
