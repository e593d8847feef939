package graft.io

import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.collect_set
import org.apache.spark.sql.types.{DataType, StructType}

/** Shared small I/O helpers used by the committer, the checkpoint store and
  * the pipeline — single definitions so semantics (job-description restore,
  * sidecar atomicity, schema-JSON format) cannot drift between call sites. */
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

  /** Atomically write the schema sidecar for a parquet directory: makes a
    * zero-data-file directory readable and spares readers the footer-based
    * schema-inference job. */
  def writeSchemaSidecar(schema: StructType, dir: Path): Unit = {
    val tmp = dir.resolve(s".${TableCommitter.SchemaSidecar}.tmp")
    Files.writeString(tmp, schema.json)
    Files.move(tmp, dir.resolve(TableCommitter.SchemaSidecar),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** The schema sidecar of a parquet directory, if it has one. */
  def schemaSidecar(dir: Path): Option[StructType] = {
    val f = dir.resolve(TableCommitter.SchemaSidecar)
    if (!Files.exists(f)) None
    else Some(DataType.fromJson(Files.readString(f)).asInstanceOf[StructType])
  }

  /** Read a parquet directory through its schema sidecar when present;
    * pre-sidecar directories fall back to normal inference. */
  def readParquetWithSidecar(spark: SparkSession, path: String): DataFrame =
    schemaSidecar(java.nio.file.Paths.get(path))
      .fold(spark.read)(spark.read.schema(_)).parquet(path)
}
