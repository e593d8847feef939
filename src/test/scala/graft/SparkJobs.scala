package graft

import java.util.Properties
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

import graft.io.SparkIo

/** Counts the Spark jobs a block of code starts, for specs that pin a job
  * budget. Listener events arrive asynchronously but in order, so a fence
  * job run before and after the block brackets exactly the block's jobs. */
object SparkJobs {

  /** The block's result and the description of every job it started, in
    * start order ("" for a job without one). */
  def during[T](spark: SparkSession)(body: => T): (T, Seq[String]) = {
    val (r, props) = properties(spark)(body)
    (r, props.map(p => Option(p.getProperty("spark.job.description")).getOrElse("")))
  }

  /** The block's result and the local properties (job group, description,
    * scheduler pool) of every job it started, in start order. */
  def properties[T](spark: SparkSession)(body: => T): (T, Seq[Properties]) = {
    val sc = spark.sparkContext
    val seen = new ConcurrentLinkedQueue[Properties]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties).getOrElse(new Properties()))
    }
    val id = java.util.UUID.randomUUID()
    def desc(p: Properties) = p.getProperty("spark.job.description")
    def fence(name: String): Unit = {
      SparkIo.withJobDesc(spark, s"$name-$id")(spark.range(1).count())
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!seen.asScala.exists(desc(_) == s"graft:$name-$id")) {
        assert(System.nanoTime() < deadline, s"fence job $name never seen")
        Thread.sleep(10)
      }
    }
    sc.addSparkListener(listener)
    try {
      fence("start")
      val r = body
      fence("end")
      val jobs = seen.asScala.toSeq
        .dropWhile(desc(_) != s"graft:start-$id").dropWhile(desc(_) == s"graft:start-$id")
        .takeWhile(desc(_) != s"graft:end-$id")
      (r, jobs)
    } finally sc.removeSparkListener(listener)
  }

  /** Spark's own parallel file-listing jobs (more than
    * `spark.sql.sources.parallelPartitionDiscovery.threshold` paths). */
  def isListing(desc: String): Boolean = desc.startsWith("Listing leaf files")
}
