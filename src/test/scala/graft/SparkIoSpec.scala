package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import org.scalatest.funsuite.AnyFunSuite

import graft.io.SparkIo

/** `SparkIo.both`, the one place main code runs two blocks at once: it
  * returns only when both have finished, rethrows a failure only once the
  * other branch is done, and runs the second branch's Spark jobs under the
  * caller's job group and `graft:` description. */
class SparkIoSpec extends AnyFunSuite {

  /** A block that finishes `ms` after it starts and records that it did. */
  private def slow(ms: Long, done: AtomicBoolean): Unit = {
    Thread.sleep(ms)
    done.set(true)
  }

  test("both runs the two blocks at the same time and returns both results " +
       "only after both finished") {
    // each branch waits for the other to start: run one after the other,
    // the first would time out
    val (aUp, bUp) = (new CountDownLatch(1), new CountDownLatch(1))
    val (aDone, bDone) = (new AtomicBoolean(), new AtomicBoolean())
    val caller = Thread.currentThread()
    val (ra, rb) = SparkIo.both(
      { aUp.countDown(); assert(bUp.await(30, TimeUnit.SECONDS)); slow(50, aDone); Thread.currentThread() },
      { bUp.countDown(); assert(aUp.await(30, TimeUnit.SECONDS)); slow(300, bDone); Thread.currentThread() })
    assert(aDone.get && bDone.get)
    assert(ra eq caller)
    assert(rb ne caller)
  }

  test("a failure in either branch is rethrown after the other branch " +
       "completes; two failures keep the second as suppressed") {
    val bDone = new AtomicBoolean()
    val ea = intercept[IllegalStateException](
      SparkIo.both(throw new IllegalStateException("a"), slow(300, bDone)))
    assert(ea.getMessage == "a")
    assert(bDone.get, "both returned while b was still running")

    val aDone = new AtomicBoolean()
    val eb = intercept[IllegalArgumentException](
      SparkIo.both(slow(300, aDone), throw new IllegalArgumentException("b")))
    assert(eb.getMessage == "b")
    assert(aDone.get, "both returned while a was still running")

    val first = intercept[RuntimeException](SparkIo.both(
      { Thread.sleep(300); throw new RuntimeException("late") },
      throw new RuntimeException("early")))
    assert(first.getMessage == "early")
    assert(first.getSuppressed.map(_.getMessage).toSeq == Seq("late"))
  }

  test("the worker's Spark jobs carry the caller's job group and graft: " +
       "description; a label set inside a branch stays in that branch") {
    val spark = SparkTestSession.get
    val sc = spark.sparkContext
    val group = s"both-${java.util.UUID.randomUUID()}"
    sc.setJobGroup(group, "the caller's group")
    try {
      val (_, jobs) = SparkJobs.properties(spark)(
        SparkIo.withJobDesc(spark, "both-outer") {
          SparkIo.both(spark.range(10).count(),
            SparkIo.withJobDesc(spark, "both-inner")(spark.range(20).count()))
          // the branch's own label never leaked into the caller
          assert(sc.getLocalProperty("spark.job.description") == "graft:both-outer")
        })
      def prop(k: String) = jobs.map(p => Option(p.getProperty(k)).getOrElse(""))
      assert(jobs.nonEmpty)
      assert(prop("spark.jobGroup.id").forall(_ == group), prop("spark.jobGroup.id"))
      assert(prop("spark.job.description").toSet ==
        Set("graft:both-inner", "graft:both-outer"))
    } finally sc.clearJobGroup()
  }
}
