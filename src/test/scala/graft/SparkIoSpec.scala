package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import org.scalatest.funsuite.AnyFunSuite

import graft.io.SparkIo

/** `SparkIo.both`, the one place main code runs two blocks at once: it
  * returns only when both have finished, rethrows a failure only once the
  * other branch is done, and runs the second branch's Spark jobs under the
  * caller's job group and `graft:` description. And the driver-side file
  * helpers every pointer, pin, run record and sidecar goes through. */
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

  test("writeAtomically creates the parent dirs, replaces an existing value " +
       "and leaves no dotted tmp file; readString trims, None when absent") {
    val dir = Paths.get(TempDirs("sparkio-"))
    val f = dir.resolve("a").resolve("b").resolve("pointer")
    assert(SparkIo.readString(f).isEmpty)
    SparkIo.writeAtomically(f, "gen-1")
    assert(SparkIo.readString(f).contains("gen-1"))
    SparkIo.writeAtomically(f, "gen-2")
    assert(Files.readString(f) == "gen-2")
    assert(SparkIo.list(f.getParent) == Seq(f), "a tmp file was left behind")
    Files.writeString(f, "  gen-3 \n")
    assert(SparkIo.readString(f).contains("gen-3"))
  }

  test("list and files see nothing under an absent dir; files finds nested " +
       "files and no dirs; deleteRecursively removes a nested tree") {
    val dir = Paths.get(TempDirs("sparkio-"))
    val absent = dir.resolve("absent")
    assert(SparkIo.list(absent).isEmpty && SparkIo.files(absent).isEmpty)
    val nested = dir.resolve("t").resolve("x").resolve("y")
    Files.createDirectories(nested)
    Seq(dir.resolve("t").resolve("top"), nested.resolve("deep"))
      .foreach(Files.writeString(_, "1"))
    assert(SparkIo.list(dir.resolve("t")).map(_.getFileName.toString).toSet ==
      Set("top", "x"))
    assert(SparkIo.files(dir.resolve("t")).map(_.getFileName.toString).toSet ==
      Set("top", "deep"))
    SparkIo.deleteRecursively(dir.resolve("t"))
    assert(!Files.exists(dir.resolve("t")))
    SparkIo.deleteRecursively(absent) // absent: nothing to do, no error
  }

  test("footerRowCounts of a multi-file parquet dir sum to its count()") {
    val spark = SparkTestSession.get
    val out = TempDirs("sparkio-") + "/t"
    spark.range(0, 1000, 1, 4).write.parquet(out)
    val parts = SparkIo.files(Paths.get(out))
      .filter(_.getFileName.toString.endsWith(".parquet"))
    assert(parts.size == 4)
    val counts = SparkIo.footerRowCounts(parts, spark.sessionState.newHadoopConf())
    assert(counts.size == parts.size && counts.forall(_ > 0))
    assert(counts.sum == spark.read.parquet(out).count())
  }
}
