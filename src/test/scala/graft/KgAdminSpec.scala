package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.app.KgAdmin
import graft.io.{CheckpointStore, TableCommitter}

/** §2.10 control-plane surface: the admin CLI's subcommands over a real
  * committer layout (pointer flips, retention, staged-run rollback) —
  * metadata-only, no SparkSession needed by the CLI itself. */
class KgAdminSpec extends AnyFunSuite {

  private def run(args: String*): Seq[String] = {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out)(KgAdmin.main(args.toArray))
    out.toString.linesIterator.toSeq
  }

  test("status/generations/set-pointer/expire/drop-staging over a real layout") {
    val spark = SparkTestSession.get
    import spark.implicits._
    val workDir = TempDirs("admin-")
    val c = new TableCommitter(s"$workDir/tables/edges")
    // two published generations + one staged-but-unpublished run
    c.stagePartitioned(Seq(("a", 1L, 0), ("b", 2L, 0)).toDF("k", "v", "bucket"), "r1")
    assert(c.publishBuckets("r1", Set(0)) == "gen-0")
    c.stagePartitioned(Seq(("a", 9L, 0)).toDF("k", "v", "bucket"), "r2")
    assert(c.publishBuckets("r2", Set(0)) == "gen-1")
    c.stagePartitioned(Seq(("z", 0L, 0)).toDF("k", "v", "bucket"), "r3-staged")

    val status = run("status", workDir)
    assert(status.size == 1)
    assert(status.head.contains(""""table":"edges""""))
    assert(status.head.contains(""""current":"gen-1""""))
    assert(status.head.contains(""""generations":2"""))

    val gens = run("generations", workDir, "edges")
    assert(gens.size == 2)
    assert(gens.head.contains(""""gen":"gen-0""""))
    assert(gens.head.contains(""""aliases":[]"""))
    assert(gens(1).contains(""""aliases":["current"]"""))
    // rows and bytes come from each generation's manifest
    Seq("gen-0", "gen-1").zip(gens).foreach { case (g, line) =>
      assert(line.contains(s""""rows":${c.readGeneration(spark, g).get.count()},"""), line)
      assert(line.contains(s""""bytes":${c.manifest(g).get.bytes},"""), line)
    }

    // blue/green flip back to gen-0; reads follow the pointer
    run("set-pointer", workDir, "edges", "gen-0")
    assert(c.currentGeneration().contains("gen-0"))
    assert(c.read(spark).get.count() == 2)
    // pointing at a non-existent generation is refused
    assertThrows[IllegalArgumentException] {
      run("set-pointer", workDir, "edges", "gen-99")
    }
    // non-generation targets and reserved/hostile alias names are refused
    // (an alias named "runs" would clobber the run-record directory)
    assertThrows[IllegalArgumentException] {
      run("set-pointer", workDir, "edges", "_staging")
    }
    assertThrows[IllegalArgumentException] {
      run("set-pointer", workDir, "edges", "gen-0", "runs")
    }
    assertThrows[IllegalArgumentException] {
      run("set-pointer", workDir, "edges", "gen-0", ".sneaky")
    }

    // retention never deletes an alias-referenced generation
    run("set-pointer", workDir, "edges", "gen-0", "blue")
    run("set-pointer", workDir, "edges", "gen-1")
    val expired = run("expire", workDir, "edges", "1")
    assert(expired.head.contains(""""expired":[]""")) // gen-0 held by "blue"
    run("set-pointer", workDir, "edges", "gen-1", "blue")
    val expired2 = run("expire", workDir, "edges", "1")
    assert(expired2.head.contains("gen-0"))
    assert(c.generations() == Seq("gen-1"))

    // staged-run rollback removes the staging dir, published data untouched
    run("drop-staging", workDir, "edges", "r3-staged")
    assert(!Files.exists(Paths.get(c.stagingPath("r3-staged"))))
    assert(c.read(spark).get.count() == 1)
  }

  test("status prints each pipeline's sync epoch, watermark to the nanosecond " +
       "and last run id from its status file, with no Spark job") {
    val spark = SparkTestSession.get
    val workDir = TempDirs("admin-")
    val cs = new CheckpointStore(s"$workDir/checkpoints")
    val wm = java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(1735689600L, 500000))
    for (runId <- Seq("r1", "r2")) {
      cs.writeRunRecord("kg", runId, wm, Seq.empty, Seq.empty)
      cs.commit(spark, "kg", runId, wm)
    }
    // a crashed status write's tmp file is not a pipeline
    Files.writeString(Paths.get(s"$workDir/checkpoints/status/.kg.tmp"), "{")
    val (status, jobs) = SparkJobs.during(spark)(run("status", workDir))
    assert(jobs.isEmpty, jobs.mkString(" | "))
    assert(status == Seq("""{"pipeline":"kg","epoch":2,""" +
      """"watermark":"2025-01-01T00:00:00.000500Z","run_id":"r2"}"""))
  }
}
