package graft

import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

import graft.app.KgAdmin
import graft.io.{CheckpointStore, SparkIo, TableCommitter}

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

  test("a table name or run id is one plain path segment: drop-staging " +
       "../gen-0 and a table of .. are refused, and the generation survives") {
    val spark = SparkTestSession.get
    import spark.implicits._
    val workDir = TempDirs("admin-")
    val c = new TableCommitter(s"$workDir/tables/edges")
    c.stagePartitioned(Seq(("a", 1L, 0), ("b", 2L, 0)).toDF("k", "v", "bucket"), "r1")
    assert(c.publishBuckets("r1", Set(0)) == "gen-0")
    val gen0 = c.generationPath("gen-0").get
    val files = SparkIo.files(gen0)
    assert(files.nonEmpty)
    Seq(
      Seq("drop-staging", workDir, "edges", "../gen-0"),
      Seq("drop-staging", workDir, "edges", ".."),
      Seq("drop-staging", workDir, "edges", gen0.toString),
      Seq("drop-staging", workDir, "..", "tables"),
      Seq("drop-staging", workDir, "edges/_staging/..", "gen-0"),
      Seq("generations", workDir, "../tables/edges"),
      Seq("expire", workDir, "..", "1")
    ).foreach { args =>
      val e = intercept[IllegalArgumentException](run(args: _*))
      assert(e.getMessage.contains("plain path segment"), args.mkString(" "))
    }
    assert(SparkIo.files(gen0) == files)
    assert(c.generations() == Seq("gen-0"))
    assert(c.read(spark).get.count() == 2)
  }

  test("every output line is JSON when table, pipeline and run names carry " +
       "quotes and backslashes") {
    val spark = SparkTestSession.get
    import spark.implicits._
    val json = new ObjectMapper().enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)
    val odd = "a\"b\\c"
    val workDir = TempDirs("admin-")
    val c = new TableCommitter(s"$workDir/tables/plain")
    for ((runId, v) <- Seq("r1" -> 1L, "r2" -> 2L)) {
      c.stagePartitioned(Seq(("a", v, 0)).toDF("k", "v", "bucket"), runId)
      c.publishBuckets(runId, Set(0))
    }
    // the odd names exist only on disk: the table dir is renamed after its
    // publishes and the staged run is a bare directory
    val tables = Paths.get(workDir, "tables")
    Files.move(tables.resolve("plain"), tables.resolve(odd))
    val staged = Files.createDirectories(tables.resolve(odd).resolve("_staging").resolve(odd))
    val cs = new CheckpointStore(s"$workDir/checkpoints")
    val wm = java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(1735689600L))
    cs.writeRunRecord(odd, odd, wm, Seq.empty, Seq.empty)
    cs.commit(spark, odd, odd, wm)

    val lines = Seq(
      run("status", workDir),
      run("generations", workDir, odd),
      run("set-pointer", workDir, odd, "gen-1", odd.filter(_.isLetter)),
      run("expire", workDir, odd, "1"),
      run("drop-staging", workDir, odd, odd)).flatten
    val parsed = lines.map(json.readTree)
    assert(parsed.size == 7, lines.mkString("\n"))
    def field(i: Int, k: String) = parsed(i).get(k).asText()
    assert(field(0, "table") == odd && field(0, "current") == "gen-1")
    assert(field(1, "pipeline") == odd && field(1, "run_id") == odd)
    assert(field(2, "gen") == "gen-0" && field(3, "gen") == "gen-1")
    assert(field(4, "table") == odd && field(4, "alias") == "abc")
    assert(parsed(5).get("expired").get(0).asText() == "gen-0")
    assert(field(6, "table") == odd && field(6, "dropped_staging") == odd)
    assert(!Files.exists(staged))
  }
}
