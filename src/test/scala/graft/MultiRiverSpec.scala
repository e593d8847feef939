package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.app.MultiRiver
import graft.config.PipelineConfig
import graft.pipeline.KgPipeline
import graft.sources.TranscriptGen

/** Concurrent multi-river harvests (`KgMain multi` / `MultiRiver`): spec
  * validation, concurrent == sequential output equality, and per-river
  * failure isolation (the reference's pool-of-6 semantics, Indexer.java:78 +
  * RunScheduledIndexing.java:19-24). */
class MultiRiverSpec extends AnyFunSuite {

  // identity env overlay: specs must not depend on the test JVM's env
  private val overlay: (PipelineConfig, String) => PipelineConfig =
    (cfg, wd) => cfg.copy(workDir = wd)

  private def edgeSet(p: KgPipeline): Set[(String, String, String, String, Long)] = {
    val spark = SparkTestSession.get
    p.edgeTable.read(spark).get.collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
      .toSet
  }

  test("spec parsing: duplicate names, bad modes, unsafe names refused") {
    def bad(json: String): String =
      intercept[IllegalArgumentException](
        MultiRiver.parseSpec(json, "/tmp/base")).getMessage
    assert(bad("""[]""").contains("non-empty"))
    assert(bad("""[{"name":"a","mode":"full","input":"/x"},
                  {"name":"a","mode":"sync","input":"/y"}]""")
      .contains("duplicate river name"))
    assert(bad("""[{"name":"a","mode":"query","input":"/x"}]""")
      .contains("full|sync"))
    assert(bad("""[{"name":"../evil","mode":"full","input":"/x"}]""")
      .contains("A-Za-z0-9"))
    assert(bad("""[{"name":"a","mode":"full"}]""").contains("input"))
    val ok = MultiRiver.parseSpec(
      """[{"name":"r-1","mode":"full","input":"/x","catalog":"/c"}]""", "/base")
    assert(ok == Seq(MultiRiver.RiverSpec(
      "r-1", "full", "/x", "/base/r-1", None, Some("/c"))))
  }

  // Spark 4.1 creates the `default` pool in the session's mode unless an
  // allocation file declares it, so FIFO here holds only while the one
  // fairscheduler.xml on the classpath is graft's (an app's own copy, or
  // spark.scheduler.allocation.file, would replace it); re-check this pin
  // on every Spark upgrade
  test("sessions schedule FAIR across pools and FIFO inside the default pool") {
    val sc = SparkTestSession.get.sparkContext
    val files = getClass.getClassLoader.getResources("fairscheduler.xml")
    assert(java.util.Collections.list(files).size == 1)
    assert(!sc.getConf.contains("spark.scheduler.allocation.file"))
    assert(sc.getConf.get("spark.scheduler.mode") == "FAIR")
    assert(sc.getPoolForName("default").map(_.schedulingMode.toString)
      .contains("FIFO"))
  }

  test("two rivers run concurrently == the same rivers run individually; " +
       "workDirs stay isolated") {
    val spark = SparkTestSession.get
    import spark.implicits._
    // two DIFFERENT corpora so a cross-river leak cannot cancel out
    val fxA = TranscriptGen.generate(nConv = 30, nEnt = 20, hotFactor = 5)
    val fxB = TranscriptGen.generate(nConv = 45, nEnt = 20, hotFactor = 5)
    val inA = TempDirs("graft-multi-") + "/turnsA"
    val inB = TempDirs("graft-multi-") + "/turnsB"
    fxA.turns.toDS().repartition(3).write.parquet(inA)
    fxB.turns.toDS().repartition(3).write.parquet(inB)
    val catDir = TempDirs("graft-multi-") + "/catalog"
    fxA.catalog.toDS().write.parquet(catDir) // same entity universe (nEnt)

    val base = TempDirs("graft-multi-")
    val spec = MultiRiver.parseSpec(
      s"""[{"name":"riverA","mode":"full","input":"$inA","catalog":"$catDir"},
         | {"name":"riverB","mode":"full","input":"$inB","catalog":"$catDir"}]"""
        .stripMargin, base)
    val reports = MultiRiver.run(spark, spec, maxConcurrent = 2, overlay)
    assert(reports.map(_.ok) == Seq(true, true),
      reports.map(_.detail).mkString("\n"))
    assert(reports.map(_.name) == Seq("riverA", "riverB"), "spec order kept")

    // sequential ground truth in fresh dirs
    val pA = new KgPipeline(PipelineConfig(workDir = TempDirs("graft-multi-")))
    pA.runFull(spark, fxA.turns.toDS(), fxA.catalog, fxA.markers, "seqA")
    val pB = new KgPipeline(PipelineConfig(workDir = TempDirs("graft-multi-")))
    pB.runFull(spark, fxB.turns.toDS(), fxA.catalog, fxB.markers, "seqB")

    val mA = new KgPipeline(PipelineConfig(workDir = s"$base/riverA"))
    val mB = new KgPipeline(PipelineConfig(workDir = s"$base/riverB"))
    assert(edgeSet(mA) == edgeSet(pA), "riverA == its sequential run")
    assert(edgeSet(mB) == edgeSet(pB), "riverB == its sequential run")
    assert(edgeSet(mA) != edgeSet(mB), "different corpora stayed distinct")
  }

  test("a poisoned river reports its error; the healthy river still publishes") {
    val spark = SparkTestSession.get
    import spark.implicits._
    val fx = TranscriptGen.generate(nConv = 20, nEnt = 20, hotFactor = 5)
    val in = TempDirs("graft-multi-") + "/turns"
    fx.turns.toDS().write.parquet(in)
    val catDir = TempDirs("graft-multi-") + "/catalog"
    fx.catalog.toDS().write.parquet(catDir)
    val base = TempDirs("graft-multi-")
    val spec = MultiRiver.parseSpec(
      s"""[{"name":"poison","mode":"full","input":"$base/does-not-exist","catalog":"$catDir"},
         | {"name":"healthy","mode":"full","input":"$in","catalog":"$catDir"}]"""
        .stripMargin, base)
    val reports = MultiRiver.run(spark, spec, maxConcurrent = 2, overlay)
    val byName = reports.map(r => r.name -> r).toMap
    assert(!byName("poison").ok)
    assert(byName("healthy").ok, byName("healthy").detail)
    // the healthy river's table is readable and non-empty
    val hp = new KgPipeline(PipelineConfig(workDir = s"$base/healthy"))
    assert(edgeSet(hp).nonEmpty)
    // the poisoned river published NOTHING (no partial generation)
    val pp = new KgPipeline(PipelineConfig(workDir = s"$base/poison"))
    assert(pp.edgeTable.read(spark).isEmpty)
  }

  test("multi full-then-sync: a second multi invocation in sync mode " +
       "advances each river independently") {
    val spark = SparkTestSession.get
    import spark.implicits._
    val fx = TranscriptGen.generate(nConv = 25, nEnt = 20, hotFactor = 5)
    // river 1 gets everything up front; river 2 gets the rest via sync
    val in1 = TempDirs("graft-multi-") + "/t1"; val in2a = TempDirs("graft-multi-") + "/t2a"
    val in2b = TempDirs("graft-multi-") + "/t2b"
    fx.turns.toDS().write.parquet(in1)
    // event-time split: sync is watermark-driven, so the second batch must
    // carry the LATER timestamps, not a random half
    val cut = fx.turns.map(_.ts.getTime).sorted.apply(fx.turns.size / 2)
    val early = fx.turns.filter(_.ts.getTime <= cut)
    val late = fx.turns.filter(_.ts.getTime > cut)
    assume(early.nonEmpty && late.nonEmpty)
    early.toDS().write.parquet(in2a)
    (early ++ late).toDS().write.parquet(in2b)
    val catDir = TempDirs("graft-multi-") + "/catalog"
    fx.catalog.toDS().write.parquet(catDir)
    val base = TempDirs("graft-multi-")
    val full = MultiRiver.parseSpec(
      s"""[{"name":"one","mode":"full","input":"$in1","catalog":"$catDir"},
         | {"name":"two","mode":"full","input":"$in2a","catalog":"$catDir"}]"""
        .stripMargin, base)
    assert(MultiRiver.run(spark, full, 2, overlay).forall(_.ok))
    val sync = MultiRiver.parseSpec(
      s"""[{"name":"one","mode":"sync","input":"$in1","catalog":"$catDir"},
         | {"name":"two","mode":"sync","input":"$in2b","catalog":"$catDir"}]"""
        .stripMargin, base)
    assert(MultiRiver.run(spark, sync, 2, overlay).forall(_.ok))
    // river two caught up to a full run over the whole corpus
    val ground = new KgPipeline(PipelineConfig(workDir = TempDirs("graft-multi-")))
    ground.runFull(spark, fx.turns.toDS(), fx.catalog, fx.markers, "g")
    val two = new KgPipeline(PipelineConfig(workDir = s"$base/two"))
    assert(edgeSet(two) == edgeSet(ground))
  }
}
