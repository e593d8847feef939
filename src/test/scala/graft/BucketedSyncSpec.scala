package graft

import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.config.PipelineConfig
import graft.pipeline.KgPipeline
import graft.schema.Turn
import graft.sources.TranscriptGen

/** The 100x-scale invariant of incremental sync: a sync touching k of B
  * buckets physically rewrites ONLY those k bucket directories — every other
  * bucket of the new generation is a hard link to (the same inode as) the
  * previous generation's file — while the published content stays exactly
  * what a from-scratch full recompute would produce. */
class BucketedSyncSpec extends AnyFunSuite {

  private val fx = TranscriptGen.generate(nConv = 40, nEnt = 30, hotFactor = 5)

  private def turnsDs(ts: Seq[Turn]) = {
    val spark = SparkTestSession.get
    import spark.implicits._
    new scala.util.Random(7).shuffle(ts).toDS().repartition(5)
  }

  private def bucketDirs(gen: Path): Map[String, Set[Path]] =
    Files.list(gen).iterator().asScala
      .filter(_.getFileName.toString.startsWith("bucket="))
      .map(d => d.getFileName.toString ->
        Files.walk(d).iterator().asScala.filter(Files.isRegularFile(_)).toSet)
      .toMap

  private def inode(p: Path): AnyRef =
    Files.getAttribute(p, "unix:ino")

  private def edgeSet(p: KgPipeline) = {
    val spark = SparkTestSession.get
    p.edgeTable.read(spark).get.select("subj", "pred", "obj", "lang", "weight")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
      .toSet
  }

  private def supportSet(p: KgPipeline) = {
    val spark = SparkTestSession.get
    p.supportTable.read(spark).get
      .select("conv_id", "subj", "pred", "obj", "lang", "weight")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3),
        r.getString(4), r.getLong(5)))
      .toSet
  }

  test("sync rewrites only buckets of touched conversations; the rest are hard links") {
    val spark = SparkTestSession.get
    val wd = TempDirs("graft-bucket-")
    val B = 8
    val p = new KgPipeline(PipelineConfig(workDir = wd, syncBuckets = B,
      syncOldData = true))

    // t0: the base corpus; t1: one conversation gets a new later-ts turn
    // (changed), one conversation vanishes
    val t0 = fx.turns
    val maxTs = t0.map(_.ts.getTime).max
    val changedConv = "conv-000005"
    val vanishedConv = "conv-000003"
    val template = t0.filter(_.conv_id == changedConv).maxBy(_.turn_idx)
    val appended = template.copy(
      turn_idx = template.turn_idx + 1,
      ts = new Timestamp(maxTs + 3600 * 1000L))
    val t1 = t0.filterNot(_.conv_id == vanishedConv) :+ appended

    p.runFull(spark, turnsDs(t0), fx.catalog, fx.markers, "t0")
    val gen0 = Paths.get(p.supportTable.currentPath().get)
    val before = bucketDirs(gen0)
    assert(before.nonEmpty)

    p.runSync(spark, turnsDs(t1), fx.catalog, fx.markers, "t1")
    val gen1 = Paths.get(p.supportTable.currentPath().get)
    assert(gen1 != gen0)
    val after = bucketDirs(gen1)

    // expected touched buckets — same murmur3 the pipeline uses
    import org.apache.spark.sql.functions.{col, hash, lit, pmod}
    import spark.implicits._
    val touched = Seq(changedConv, vanishedConv).toDF("c")
      .select(pmod(hash(col("c")), lit(B))).collect().map(_.getInt(0)).toSet
    val touchedNames = touched.map(b => s"bucket=$b")

    // untouched buckets: identical file sets, each file the SAME inode
    before.keys.filterNot(touchedNames).foreach { name =>
      assert(after.contains(name), s"untouched $name missing from new gen")
      val oldFiles = before(name).map(f => f.getFileName.toString -> f).toMap
      val newFiles = after(name).map(f => f.getFileName.toString -> f).toMap
      assert(oldFiles.keySet == newFiles.keySet)
      oldFiles.foreach { case (n, of) =>
        assert(inode(of) == inode(newFiles(n)),
          s"$name/$n was physically rewritten, expected a hard link")
      }
    }
    // rewritten buckets: fresh inodes (no accidental carryover of replaced rows)
    after.keys.filter(touchedNames).foreach { name =>
      before.get(name).foreach { oldFiles =>
        val oldInodes = oldFiles.map(inode)
        after(name).foreach(f =>
          assert(!oldInodes.contains(inode(f)), s"$name carried a stale file"))
      }
    }
    // exactly the touched buckets (that still have rows) differ
    val rewritten = after.filter { case (name, files) =>
      before.get(name) match {
        case None => true
        case Some(oldFiles) =>
          val oldI = oldFiles.map(inode)
          files.exists(f => !oldI.contains(inode(f)))
      }
    }.keySet
    assert(rewritten.subsetOf(touchedNames), s"rewrote extra buckets: $rewritten")

    // published content == from-scratch full recompute (supports AND edges)
    val scratch = new KgPipeline(PipelineConfig(workDir = TempDirs("graft-bucket-"), syncBuckets = B))
    scratch.runFull(spark, turnsDs(t1), fx.catalog, fx.markers, "scratch")
    assert(supportSet(p) == supportSet(scratch))
    assert(edgeSet(p) == edgeSet(scratch))
  }

  test("node refcounts after incremental sync match a full recompute") {
    val spark = SparkTestSession.get
    val p = new KgPipeline(PipelineConfig(workDir = TempDirs("graft-bucket-"), syncBuckets = 8,
      syncOldData = true))
    val t0 = fx.turns.filter(_.turn_idx <= 4)
    val t1 = fx.turns.filterNot(_.conv_id == "conv-000002")
    p.runFull(spark, turnsDs(t0), fx.catalog, fx.markers, "t0")
    p.runSync(spark, turnsDs(t1), fx.catalog, fx.markers, "t1")

    val scratch = new KgPipeline(PipelineConfig(workDir = TempDirs("graft-bucket-"), syncBuckets = 8))
    scratch.runFull(spark, turnsDs(t1), fx.catalog, fx.markers, "s")

    def nodes(q: KgPipeline) = q.nodeTable.read(spark).get
      .select("entity_id", "refs").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(nodes(p) == nodes(scratch))
  }

  test("incremental doc publish equals a from-scratch doc build") {
    val spark = SparkTestSession.get
    // normMissing exercises A5 defaults through the REAL incremental path:
    // rebuilt docs of changed subjects must re-fill the same defaults the
    // scratch build does
    val defaults = Map("urn:p:reviewed" -> Seq("no"))
    val p = new KgPipeline(PipelineConfig(workDir = TempDirs("graft-bucket-"), syncBuckets = 8,
      syncOldData = true, publishDocs = true, normMissing = defaults))
    val t0 = fx.turns.filter(_.turn_idx <= 4)
    val t1 = fx.turns.filterNot(_.conv_id == "conv-000002")
    p.runFull(spark, turnsDs(t0), fx.catalog, fx.markers, "t0")
    p.runSync(spark, turnsDs(t1), fx.catalog, fx.markers, "t1")

    val scratch = new KgPipeline(PipelineConfig(workDir = TempDirs("graft-bucket-"),
      syncBuckets = 8, publishDocs = true, normMissing = defaults))
    scratch.runFull(spark, turnsDs(t1), fx.catalog, fx.markers, "s")

    def docs(q: KgPipeline) = q.docTable.read(spark).get
      .selectExpr("id", "map_entries(doc) AS es")
      .selectExpr("id", "explode(es) AS e")
      .selectExpr("id", "e.key AS k", "array_join(e.value, ',') AS v")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(docs(p) == docs(scratch))
    // doc generations advanced incrementally (full + sync), both bucketed
    assert(p.docTable.generations().size == 2)
  }

  test("incremental doc rebuild with language-mixed literals and cross-bucket " +
       "label resolution equals a scratch rebuild") {
    val spark = SparkTestSession.get
    import spark.implicits._
    // catalog: ten single-alias entities; "labeledas" emits prefLabel edges
    // so uriDescription substitution has real label triples to resolve
    // against (bare "prefLabel" sits in the default priority list)
    val cat = (0 until 10).map(i =>
      graft.schema.CatalogEntry(s"urn:e:$i", s"al$i", s"entity $i", 1))
    val markers = Map("uses" -> "urn:p:uses", "labeledas" -> "prefLabel")
    def turn(c: String, i: Int, text: String) =
      Turn(c, i, "user", text, "", new Timestamp(10000L * (i + 1)))
    // conv-en / conv-cs mention the SAME subject (e1) under different
    // detected languages, so its docs span languages; conv-lbl holds e2's
    // label under another subject bucket (cross-bucket lookup)
    val t0 = Seq(
      turn("conv-en", 0, "the design is good and al1 uses al2 with the rest of it"),
      turn("conv-cs", 0, "je to tak aby se al1 uses al3 nebo na tom"),
      turn("conv-lbl", 0, "the al2 labeledas al5 is shared with all of the docs"),
      turn("conv-other", 0, "the al7 uses al8 is with and of the others"))
    // the sync changes BOTH of e1's conversations — new literals in each
    // language — and leaves the label conversation untouched
    val t1 = t0 ++ Seq(
      turn("conv-en", 1, "and the al1 uses al4 with more of the same"),
      turn("conv-cs", 1, "aby se al1 uses al2 je nebo dalsi na tom"))

    def mkCfg() = PipelineConfig(workDir = TempDirs("graft-bucket-"), syncBuckets = 8,
      syncOldData = true, publishDocs = true, detectLanguage = true)
    val p = new KgPipeline(mkCfg())
    p.runFull(spark, t0.toDS(), cat, markers, "t0")
    p.runSync(spark, t1.toDS(), cat, markers, "t1")
    val scratch = new KgPipeline(mkCfg())
    scratch.runFull(spark, t1.toDS(), cat, markers, "s")

    def docs(q: KgPipeline) = q.docTable.read(spark).get
      .selectExpr("id", "explode(map_entries(doc)) AS e")
      .selectExpr("id", "e.key AS k", "array_join(e.value, ',') AS v")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    val incr = docs(p)
    assert(incr == docs(scratch))
    // the language mix is real: e1 carries docs in both detected languages
    val e1Langs = incr.collect { case (id, _, _) if id.startsWith("urn:e:1@") => id }
    assert(e1Langs.exists(_.endsWith("@en")) && e1Langs.exists(_.endsWith("@cs")),
      s"expected en+cs docs for urn:e:1, got $e1Langs")
    // and the label actually resolved: e1's uses-values carry e2's label
    // (urn:e:5), not the raw URI urn:e:2
    val usesVals = incr.collect {
      case (id, k, v) if id.startsWith("urn:e:1@") && k == "urn:p:uses" => v }
    assert(usesVals.nonEmpty && usesVals.forall(_.contains("urn:e:5")),
      s"label substitution missing in $usesVals")
  }

  test("refreshReferencingDocs: a label edit propagates to docs that display " +
       "it; default keeps the reference's staleness") {
    val spark = SparkTestSession.get
    import spark.implicits._
    val cat = (0 until 10).map(i =>
      graft.schema.CatalogEntry(s"urn:e:$i", s"al$i", s"entity $i", 1))
    val markers = Map("uses" -> "urn:p:uses", "labeledas" -> "prefLabel")
    def turn(c: String, i: Int, text: String, ts: Long) =
      Turn(c, i, "user", text, "", new Timestamp(ts))
    val t0 = Seq(
      turn("conv-a", 0, "al1 uses al2 today", 10000),
      turn("conv-lbl", 0, "al2 labeledas al5 now", 10000))
    // the label edit REPLACES conv-lbl's only turn (same turn_idx, newer ts):
    // the sync re-extracts the whole conversation, so the old label support
    // vanishes and only al6 remains
    val t1 = Seq(
      turn("conv-a", 0, "al1 uses al2 today", 10000),
      turn("conv-lbl", 0, "al2 labeledas al6 now", 20000))

    def run(refresh: Boolean): (String, KgPipeline) = {
      val p = new KgPipeline(PipelineConfig(workDir = TempDirs("graft-bucket-"), syncBuckets = 8,
        publishDocs = true, refreshReferencingDocs = refresh))
      p.runFull(spark, t0.toDS(), cat, markers, "t0")
      p.runSync(spark, t1.toDS(), cat, markers, "t1")
      val label = p.docTable.read(spark).get
        .filter("subj = 'urn:e:1'")
        .selectExpr("explode(doc['urn:p:uses']) AS v")
        .collect().map(_.getString(0)).toSeq
      (label.mkString(","), p)
    }

    // scratch truth: e1's doc displays e2's NEW label (urn:e:6)
    val scratch = new KgPipeline(PipelineConfig(workDir = TempDirs("graft-bucket-"),
      syncBuckets = 8, publishDocs = true))
    scratch.runFull(spark, t1.toDS(), cat, markers, "s")
    val want = scratch.docTable.read(spark).get
      .filter("subj = 'urn:e:1'")
      .selectExpr("explode(doc['urn:p:uses']) AS v")
      .collect().map(_.getString(0)).toSeq.mkString(",")
    assert(want == "urn:e:6")

    // opt-in: referencing doc refreshed, equal to scratch — full doc-table
    // parity, not just the one value
    val (refreshed, pOn) = run(refresh = true)
    assert(refreshed == want)
    def docs(q: KgPipeline) = q.docTable.read(spark).get
      .selectExpr("id", "explode(map_entries(doc)) AS e")
      .selectExpr("id", "e.key AS k", "array_join(e.value, ',') AS v")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(docs(pOn) == docs(scratch))

    // default: the referencing doc keeps the OLD label (reference-matching
    // staleness, Harvester.java:1199-1453 — unchanged resources are not
    // re-indexed)
    val (stale, _) = run(refresh = false)
    assert(stale == "urn:e:5")
  }

  test("sync resumes exactly after crashes at BOTH mid-publish points " +
       "(support published / edges published) — the delta replays, never " +
       "recomputes from mutated state") {
    val spark = SparkTestSession.get
    val p = new KgPipeline(PipelineConfig(workDir = TempDirs("graft-bucket-"), syncBuckets = 8,
      syncOldData = true, publishDocs = true))
    val t0 = fx.turns.filter(_.turn_idx <= 4)
    val t1 = fx.turns.filterNot(_.conv_id == "conv-000002")
    p.runFull(spark, turnsDs(t0), fx.catalog, fx.markers, "t0")

    // crash 1: support table already published, edges not yet
    p.failAfterPublish = Some("support")
    intercept[RuntimeException] {
      p.runSync(spark, turnsDs(t1), fx.catalog, fx.markers, "t1")
    }
    p.failAfterPublish = None

    // crash 2 (on the resume attempt): edge table published, nodes/docs not
    p.failAfterPublish = Some("edges")
    intercept[RuntimeException] {
      p.runSync(spark, turnsDs(t1), fx.catalog, fx.markers, "t1")
    }
    p.failAfterPublish = None

    // final resume completes the run
    p.runSync(spark, turnsDs(t1), fx.catalog, fx.markers, "t1")

    val scratch = new KgPipeline(PipelineConfig(workDir = TempDirs("graft-bucket-"),
      syncBuckets = 8, publishDocs = true))
    scratch.runFull(spark, turnsDs(t1), fx.catalog, fx.markers, "s")
    assert(supportSet(p) == supportSet(scratch))
    assert(edgeSet(p) == edgeSet(scratch))
    def nodes(q: KgPipeline) = q.nodeTable.read(spark).get
      .select("entity_id", "refs").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(nodes(p) == nodes(scratch))
    def docIds(q: KgPipeline) = q.docTable.read(spark).get
      .select("id").collect().map(_.getString(0)).toSet
    assert(docIds(p) == docIds(scratch))
  }

  private def nodeMap(q: KgPipeline) = q.nodeTable.read(SparkTestSession.get).get
    .select("entity_id", "refs").collect()
    .map(r => r.getString(0) -> r.getLong(1)).toMap

  private def docSet(q: KgPipeline) = q.docTable.read(SparkTestSession.get).get
    .selectExpr("id", "explode(map_entries(doc)) AS e")
    .selectExpr("id", "e.key AS k", "array_join(e.value, ',') AS v")
    .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet

  private def gens(q: KgPipeline) = (q.edgeTable.currentGeneration(),
    q.nodeTable.currentGeneration(), q.docTable.currentGeneration())

  test("a crash in the support publish that overlaps the propagation: " +
       "runSync throws only after both joined (no Spark job left running or " +
       "started later, watermark unmoved), and the resume equals a scratch " +
       "build") {
    val spark = SparkTestSession.get
    val sc = spark.sparkContext
    val p = new KgPipeline(PipelineConfig(workDir = TempDirs("graft-bucket-"), syncBuckets = 8,
      syncOldData = true, publishDocs = true))
    val t0 = fx.turns.filter(_.turn_idx <= 4)
    val t1 = fx.turns.filterNot(_.conv_id == "conv-000002")
    p.runFull(spark, turnsDs(t0), fx.catalog, fx.markers, "t0")
    val epoch0 = p.checkpoints.syncEpoch("kg")

    val starts = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        starts.add(e.time)
    }
    sc.addSparkListener(listener)
    val thrownAt = try {
      p.failAfterPublish = Some("support")
      intercept[RuntimeException] {
        p.runSync(spark, turnsDs(t1), fx.catalog, fx.markers, "t1")
      }
      System.currentTimeMillis()
    } finally p.failAfterPublish = None
    // the status store trails the scheduler by listener-bus lag; a branch
    // still running would keep submitting jobs
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (sc.statusTracker.getActiveJobIds.nonEmpty && System.nanoTime() < deadline)
      Thread.sleep(20)
    assert(sc.statusTracker.getActiveJobIds.isEmpty)
    Thread.sleep(500)
    sc.removeSparkListener(listener)
    assert(!starts.asScala.exists(_ > thrownAt), "a job started after runSync threw")
    assert(p.checkpoints.syncEpoch("kg") == epoch0)

    p.runSync(spark, turnsDs(t1), fx.catalog, fx.markers, "t1")
    val scratch = new KgPipeline(PipelineConfig(workDir = TempDirs("graft-bucket-"),
      syncBuckets = 8, publishDocs = true))
    scratch.runFull(spark, turnsDs(t1), fx.catalog, fx.markers, "s")
    assert(supportSet(p) == supportSet(scratch))
    assert(edgeSet(p) == edgeSet(scratch))
    assert(nodeMap(p) == nodeMap(scratch))
    assert(docSet(p) == docSet(scratch))
    assert(p.checkpoints.syncEpoch("kg")._1 == epoch0._1 + 1)
  }

  test("a crash after the run record and before the status write leaves " +
       "the epoch unmoved; the same-runId retry keeps one record, advances " +
       "the epoch by one and equals a scratch build") {
    val spark = SparkTestSession.get
    import org.apache.spark.sql.functions.col
    val wd = TempDirs("graft-bucket-")
    val p = new KgPipeline(PipelineConfig(workDir = wd, syncBuckets = 8,
      syncOldData = true, publishDocs = true))
    val t0 = fx.turns.filter(_.turn_idx <= 4)
    val t1 = fx.turns.filterNot(_.conv_id == "conv-000002")
    p.runFull(spark, turnsDs(t0), fx.catalog, fx.markers, "t0")
    val epoch0 = p.checkpoints.syncEpoch("kg")
    val runId = p.syncRunId()
    try {
      p.failAfterPublish = Some("run-record")
      intercept[RuntimeException] {
        p.runSync(spark, turnsDs(t1), fx.catalog, fx.markers, runId)
      }
    } finally p.failAfterPublish = None
    assert(Files.exists(Paths.get(s"$wd/checkpoints/runs/$runId.json")))
    assert(p.checkpoints.syncEpoch("kg") == epoch0)
    // the retry derives the same auto run id, and replays under it
    assert(p.syncRunId() == runId)
    p.runSync(spark, turnsDs(t1), fx.catalog, fx.markers, runId)
    assert(p.checkpoints.syncEpoch("kg")._1 == epoch0._1 + 1)
    val mine = spark.read.json(s"$wd/checkpoints/runs")
      .filter(col("run_id") === runId)
    assert(mine.filter(col("kind") === "watermark").count() == 1)
    assert(mine.filter(col("metric") === "published_triples").count() == 1)

    val scratch = new KgPipeline(PipelineConfig(workDir = TempDirs("graft-bucket-"),
      syncBuckets = 8, publishDocs = true))
    scratch.runFull(spark, turnsDs(t1), fx.catalog, fx.markers, "s")
    assert(supportSet(p) == supportSet(scratch))
    assert(edgeSet(p) == edgeSet(scratch))
    assert(nodeMap(p) == nodeMap(scratch))
    assert(docSet(p) == docSet(scratch))
  }

  test("a retry whose edges published and whose pre-run edge generation " +
       "retention expired rebuilds nodes and docs from the published edges") {
    val spark = SparkTestSession.get
    val p = new KgPipeline(PipelineConfig(workDir = TempDirs("graft-bucket-"), syncBuckets = 8,
      syncOldData = true, publishDocs = true))
    val t0 = fx.turns.filter(_.turn_idx <= 4)
    val t1 = fx.turns.filterNot(_.conv_id == "conv-000002")
    p.runFull(spark, turnsDs(t0), fx.catalog, fx.markers, "t0")
    p.failAfterPublish = Some("edges")
    intercept[RuntimeException] {
      p.runSync(spark, turnsDs(t1), fx.catalog, fx.markers, "t1")
    }
    p.failAfterPublish = None
    assert(p.edgeTable.expireGenerations(1).nonEmpty)
    p.runSync(spark, turnsDs(t1), fx.catalog, fx.markers, "t1")

    val scratch = new KgPipeline(PipelineConfig(workDir = TempDirs("graft-bucket-"),
      syncBuckets = 8, publishDocs = true))
    scratch.runFull(spark, turnsDs(t1), fx.catalog, fx.markers, "s")
    assert(supportSet(p) == supportSet(scratch))
    assert(edgeSet(p) == edgeSet(scratch))
    assert(nodeMap(p) == nodeMap(scratch))
    assert(docSet(p) == docSet(scratch))
  }

  test("empty delta: a changed conversation that re-extracts identical " +
       "supports moves no edge, node or doc generation") {
    val spark = SparkTestSession.get
    val p = new KgPipeline(PipelineConfig(workDir = TempDirs("graft-bucket-"), syncBuckets = 8,
      publishDocs = true))
    p.runFull(spark, turnsDs(fx.turns), fx.catalog, fx.markers, "t0")
    val before = gens(p)
    val sGen0 = p.supportTable.currentGeneration()
    // one existing turn, same text, a later ts: its conversation changes
    // and re-extracts to exactly the supports it already has
    val maxTs = fx.turns.map(_.ts.getTime).max
    val tpl = fx.turns.filter(_.conv_id == "conv-000005").maxBy(_.turn_idx)
    val t1 = fx.turns.filterNot(_ == tpl) :+
      tpl.copy(ts = new Timestamp(maxTs + 3600 * 1000L))
    p.runSync(spark, turnsDs(t1), fx.catalog, fx.markers, "t1")
    assert(p.supportTable.currentGeneration() != sGen0,
      "the changed conversation must take the sync path, not the no-op one")
    assert(gens(p) == before)
  }

  test("skip rule: a sync that only adds weight to existing edge keys moves " +
       "no node or doc generation and equals a from-scratch build") {
    val spark = SparkTestSession.get
    def cfg() = PipelineConfig(workDir = TempDirs("graft-bucket-"), syncBuckets = 8,
      publishDocs = true)
    val p = new KgPipeline(cfg())
    p.runFull(spark, turnsDs(fx.turns), fx.catalog, fx.markers, "t0")
    val (e0, n0, d0) = gens(p)
    val maxTs = fx.turns.map(_.ts.getTime).max
    val tpl = fx.turns.filter(_.conv_id == "conv-000005").maxBy(_.turn_idx)
    val t1 = fx.turns :+ tpl.copy(turn_idx = tpl.turn_idx + 1,
      ts = new Timestamp(maxTs + 3600 * 1000L))
    p.runSync(spark, turnsDs(t1), fx.catalog, fx.markers, "t1")
    assert(p.edgeTable.currentGeneration() != e0, "the copy must add weight")
    assert(p.nodeTable.currentGeneration() == n0)
    assert(p.docTable.currentGeneration() == d0)

    val scratch = new KgPipeline(cfg())
    scratch.runFull(spark, turnsDs(t1), fx.catalog, fx.markers, "s")
    assert(supportSet(p) == supportSet(scratch))
    assert(edgeSet(p) == edgeSet(scratch))
    assert(nodeMap(p) == nodeMap(scratch))
    assert(docSet(p) == docSet(scratch))
  }

  test("skip rule: retiring (s, p1, o) and creating (s, p2, o) rebuilds the " +
       "docs although the per-entity node deltas cancel") {
    val spark = SparkTestSession.get
    import spark.implicits._
    val cat = (0 until 6).map(i =>
      graft.schema.CatalogEntry(s"urn:e:$i", s"al$i", s"entity $i", 1))
    val markers = Map("uses" -> "urn:p:uses", "likes" -> "urn:p:likes")
    def turn(c: String, text: String, ts: Long) =
      Turn(c, 0, "user", text, "", new Timestamp(ts))
    val t0 = Seq(turn("conv-a", "al1 uses al2 today", 10000),
      turn("conv-b", "al3 uses al4 now", 10000))
    // conv-a's only turn is replaced: (e1, uses, e2) retires, (e1, likes,
    // e2) is created — e1 and e2 each get -1 and +1
    val t1 = Seq(turn("conv-a", "al1 likes al2 today", 20000),
      turn("conv-b", "al3 uses al4 now", 10000))
    def cfg() = PipelineConfig(workDir = TempDirs("graft-bucket-"), syncBuckets = 8,
      publishDocs = true)
    val p = new KgPipeline(cfg())
    p.runFull(spark, t0.toDS(), cat, markers, "t0")
    val (_, n0, d0) = gens(p)
    p.runSync(spark, t1.toDS(), cat, markers, "t1")

    val scratch = new KgPipeline(cfg())
    scratch.runFull(spark, t1.toDS(), cat, markers, "s")
    assert(docSet(p) == docSet(scratch))
    assert(nodeMap(p) == nodeMap(scratch))
    assert(p.nodeTable.currentGeneration() == n0, "node refs must not move")
    assert(p.docTable.currentGeneration() != d0, "docs must rebuild")
  }

  test("publishDocs enabled after a docs-less full run bootstraps the FULL doc table") {
    val spark = SparkTestSession.get
    val wd = TempDirs("graft-bucket-")
    val noDocs = new KgPipeline(PipelineConfig(workDir = wd, syncBuckets = 8,
      publishDocs = false))
    val t0 = fx.turns.filter(_.turn_idx <= 4)
    noDocs.runFull(spark, turnsDs(t0), fx.catalog, fx.markers, "t0")

    // same workDir, docs now on — the sync's doc publish must not present a
    // changed-subjects slice as the whole table
    val withDocs = new KgPipeline(PipelineConfig(workDir = wd, syncBuckets = 8,
      publishDocs = true))
    withDocs.runSync(spark, turnsDs(fx.turns), fx.catalog, fx.markers, "t1")

    val scratch = new KgPipeline(PipelineConfig(workDir = TempDirs("graft-bucket-"),
      syncBuckets = 8, publishDocs = true))
    scratch.runFull(spark, turnsDs(fx.turns), fx.catalog, fx.markers, "s")
    def docIds(q: KgPipeline) = q.docTable.read(spark).get
      .select("id").collect().map(_.getString(0)).toSet
    assert(docIds(withDocs) == docIds(scratch))
  }

  test("randomized 3-epoch sync chain converges to the from-scratch tables " +
       "(delta-of-delta consistency)") {
    val spark = SparkTestSession.get
    val rnd = new scala.util.Random(20260816)
    val all = fx.turns
    val convs = all.map(_.conv_id).distinct.sorted
    val maxIdx = all.map(_.turn_idx).max

    // epoch 0: early turns; epoch 1: extend half the convs to cut1, drop one;
    // epoch 2: extend the SAME grown convs past cut1 (event time strictly
    // above epoch 1's watermark — watermark sync cannot see late data, by
    // design and in reference parity), drop another conv
    val cut0 = 4
    val cut1 = 8
    val grow1 = convs.filter(_ => rnd.nextBoolean()).toSet
    val drop1 = convs(rnd.nextInt(convs.size))
    val drop2 = convs.filterNot(_ == drop1)(rnd.nextInt(convs.size - 1))

    val e0 = all.filter(_.turn_idx <= cut0)
    val e1 = all.filter(t => t.turn_idx <= (if (grow1(t.conv_id)) cut1 else cut0))
      .filterNot(_.conv_id == drop1)
    val e2 = all.filter(t =>
        if (grow1(t.conv_id)) true else t.turn_idx <= cut0)
      .filterNot(t => t.conv_id == drop1 || t.conv_id == drop2)

    val p = new KgPipeline(PipelineConfig(workDir = TempDirs("graft-bucket-"), syncBuckets = 8,
      syncOldData = true, publishDocs = true))
    // each run's triple count is its edge generation's manifest row sum
    // (staged files from their footers, carried files' entries copied): it
    // must equal the published rows
    Seq(p.runFull(spark, turnsDs(e0), fx.catalog, fx.markers, "e0"),
      p.runSync(spark, turnsDs(e1), fx.catalog, fx.markers, "e1"),
      p.runSync(spark, turnsDs(e2), fx.catalog, fx.markers, "e2")).foreach { r =>
      assert(p.edgeTable.manifest(r.edgesGen).map(_.rows).contains(r.triples))
      assert(r.triples == p.edgeTable.readGeneration(spark, r.edgesGen).get.count())
    }

    val scratch = new KgPipeline(PipelineConfig(workDir = TempDirs("graft-bucket-"),
      syncBuckets = 8, publishDocs = true))
    scratch.runFull(spark, turnsDs(e2), fx.catalog, fx.markers, "s")

    assert(supportSet(p) == supportSet(scratch))
    assert(edgeSet(p) == edgeSet(scratch))
    def nodes(q: KgPipeline) = q.nodeTable.read(spark).get
      .select("entity_id", "refs").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(nodes(p) == nodes(scratch))
    def docIds(q: KgPipeline) = q.docTable.read(spark).get
      .select("id").collect().map(_.getString(0)).toSet
    assert(docIds(p) == docIds(scratch))
    assert(maxIdx >= cut1, "fixture must have turns beyond the second cut")
  }

  test("auto sync runIds: an empty sync never swallows the next data-bearing sync") {
    val spark = SparkTestSession.get
    val p = new KgPipeline(PipelineConfig(workDir = TempDirs("graft-bucket-"), syncBuckets = 8))
    val t0 = fx.turns.filter(_.turn_idx <= 4)
    p.runFull(spark, turnsDs(t0), fx.catalog, fx.markers, "t0")

    // empty sync (no new data) under the auto id — publishes, records its
    // runId, leaves the watermark unchanged
    val id1 = p.syncRunId()
    p.runSync(spark, turnsDs(t0), fx.catalog, fx.markers, id1)

    // the next data-bearing sync MUST get a fresh id (a watermark-only id
    // would reuse the empty sync's checkpoints and drop this data)
    val id2 = p.syncRunId()
    assert(id2 != id1, "sync epoch id did not advance after an empty sync")
    p.runSync(spark, turnsDs(fx.turns), fx.catalog, fx.markers, id2)

    val scratch = new KgPipeline(PipelineConfig(workDir = TempDirs("graft-bucket-"), syncBuckets = 8))
    scratch.runFull(spark, turnsDs(fx.turns), fx.catalog, fx.markers, "s")
    assert(edgeSet(p) == edgeSet(scratch))
  }

  test("changing syncBuckets over an existing workDir is refused") {
    val spark = SparkTestSession.get
    val wd = TempDirs("graft-bucket-")
    val p8 = new KgPipeline(PipelineConfig(workDir = wd, syncBuckets = 8))
    p8.runFull(spark, turnsDs(fx.turns.take(200)), fx.catalog, fx.markers, "t0")
    val p16 = new KgPipeline(PipelineConfig(workDir = wd, syncBuckets = 16))
    val ex = intercept[IllegalArgumentException] {
      p16.runSync(spark, turnsDs(fx.turns.take(200)), fx.catalog, fx.markers, "t1")
    }
    assert(ex.getMessage.contains("bucket"))
  }

  test("a conversation changing between a sync crash and its retry is " +
       "deferred to the NEXT sync — never dropped, never half-applied") {
    val spark = SparkTestSession.get
    val p = new KgPipeline(PipelineConfig(workDir = TempDirs("graft-bucket-"), syncBuckets = 8))
    val t0 = fx.turns
    val maxTs = t0.map(_.ts.getTime).max
    def extend(conv: String, days: Int) = {
      val tpl = t0.filter(_.conv_id == conv).maxBy(_.turn_idx)
      tpl.copy(turn_idx = tpl.turn_idx + 1,
        ts = new Timestamp(maxTs + days * 86400000L))
    }
    val t1 = t0 :+ extend("conv-000007", 1)
    val t2 = t1 :+ extend("conv-000011", 2) // arrives AFTER the crash below

    p.runFull(spark, turnsDs(t0), fx.catalog, fx.markers, "t0")
    val id1 = p.syncRunId()
    // crash right after the sync_supports checkpoint pinned t1's changed set
    p.failAfterStage = Some("sync_supports")
    intercept[RuntimeException] {
      p.runSync(spark, turnsDs(t1), fx.catalog, fx.markers, id1)
    }
    p.failAfterStage = None

    // retry the SAME logical sync against the grown source: the pinned
    // changed-conv set and watermark replay, so conv-000011 is deferred
    p.runSync(spark, turnsDs(t2), fx.catalog, fx.markers, id1)
    val afterRetry = new KgPipeline(PipelineConfig(workDir = TempDirs("graft-bucket-"), syncBuckets = 8))
    afterRetry.runFull(spark, turnsDs(t1), fx.catalog, fx.markers, "s1")
    assert(edgeSet(p) == edgeSet(afterRetry),
      "retried sync must publish exactly the original sync's view")

    // the NEXT sync picks up the deferred conversation
    p.runSync(spark, turnsDs(t2), fx.catalog, fx.markers, p.syncRunId())
    val full2 = new KgPipeline(PipelineConfig(workDir = TempDirs("graft-bucket-"), syncBuckets = 8))
    full2.runFull(spark, turnsDs(t2), fx.catalog, fx.markers, "s2")
    assert(edgeSet(p) == edgeSet(full2))
    assert(supportSet(p) == supportSet(full2))
  }

  test("syncOldData resume replays the PINNED vanished set; later deletions defer") {
    val spark = SparkTestSession.get
    val p = new KgPipeline(PipelineConfig(workDir = TempDirs("graft-bucket-"), syncBuckets = 8,
      syncOldData = true))
    val t0 = fx.turns
    val t1 = t0.filterNot(_.conv_id == "conv-000013") // vanishes before the sync
    val t2 = t1.filterNot(_.conv_id == "conv-000017") // vanishes AFTER the crash

    p.runFull(spark, turnsDs(t0), fx.catalog, fx.markers, "t0")
    val id1 = p.syncRunId()
    // crash after the edge delta (computed against vanished={conv-000013})
    // but before any publish
    p.failAfterStage = Some("edge_delta")
    intercept[RuntimeException] {
      p.runSync(spark, turnsDs(t1), fx.catalog, fx.markers, id1)
    }
    p.failAfterStage = None

    // retry against the further-shrunk source: the pinned vanished set
    // replays, so conv-000017's deletion defers to the next sync
    p.runSync(spark, turnsDs(t2), fx.catalog, fx.markers, id1)
    val s1 = new KgPipeline(PipelineConfig(workDir = TempDirs("graft-bucket-"), syncBuckets = 8))
    s1.runFull(spark, turnsDs(t1), fx.catalog, fx.markers, "s1")
    assert(edgeSet(p) == edgeSet(s1))
    assert(supportSet(p) == supportSet(s1))

    // the next sync reaps the deferred deletion
    p.runSync(spark, turnsDs(t2), fx.catalog, fx.markers, p.syncRunId())
    val s2 = new KgPipeline(PipelineConfig(workDir = TempDirs("graft-bucket-"), syncBuckets = 8))
    s2.runFull(spark, turnsDs(t2), fx.catalog, fx.markers, "s2")
    assert(edgeSet(p) == edgeSet(s2))
    assert(supportSet(p) == supportSet(s2))
  }

  test("a crash between the edge and node publishes self-heals on the next sync") {
    val spark = SparkTestSession.get
    val wd = TempDirs("graft-bucket-")
    val p = new KgPipeline(PipelineConfig(workDir = wd, syncBuckets = 8))
    val t0 = fx.turns.filter(_.turn_idx <= 4)
    // first-ever derivation crashes with edges published, nodes never
    // bootstrapped
    p.failAfterPublish = Some("edges")
    intercept[RuntimeException] {
      p.runFull(spark, turnsDs(t0), fx.catalog, fx.markers, "t0")
    }
    p.failAfterPublish = None
    assert(p.nodeTable.read(spark).isEmpty)

    // a later sync rebuilds node refcounts from the published edges instead
    // of dying on the missing table
    p.runSync(spark, turnsDs(fx.turns), fx.catalog, fx.markers, p.syncRunId())
    val scratch = new KgPipeline(PipelineConfig(workDir = TempDirs("graft-bucket-"), syncBuckets = 8))
    scratch.runFull(spark, turnsDs(fx.turns), fx.catalog, fx.markers, "s")
    def nodes(q: KgPipeline) = q.nodeTable.read(spark).get
      .select("entity_id", "refs").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(nodes(p) == nodes(scratch))
    assert(edgeSet(p) == edgeSet(scratch))
  }

  test("empty sync (no changes) is metadata-only: no table is republished, " +
       "the run is still recorded, and the next data-bearing sync works") {
    val spark = SparkTestSession.get
    val p = new KgPipeline(PipelineConfig(workDir = TempDirs("graft-bucket-"), syncBuckets = 8))
    p.runFull(spark, turnsDs(fx.turns), fx.catalog, fx.markers, "t0")
    val sGen0 = p.supportTable.currentGeneration()
    val eGen0 = p.edgeTable.currentGeneration()
    val r = p.runSync(spark, turnsDs(fx.turns), fx.catalog, fx.markers, "t1")
    // fast path: pointers untouched (stronger than republish-by-reference),
    // triple count still reported from the standing generation
    assert(p.supportTable.currentGeneration() == sGen0)
    assert(p.edgeTable.currentGeneration() == eGen0)
    assert(r.triples == p.edgeTable.read(spark).get.count())
    // the no-op run still advances the sync epoch (auto runIds must never
    // reuse a finished run's id) and keeps the watermark
    assert(p.checkpoints.syncEpoch("kg")._1 == 2L)

    // a later data-bearing sync over the untouched pointers == scratch
    val maxTs = fx.turns.map(_.ts.getTime).max
    val tpl = fx.turns.filter(_.conv_id == "conv-000007").maxBy(_.turn_idx)
    val t2 = fx.turns :+ tpl.copy(turn_idx = tpl.turn_idx + 1,
      ts = new Timestamp(maxTs + 3600 * 1000L))
    p.runSync(spark, turnsDs(t2), fx.catalog, fx.markers, "t2")
    val scratch = new KgPipeline(PipelineConfig(workDir = TempDirs("graft-bucket-"), syncBuckets = 8))
    scratch.runFull(spark, turnsDs(t2), fx.catalog, fx.markers, "s")
    assert(supportSet(p) == supportSet(scratch))
    assert(edgeSet(p) == edgeSet(scratch))
  }

  test("bucket-addressed reads at 64 buckets: a no-op sync lists no table " +
       "dir and runs only its changed-set scan; the full build and a " +
       "one-conversation sync run no bookkeeping job, the sync no listing job") {
    val spark = SparkTestSession.get
    // 64 bucket dirs exceed Spark's 32-path parallel-discovery threshold:
    // a listed read of a whole generation would be one "Listing leaf files"
    // job; a manifest read lists nothing. 120
    // conversations fill more than 32 support buckets
    val big = TranscriptGen.generate(nConv = 120, nEnt = 100, hotFactor = 5)
    // ten conversations hold their later turns back for the wide sync below
    val wide = (20 until 30).map(i => f"conv-$i%06d").toSet
    val (heldBack, base) = big.turns.partition(t => wide(t.conv_id) && t.turn_idx > 3)
    def cfg() = PipelineConfig(workDir = TempDirs("graft-bucket-"),
      syncBuckets = 64, publishDocs = true)
    def bookkeeping(jobs: Seq[String]) = jobs.filter(_.startsWith("graft:ckpt:"))
    val pCfg = cfg()
    val p = new KgPipeline(pCfg)
    val (_, full) = SparkJobs.during(spark)(
      p.runFull(spark, turnsDs(base), big.catalog, big.markers, "t0"))
    assert(bookkeeping(full).isEmpty, full.mkString(" | "))
    // the node and doc rebuild reads the whole edge generation
    assert(full.count(SparkJobs.isListing) == 0, full.mkString(" | "))
    assert(Files.list(Paths.get(p.supportTable.currentPath().get)).iterator()
      .asScala.count(_.getFileName.toString.startsWith("bucket=")) > 32)
    // the first no-op after a full run and a later one cost the same
    for (runId <- Seq("t1", "t1b")) {
      val (_, noop) = SparkJobs.during(spark)(
        p.runSync(spark, turnsDs(base), big.catalog, big.markers, runId))
      assert(noop == Seq("graft:stage:changed_convs"), noop.mkString(" | "))
    }

    val maxTs = big.turns.map(_.ts.getTime).max
    val tpl = big.turns.filter(_.conv_id == "conv-000011").maxBy(_.turn_idx)
    val t2 = base :+ tpl.copy(turn_idx = tpl.turn_idx + 1,
      ts = new Timestamp(maxTs + 3600 * 1000L))
    val (_, sync) = SparkJobs.during(spark)(
      p.runSync(spark, turnsDs(t2), big.catalog, big.markers, "t2"))
    assert(sync.count(SparkJobs.isListing) == 0, sync.mkString(" | "))
    assert(bookkeeping(sync).isEmpty, sync.mkString(" | "))

    // a wider sync that creates edge keys: the doc rebuild's label slice
    // reads more than 32 edge buckets, the buckets of the objects of the
    // changed subjects' edges
    val t3 = t2 ++ heldBack.map(t =>
      t.copy(ts = new Timestamp(maxTs + 7200 * 1000L + t.turn_idx)))
    val (_, wideSync) = SparkJobs.during(spark)(
      p.runSync(spark, turnsDs(t3), big.catalog, big.markers, "t3"))
    assert(wideSync.count(SparkJobs.isListing) == 0, wideSync.mkString(" | "))
    val changedSubjects = spark.read
      .parquet(s"${pCfg.workDir}/stages/t3/edge_delta")
      .select("subj").distinct()
    val labelBuckets = p.edgeTable.read(spark).get
      .join(changedSubjects, Seq("subj"), "left_semi")
      .select(PipelineConfig.bucketCol(PipelineConfig.DefaultBucketKeyExpr, "obj", 64))
      .distinct().count()
    assert(labelBuckets > 32, labelBuckets)

    val scratch = new KgPipeline(cfg())
    scratch.runFull(spark, turnsDs(t3), big.catalog, big.markers, "s")
    assert(supportSet(p) == supportSet(scratch))
    assert(edgeSet(p) == edgeSet(scratch))
  }

  test("sub-millisecond event times: the recorded watermark keeps them, so " +
       "unchanged re-syncs move no pointer and run only the changed-set scan") {
    val spark = SparkTestSession.get
    // +500 µs on every event time — the part Timestamp.getTime drops
    val sub = fx.turns.map { t =>
      val ts = new Timestamp(t.ts.getTime)
      ts.setNanos(ts.getNanos + 500000)
      t.copy(ts = ts)
    }
    val p = new KgPipeline(PipelineConfig(workDir = TempDirs("graft-bucket-"),
      syncBuckets = 8, publishDocs = true))
    p.runFull(spark, turnsDs(sub), fx.catalog, fx.markers, "t0")
    val maxTs = sub.map(_.ts).maxBy(_.toInstant)
    assert(p.checkpoints.lastWatermark("kg").map(_.toInstant)
      .contains(maxTs.toInstant))
    val before = (p.supportTable.currentGeneration(), gens(p))
    for (runId <- Seq("t1", "t2")) {
      val (_, jobs) = SparkJobs.during(spark)(
        p.runSync(spark, turnsDs(sub), fx.catalog, fx.markers, runId))
      assert(jobs.nonEmpty && jobs.forall(_ == "graft:stage:changed_convs"),
        jobs.mkString(" | "))
      assert((p.supportTable.currentGeneration(), gens(p)) == before)
    }
  }

  test("temporal bucket key: changes clustered in one epoch-week touch ONE " +
       "support bucket (hash would scatter them), content == scratch") {
    val spark = SparkTestSession.get
    val B = 8
    // conv ids embed a stable creation week ("w03-conv-000005"); the key
    // expression extracts it, falling back to hash for keys without one
    // (entity ids in the node table)
    // try_cast, not cast: ANSI mode throws on the empty string a
    // non-matching regexp_extract yields — the fallback must be a null
    val keyExpr =
      "coalesce(try_cast(regexp_extract({k}, 'w(\\\\d\\\\d)-', 1) as int), hash({k}))"
    def weekOf(conv: String): Int = conv.drop(5).takeWhile(_.isDigit).toInt % 4 + 1
    def rename(t: Turn): Turn =
      t.copy(conv_id = f"w0${weekOf(t.conv_id)}%d-${t.conv_id}")
    val t0 = fx.turns.map(rename)
    val maxTs = t0.map(_.ts.getTime).max

    // THREE different conversations change — all created in week 3, so the
    // temporal key maps them all to bucket 3; the hash key would scatter
    // them across ~3 buckets
    val changed = t0.map(_.conv_id).distinct.filter(_.startsWith("w03-")).take(3)
    assert(changed.size == 3)
    val t1 = t0 ++ changed.zipWithIndex.map { case (c, i) =>
      val tpl = t0.filter(_.conv_id == c).maxBy(_.turn_idx)
      tpl.copy(turn_idx = tpl.turn_idx + 1,
        ts = new Timestamp(maxTs + (i + 1) * 3600 * 1000L))
    }

    val cfg = PipelineConfig(workDir = TempDirs("graft-bucket-"), syncBuckets = B,
      bucketKeyExpr = keyExpr)
    val p = new KgPipeline(cfg)
    p.runFull(spark, turnsDs(t0), fx.catalog, fx.markers, "t0")
    val gen0 = Paths.get(p.supportTable.currentPath().get)
    val before = bucketDirs(gen0)

    p.runSync(spark, turnsDs(t1), fx.catalog, fx.markers, "t1")
    val gen1 = Paths.get(p.supportTable.currentPath().get)
    val after = bucketDirs(gen1)

    val rewritten = after.filter { case (name, files) =>
      before.get(name) match {
        case None => true
        case Some(oldFiles) =>
          val oldI = oldFiles.map(inode)
          files.exists(f => !oldI.contains(inode(f)))
      }
    }.keySet
    assert(rewritten == Set("bucket=3"),
      s"expected only bucket=3 rewritten, got $rewritten")

    // a writer with a DIFFERENT key expression is refused (pin)
    val bad = new KgPipeline(cfg.copy(bucketKeyExpr = "hash({k})"))
    val e = intercept[IllegalArgumentException] {
      bad.runSync(spark, turnsDs(t1), fx.catalog, fx.markers, "t-bad")
    }
    assert(e.getMessage.contains("bucket_key_expr"))

    // published content == from-scratch full recompute under the same key
    val scratch = new KgPipeline(cfg.copy(workDir = TempDirs("graft-bucket-")))
    scratch.runFull(spark, turnsDs(t1), fx.catalog, fx.markers, "s")
    assert(supportSet(p) == supportSet(scratch))
    assert(edgeSet(p) == edgeSet(scratch))
  }

  test("bucket-key guard: a pre-pin table is refused under any key expression") {
    val spark = SparkTestSession.get
    val cfg = PipelineConfig(workDir = TempDirs("graft-bucket-"), syncBuckets = 8)
    new KgPipeline(cfg).runFull(spark, turnsDs(fx.turns), fx.catalog, fx.markers, "t0")
    // the workDir as a writer before the format pin left it: generations,
    // no pins. Its physical layout is the default hash mapping, but that is
    // not knowable from the table either: the default is refused like any
    // other expression, before anything is written
    OlderLayouts.unpin(Paths.get(cfg.workDir))
    // a changed conversation so the sync is NOT a metadata-only no-op
    val maxTs = fx.turns.map(_.ts.getTime).max
    val tpl = fx.turns.maxBy(_.turn_idx)
    val t1 = fx.turns :+ tpl.copy(turn_idx = tpl.turn_idx + 1,
      ts = new Timestamp(maxTs + 3600 * 1000L))
    val weekly =
      "coalesce(try_cast(regexp_extract({k}, 'w(\\\\d\\\\d)-', 1) as int), hash({k}))"
    Seq(weekly, PipelineConfig.DefaultBucketKeyExpr).foreach { k =>
      val p = new KgPipeline(cfg.copy(bucketKeyExpr = k))
      OlderLayouts.refused(Paths.get(cfg.workDir))(
        p.runSync(spark, turnsDs(t1), fx.catalog, fx.markers, "t-bad"))
    }
    // the remedy: a full run into a fresh workDir pins the writer's mapping,
    // and syncs under it proceed
    val fresh = new KgPipeline(cfg.copy(workDir = TempDirs("graft-bucket-"),
      bucketKeyExpr = weekly))
    fresh.runFull(spark, turnsDs(fx.turns), fx.catalog, fx.markers, "t0")
    fresh.runSync(spark, turnsDs(t1), fx.catalog, fx.markers, "t1")
    assert(fresh.supportTable.pinned("bucket_key_expr").contains(weekly))
    assert(fresh.supportTable.pinned("format").contains(graft.io.TableCommitter.Format))
  }
}
