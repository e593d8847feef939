package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.config.PipelineConfig
import graft.pipeline.KgPipeline
import graft.scoring.PrScorer
import graft.sources.TranscriptGen

/** Golden-fixture end-to-end gates: P/R >= 0.95 (in fact exact), idempotent
  * re-run, resume-after-kill, incremental sync == full recompute, and
  * determinism under repartitioning (SURVEY.md §5). */
class KgPipelineSpec extends AnyFunSuite {

  private def edgesOf(p: KgPipeline): Set[(String, String, String, String, Long)] = {
    val spark = SparkTestSession.get
    p.edgeTable.read(spark).get
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
      .toSet
  }

  // FIXTURES.md test scale: 200 conversations, ~5k turns, one hot conv
  private val fx = TranscriptGen.generate(nConv = 200, nEnt = 50, hotFactor = 50)

  private def turnsDs(ts: Seq[graft.schema.Turn]) = {
    val spark = SparkTestSession.get
    import spark.implicits._
    // written shuffled on disk: ordering must be recovered by the pipeline
    new scala.util.Random(1).shuffle(ts).toDS().repartition(7)
  }

  test("full run: P/R vs independently planted golden triples is 1.0 (gate >= 0.95)") {
    val spark = SparkTestSession.get
    val p = new KgPipeline(PipelineConfig(workDir = TempDirs("graft-test-")))
    p.runFull(spark, turnsDs(fx.turns), fx.catalog, fx.markers, "run1")
    val got = p.edgeTable.read(spark).get
    val pr = PrScorer.score(got, PrScorer.goldenDf(spark, fx.goldenTriples))
    info(s"tp=${pr.tp} fp=${pr.fp} fn=${pr.fn} P=${pr.precision} R=${pr.recall}")
    assert(pr.precision >= 0.95 && pr.recall >= 0.95)
    assert(pr.precision == 1.0 && pr.recall == 1.0)
  }

  test("first-ever sync with zero extractable supports publishes a readable " +
       "empty table and a later data-bearing sync heals it") {
    val spark = SparkTestSession.get
    import spark.implicits._
    val p = new KgPipeline(PipelineConfig(workDir = TempDirs("graft-test-")))
    // turns whose text mentions nothing from the catalog -> zero supports;
    // stamped with a pre-corpus event time so the recorded watermark cannot
    // hide any real turn from the later sync
    val blank = fx.turns.take(20).map(_.copy(
      text = "nothing to see here", ts = new java.sql.Timestamp(1L)))
    p.runSync(spark, turnsDs(blank), fx.catalog, fx.markers, "sync-empty")
    // the empty generations are readable (schema sidecar), not a brick
    assert(p.supportTable.read(spark).get.count() == 0)
    assert(p.edgeTable.read(spark).get.count() == 0)
    // a later sync over real data proceeds and matches a full scratch run
    // (blank turns carry the fixture's own timestamps, so the real turns are
    // not all behind the recorded watermark)
    p.runSync(spark, turnsDs(fx.turns), fx.catalog, fx.markers, "sync-data")
    val scratch = new KgPipeline(PipelineConfig(workDir = TempDirs("graft-test-")))
    scratch.runFull(spark, turnsDs(fx.turns), fx.catalog, fx.markers, "full")
    assert(edgesOf(p) == edgesOf(scratch))
  }

  test("scoredLinking: turn context flips an ambiguous link that rank alone " +
       "would get wrong (through runFull)") {
    val spark = SparkTestSession.get
    import spark.implicits._
    import graft.schema.{CatalogEntry, Turn}
    // "mercury" names two entities; rank alone always picks the element
    // (rank 1 < 2), and default canonicalization would collapse both into
    // one cluster — only context can link each conversation correctly
    val cat = Seq(
      CatalogEntry("urn:e:element", "mercury", "mercury chemical element silvery metal", 1),
      CatalogEntry("urn:e:planet", "mercury", "mercury planet solar orbit innermost", 2),
      CatalogEntry("urn:e:venus", "venus", "venus planet solar orbit", 1))
    def turn(c: String, i: Int, text: String) =
      Turn(c, i, "user", text, "", new java.sql.Timestamp(1000L + i))
    val turns = Seq(
      turn("conv-planet", 0, "the innermost planet mercury has a short orbit in the solar system"),
      turn("conv-element", 0, "mercury is a chemical element a silvery metal"))

    val p = new KgPipeline(PipelineConfig(workDir = TempDirs("graft-test-"), scoredLinking = true))
    p.runFull(spark, turns.toDS(), cat, Map.empty, "run-scored")
    def linkedTo(q: KgPipeline, conv: String): Set[String] =
      q.edgeTable.read(spark).get
        .filter(col("subj") === s"urn:conv:$conv" &&
          col("pred") === graft.extract.Extractor.MentionsPred)
        .collect().map(_.getString(2)).toSet
    assert(linkedTo(p, "conv-planet") == Set("urn:e:planet"))
    assert(linkedTo(p, "conv-element") == Set("urn:e:element"))

    // control: without the flag, alias-sharing canonicalization collapses
    // both entities into one cluster — no contextual distinction possible
    val ctrl = new KgPipeline(PipelineConfig(workDir = TempDirs("graft-test-")))
    ctrl.runFull(spark, turns.toDS(), cat, Map.empty, "run-rank")
    assert(linkedTo(ctrl, "conv-planet") == Set("urn:e:element"))
    assert(linkedTo(ctrl, "conv-element") == Set("urn:e:element"))

    // incremental sync under scoredLinking: a new conversation links by its
    // own context, and the result equals a from-scratch scored run
    val t1 = turns ++ Seq(
      Turn("conv-planet2", 0, "user",
        "venus and mercury are planet bodies in solar orbit", "",
        new java.sql.Timestamp(99999L))) // past the recorded watermark
    p.runSync(spark, t1.toDS(), cat, Map.empty, "sync-scored")
    assert(linkedTo(p, "conv-planet2") == Set("urn:e:planet", "urn:e:venus"))
    val scratch2 = new KgPipeline(PipelineConfig(workDir = TempDirs("graft-test-"),
      scoredLinking = true))
    scratch2.runFull(spark, t1.toDS(), cat, Map.empty, "full-scored")
    assert(edgesOf(p) == edgesOf(scratch2))
  }

  test("scoredLinking: a MULTI-token ambiguous alias is flipped by context " +
       "(round-3 gap: the token-level linker could not see it)") {
    val spark = SparkTestSession.get
    import spark.implicits._
    import graft.schema.{CatalogEntry, Turn}
    // "apache spark" (TWO tokens) names the engine and a book about it;
    // rank alone always picks the engine (rank 1 < 2) — the book
    // conversation is only linkable through its context tokens
    val cat = Seq(
      CatalogEntry("urn:e:engine", "apache spark",
        "apache spark cluster computing engine executors", 1),
      CatalogEntry("urn:e:book", "apache spark",
        "apache spark definitive guide book chapters", 2),
      CatalogEntry("urn:e:venus", "venus", "venus planet solar orbit", 1))
    def turn(c: String, i: Int, text: String) =
      Turn(c, i, "user", text, "", new java.sql.Timestamp(1000L + i))
    val turns = Seq(
      turn("conv-book", 0,
        "reading the definitive guide book chapters on apache spark tonight"),
      turn("conv-engine", 0,
        "apache spark runs cluster computing jobs across many executors"))

    val p = new KgPipeline(PipelineConfig(workDir = TempDirs("graft-test-"), scoredLinking = true))
    p.runFull(spark, turns.toDS(), cat, Map.empty, "run-mt")
    def linkedTo(q: KgPipeline, conv: String): Set[String] =
      q.edgeTable.read(spark).get
        .filter(col("subj") === s"urn:conv:$conv" &&
          col("pred") === graft.extract.Extractor.MentionsPred)
        .collect().map(_.getString(2)).toSet
    assert(linkedTo(p, "conv-book") == Set("urn:e:book"))
    assert(linkedTo(p, "conv-engine") == Set("urn:e:engine"))

    // parity: the scored full run equals a scored from-scratch run after an
    // incremental sync adds a new multi-token mention
    val t1 = turns :+ Turn("conv-engine2", 0, "user",
      "our cluster executors run apache spark computing", "",
      new java.sql.Timestamp(99999L))
    p.runSync(spark, t1.toDS(), cat, Map.empty, "sync-mt")
    assert(linkedTo(p, "conv-engine2") == Set("urn:e:engine"))
    val scratch = new KgPipeline(PipelineConfig(workDir = TempDirs("graft-test-"),
      scoredLinking = true))
    scratch.runFull(spark, t1.toDS(), cat, Map.empty, "full-mt")
    assert(edgesOf(p) == edgesOf(scratch))
  }

  test("corefResolution: a subject-less marker takes its antecedent from an " +
       "earlier turn (through runFull), and sync == full under the flag") {
    val spark = SparkTestSession.get
    import spark.implicits._
    import graft.schema.{CatalogEntry, Turn}
    val cat = Seq(
      CatalogEntry("urn:e:titan", "titan", "titan moon", 1),
      CatalogEntry("urn:e:saturn", "saturn", "saturn planet", 1))
    val markers = Map("orbits" -> "urn:p:orbits")
    def turn(c: String, i: Int, text: String) =
      Turn(c, i, "user", text, "", new java.sql.Timestamp(1000L + i))
    val turns = Seq(
      // turn 1's "orbits saturn" has no left-hand mention: the subject is
      // turn 0's last mention (titan)
      turn("conv-a", 0, "the hazy moon titan is large"),
      turn("conv-a", 1, "orbits saturn closely"),
      // orphan in the FIRST turn: no antecedent exists -> dropped
      turn("conv-b", 0, "orbits saturn distantly"))

    val p = new KgPipeline(PipelineConfig(workDir = TempDirs("graft-test-"),
      corefResolution = true))
    p.runFull(spark, turns.toDS(), cat, markers, "run-coref")
    def orbitEdges(q: KgPipeline): Set[(String, String)] =
      q.edgeTable.read(spark).get
        .filter(col("pred") === "urn:p:orbits")
        .collect().map(r => (r.getString(0), r.getString(2))).toSet
    assert(orbitEdges(p) == Set(("urn:e:titan", "urn:e:saturn")))

    // control: without the flag the subject-less marker contributes nothing
    val ctrl = new KgPipeline(PipelineConfig(workDir = TempDirs("graft-test-")))
    ctrl.runFull(spark, turns.toDS(), cat, markers, "run-nocoref")
    assert(orbitEdges(ctrl).isEmpty)

    // incremental sync: a LATER turn referencing an antecedent from an
    // unchanged earlier turn still resolves, because a changed conversation
    // re-extracts WHOLE (semi-join on conv_id keeps its full history)
    val t1 = turns ++ Seq(
      turn("conv-b", 1, "the moon titan is small"),
      Turn("conv-b", 2, "user", "orbits saturn too", "",
        new java.sql.Timestamp(99999L)))
    p.runSync(spark, t1.toDS(), cat, markers, "sync-coref")
    assert(orbitEdges(p) == Set(("urn:e:titan", "urn:e:saturn")))
    val scratch = new KgPipeline(PipelineConfig(workDir = TempDirs("graft-test-"),
      corefResolution = true))
    scratch.runFull(spark, t1.toDS(), cat, markers, "full-coref")
    assert(edgesOf(p) == edgesOf(scratch))
  }

  test("scoredLinking + corefResolution compose: the cross-turn antecedent " +
       "is the contextually-resolved entity, not the rank winner") {
    val spark = SparkTestSession.get
    import spark.implicits._
    import graft.schema.{CatalogEntry, Turn}
    val cat = Seq(
      CatalogEntry("urn:e:element", "mercury", "mercury chemical element silvery metal", 1),
      CatalogEntry("urn:e:planet", "mercury", "mercury planet solar orbit innermost", 2),
      CatalogEntry("urn:e:venus", "venus", "venus planet solar orbit", 1))
    val markers = Map("orbits" -> "urn:p:orbits")
    val turns = Seq(
      Turn("conv-p", 0, "user",
        "the innermost planet mercury has a short orbit in the solar system",
        "", new java.sql.Timestamp(1000L)),
      // subject-less marker: the antecedent is turn 0's mercury, which the
      // LINKER resolved to the planet — rank alone would say element
      Turn("conv-p", 1, "user", "orbits venus today", "",
        new java.sql.Timestamp(1001L)))
    val p = new KgPipeline(PipelineConfig(workDir = TempDirs("graft-test-"),
      scoredLinking = true, corefResolution = true))
    p.runFull(spark, turns.toDS(), cat, markers, "run-both")
    val orbit = p.edgeTable.read(spark).get
      .filter(org.apache.spark.sql.functions.col("pred") === "urn:p:orbits")
      .collect().map(r => (r.getString(0), r.getString(2))).toSet
    assert(orbit == Set(("urn:e:planet", "urn:e:venus")))
  }

  test("semantics pin: a sync under different extraction flags than the " +
       "standing tables is refused; a full rebuild legitimately re-pins") {
    val spark = SparkTestSession.get
    val wd = TempDirs("graft-test-")
    val small = TranscriptGen.generate(nConv = 6, nEnt = 6, hotFactor = 1)
    val p = new KgPipeline(PipelineConfig(workDir = wd))
    p.runFull(spark, turnsDs(small.turns), small.catalog, small.markers, "f0")

    // flipping coref (or any row-semantics flag) for a SYNC must refuse:
    // merged slices would carry different semantics than the standing rows
    val flipped = new KgPipeline(
      PipelineConfig(workDir = wd, corefResolution = true))
    val e = intercept[IllegalArgumentException] {
      flipped.runSync(spark, turnsDs(small.turns), small.catalog,
        small.markers, "s0")
    }
    assert(e.getMessage.contains("FULL rebuild"))

    // same flags sync fine; a full rebuild under the new flags re-pins and
    // later syncs under them are accepted
    p.runSync(spark, turnsDs(small.turns), small.catalog, small.markers, "s1")
    flipped.runFull(spark, turnsDs(small.turns), small.catalog,
      small.markers, "f1")
    flipped.runSync(spark, turnsDs(small.turns), small.catalog,
      small.markers, "s2")
  }

  test("per-conversation count reconciliation (CLUSTERS-TEST style)") {
    // the reference validated its v1->v2 port by per-cluster doc-count
    // parity (src/logs/2/CLUSTERS-TEST); here: per-conversation mention-edge
    // counts vs the planted golden counts
    val spark = SparkTestSession.get
    val p = new KgPipeline(PipelineConfig(workDir = TempDirs("graft-test-")))
    p.runFull(spark, turnsDs(fx.turns), fx.catalog, fx.markers, "rc")
    val got = p.edgeTable.read(spark).get
      .filter(org.apache.spark.sql.functions.col("subj").startsWith("urn:conv:"))
      .groupBy("subj").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = fx.goldenTriples.toSeq
      .filter(_.subj.startsWith("urn:conv:"))
      .groupBy(_.subj).map { case (k, ts) => k -> ts.map(t => (t.pred, t.obj)).distinct.size.toLong }
    assert(got == want)
  }

  test("resume cleans a partial stage write left by a kill mid-write") {
    val spark = SparkTestSession.get
    val wd = TempDirs("graft-test-")
    val p = new KgPipeline(PipelineConfig(workDir = wd))
    // simulate a crash in the middle of the supports stage write
    val tmp = java.nio.file.Paths.get(s"$wd/stages/killed/.supports.tmp")
    java.nio.file.Files.createDirectories(tmp)
    java.nio.file.Files.writeString(tmp.resolve("part-junk"), "partial garbage")
    p.runFull(spark, turnsDs(fx.turns), fx.catalog, fx.markers, "killed")
    val clean = new KgPipeline(PipelineConfig(workDir = TempDirs("graft-test-")))
    clean.runFull(spark, turnsDs(fx.turns), fx.catalog, fx.markers, "c")
    assert(edgesOf(p) == edgesOf(clean))
  }

  test("encoded-shuffle fast path emits exactly the string path's tables") {
    val spark = SparkTestSession.get
    val fast = new KgPipeline(PipelineConfig(workDir = TempDirs("graft-test-")))
    // a non-identity config forces the string path; a normObj key that
    // matches no object leaves every row as it is
    val slow = new KgPipeline(PipelineConfig(workDir = TempDirs("graft-test-"),
      normObj = Map("urn:no-such-object" -> "urn:never")))
    fast.runFull(spark, turnsDs(fx.turns), fx.catalog, fx.markers, "f")
    slow.runFull(spark, turnsDs(fx.turns), fx.catalog, fx.markers, "s")
    assert(edgesOf(fast) == edgesOf(slow))
    // support tables (incl. conv provenance and weights) also identical
    def supports(p: KgPipeline) = p.supportTable.read(spark).get.collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3),
        r.getString(4), r.getLong(5))).toSet
    assert(supports(fast) == supports(slow))
    // normalization through runFull is load-bearing: a blacklisted
    // predicate leaves the edges, and nothing else does
    val black = new KgPipeline(PipelineConfig(workDir = TempDirs("graft-test-"),
      listType = "black", proplist = Set("urn:p:collab")))
    black.runFull(spark, turnsDs(fx.turns), fx.catalog, fx.markers, "b")
    assert(edgesOf(fast).exists(_._2 == "urn:p:collab"))
    assert(edgesOf(black) == edgesOf(fast).filterNot(_._2 == "urn:p:collab"))
  }

  test("re-run is idempotent: same edge table content") {
    val spark = SparkTestSession.get
    val p = new KgPipeline(PipelineConfig(workDir = TempDirs("graft-test-")))
    p.runFull(spark, turnsDs(fx.turns), fx.catalog, fx.markers, "runA")
    val first = edgesOf(p)
    p.runFull(spark, turnsDs(fx.turns), fx.catalog, fx.markers, "runB")
    assert(edgesOf(p) == first)
  }

  test("determinism under repartitioning: 3 vs 13 partitions, same output") {
    val spark = SparkTestSession.get
    import spark.implicits._
    val a = new KgPipeline(PipelineConfig(workDir = TempDirs("graft-test-")))
    val b = new KgPipeline(PipelineConfig(workDir = TempDirs("graft-test-")))
    a.runFull(spark, fx.turns.toDS().repartition(3), fx.catalog, fx.markers, "r")
    b.runFull(spark, new scala.util.Random(1).shuffle(fx.turns).toDS()
      .repartition(13), fx.catalog, fx.markers, "r")
    assert(edgesOf(a) == edgesOf(b))
  }

  test("resume after injected crash publishes the same tables as a clean run") {
    val spark = SparkTestSession.get
    val dirty = new KgPipeline(PipelineConfig(workDir = TempDirs("graft-test-")))
    dirty.failAfterStage = Some("supports")
    val ex = intercept[RuntimeException] {
      dirty.runFull(spark, turnsDs(fx.turns), fx.catalog, fx.markers, "crash1")
    }
    assert(ex.getMessage.contains("injected failure"))
    assert(dirty.edgeTable.read(spark).isEmpty) // nothing published (K5)
    dirty.failAfterStage = None
    dirty.runFull(spark, turnsDs(fx.turns), fx.catalog, fx.markers, "crash1")

    val clean = new KgPipeline(PipelineConfig(workDir = TempDirs("graft-test-")))
    clean.runFull(spark, turnsDs(fx.turns), fx.catalog, fx.markers, "clean1")
    assert(edgesOf(dirty) == edgesOf(clean))
  }

  test("incremental sync of appended+vanished conversations == full recompute") {
    val spark = SparkTestSession.get
    import spark.implicits._
    // t0: everything up to a global event-time cutoff (turn-major ts means
    // turn_idx <= 6 is exactly "ts <= cutoff"); t1: the full stream with the
    // later turns appended, except conversation conv-000003 vanishes
    val t0 = fx.turns.filter(_.turn_idx <= 6)
    val t1 = fx.turns.filterNot(_.conv_id == "conv-000003")

    val p = new KgPipeline(PipelineConfig(workDir = TempDirs("graft-test-"), syncOldData = true))
    p.runFull(spark, turnsDs(t0), fx.catalog, fx.markers, "t0")
    p.runSync(spark, turnsDs(t1), fx.catalog, fx.markers, "t1")

    val scratch = new KgPipeline(PipelineConfig(workDir = TempDirs("graft-test-")))
    scratch.runFull(spark, turnsDs(t1), fx.catalog, fx.markers, "scratch")
    assert(edgesOf(p) == edgesOf(scratch))
  }

  test("detectLanguage stamps each conversation's detected language on its supports") {
    val spark = SparkTestSession.get
    import spark.implicits._
    val ts = new java.sql.Timestamp(1700000000000L)
    val cat = Seq(
      graft.schema.CatalogEntry("urn:e:1", "spark", "spark engine", 1),
      graft.schema.CatalogEntry("urn:e:2", "table", "table store", 1))
    val turns = Seq(
      graft.schema.Turn("cEN", 0, "user",
        "the spark is a table of the data and the rest", null, ts),
      graft.schema.Turn("cCS", 0, "user",
        "je to spark na table se to hodi je to tak", null, ts),
      graft.schema.Turn("cNONE", 0, "user",
        "spark table xyzzy words without function hits", null, ts)).toDS()
    val p = new KgPipeline(PipelineConfig(workDir = TempDirs("graft-test-"),
      detectLanguage = true, language = "xx"))
    val langs = p.computeSupports(spark, turns, cat, Map.empty)
      .select("conv_id", "lang").distinct()
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(langs("cEN") == "en")
    assert(langs("cCS") == "cs")
    assert(langs("cNONE") == "xx") // no profile hits -> configured fallback
    // default off: single configured language, encoded fast path untouched
    val q = new KgPipeline(PipelineConfig(workDir = TempDirs("graft-test-"), language = "xx"))
    val defaults = q.computeSupports(spark, turns, cat, Map.empty)
      .select("lang").distinct().collect().map(_.getString(0)).toSet
    assert(defaults == Set("xx"))
    // misconfigurations fail loudly, never silently misroute
    intercept[IllegalArgumentException] {
      new KgPipeline(PipelineConfig(workDir = TempDirs("graft-test-"),
        detectLanguage = true, langProfiles = Map.empty))
        .computeSupports(spark, turns, cat, Map.empty).count()
    }
  }

  test("normalize applies proplist/normProp/normObj/white/black semantics") {
    val spark = SparkTestSession.get
    import spark.implicits._
    val raw = Seq(
      ("c1", 0, "s1", "p_keep", "v1"),
      ("c1", 0, "s1", "p_drop", "v1"),
      ("c1", 1, "s1", "p_fan", "Organisation"),
      ("c1", 1, "s1", "p_white", "ok"),
      ("c1", 1, "s1", "p_white", "bad"),
      ("c1", 2, "s1", "p_black", "banned"),
      ("c1", 2, "s1", "p_black", "fine"))
      .toDF("conv_id", "turn_idx", "subj", "pred", "obj")
    val cfg = PipelineConfig(
      proplist = Set("p_keep", "p_white", "p_black"),
      listType = "white",
      normProp = Map("p_fan" -> Seq("p_a", "p_b")),
      normObj = Map("Organisation" -> "Organization"),
      whiteMap = Map("p_white" -> Set("ok")),
      blackMap = Map("p_black" -> Set("banned")))
    val got = graft.extract.Extractor.normalize(raw, cfg)
      .select("pred", "obj").collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == Set(
      ("p_keep", "v1"),
      ("p_a", "Organization"), ("p_b", "Organization"),
      ("p_white", "ok"),
      ("p_black", "fine")))
  }

  test("sync on a pre-pin workDir WITH published tables refuses to adopt " +
       "the current flags (their rows' semantics are unknowable)") {
    val spark = SparkTestSession.get
    val wd = TempDirs.path("graft-test-")
    val small = TranscriptGen.generate(nConv = 3, nEnt = 5, hotFactor = 1)
    def turns = turnsDs(small.turns)
    new KgPipeline(PipelineConfig(workDir = wd.toString))
      .runFull(spark, turns, small.catalog, small.markers, "r1")
    // the workDir as a writer before the format pin left it: no table pins.
    // Refused under the same flags, and a full run into it too: the remedy
    // is a rebuild into a fresh workDir (BucketedSyncSpec covers other
    // bucket-key expressions)
    OlderLayouts.unpin(wd)
    val p = new KgPipeline(PipelineConfig(workDir = wd.toString))
    OlderLayouts.refused(wd)(p.runSync(spark, turns, small.catalog, small.markers, "s1"))
    OlderLayouts.refused(wd)(p.runFull(spark, turns, small.catalog, small.markers, "r2"))
  }

  test("a stage checkpoint without a sidecar is refused, running no job") {
    val spark = SparkTestSession.get
    val wd = TempDirs("graft-test-")
    val small = TranscriptGen.generate(nConv = 6, nEnt = 8, hotFactor = 1)
    val cut = small.turns.map(_.ts.getTime).sorted.apply(small.turns.size / 2)
    val p = new KgPipeline(PipelineConfig(workDir = wd))
    p.runFull(spark, turnsDs(small.turns.filter(_.ts.getTime <= cut)),
      small.catalog, small.markers, "r0")
    def sync() = p.runSync(spark, turnsDs(small.turns), small.catalog, small.markers, "s1")
    // a sync that crashes once its supports are checkpointed
    p.failAfterStage = Some("sync_supports")
    intercept[RuntimeException](sync())
    p.failAfterStage = None
    // the resume refuses each stage whose sidecar is gone before it reads
    // that stage: no collect of its bucket set, no inference of its schema,
    // no re-derived watermark
    Seq("changed_convs" -> "_graft_buckets",
      "changed_turns" -> graft.io.TableCommitter.SchemaSidecar,
      "sync_supports" -> "_graft_watermark").foreach { case (stage, sidecar) =>
      val f = java.nio.file.Paths.get(wd, "stages", "s1", stage, sidecar)
      val kept = Files.readAllBytes(f)
      Files.delete(f)
      val (e, jobs) = SparkJobs.during(spark)(
        OlderLayouts.refused(java.nio.file.Paths.get(wd))(sync()))
      assert(e.getMessage.contains(s"$stage has no $sidecar"), e.getMessage)
      assert(jobs.isEmpty, jobs.mkString(" | "))
      Files.write(f, kept)
    }
    // with its sidecars back, the resume completes the sync
    sync()
    val scratch = new KgPipeline(PipelineConfig(workDir = TempDirs("graft-test-")))
    scratch.runFull(spark, turnsDs(small.turns), small.catalog, small.markers, "r")
    assert(edgesOf(p) == edgesOf(scratch))
  }
}
