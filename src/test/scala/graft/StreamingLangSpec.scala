package graft

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite

import graft.config.PipelineConfig
import graft.io.TableCommitter
import graft.schema.Turn
import graft.sources.TranscriptGen
import graft.streaming.StreamingSync
import graft.text.LangDetect

/** Streaming detectLanguage (round-4: the round-3 refusal closed via
  * explicit cross-batch state): per-conversation profile counters merge
  * across micro-batches — associative, so the cumulative winner equals the
  * batch pipeline's whole-conversation detection — and a language FLIP
  * re-keys the conversation's already-published rows inside the bucket
  * rewrite, so one logical support never splits across two lang keys. */
class StreamingLangSpec extends AnyFunSuite {

  private def t(conv: String, idx: Int, text: String): Turn =
    Turn(conv, idx, "user", text, null,
      new Timestamp(1700000000000L + idx * 100000L))

  private def tableLangs(tbl: TableCommitter, conv: String): Set[String] = {
    val spark = SparkTestSession.get
    tbl.read(spark).get.collect()
      .filter(_.getString(0) == conv).map(_.getString(4)).toSet
  }

  private def totalWeight(tbl: TableCommitter): Long = {
    val spark = SparkTestSession.get
    tbl.read(spark).get.collect().map(_.getLong(5)).sum
  }

  test("cumulative streaming detection == batch whole-conversation detection") {
    val spark = SparkTestSession.get
    import spark.implicits._
    // profiles over the fixture's own filler vocabulary, so conversations
    // get genuinely different languages and flips happen organically as
    // counters accumulate across the one-file micro-batches
    val profiles = Map(
      "lorA" -> Set("lorem", "ipsum", "dolor"),
      "lorB" -> Set("sed", "do", "tempor"))
    val cfg = PipelineConfig(detectLanguage = true, langProfiles = profiles,
      workDir = TempDirs("slang-work-"))
    val fx = TranscriptGen.generate(nConv = 10, nEnt = 8, hotFactor = 2)
    val inDir = TempDirs("slang-in-")
    fx.turns.toDS().repartition(3).write.mode("overwrite").parquet(inDir)
    val table = new TableCommitter(TempDirs("slang-tbl-"))
    val lang = new TableCommitter(TempDirs("slang-state-"))
    StreamingSync.ingestAvailableNow(spark, inDir, TempDirs("slang-ckpt-"),
      fx.catalog, fx.markers, cfg, table, maxFilesPerBatch = Some(1),
      langStateTable = Some(lang))
    assert(table.currentGeneration("lastBatch").exists(_.toLong >= 1),
      "expected multiple micro-batches")

    val profs = LangDetect.sortedProfiles(profiles)
    val expectLang = LangDetect
      .pick(LangDetect.counts(fx.turns.toDF(), profs), profs, cfg.language)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val expect = ExtractModel.kernel(fx.turns.toDS(), fx.catalog, fx.markers,
        canon = TranscriptGen.components(fx.catalog)).toDF()
      .groupBy("conv_id", "subj", "pred", "obj").count()
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3),
        expectLang(r.getString(0))) -> r.getLong(4))
      .toMap
    val streamed = table.read(spark).get.collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3),
        r.getString(4)) -> r.getLong(5))
      .toMap
    assert(streamed == expect,
      "streamed supports (incl. detected langs) must equal the batch result")
  }

  test("a language flip re-keys published rows — even from a support-less batch") {
    val spark = SparkTestSession.get
    import spark.implicits._
    val cfg = PipelineConfig(detectLanguage = true, workDir = TempDirs("slang-work-"))
    val catalog = TranscriptGen.catalog(3)
    val markers = TranscriptGen.markerPreds
    val inDir = TempDirs("slang-in-")
    val ckpt = TempDirs("slang-ckpt-")
    val table = new TableCommitter(TempDirs("slang-tbl-"))
    val lang = new TableCommitter(TempDirs("slang-state-"))
    def ingest(): Unit = StreamingSync.ingestAvailableNow(spark, inDir, ckpt,
      catalog, markers, cfg, table, langStateTable = Some(lang))

    // batch 1: one support, English function words -> detected en
    Seq(t("c-flip", 0, "al0x uses al1x the of and is with"))
      .toDS().coalesce(1).write.mode("overwrite").parquet(inDir)
    ingest()
    assert(tableLangs(table, "c-flip") == Set("en"))
    val w1 = totalWeight(table)

    // batch 2: NO extractable support, but enough Czech evidence to flip
    // the cumulative winner — the conversation's existing rows must be
    // re-keyed in place (its bucket is rewritten even with no new supports)
    Seq(t("c-flip", 1, "je na se aby nebo je na se aby nebo je na se"))
      .toDS().coalesce(1).write.mode("append").parquet(inDir)
    ingest()
    assert(tableLangs(table, "c-flip") == Set("cs"),
      "existing rows must move to the new language, never split across keys")
    assert(totalWeight(table) == w1, "re-keying moves weight, never changes it")

    // batch 3: a new support merges under the flipped language
    Seq(t("c-flip", 2, "al0x uses al1x je na"))
      .toDS().coalesce(1).write.mode("append").parquet(inDir)
    ingest()
    assert(tableLangs(table, "c-flip") == Set("cs"))
    assert(totalWeight(table) > w1, "new supports accumulate under cs")

    // batch 4: no supports, no flip — the steady-state trickle case. The
    // counters advance (state generation moves) but the supports table must
    // NOT be rewritten: re-key work is owed only to FLIPPED conversations
    val supGen = table.currentGeneration()
    val stateGen = lang.currentGeneration()
    Seq(t("c-flip", 3, "je na se"))
      .toDS().coalesce(1).write.mode("append").parquet(inDir)
    ingest()
    assert(table.currentGeneration() == supGen,
      "a no-support no-flip batch must not rewrite the supports table")
    assert(lang.currentGeneration() != stateGen,
      "the language counters must still advance")
  }

  test("derived tables under detectLanguage: a mid-stream language flip " +
       "retracts old-lang edges, re-emits, and fixes node refs + docs") {
    val spark = SparkTestSession.get
    import spark.implicits._
    val profiles = Map(
      "lorA" -> Set("lorem", "ipsum", "dolor"),
      "lorB" -> Set("sed", "do", "tempor"))
    val cfg = PipelineConfig(detectLanguage = true, langProfiles = profiles,
      workDir = TempDirs("slang-work-"))
    val catalog = TranscriptGen.catalog(2)
    // batch 1: conversation votes lorA; batch 2: enough lorB tokens that
    // the CUMULATIVE winner flips — proven here, not assumed
    val t0 = t("cf", 0, "al0x uses al1x lorem ipsum dolor")
    val t1 = t("cf", 1, "al0x uses al1x sed do tempor sed do tempor")
    val profs = LangDetect.sortedProfiles(profiles)
    def winner(ts: Seq[Turn]): String = LangDetect
      .pick(LangDetect.counts(ts.toDF(), profs), profs, cfg.language)
      .collect().head.getString(1)
    assert(winner(Seq(t0)) == "lorA" && winner(Seq(t0, t1)) == "lorB",
      "fixture must flip the cumulative winner in batch 2")

    val inDir = TempDirs("slang-in-")
    def writeFile(turn: Turn, mtime: Long): Unit = {
      Seq(turn).toDS().coalesce(1).write.mode("append").parquet(inDir)
      // pin modification times so the file source feeds batch 1 before
      // batch 2 (the flip needs the lorA file FIRST)
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.list(java.nio.file.Paths.get(inDir))
        .iterator().asScala.filter(_.toString.endsWith(".parquet"))
        .foreach { p =>
          val cur = java.nio.file.Files.getLastModifiedTime(p).toMillis
          if (cur > mtime)
            java.nio.file.Files.setLastModifiedTime(p,
              java.nio.file.attribute.FileTime.fromMillis(mtime))
        }
    }
    writeFile(t0, 1700000000000L)
    writeFile(t1, 1700000100000L)

    val table = new TableCommitter(TempDirs("slang-tbl-"))
    val lang = new TableCommitter(TempDirs("slang-state-"))
    val eTbl = new TableCommitter(TempDirs("slang-e-"))
    val nTbl = new TableCommitter(TempDirs("slang-n-"))
    val dTbl = new TableCommitter(TempDirs("slang-d-"))
    StreamingSync.ingestAvailableNow(spark, inDir, TempDirs("slang-ckpt-"),
      catalog, TranscriptGen.markerPreds, cfg, table,
      maxFilesPerBatch = Some(1), langStateTable = Some(lang),
      edgeTable = Some(eTbl), nodeTable = Some(nTbl), docTable = Some(dTbl))
    assert(table.currentGeneration("lastBatch").exists(_.toLong >= 1),
      "expected two micro-batches")

    // expectation: the batch pipeline's whole-input result
    val allTurns = Seq(t0, t1)
    val expectSupports = ExtractModel.kernel(allTurns.toDS(), catalog, TranscriptGen.markerPreds,
        canon = TranscriptGen.components(catalog)).toDF()
      .groupBy("subj", "pred", "obj").count()
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
        "lorB") -> r.getLong(3)).toMap
    assert(expectSupports.nonEmpty, "fixture must extract supports")

    val edges = eTbl.read(spark).get.collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getString(3)) -> r.getLong(4)).toMap
    assert(edges == expectSupports,
      s"streamed edges must equal the batch result at the FINAL language " +
        s"(no stale lorA keys): $edges")
    assert(!edges.keys.exists(_._4 == "lorA"), "old-lang edges must retire")

    // node refcounts: distinct edge keys per entity over the final edges
    val expectRefs = expectSupports.keys.toSeq
      .flatMap(k => Seq(k._1, k._3)).groupBy(identity)
      .map { case (e, xs) => e -> xs.size.toLong }
    val nodes = nTbl.read(spark).get.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(nodes == expectRefs,
      s"node refs must match the final edge keys (stale refs retired): $nodes")

    // docs re-render under the final language only
    val docs = dTbl.read(spark).get
    val docLangs = docs.select("lang").collect().map(_.getString(0)).toSet
    assert(docLangs == Set("lorB"), s"docs must re-key to the winner: $docLangs")
  }

  test("profile signatures cannot collide across delimiter-bearing words") {
    val a = Map("a" -> Set("x;b:y"))
    val b = Map("a" -> Set("x"), "b" -> Set("y"))
    assert(LangDetect.signature(a) != LangDetect.signature(b))
  }

  test("refusals and pins: missing state table, derived tables, profile edits") {
    val spark = SparkTestSession.get
    import spark.implicits._
    val cfg = PipelineConfig(detectLanguage = true, workDir = TempDirs("slang-work-"))
    val catalog = TranscriptGen.catalog(2)
    val inDir = TempDirs("slang-in-")
    Seq(t("c0", 0, "al0x uses al1x the of")).toDS()
      .coalesce(1).write.mode("overwrite").parquet(inDir)

    val e1 = intercept[IllegalArgumentException](
      StreamingSync.ingestAvailableNow(spark, inDir, TempDirs("slang-ckpt-"),
        catalog, TranscriptGen.markerPreds, cfg,
        new TableCommitter(TempDirs("slang-tbl-"))))
    assert(e1.getMessage.contains("langStateTable"))

    // profile pin: counters are positional over the sorted profile keys, so
    // an edited profile set must refuse to write into the same state lineage
    val table = new TableCommitter(TempDirs("slang-tbl-"))
    val state = new TableCommitter(TempDirs("slang-state-"))
    val ckpt = TempDirs("slang-ckpt-")
    StreamingSync.ingestAvailableNow(spark, inDir, ckpt, catalog,
      TranscriptGen.markerPreds, cfg, table, langStateTable = Some(state))
    val edited = cfg.copy(langProfiles = cfg.langProfiles +
      ("de" -> Set("der", "und")))
    Seq(t("c0", 1, "al0x uses al1x und der")).toDS()
      .coalesce(1).write.mode("append").parquet(inDir)
    val e3 = intercept[Exception](
      StreamingSync.ingestAvailableNow(spark, inDir, ckpt, catalog,
        TranscriptGen.markerPreds, edited, table, langStateTable = Some(state)))
    assert(e3.getMessage.contains("lang_profiles"))
  }

  test("lineage guard: a detectLanguage lineage with committed batches " +
       "refuses an empty language state table") {
    val spark = SparkTestSession.get
    import spark.implicits._
    val cfg = PipelineConfig(detectLanguage = true, workDir = TempDirs("slang-work-"))
    val catalog = TranscriptGen.catalog(2)
    val inDir = TempDirs("slang-in-")
    Seq(t("c0", 0, "al0x uses al1x the of")).toDS()
      .coalesce(1).write.mode("overwrite").parquet(inDir)
    val table = new TableCommitter(TempDirs("slang-tbl-"))
    val ckpt = TempDirs("slang-ckpt-")
    StreamingSync.ingestAvailableNow(spark, inDir, ckpt, catalog,
      TranscriptGen.markerPreds, cfg, table,
      langStateTable = Some(new TableCommitter(TempDirs("slang-state-"))))
    assert(table.currentGeneration("lastBatch").isDefined)
    val e = intercept[IllegalStateException](
      StreamingSync.ingestAvailableNow(spark, inDir, ckpt, catalog,
        TranscriptGen.markerPreds, cfg, table,
        langStateTable = Some(new TableCommitter(TempDirs("slang-lost-")))))
    assert(e.getMessage.contains("language state"))
  }
}
