package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.config.PipelineConfig
import graft.io.TableCommitter
import graft.sources.TranscriptGen
import graft.streaming.StreamingSync

class StreamingMultimodalSpec extends AnyFunSuite {

  test("streaming AvailableNow ingest merges the same supports as batch extract") {
    val spark = SparkTestSession.get
    import spark.implicits._
    val fx = TranscriptGen.generate(nConv = 10, nEnt = 10, hotFactor = 2)
    val inDir = TempDirs("stream-in-")
    fx.turns.toDS().repartition(3).write.mode("overwrite").parquet(inDir)
    val table = new TableCommitter(TempDirs("stream-tbl-"))
    val ckpt = TempDirs("stream-ckpt-")

    // one file per micro-batch FORCES conversations to split across batches
    // (AvailableNow would otherwise take all files in a single batch and
    // never exercise the cross-batch additive path)
    StreamingSync.ingestAvailableNow(spark, inDir, ckpt,
      fx.catalog, fx.markers, PipelineConfig(), table, maxFilesPerBatch = Some(1))
    assert(table.currentGeneration("lastBatch").exists(_.toLong >= 1),
      "expected multiple micro-batches")

    // additive merge: weights equal the single-batch extraction EXACTLY,
    // even when a conversation's turns were split across micro-batches.
    // Canon parity: the stream extracts at canonical-cluster granularity
    // exactly like the batch pipeline, so the reference must too (the
    // fixture's shared aliases make an un-canonicalized reference diverge).
    val batch = ExtractModel.kernel(fx.turns.toDS(), fx.catalog, fx.markers,
        canon = TranscriptGen.components(fx.catalog)).toDF()
      .groupBy("conv_id", "subj", "pred", "obj").count()
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3)) -> r.getLong(4))
      .toMap
    val streamed = table.read(spark).get.collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3)) -> r.getLong(5))
      .toMap
    assert(streamed == batch)

    // restart with same checkpoint: no new data -> no new generation
    val genBefore = table.currentGeneration()
    StreamingSync.ingestAvailableNow(spark, inDir, ckpt,
      fx.catalog, fx.markers, PipelineConfig(), table)
    assert(table.currentGeneration() == genBefore)

    // at-least-once replay protection: a stale batchId is a no-op even when
    // the driver re-invokes the merge (additive merges would double-add
    // without the lastBatch stamp)
    assert(table.currentGeneration("lastBatch").isDefined)
  }

  test("a micro-batch touching one conversation rewrites only its buckets (inode-verified)") {
    val spark = SparkTestSession.get
    import spark.implicits._
    val fx = TranscriptGen.generate(nConv = 12, nEnt = 10, hotFactor = 2)
    val inDir = TempDirs("stream-ob-in-")
    fx.turns.toDS().coalesce(1).write.mode("overwrite").parquet(inDir)
    val table = new TableCommitter(TempDirs("stream-ob-tbl-"))
    val ckpt = TempDirs("stream-ob-ckpt-")
    val cfg = PipelineConfig()
    StreamingSync.ingestAvailableNow(spark, inDir, ckpt,
      fx.catalog, fx.markers, cfg, table)
    val gen0 = java.nio.file.Paths.get(table.currentPath().get)

    // a second micro-batch carrying extra turns of exactly ONE conversation
    val conv = fx.turns.head.conv_id
    val extra = fx.turns.filter(_.conv_id == conv)
    extra.toDS().coalesce(1).write.mode("append").parquet(inDir)
    StreamingSync.ingestAvailableNow(spark, inDir, ckpt,
      fx.catalog, fx.markers, cfg, table)
    val gen1 = java.nio.file.Paths.get(table.currentPath().get)
    assert(gen1 != gen0)

    // O(batch) check: every fresh (non-hard-linked) data file of the new
    // generation lives in the touched conversation's bucket dir; all other
    // buckets carried over as hard links of the previous generation
    def files(g: java.nio.file.Path) = {
      import scala.jdk.CollectionConverters._
      Files.walk(g).iterator().asScala
        .filter(Files.isRegularFile(_))
        .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
    }
    def inode(f: java.nio.file.Path) =
      Files.getAttribute(f, "unix:ino").asInstanceOf[Long]
    val expectedBucket = {
      import org.apache.spark.sql.functions.{col, hash, lit, pmod}
      Seq(conv).toDF("conv_id")
        .select(pmod(hash(col("conv_id")), lit(cfg.syncBuckets)))
        .head().getInt(0)
    }
    val oldInodes = files(gen0).map(inode).toSet
    val fresh = files(gen1).filterNot(f => oldInodes.contains(inode(f)))
    assert(fresh.nonEmpty)
    assert(fresh.map(_.getParent.getFileName.toString).toSet ==
      Set(s"bucket=$expectedBucket"),
      "a 1-conversation micro-batch must rewrite exactly that conversation's bucket")

    // content parity: streamed == batch extraction over (original + extra)
    val batch = ExtractModel.kernel((fx.turns ++ extra).toDS(), fx.catalog, fx.markers,
        canon = TranscriptGen.components(fx.catalog)).toDF()
      .groupBy("conv_id", "subj", "pred", "obj").count()
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3)) -> r.getLong(4))
      .toMap
    val streamed = table.read(spark).get.collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3)) -> r.getLong(5))
      .toMap
    assert(streamed == batch)
  }

  /** Erase batch 0's commit record (and its Hadoop-local-FS checksum twin —
    * leaving the stale .crc behind trips Spark's concurrent-writer check) so
    * a restarted query replays the batch, as after a crash mid-commit. */
  private def deleteCommit(ckpt: String, batchId: Long = 0L): Unit = {
    val commits = java.nio.file.Paths.get(ckpt).resolve("commits")
    Files.delete(commits.resolve(batchId.toString))
    Files.deleteIfExists(commits.resolve(s".$batchId.crc"))
  }

  test("bucketed ingest survives foreachBatch replay: stamped batches skip, " +
       "crash-before-stamp republishes idempotently (no double-merge)") {
    val spark = SparkTestSession.get
    import spark.implicits._
    val fx = TranscriptGen.generate(nConv = 8, nEnt = 8, hotFactor = 2)
    val inDir = TempDirs("stream-rp-in-")
    fx.turns.toDS().coalesce(1).write.mode("overwrite").parquet(inDir)
    val tblDir = TempDirs("stream-rp-tbl-")
    val table = new TableCommitter(tblDir)
    val ckpt = TempDirs("stream-rp-ckpt-")
    StreamingSync.ingestAvailableNow(spark, inDir, ckpt,
      fx.catalog, fx.markers, PipelineConfig(), table)
    def content() = table.read(spark).get.collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3)) -> r.getLong(5))
      .toMap
    val want = content()
    val genAfter = table.currentGeneration()

    // scenario 1: the engine replays batch 0 (its commit log entry lost),
    // but the lastBatch stamp survived -> the batch is SKIPPED, additive
    // weights unchanged
    deleteCommit(ckpt)
    StreamingSync.ingestAvailableNow(spark, inDir, ckpt,
      fx.catalog, fx.markers, PipelineConfig(), table)
    assert(content() == want)
    assert(table.currentGeneration() == genAfter)

    // scenario 2: crash happened AFTER publishBuckets but BEFORE the stamp —
    // both the commit log entry and the lastBatch pointer are gone; the
    // replay re-runs the merge, and the committer's runId idempotence must
    // discard the re-staged data instead of double-adding the weights
    deleteCommit(ckpt)
    Files.delete(java.nio.file.Paths.get(tblDir).resolve("_meta").resolve("lastBatch"))
    StreamingSync.ingestAvailableNow(spark, inDir, ckpt,
      fx.catalog, fx.markers, PipelineConfig(), table)
    assert(content() == want, "replayed batch double-merged the weights")
    assert(table.currentGeneration("lastBatch").contains("0"))
  }

  test("a recreated checkpoint over a non-empty table is refused, not silently skipped") {
    val spark = SparkTestSession.get
    import spark.implicits._
    val fx = TranscriptGen.generate(nConv = 4, nEnt = 5, hotFactor = 1)
    val inDir = TempDirs("stream-ck-in-")
    fx.turns.toDS().write.mode("overwrite").parquet(inDir)
    val table = new TableCommitter(TempDirs("stream-ck-tbl-"))
    val ckpt1 = TempDirs("stream-ck1-")
    StreamingSync.ingestAvailableNow(spark, inDir, ckpt1,
      fx.catalog, fx.markers, PipelineConfig(), table)
    assert(table.read(spark).isDefined)

    // a FRESH checkpoint restarts batchIds at 0; running it over the same
    // table must fail loudly (skip = data loss, reprocess = double count)
    val ckpt2 = TempDirs("stream-ck2-")
    val ex = intercept[IllegalStateException] {
      StreamingSync.ingestAvailableNow(spark, inDir, ckpt2,
        fx.catalog, fx.markers, PipelineConfig(), table)
    }
    assert(ex.getMessage.contains("checkpoint"))
  }

  test("streaming ingest refuses configs whose semantics need cross-batch " +
       "or whole-conversation context") {
    val spark = SparkTestSession.get
    import spark.implicits._
    val fx = TranscriptGen.generate(nConv = 2, nEnt = 3, hotFactor = 1)
    val inDir = TempDirs("stream-guard-in-")
    fx.turns.toDS().write.mode("overwrite").parquet(inDir)
    // scoredLinking is NOT in this list since round 4: per-turn contextual
    // scoring is batch-boundary-safe and streams through AmbiguityResolver.
    // corefResolution streams too (explicit cross-batch state) but REQUIRES
    // a state table — passing the flag without one must refuse, not
    // silently drop every cross-batch antecedent
    for (cfg <- Seq(
        PipelineConfig(detectLanguage = true),
        PipelineConfig(corefResolution = true))) {
      val table = new TableCommitter(
        TempDirs("stream-guard-tbl-"))
      assertThrows[IllegalArgumentException] {
        StreamingSync.ingestAvailableNow(spark, inDir,
          TempDirs("stream-guard-ck-"),
          fx.catalog, fx.markers, cfg, table)
      }
    }
  }

  test("scoredLinking streams: an ambiguous alias in the stream resolves " +
       "contextually, content == batch extraction+resolution, even with " +
       "conversations split across micro-batches") {
    val spark = SparkTestSession.get
    import spark.implicits._
    import graft.schema.{CatalogEntry, Turn}
    // "mercury" names two entities; context must flip the planet conv away
    // from the rank winner; plus a MULTI-token ambiguous alias
    val cat = Seq(
      CatalogEntry("urn:e:element", "mercury", "mercury chemical element silvery metal", 1),
      CatalogEntry("urn:e:planet", "mercury", "mercury planet solar orbit innermost", 2),
      CatalogEntry("urn:e:engine", "apache spark", "apache spark cluster computing engine", 1),
      CatalogEntry("urn:e:book", "apache spark", "apache spark definitive guide book", 2))
    def turn(c: String, i: Int, text: String) =
      Turn(c, i, "user", text, "", new java.sql.Timestamp(1000L + i))
    val turns = Seq(
      turn("conv-planet", 0, "the innermost planet mercury has a solar orbit"),
      turn("conv-planet", 1, "mercury is the innermost planet of the solar system"),
      turn("conv-element", 0, "mercury is a chemical element a silvery metal"),
      turn("conv-book", 0, "the definitive guide book covers apache spark"))
    val inDir = TempDirs("stream-scored-in-")
    // one FLAT file per turn -> one turn per micro-batch (conv-planet's two
    // turns land in different batches, proving batch-boundary safety)
    turns.zipWithIndex.foreach { case (t, i) =>
      val tmp = TempDirs.path("stream-scored-one-")
      Seq(t).toDS().coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      import scala.jdk.CollectionConverters._
      val part = Files.list(tmp).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.move(part, java.nio.file.Paths.get(inDir, s"t$i.parquet"))
    }
    val cfg = PipelineConfig(scoredLinking = true)
    val table = new TableCommitter(
      TempDirs("stream-scored-tbl-"))
    StreamingSync.ingestAvailableNow(spark, inDir,
      TempDirs("stream-scored-ck-"),
      cat, Map.empty, cfg, table, maxFilesPerBatch = Some(1))
    assert(table.currentGeneration("lastBatch").exists(_.toLong >= 1),
      "expected multiple micro-batches")

    val streamed = table.read(spark).get.collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3)) -> r.getLong(5))
      .toMap
    // batch reference: same extraction + resolution over the whole corpus
    val batch = graft.link.AmbiguityResolver.resolve(
        ExtractModel.kernel(turns.toDS(), cat, Map.empty,
          sentinelAmbiguous = true).toDF(), turns.toDS(), cat)
      .groupBy("conv_id", "subj", "pred", "obj").count()
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3)) -> r.getLong(4))
      .toMap
    assert(streamed == batch)
    // and the contextual winners are the CONTEXT choices, not rank's
    def linked(conv: String) = streamed.keys
      .collect { case (c, _, _, o) if c == conv => o }.toSet
    assert(linked("conv-planet") == Set("urn:e:planet"))
    assert(linked("conv-element") == Set("urn:e:element"))
    assert(linked("conv-book") == Set("urn:e:book"))
  }

  /** One flat parquet file per turn, mtime-ordered, so maxFilesPerTrigger=1
    * delivers exactly one turn per micro-batch IN turn order. */
  private def writeOneFilePerTurn(inDir: String,
                                  turns: Seq[graft.schema.Turn]): Unit = {
    val spark = SparkTestSession.get
    import spark.implicits._
    turns.zipWithIndex.foreach { case (t, i) =>
      val tmp = TempDirs.path("stream-coref-one-")
      Seq(t).toDS().coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      import scala.jdk.CollectionConverters._
      val part = Files.list(tmp).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      val dest = java.nio.file.Paths.get(inDir, f"t$i%03d.parquet")
      Files.move(part, dest)
      // explicit mtimes: the file source orders by (mtime, path), and
      // same-millisecond writes would otherwise leave ordering to luck
      Files.setLastModifiedTime(dest,
        java.nio.file.attribute.FileTime.fromMillis(1000000L + i * 1000))
    }
  }

  test("streaming derived tables: edge weights and node refcounts accumulate " +
       "across micro-batches to the batch-full aggregation; a replay after " +
       "all publishes is a content no-op") {
    val spark = SparkTestSession.get
    import spark.implicits._
    val fx = TranscriptGen.generate(nConv = 10, nEnt = 10, hotFactor = 2)
    val inDir = TempDirs("stream-dt-in-")
    fx.turns.toDS().repartition(3).write.mode("overwrite").parquet(inDir)
    val tblDir = TempDirs("stream-dt-tbl-")
    val table = new TableCommitter(tblDir)
    val eTbl = new TableCommitter(TempDirs("stream-dt-e-"))
    val nTbl = new TableCommitter(TempDirs("stream-dt-n-"))
    val dTbl = new TableCommitter(TempDirs("stream-dt-d-"))
    val ckpt = TempDirs("stream-dt-ck-")
    val cfg = PipelineConfig()
    StreamingSync.ingestAvailableNow(spark, inDir, ckpt,
      fx.catalog, fx.markers, cfg, table, maxFilesPerBatch = Some(1),
      edgeTable = Some(eTbl), nodeTable = Some(nTbl), docTable = Some(dTbl))
    assert(table.currentGeneration("lastBatch").exists(_.toLong >= 1),
      "expected multiple micro-batches")

    // batch reference: conv-level support weights sum across conversations
    // to a plain per-key count, exactly what the batch pipeline's edge
    // aggregation computes over its supports
    val extractedAll = ExtractModel.kernel(fx.turns.toDS(), fx.catalog, fx.markers,
        canon = TranscriptGen.components(fx.catalog)).toDF()
    val edgesRef = extractedAll
      .groupBy("subj", "pred", "obj").count()
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), cfg.language) -> r.getLong(3))
      .toMap
    def edgeContent() = eTbl.read(spark).get.collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3)) -> r.getLong(4))
      .toMap
    assert(edgeContent() == edgesRef)

    // node refcounts: per entity, occurrences over DISTINCT edge keys
    val nodesRef = edgesRef.keys.toSeq
      .flatMap { case (s0, _, o0, _) => Seq(s0, o0) }
      .groupBy(identity).map { case (e, xs) => e -> xs.size.toLong }
    def nodeContent() = nTbl.read(spark).get.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(nodeContent() == nodesRef)

    // docs: per-subject rebuild from the post-merge edge slice converges to
    // the batch pipeline's full doc build over the final edge set
    val edgesRefDf = extractedAll.groupBy("subj", "pred", "obj").count()
      .select(org.apache.spark.sql.functions.col("subj"),
        org.apache.spark.sql.functions.col("pred"),
        org.apache.spark.sql.functions.col("obj"),
        org.apache.spark.sql.functions.lit(cfg.language).as("lang"))
    // map-typed doc column: canonicalize key order before comparing (Row
    // rendering iterates map keys in storage order, which is plan-dependent)
    def docRows(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "subj", "lang", "doc").collect().map { r =>
        (r.getString(0), r.getString(1), r.getString(2),
          r.getMap[String, scala.collection.Seq[String]](3).toSeq
            .map { case (k, v) => (k, v.toList) }.sortBy(_._1).toList)
      }.toSet
    val docsRef =
      docRows(graft.materialize.DocAssembler.assemble(edgesRefDf, cfg))
    def docContent() = docRows(dTbl.read(spark).get)
    assert(docContent() == docsRef)

    // replay of the last batch with everything already published: contents
    // and generations must not move (runId idempotence + parent-generation
    // snapshot for the new-key detection)
    val lastBatch = table.currentGeneration("lastBatch").get.toLong
    val (gE, gN, gD) = (eTbl.currentGeneration(), nTbl.currentGeneration(),
      dTbl.currentGeneration())
    deleteCommit(ckpt, lastBatch)
    Files.writeString(java.nio.file.Paths.get(tblDir)
      .resolve("_meta").resolve("lastBatch"), (lastBatch - 1).toString)
    StreamingSync.ingestAvailableNow(spark, inDir, ckpt,
      fx.catalog, fx.markers, cfg, table, maxFilesPerBatch = Some(1),
      edgeTable = Some(eTbl), nodeTable = Some(nTbl), docTable = Some(dTbl))
    assert(edgeContent() == edgesRef, "replay double-merged edge weights")
    assert(nodeContent() == nodesRef, "replay double-counted node refs")
    assert(docContent() == docsRef, "replay corrupted the doc rebuild")
    assert(eTbl.currentGeneration() == gE)
    assert(nTbl.currentGeneration() == gN)
    assert(dTbl.currentGeneration() == gD)
    assert(table.currentGeneration("lastBatch").contains(lastBatch.toString))

    // replay window between the edge and the node publish: the last batch's
    // edges are published, its nodes and docs are not. The replay must
    // derive the created keys against the PARENT edge generation — the
    // current one already holds them
    val ckptId = Files.readString(
      java.nio.file.Paths.get(ckpt).resolve("graft-ckpt-id")).trim
    val runId = s"stream-$ckptId-$lastBatch"
    assert(nTbl.publishedGeneration(runId) == gN)
    assert(dTbl.publishedGeneration(runId) == gD)
    Seq(nTbl, dTbl).foreach { t =>
      val gen = t.currentGeneration().get
      val root = java.nio.file.Paths.get(t.currentPath().get).getParent
      val dead = Files.walk(root.resolve(gen))
      try dead.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => Files.delete(f))
      finally dead.close()
      Files.delete(root.resolve("_meta").resolve("runs").resolve(s"current~$runId"))
      t.setPointer("current", s"gen-${gen.stripPrefix("gen-").toLong - 1}")
    }
    deleteCommit(ckpt, lastBatch)
    Files.writeString(java.nio.file.Paths.get(tblDir)
      .resolve("_meta").resolve("lastBatch"), (lastBatch - 1).toString)
    StreamingSync.ingestAvailableNow(spark, inDir, ckpt,
      fx.catalog, fx.markers, cfg, table, maxFilesPerBatch = Some(1),
      edgeTable = Some(eTbl), nodeTable = Some(nTbl), docTable = Some(dTbl))
    assert(nodeContent() == nodesRef, "replay lost the last batch's node refs")
    assert(docContent() == docsRef, "replay lost the last batch's docs")
    assert(eTbl.currentGeneration() == gE)

    // late enabling over a lineage ingested WITHOUT propagation is refused
    val t2 = new TableCommitter(TempDirs("stream-dt-t2-"))
    val ck2 = TempDirs("stream-dt-ck2-")
    StreamingSync.ingestAvailableNow(spark, inDir, ck2,
      fx.catalog, fx.markers, cfg, t2)
    val e2 = intercept[IllegalStateException] {
      StreamingSync.ingestAvailableNow(spark, inDir, ck2,
        fx.catalog, fx.markers, cfg, t2,
        edgeTable = Some(new TableCommitter(
          TempDirs("stream-dt-e2-"))),
        nodeTable = Some(new TableCommitter(
          TempDirs("stream-dt-n2-"))))
    }
    assert(e2.getMessage.contains("never propagated"))
  }

  test("corefResolution streams: an orphan resolves against an antecedent " +
       "from an EARLIER micro-batch, content == batch resolution, and a " +
       "no-new-data restart leaves the state generation untouched") {
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
      turn("conv-a", 0, "the hazy moon titan is large"),
      // orphan whose antecedent (titan) lives in the PREVIOUS micro-batch
      turn("conv-a", 1, "orbits saturn closely"),
      // orphan in a conversation with no antecedent at all -> dropped
      turn("conv-b", 0, "orbits saturn distantly"),
      // second orphan two batches after the antecedent
      turn("conv-a", 2, "orbits saturn again"))
    val inDir = TempDirs("stream-coref-in-")
    writeOneFilePerTurn(inDir, turns)
    val cfg = PipelineConfig(corefResolution = true)
    val table = new TableCommitter(
      TempDirs("stream-coref-tbl-"))
    val state = new TableCommitter(
      TempDirs("stream-coref-st-"))
    val ckpt = TempDirs("stream-coref-ck-")
    StreamingSync.ingestAvailableNow(spark, inDir, ckpt,
      cat, markers, cfg, table, maxFilesPerBatch = Some(1),
      corefStateTable = Some(state))
    assert(table.currentGeneration("lastBatch").exists(_.toLong >= 2),
      "expected one micro-batch per turn")

    val streamed = table.read(spark).get.collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3)) -> r.getLong(5))
      .toMap
    // batch reference: extraction + window resolution over the whole corpus
    val batch = graft.extract.CorefResolver.resolve(
        ExtractModel.kernel(turns.toDS(), cat, markers,
          emitContext = true).toDF())
      .groupBy("conv_id", "subj", "pred", "obj").count()
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3)) -> r.getLong(4))
      .toMap
    assert(streamed == batch)
    // a two-link cross-batch chain: turn 1's orphan took turn 0's titan
    // (previous batch); turn 2's orphan took turn 1's saturn mention (again
    // the previous batch — the freshest antecedent, exactly as the batch
    // window ranks them); conv-b's antecedent-less orphan contributed nothing
    assert(streamed(("conv-a", "urn:e:titan", "urn:p:orbits", "urn:e:saturn")) == 1L)
    assert(streamed(("conv-a", "urn:e:saturn", "urn:p:orbits", "urn:e:saturn")) == 1L)
    assert(!streamed.keys.exists { case (c, _, p0, _) =>
      c == "conv-b" && p0 == "urn:p:orbits" })

    // the state row tracks the latest mention and the max ingested turn
    val st = state.read(spark).get
      .filter(org.apache.spark.sql.functions.col("conv_id") === "conv-a")
      .select("last_idx", "last_ent", "max_idx").head()
    assert(st.getInt(0) == 2 && st.getString(1) == "urn:e:saturn" &&
      st.getInt(2) == 2)

    // restart with same checkpoint, no new data: neither table advances
    val (gT, gS) = (table.currentGeneration(), state.currentGeneration())
    StreamingSync.ingestAvailableNow(spark, inDir, ckpt,
      cat, markers, cfg, table, corefStateTable = Some(state))
    assert(table.currentGeneration() == gT)
    assert(state.currentGeneration() == gS)
  }

  test("corefResolution + scoredLinking stream together: the cross-batch " +
       "antecedent is the CONTEXTUALLY linked entity, not the rank winner") {
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
      Turn("conv-p", 1, "user", "orbits venus today", "",
        new java.sql.Timestamp(1001L)))
    val inDir = TempDirs("stream-cs-in-")
    writeOneFilePerTurn(inDir, turns)
    val cfg = PipelineConfig(scoredLinking = true, corefResolution = true)
    val table = new TableCommitter(
      TempDirs("stream-cs-tbl-"))
    val state = new TableCommitter(
      TempDirs("stream-cs-st-"))
    StreamingSync.ingestAvailableNow(spark, inDir,
      TempDirs("stream-cs-ck-"),
      cat, markers, cfg, table, maxFilesPerBatch = Some(1),
      corefStateTable = Some(state))
    val orbit = table.read(spark).get
      .filter(org.apache.spark.sql.functions.col("pred") === "urn:p:orbits")
      .collect().map(r => (r.getString(1), r.getString(3))).toSet
    assert(orbit == Set(("urn:e:planet", "urn:e:venus")))
  }

  test("corefResolution survives the worst replay window: crash after BOTH " +
       "publishes but before the stamp — the replay neither double-merges " +
       "nor wedges on the state it advanced itself") {
    val spark = SparkTestSession.get
    import spark.implicits._
    import graft.schema.{CatalogEntry, Turn}
    val cat = Seq(
      CatalogEntry("urn:e:titan", "titan", "titan moon", 1),
      CatalogEntry("urn:e:saturn", "saturn", "saturn planet", 1))
    val markers = Map("orbits" -> "urn:p:orbits")
    val turns = Seq(
      Turn("conv-a", 0, "user", "the moon titan is large", "",
        new java.sql.Timestamp(1000L)),
      Turn("conv-a", 1, "user", "orbits saturn closely", "",
        new java.sql.Timestamp(1001L)))
    val inDir = TempDirs("stream-crp-in-")
    writeOneFilePerTurn(inDir, turns)
    val cfg = PipelineConfig(corefResolution = true)
    val tblDir = TempDirs("stream-crp-tbl-")
    val table = new TableCommitter(tblDir)
    val state = new TableCommitter(
      TempDirs("stream-crp-st-"))
    val ckpt = TempDirs("stream-crp-ck-")
    StreamingSync.ingestAvailableNow(spark, inDir, ckpt,
      cat, markers, cfg, table, maxFilesPerBatch = Some(1),
      corefStateTable = Some(state))
    def content() = table.read(spark).get.collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3)) -> r.getLong(5))
      .toMap
    val want = content()
    assert(want(("conv-a", "urn:e:titan", "urn:p:orbits", "urn:e:saturn")) == 1L)
    val stateGen = state.currentGeneration()

    // simulate: batch 1 published its supports AND its state, then crashed
    // before stamping lastBatch — erase the engine's commit record and wind
    // the stamp back so the replay re-runs the batch against a state table
    // the batch itself already advanced
    deleteCommit(ckpt, 1)
    Files.writeString(
      java.nio.file.Paths.get(tblDir).resolve("_meta").resolve("lastBatch"), "0")
    StreamingSync.ingestAvailableNow(spark, inDir, ckpt,
      cat, markers, cfg, table, maxFilesPerBatch = Some(1),
      corefStateTable = Some(state))
    assert(content() == want, "replay double-merged or re-resolved wrongly")
    assert(state.currentGeneration() == stateGen,
      "replay must not publish a second state generation")
    assert(table.currentGeneration("lastBatch").contains("1"))
  }

  test("corefResolution stream REFUSES out-of-order cross-batch arrival " +
       "instead of silently diverging from the batch pipeline") {
    val spark = SparkTestSession.get
    import spark.implicits._
    import graft.schema.{CatalogEntry, Turn}
    val cat = Seq(CatalogEntry("urn:e:titan", "titan", "titan moon", 1))
    def turn(i: Int, text: String) =
      Turn("conv-x", i, "user", text, "", new java.sql.Timestamp(1000L + i))
    val inDir = TempDirs("stream-ooo-in-")
    writeOneFilePerTurn(inDir, Seq(turn(5, "the moon titan shines")))
    val cfg = PipelineConfig(corefResolution = true)
    val table = new TableCommitter(
      TempDirs("stream-ooo-tbl-"))
    val state = new TableCommitter(
      TempDirs("stream-ooo-st-"))
    val ckpt = TempDirs("stream-ooo-ck-")
    StreamingSync.ingestAvailableNow(spark, inDir, ckpt,
      cat, Map.empty, cfg, table, corefStateTable = Some(state))

    // a straggler with a SMALLER turn_idx arrives in a later batch
    Seq(turn(3, "titan again")).toDS().coalesce(1)
      .write.mode("append").parquet(inDir)
    val e = intercept[Exception] {
      StreamingSync.ingestAvailableNow(spark, inDir, ckpt,
        cat, Map.empty, cfg, table, corefStateTable = Some(state))
    }
    def chain(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: chain(x.getCause))
    assert(chain(e).exists(m => m != null && m.contains("out-of-order")),
      s"expected the out-of-order refusal, got: ${chain(e).mkString(" | ")}")
  }

  test("streaming ingest parity closure: river-config normalization applies, " +
       "bad rows quarantine, and flipping scoredLinking mid-lineage is refused") {
    val spark = SparkTestSession.get
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val fx = TranscriptGen.generate(nConv = 8, nEnt = 10, hotFactor = 2)
    // a structurally-bad row: null text fails the input contract
    val bad = fx.turns.head.copy(turn_idx = 9999, text = null)
    val inDir = TempDirs("stream-n-in-")
    (fx.turns :+ bad).toDS().coalesce(1).write.mode("overwrite").parquet(inDir)
    val work = TempDirs("stream-n-wd-")
    // a river config the batch sync honors: blacklist one marker predicate
    val cfg = PipelineConfig(workDir = work,
      listType = "black", proplist = Set("urn:p:collab"))
    // the blacklist must be load-bearing: the raw extraction emits the pred
    assert(ExtractModel.kernel(fx.turns.toDS(), fx.catalog, fx.markers).toDF()
      .filter(col("pred") === "urn:p:collab").count() > 0)
    val table = new TableCommitter(
      TempDirs("stream-n-tbl-"))
    val ckpt = TempDirs("stream-n-ckpt-")
    StreamingSync.ingestAvailableNow(spark, inDir, ckpt,
      fx.catalog, fx.markers, cfg, table)

    // parity reference: the batch stage order over the good rows — extract
    // at canonical granularity, then normalize under the same config
    val ref = graft.extract.Extractor.normalize(
        ExtractModel.kernel(fx.turns.toDS(), fx.catalog,
          fx.markers, canon = TranscriptGen.components(fx.catalog)).toDF(),
        cfg)
      .groupBy("conv_id", "subj", "pred", "obj").count()
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3)) -> r.getLong(4))
      .toMap
    val streamed = table.read(spark).get.collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3)) -> r.getLong(5))
      .toMap
    assert(streamed == ref)
    assert(!streamed.keys.exists(_._3 == "urn:p:collab"),
      "blacklisted predicate must not reach the stream table")

    // the bad row landed in the quarantine table with its reason
    val q = spark.read.parquet(s"$work/quarantine")
    assert(q.count() == 1)
    assert(q.select("quarantine_reason").head().getString(0) == "null_text")

    // semantics are a LINEAGE property, shared signature with the batch
    // path: flipping scoredLinking over the same table is refused at pin
    // time, before any batch runs
    val e = intercept[IllegalArgumentException] {
      StreamingSync.ingestAvailableNow(spark, inDir, ckpt, fx.catalog,
        fx.markers, cfg.copy(scoredLinking = true), table)
    }
    assert(e.getMessage.contains("semantics"))
  }

  test("stream quarantine: a micro-batch with no bad rows writes no " +
       "quarantine dir") {
    val spark = SparkTestSession.get
    import spark.implicits._
    val fx = TranscriptGen.generate(nConv = 4, nEnt = 5, hotFactor = 1)
    val inDir = TempDirs("stream-q0-in-")
    fx.turns.toDS().coalesce(1).write.mode("overwrite").parquet(inDir)
    val work = TempDirs("stream-q0-wd-")
    val table = new TableCommitter(TempDirs("stream-q0-tbl-"))
    StreamingSync.ingestAvailableNow(spark, inDir, TempDirs("stream-q0-ck-"),
      fx.catalog, fx.markers, PipelineConfig(workDir = work), table)
    assert(table.currentGeneration("lastBatch").contains("0"))
    assert(!Files.exists(java.nio.file.Paths.get(work, "quarantine")),
      "a clean micro-batch must not write a quarantine dir")
  }

  test("stream quarantine: an all-bad micro-batch quarantines every row, " +
       "publishes nothing and stamps lastBatch; the next clean batch ingests") {
    val spark = SparkTestSession.get
    import spark.implicits._
    val fx = TranscriptGen.generate(nConv = 6, nEnt = 6, hotFactor = 1)
    val firstConv = fx.turns.head.conv_id
    val (early, late) = fx.turns.partition(_.conv_id == firstConv)
    val bad = fx.turns.take(5).zipWithIndex
      .map { case (t, i) => t.copy(turn_idx = 1000 + i, text = null) }
    val inDir = TempDirs("stream-qb-in-")
    val work = TempDirs("stream-qb-wd-")
    val cfg = PipelineConfig(workDir = work)
    val table = new TableCommitter(TempDirs("stream-qb-tbl-"))
    val eTbl = new TableCommitter(TempDirs("stream-qb-e-"))
    val nTbl = new TableCommitter(TempDirs("stream-qb-n-"))
    val ckpt = TempDirs("stream-qb-ck-")
    def ingest(turns: Seq[graft.schema.Turn]): Unit = {
      turns.toDS().coalesce(1).write.mode("append").parquet(inDir)
      StreamingSync.ingestAvailableNow(spark, inDir, ckpt, fx.catalog,
        fx.markers, cfg, table, edgeTable = Some(eTbl), nodeTable = Some(nTbl))
    }

    ingest(early)
    val (gS, gE) = (table.currentGeneration(), eTbl.currentGeneration())
    assert(gS.isDefined && gE.isDefined)

    ingest(bad)
    assert(table.currentGeneration("lastBatch").contains("1"))
    assert(table.currentGeneration() == gS, "an all-bad batch published supports")
    assert(eTbl.currentGeneration() == gE, "an all-bad batch published edges")
    val q = spark.read.parquet(s"$work/quarantine")
    assert(q.count() == bad.size)
    assert(q.select("quarantine_reason").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("null_text"))
    assert(q.select("run_id").distinct().collect().map(_.getString(0))
      .forall(_.endsWith("-1")), "only the all-bad batch quarantines")

    ingest(late)
    assert(table.currentGeneration("lastBatch").contains("2"))
    assert(eTbl.currentGeneration() != gE)
    val streamed = table.read(spark).get.collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3)) -> r.getLong(5))
      .toMap
    val batch = ExtractModel.kernel(fx.turns.toDS(), fx.catalog, fx.markers,
        canon = TranscriptGen.components(fx.catalog)).toDF()
      .groupBy("conv_id", "subj", "pred", "obj").count()
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3)) -> r.getLong(4))
      .toMap
    assert(streamed == batch)
  }

  test("empty delta: a micro-batch whose turns extract no supports moves no " +
       "supports, edge, node or doc generation and stamps lastBatch") {
    val spark = SparkTestSession.get
    import spark.implicits._
    val fx = TranscriptGen.generate(nConv = 4, nEnt = 5, hotFactor = 1)
    val inDir = TempDirs("stream-ed-in-")
    val table = new TableCommitter(TempDirs("stream-ed-tbl-"))
    val eTbl = new TableCommitter(TempDirs("stream-ed-e-"))
    val nTbl = new TableCommitter(TempDirs("stream-ed-n-"))
    val dTbl = new TableCommitter(TempDirs("stream-ed-d-"))
    val ckpt = TempDirs("stream-ed-ck-")
    def ingest(): Unit =
      StreamingSync.ingestAvailableNow(spark, inDir, ckpt, fx.catalog,
        fx.markers, PipelineConfig(), table, edgeTable = Some(eTbl),
        nodeTable = Some(nTbl), docTable = Some(dTbl))
    def append(turns: Seq[graft.schema.Turn]): Unit =
      turns.toDS().coalesce(1).write.mode("append").parquet(inDir)
    def gens() = Seq(table, eTbl, nTbl, dTbl).map(_.currentGeneration())

    append(fx.turns)
    ingest()
    val before = gens()
    assert(before.forall(_.isDefined))
    append(fx.turns.take(3).zipWithIndex.map { case (t, i) =>
      t.copy(conv_id = "conv-quiet", turn_idx = i, text = "nothing to see here") })
    val (_, jobs) = SparkJobs.during(spark)(ingest())
    assert(table.currentGeneration("lastBatch").contains("1"))
    assert(gens() == before)
    // the batch's supports checkpoint, then the quarantine write: with no
    // support row, AQE prunes the observation away, so the bad-row count is
    // unknown and the quarantine is written defensively
    assert(jobs == Seq("graft:collect:stream-supports", "graft:quarantine-write"),
      jobs.mkString(" | "))
  }

  test("lineage guard: a coref lineage with committed batches refuses an " +
       "empty coref state table") {
    val spark = SparkTestSession.get
    import spark.implicits._
    val fx = TranscriptGen.generate(nConv = 4, nEnt = 5, hotFactor = 1)
    val inDir = TempDirs("stream-cg-in-")
    fx.turns.toDS().coalesce(1).write.mode("overwrite").parquet(inDir)
    val cfg = PipelineConfig(corefResolution = true)
    val table = new TableCommitter(TempDirs("stream-cg-tbl-"))
    val ckpt = TempDirs("stream-cg-ck-")
    StreamingSync.ingestAvailableNow(spark, inDir, ckpt, fx.catalog,
      fx.markers, cfg, table,
      corefStateTable = Some(new TableCommitter(TempDirs("stream-cg-st-"))))
    assert(table.currentGeneration("lastBatch").isDefined)
    val e = intercept[IllegalStateException] {
      StreamingSync.ingestAvailableNow(spark, inDir, ckpt, fx.catalog,
        fx.markers, cfg, table,
        corefStateTable = Some(new TableCommitter(TempDirs("stream-cg-lost-"))))
    }
    assert(e.getMessage.contains("coref state"))
  }

  test("checkpointIdentity: concurrent first starts on a fresh checkpoint " +
       "all return the one lineage id on disk") {
    val dir = TempDirs("stream-ckid-")
    val go = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val ids = (1 to 8).map(_ => pool.submit(
        new java.util.concurrent.Callable[String] {
          def call(): String = { go.await(); StreamingSync.checkpointIdentity(dir) }
        }))
      go.countDown()
      val got = ids.map(_.get(60, java.util.concurrent.TimeUnit.SECONDS)).toSet
      val onDisk = Files.readString(
        java.nio.file.Paths.get(dir).resolve("graft-ckpt-id")).trim
      assert(got == Set(onDisk))
    } finally pool.shutdown()
  }
}
