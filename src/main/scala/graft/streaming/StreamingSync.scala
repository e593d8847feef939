package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.config.PipelineConfig
import graft.extract.{CorefResolver, Extractor}
import graft.io.{SparkIo, TableCommitter}
import graft.pipeline.{DerivedTables, KgPipeline}
import graft.schema.{CatalogEntry, Turn}

/** Structured-Streaming front-end for incremental ingestion: the reference's
  * cron-driven timestamp-filtered batch sync (SURVEY.md §2.8) upgraded to
  * `readStream` + `Trigger.AvailableNow` — source offsets replace the
  * hand-rolled `last_update` watermark, and each micro-batch runs the batch
  * path's own quarantine ([[graft.pipeline.KgPipeline.quarantined]]) and
  * MERGEs the supports of its own chain
  * ([[graft.pipeline.KgPipeline.supports]]) through the same committer
  * (exactly-once via checkpointed offsets + idempotent key merge). Edges,
  * nodes and docs follow each batch's support delta through the batch
  * sync's own propagation rule ([[graft.pipeline.DerivedTables]]). */
object StreamingSync {

  /** Ingest every available file once, extracting and merging per batch.
    *
    * O(batch), not O(table): the support table is physically bucketed on
    * hash(conv_id) with the bucket count pinned in the table's metadata, so a
    * micro-batch touching k conversations re-aggregates and rewrites only
    * their buckets (a read of only the touched bucket dirs of the current
    * generation + bucket-level dynamic partition overwrite); every untouched
    * bucket carries into the new generation by hard link — the same
    * mechanism as the batch sync's incremental publish (KgPipeline.runSync).
    * A trickle of micro-batches over a 100 TB table therefore costs
    * per-batch work proportional to the batch, never a full-table rewrite.
    *
    * Weights merge ADDITIVELY (existing + new per key): weight is an
    * occurrence count, so a conversation whose turns are split across
    * micro-batches accumulates the same totals as a single batch would —
    * no batch-atomicity requirement on the source.
    *
    * foreachBatch is at-least-once for side effects; additive merges are NOT
    * naturally idempotent, so each publish stamps a `lastBatch` pointer and a
    * replayed batchId is skipped — together with the checkpointed source
    * offsets this restores exactly-once table contents (publishes are also
    * runId-idempotent in the committer, covering a crash between the publish
    * and the stamp).
    *
    * The per-batch row count rides the batch materialization via
    * Dataset.observe — no extra extraction pass just for the counter.
    *
    * @return rows merged across all fresh batches. */
  def ingestAvailableNow(
      spark: SparkSession, inputDir: String, checkpointDir: String,
      catalog: Seq[CatalogEntry], markers: Map[String, String],
      cfg: PipelineConfig, table: TableCommitter,
      maxFilesPerBatch: Option[Int] = None,
      corefStateTable: Option[TableCommitter] = None,
      edgeTable: Option[TableCommitter] = None,
      nodeTable: Option[TableCommitter] = None,
      docTable: Option[TableCommitter] = None,
      langStateTable: Option[TableCommitter] = None): Long = {
    import spark.implicits._
    // detectLanguage streams via explicit cross-batch state (round-4; the
    // round-3 refusal's reason was the missing state): the per-conversation
    // LangDetect COUNTS row is associative over turns, so counters merged
    // across micro-batches in any arrival order equal the batch pipeline's
    // whole-conversation counts. Each batch stamps its supports with the
    // CUMULATIVE winner and — because a conversation whose language flips
    // lives in a bucket this batch rewrites anyway — re-keys the
    // conversation's EXISTING rows to the new language inside the same
    // merge, so one logical support never splits across two lang keys.
    require(!cfg.detectLanguage || langStateTable.isDefined,
      "detectLanguage=true on the streaming path needs a langStateTable " +
        "(the per-conversation profile counters live in their own bucketed " +
        "table, committed in lockstep with each batch)")
    // Derived tables under detectLanguage (round-5): a flip re-keys support
    // rows, so it reaches the edges as a RETRACT+EMIT pair — see propagate.
    // scoredLinking IS streaming-safe (round-4): contextual disambiguation
    // is per-(conv, turn, alias) over the turn's OWN tokens, and a turn is
    // never split across micro-batches — resolving inside foreachBatch is
    // content-identical to batch resolution (AmbiguityResolver scaladoc).
    //
    // corefResolution is streaming-safe too, via explicit cross-batch state:
    // the only conversation history the batch antecedent window consumes is
    // the LAST resolved mention before this batch (CorefResolver's window is
    // last-ignoring-nulls over strictly-earlier turn_idx), so a tiny
    // per-conversation state row — (last mention entity, its turn_idx, max
    // turn_idx seen) — seeded into the batch as one synthetic context row
    // reproduces the batch result exactly, PROVIDED turns of a conversation
    // arrive in turn_idx order across batches (in-batch disorder is fine —
    // the window sorts). Out-of-order cross-batch arrival is REFUSED loudly
    // (the batch sync re-extracts conversations whole and handles it).
    require(!cfg.corefResolution || corefStateTable.isDefined,
      "corefResolution=true on the streaming path needs a corefStateTable " +
        "(the per-conversation antecedent state lives in its own bucketed " +
        "table, committed in lockstep with each batch)")
    // derived-table propagation (edges/nodes, like the batch sync's):
    // node refcounts derive from edge-key creation, so the two tables are
    // wired together or not at all
    require(edgeTable.isDefined == nodeTable.isDefined,
      "edgeTable and nodeTable must be wired together (node refcounts are " +
        "derived from edge-key creation events)")
    require(docTable.isEmpty || edgeTable.isDefined,
      "docTable needs the edgeTable (docs rebuild from the post-merge edge " +
        "slice)")
    // obj-side widening scans the whole edge table per refresh — a
    // per-NIGHT cost the batch sync documents and accepts, but a
    // per-MICRO-BATCH full scan breaks the O(batch) ingest contract
    require(docTable.isEmpty || !cfg.refreshReferencingDocs,
      "refreshReferencingDocs is not supported by the streaming doc sink " +
        "(it widens every micro-batch to an O(table) edge scan); run the " +
        "batch sync for label-freshness refreshes")
    // format and bucket mapping (count + key expression) pinned in each
    // table's own metadata: the mapping is baked into every published
    // generation, and every writer (including a later run with a different
    // config) must agree on it. Pinned before the lineage check and the
    // checkpoint's identity, so a table of an older layout is refused
    // before anything is written
    val B = cfg.syncBuckets
    val derivedTables = Seq(edgeTable, nodeTable, docTable).flatten
    (Seq(table) ++ corefStateTable ++ langStateTable ++ derivedTables)
      .foreach(_.pinBucketMapping(B, cfg.bucketKeyExpr))
    val schema = implicitly[org.apache.spark.sql.Encoder[Turn]].schema
    val reader = spark.readStream.schema(schema)
    val turns = maxFilesPerBatch
      .fold(reader)(n => reader.option("maxFilesPerTrigger", n))
      .parquet(inputDir).as[Turn]
    val keyCols = Seq("conv_id", "subj", "pred", "obj", "lang")

    // batchIds are only meaningful relative to ONE checkpoint lineage: stamp
    // the checkpoint dir with an identity and refuse to run a fresh
    // checkpoint (batchIds restarting at 0) over a table built by another —
    // skipping would silently drop genuinely new data as "replayed", and
    // reprocessing would double-count the additive merge.
    val ckptId = checkpointIdentity(checkpointDir)
    val storedCkpt = table.currentGeneration("lastBatchCkpt")
    // strict: a NON-EMPTY table may only be ingested into by the lineage
    // that built it. Same-lineage is proven by the stamp OR by this
    // lineage's own batch-0 publish record (covers a crash after the first
    // publish but before any stamp); anything else — including a recreated
    // checkpoint whose batch 0 would re-merge data the table already
    // holds — is refused rather than silently double-counted or skipped.
    val sameLineage = storedCkpt.contains(ckptId) ||
      table.publishedGeneration(s"stream-$ckptId-0").isDefined
    if (table.currentGeneration().isDefined && !sameLineage)
      throw new IllegalStateException(
        s"checkpoint $checkpointDir is not the lineage that built this table " +
          s"(stored id ${storedCkpt.getOrElse("<none>")}): restore the " +
          "original checkpoint or start a new table — replaying from batch 0 " +
          "over an additively-merged table would double-count")

    // row SEMANTICS are a LINEAGE property, not a per-run choice: batches
    // merged under different extraction semantics (coref resolution, scored
    // vs rank-collapsed linking, the stamped language) disagree on row
    // content/keys for the same turns, so flipping any of these mid-table
    // silently mixes two semantics in one additive merge: the batch
    // pipeline's own pin (PipelineConfig.semanticsSig, in the table's
    // metadata) guards it
    table.pinSemanticsOrVerify(cfg.semanticsSig)
    // counter columns are POSITIONAL over the sorted profile keys: a
    // profile edit mid-lineage would silently re-index every counter
    langStateTable.foreach(_.pinOrVerify("lang_profiles",
      graft.text.LangDetect.signature(cfg.langProfiles)))
    // the lineage guard: once the lineage has committed batches, every table
    // a batch writes alongside the supports must be non-empty. An empty
    // state table is a wrong/lost one and would silently drop every
    // cross-batch antecedent or language counter (lastBatch is stamped only
    // after the state publishes, so a committed stamp implies the state
    // generation exists); an empty derived table means earlier batches were
    // ingested WITHOUT propagation, and late enabling would miss their edges
    val committed = table.currentGeneration("lastBatch").isDefined &&
      table.currentGeneration().isDefined
    val wired =
      corefStateTable.filter(_ => cfg.corefResolution).map(_ -> "coref state") ++
        langStateTable.filter(_ => cfg.detectLanguage).map(_ -> "language state") ++
        derivedTables.map(_ -> "derived")
    for ((t, what) <- wired if committed && t.currentGeneration().isEmpty)
      throw new IllegalStateException(
        s"stream lineage has committed batches but its $what table is " +
          "empty — a wrong/lost table, or earlier batches were never " +
          "propagated; rebuild from a fresh checkpoint")
    val bucketOf =
      PipelineConfig.bucketCol(cfg.bucketKeyExpr, "conv_id", B)
    val derived = for (e <- edgeTable; n <- nodeTable)
      yield new DerivedTables(cfg, e, n, docTable)

    var merged = 0L
    val q = turns.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Turn], batchId: Long) =>
        val replayed =
          table.currentGeneration("lastBatch").exists(_.toLong >= batchId)
        if (!replayed) {
          val s = batch.sparkSession
          // runId scoped by lineage id: publish idempotence records must
          // never collide across checkpoint lineages (a fresh lineage's
          // batch 0 is a different logical batch than an old lineage's)
          val runId = s"stream-$ckptId-$batchId"
          // the batch pipeline's own quarantine: bad rows divert to the
          // runId-scoped quarantine table, written only when there are any;
          // the stream keeps its offsets, so it never reads the watermark
          val (good, writeBad, _) =
            KgPipeline.quarantined(s, batch, cfg.workDir, runId)
          // cross-batch state: the coref antecedents (see corefStep) and the
          // cumulative language counters (see langStep)
          val (coref, publishCorefState) =
            if (cfg.corefResolution)
              SparkIo.withJobDesc(s, "stream-coref")(
                corefStep(good, corefStateTable.get, bucketOf, runId))
            else (CorefResolver.resolve _, () => ())
          val langState =
            if (cfg.detectLanguage)
              Some(SparkIo.withJobDesc(s, "stream-lang")(
                langStep(good, langStateTable.get, cfg, bucketOf, runId)))
            else None
          // the batch pipeline's own supports chain (canon, extraction,
          // scored linking, coref, normalization, language stamp) over this
          // batch, with the stream's stateful coref and cumulative languages.
          // The observation rides the batch materialization and counts THIS
          // batch's extracted support rows (pre-merge), not the table size
          val obs = new org.apache.spark.sql.Observation(s"ingest-$batchId")
          // materialized once (batch-sized) with its bucket set: the merge
          // below and the derived delta consume it — recomputing the
          // extraction per consumer would double the batch work
          val (supports, supportBuckets) = SparkIo.checkpointBuckets(
            KgPipeline.supports(cfg, good, catalog, markers,
                coref = coref, langs = langState.map(_._1))
              .observe(obs, count(lit(1)).as("n"))
              .select(keyCols.map(col) :+ col("weight"): _*),
            bucketOf, "stream-supports")
          merged += obs.get("n").asInstanceOf[Long]
          // the bad-row count rode the checkpoint above: the write runs only
          // for a batch that has bad rows
          writeBad()
          // the buckets this batch touches — at most B driver-side ints.
          // Under detectLanguage the batch's flipped CONVERSATION buckets
          // join in: a conversation whose new turns carry no extractable
          // support can still flip its cumulative language, and its existing
          // rows (in those buckets) must be re-keyed even with no support
          // delta
          val touched = supportBuckets ++ langState.map(_._2).getOrElse(Set.empty)
          if (touched.nonEmpty) {
            // additive merge WITHIN the touched buckets only: the current
            // generation's read lists only their dirs, and the publish
            // rewrites exactly them (hard-link carryover for the rest)
            val combined = table.readBuckets(s, touched) match {
              case Some(cur) =>
                val slice = cur.select(keyCols.map(col) :+ col("weight"): _*)
                // language re-key: rows of batch conversations move to the
                // cumulative winner BEFORE the key-merge, so a flip unifies
                // old and new rows under one lang instead of splitting them
                val rekeyed = langState match {
                  case Some((langNow, _, _, _)) =>
                    slice.join(langNow.withColumnRenamed("lang", "lang_now"),
                        Seq("conv_id"), "left")
                      .withColumn("lang",
                        coalesce(col("lang_now"), col("lang")))
                      .drop("lang_now")
                  case None => slice
                }
                rekeyed
                  .unionByName(supports)
                  .groupBy(keyCols.map(col): _*)
                  .agg(sum(col("weight")).as("weight"))
              case None => supports
            }
            table.stagePartitioned(combined.withColumn("bucket", bucketOf), runId)
            table.publishBuckets(runId, touched)
            // derived tables publish AFTER the supports and BEFORE the coref
            // state: recomputation inputs publish last, so a replay that
            // sees an advanced input always finds every consumer already
            // published (its wrong re-staging is discarded by runId
            // idempotence)
            derived.foreach(d => propagate(s, supports,
              langState.map(l => (l._3, l._2)), table, d, runId))
          }
          // coref + language state publish AFTER the supports and BEFORE
          // the stamp: then every crash window replays correctly (see
          // corefStep / langStep)
          publishCorefState()
          langState.foreach(_._4())
          // lineage id BEFORE the batch stamp: a crash between the two must
          // never leave lastBatch set with no (or a stale) lineage id — the
          // strict guard above would then brick or bypass the table
          table.setPointer("lastBatchCkpt", ckptId)
          table.setPointer("lastBatch", batchId.toString)
        }
        ()
      }
      .start()
    q.awaitTermination()
    merged
  }

  /** Derived-table propagation per micro-batch, O(batch): the batch's
    * support delta flows into the edge, node and doc tables through
    * [[graft.pipeline.DerivedTables.propagate]], the batch sync's own
    * propagation, crash-safety and skip rules included.
    *
    * The delta is the batch's supports, plus under detectLanguage a
    * RETRACT+EMIT pair per flipped conversation (`flips`, with their
    * support buckets): its PRE-batch support rows retract at the old lang
    * and emit at the new one, so a key whose merged weight reaches zero
    * retires and its node refs decrement. Everything else is append-only —
    * vanished-data deletes belong to the batch sync. */
  private def propagate(s: SparkSession, supports: DataFrame,
                        flips: Option[(DataFrame, Set[Int])],
                        supTbl: TableCommitter, derived: DerivedTables,
                        runId: String): Unit = {
    val eKeys = DerivedTables.EdgeKey.map(col)
    // read as the supports stood BEFORE this batch (the table already
    // advanced; an expired parent fails loudly). Edge weights are sums of
    // support weights, so the retract subtracts exactly this conversation's
    // contribution
    val flipDelta: Option[DataFrame] = flips.filter(_._2.nonEmpty).flatMap {
      case (f, flipBuckets) =>
        supTbl.readBefore(s, runId, flipBuckets).map { priorSup =>
          val rows = priorSup
            .join(f.select(col("conv_id"), col("lang").as("lang_new")),
              Seq("conv_id"), "inner")
          rows.select(eKeys :+ (-col("weight")).as("dw"): _*)
            .unionByName(rows.select(col("subj"), col("pred"), col("obj"),
              col("lang_new").as("lang"), col("weight").as("dw")))
        }
    }
    // batch-edge-sized; feeds the merge AND the doc rebuild's subjects
    val (delta, edgeBuckets) = SparkIo.checkpointBuckets(
      flipDelta.foldLeft(supports.select(eKeys :+ col("weight").as("dw"): _*))(
          _ unionByName _)
        .groupBy(eKeys: _*).agg(sum(col("dw")).as("dw"))
        .filter(col("dw") =!= 0L), // a flip's retract+emit can cancel
      derived.edgeBucket, "edge-delta")
    derived.propagate(s, delta, edgeBuckets, runId)
  }

  /** Cross-batch language state for the streaming ingest (detectLanguage).
    *
    * Merges the batch's per-conversation [[graft.text.LangDetect]] counts
    * into the prior state (read from the batch's conversation buckets) and
    * returns the CUMULATIVE winner per conversation, the supports-table
    * buckets needing a re-key (buckets of conversations whose winner
    * CHANGED vs the prior state — the steady-state no-flip batch adds
    * nothing, preserving the O(batch-delta) ingest contract), and the
    * lockstep state publish (which always covers every state bucket the
    * batch touches: the counters themselves advance even when no winner
    * flips). Because the counts row is associative over turns, the
    * cumulative winner after ingesting a corpus equals the batch pipeline's
    * whole-conversation detection no matter how the turns were split across
    * micro-batches — and unlike the coref state there is no arrival-order
    * requirement at all.
    *
    * Crash-replay: publishes are runId-idempotent; a replay that observes
    * an already-advanced state recomputes values whose publishes are all
    * discarded — the same argument as corefStep. */
  private def langStep(batch: Dataset[Turn], st: TableCommitter,
                       cfg: PipelineConfig, bucketOf: Column,
                       runId: String): (DataFrame, Set[Int], DataFrame, () => Unit) = {
    val s = batch.sparkSession
    val profs = graft.text.LangDetect.sortedProfiles(cfg.langProfiles)
    val k = profs.size
    // feeds the bucket set AND the state merge
    val (bCounts, touched) = SparkIo.checkpointBuckets(
      graft.text.LangDetect.counts(batch.toDF(), profs), bucketOf, "lang-counts")
    val stateCols = ("conv_id" +: (0 until k).map(i => s"hits_$i")) :+ "n_toks"
    // read from the touched buckets; conversations of those buckets NOT
    // in this batch ride through the merge unchanged (the bucket-level
    // publish rewrites whole buckets, so they must stay aboard)
    val prior = st.readBuckets(s, touched).map(
      _.select(stateCols.map(col): _*)
        .localCheckpoint(true)) // consumed by the merge AND the flip detect
    val cum = prior match {
      case Some(p) => graft.text.LangDetect.merge(p, bCounts, k)
      case None => bCounts
    }
    // consumed by the winner pick AND the state publish — materialized once
    val cumM = cum.localCheckpoint(true)
    // consumed by the support stamp AND the re-key join
    val langNow = graft.text.LangDetect.pick(cumM, profs, cfg.language)
      .localCheckpoint(true)
    // re-key work = conversations whose winner FLIPPED: a conversation
    // with no prior state has no published rows to re-key, and a stable
    // winner leaves its bucket untouched (else every chatty conversation
    // would force a byte-identical bucket rewrite per batch). The flip
    // rows (conv_id, lang_prior, lang) also drive the derived tables'
    // retract+emit propagation (see propagate).
    // batch-conv-bounded; bucket set + derived deltas
    val (flips, flipped) = SparkIo.checkpointBuckets((prior match {
      case None =>
        langNow.limit(0).withColumn("lang_prior", lit(""))
      case Some(p) =>
        val priorWin = graft.text.LangDetect.pick(p, profs, cfg.language)
          .withColumnRenamed("lang", "lang_prior")
        langNow.join(priorWin, Seq("conv_id"), "inner")
          .filter(col("lang") =!= col("lang_prior"))
    }).select("conv_id", "lang_prior", "lang"), bucketOf, "lang-flips")
    (langNow, flipped, flips, () => {
      if (touched.nonEmpty) {
        st.stagePartitioned(cumM.withColumn("bucket", bucketOf), runId)
        st.publishBuckets(runId, touched)
      }
      ()
    })
  }

  /** Cross-batch coreference for the streaming ingest.
    *
    * The batch antecedent window ([[graft.extract.CorefResolver.resolve]])
    * consumes, per orphan, only the latest context row with a strictly
    * smaller turn_idx — so the whole conversation history compresses to one
    * state row per conversation: (last_idx, last_ent) of the latest resolved
    * mention plus max_idx of the latest turn seen. That row re-enters the
    * batch as a synthetic context row and the UNCHANGED batch resolver runs
    * over batch rows + seeds; seeds only ever contribute context (which the
    * resolver drops from its output), so every emitted triple belongs to
    * this batch.
    *
    * PARITY CONTRACT: turns of one conversation must arrive in turn_idx
    * order ACROSS batches (in-batch disorder is fine — the window sorts).
    * A violating batch is refused loudly: silently resolving against a
    * future-relative-to-the-straggler state would diverge from the batch
    * pipeline, which re-extracts conversations whole.
    *
    * CRASH SAFETY (state publishes after supports, before the lastBatch
    * stamp; publishes are runId-idempotent):
    *  - crash before the supports publish — replay recomputes from the
    *    un-advanced state: identical output;
    *  - crash between supports and state publish — replay recomputes from
    *    the un-advanced state, the supports re-publish no-ops, the state
    *    publish completes;
    *  - crash between state publish and stamp — replay recomputes against
    *    the ADVANCED state (wrong antecedents), but BOTH publishes no-op on
    *    the already-published runId, so the wrong staging is discarded (and
    *    the order guard is skipped for an already-published runId, so the
    *    replay can never wedge on the advancement it made itself).
    *
    * Scale: the state table is conversation-count-sized, bucketed with the
    * support table's pinned mapping; a batch reads and rewrites only the
    * buckets its conversations map to (hard-link carryover for the rest).
    *
    * @return (resolver over the batch's extraction — orphans resolved,
    *         context rows dropped — and a thunk publishing the state the
    *         resolver advanced) */
  private def corefStep(batch: Dataset[Turn], st: TableCommitter,
                        bucketOf: Column, runId: String)
      : (DataFrame => DataFrame, () => Unit) = {
    val s = batch.sparkSession
    import s.implicits._
    // per-conversation batch bounds: one pass over the (in-memory) batch;
    // feeds the order guard, the seed join and the state update
    val (batchConvs, touched) = SparkIo.checkpointBuckets(
      batch.toDF().groupBy("conv_id")
        .agg(min(col("turn_idx")).as("b_min"), max(col("turn_idx")).as("b_max")),
      bucketOf, "coref-convs")
    if (touched.isEmpty) return (identity, () => ())

    val prior = st.readBuckets(s, touched) match {
      case Some(cur) => cur
        .select("conv_id", "last_idx", "last_ent", "max_idx")
      case None =>
        Seq.empty[(String, Option[Int], Option[String], Int)]
          .toDF("conv_id", "last_idx", "last_ent", "max_idx")
    }
    // state rows of THIS batch's conversations (batch-conv-sized, consumed
    // by the guard, the seeds and the update — materialized once)
    val priorForBatch = prior
      .join(batchConvs.select("conv_id", "b_min", "b_max"),
        Seq("conv_id"), "inner")
      .localCheckpoint(true)

    // replay tolerance: when THIS runId's state generation is already
    // published (crash landed between the state publish and the lastBatch
    // stamp), the batch's turns legitimately compare as "out of order"
    // against the state they themselves advanced — but everything this
    // replay computes is discarded by runId idempotence anyway, so the
    // guard must not wedge the recovery
    val alreadyPublished = st.publishedGeneration(runId).isDefined
    val bad =
      if (alreadyPublished) Array.empty[org.apache.spark.sql.Row]
      else priorForBatch.filter(col("b_min") <= col("max_idx"))
        .select("conv_id", "b_min", "max_idx").take(1)
    if (bad.nonEmpty)
      throw new IllegalStateException(
        s"out-of-order cross-batch arrival for conversation " +
          s"${bad.head.getString(0)}: batch turn_idx ${bad.head.getInt(1)} <= " +
          s"already-ingested max ${bad.head.getInt(2)} — streamed coref " +
          "would diverge from the batch pipeline; re-sync this table with " +
          "the batch path")

    val seeds = priorForBatch.filter(col("last_ent").isNotNull)
      .select(col("conv_id"), col("last_idx").as("turn_idx"),
        lit("__ctx__").as("subj"),
        lit(Extractor.LastMentionPred).as("pred"),
        col("last_ent").as("obj"))
    val carry = prior
      .join(batchConvs.select("conv_id"), Seq("conv_id"), "left_anti")

    // the state update needs the batch's extraction, which exists only once
    // the supports chain calls the resolver
    var publish: () => Unit = () => ()
    val resolve = (extracted: DataFrame) => {
      // the batch's own latest resolved mention per conversation (from the
      // PRE-seed rows — seeds must not echo back into the state)
      val batchLast = extracted
        .filter(col("pred") === Extractor.LastMentionPred)
        .groupBy("conv_id")
        .agg(max(struct(col("turn_idx"), col("obj"))).as("m"))
        .select(col("conv_id"), col("m.turn_idx").as("n_idx"),
          col("m.obj").as("n_ent"))
      val updates = batchConvs.select("conv_id", "b_max")
        .join(batchLast, Seq("conv_id"), "left")
        .join(prior, Seq("conv_id"), "left")
        .select(col("conv_id"),
          coalesce(col("n_idx"), col("last_idx")).as("last_idx"),
          coalesce(col("n_ent"), col("last_ent")).as("last_ent"),
          greatest(col("b_max"), coalesce(col("max_idx"), lit(-1)))
            .as("max_idx"))
      val newState = carry.unionByName(updates).withColumn("bucket", bucketOf)
      publish = () => {
        st.stagePartitioned(newState, runId)
        st.publishBuckets(runId, touched)
      }
      CorefResolver.resolve(extracted.unionByName(seeds))
    }
    (resolve, () => publish())
  }

  /** Stable identity of a checkpoint directory, created once on first use:
    * concurrent first starts all adopt the one id that lands on disk, and
    * a kill mid-write never leaves a truncated id that silently becomes the
    * lineage identity ([[TableCommitter.createOnce]]). */
  private[graft] def checkpointIdentity(checkpointDir: String): String =
    TableCommitter.createOnce(
      java.nio.file.Paths.get(checkpointDir).resolve("graft-ckpt-id"),
      java.util.UUID.randomUUID().toString)
}
