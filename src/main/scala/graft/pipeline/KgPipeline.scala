package graft.pipeline

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.config.PipelineConfig
import graft.extract.{CorefResolver, Extractor}
import graft.io.{CheckpointStore, Quarantine, SparkIo, TableCommitter}
import graft.schema.{CatalogEntry, Turn}

/** End-to-end KG construction: read -> extract at canonical (CC)
  * granularity -> link/coref -> normalize -> materialize node/edge tables
  * with atomic publish; full and incremental-sync modes; stage-checkpointed
  * for resume-from-failure.
  *
  * Scale design (north rule):
  *  - extraction is per-turn, so it runs on the input splits with no
  *    exchange; the support aggregation shuffles by its own group keys with
  *    map-side partial aggregation, which also absorbs hot-conversation skew
  *    (a hot conversation's turns are already spread across input splits).
  *  - the support table is keyed per conversation, so incremental sync is
  *    dynamic-partition-overwrite of only the changed conversations —
  *    recomputing a conversation is idempotent and replaces exactly its rows.
  *  - every stage writes its output once (write-then-atomic-rename); a rerun
  *    skips completed stages by directory presence, so a kill at any point
  *    resumes without recomputation and publishes byte-identical tables
  *    (SURVEY.md §2.8: re-running whole bulks from bulksWithErrors,
  *    Harvester.java:1281-1432, upgraded to stage granularity).
  */
final class KgPipeline(cfg: PipelineConfig) {

  private val stagesRoot = s"${cfg.workDir}/stages"
  val supportTable = new TableCommitter(s"${cfg.workDir}/tables/support")
  val edgeTable = new TableCommitter(s"${cfg.workDir}/tables/edges")
  val nodeTable = new TableCommitter(s"${cfg.workDir}/tables/nodes")
  val docTable = new TableCommitter(s"${cfg.workDir}/tables/docs")
  val checkpoints = new CheckpointStore(s"${cfg.workDir}/checkpoints")
  private val derived = new DerivedTables(cfg, edgeTable, nodeTable,
    Some(docTable).filter(_ => cfg.publishDocs), publishHook)

  /** Test hook: simulate a crash immediately after the named stage commits. */
  @volatile var failAfterStage: Option[String] = None

  /** Test hook: simulate a crash immediately after the named table publish
    * (pointer already flipped — the hardest resume point), or after the run
    * record (`run-record`), before the status write that commits the run. */
  @volatile var failAfterPublish: Option[String] = None

  private def publishHook(name: String): Unit =
    if (failAfterPublish.contains(name))
      throw new RuntimeException(s"injected failure after publish $name")

  /** Write-once stage checkpoint: compute -> write tmp -> atomic rename.
    * Presence of the final dir == stage complete; a killed run can never
    * leave a half-readable checkpoint (K3 invariant). `afterWrite` runs on
    * the tmp dir between the parquet write and the rename, so sidecar files
    * (e.g. the observed watermark) commit atomically WITH the checkpoint. */
  private def stage(spark: SparkSession, runKey: String, name: String,
                    afterWrite: java.nio.file.Path => Unit = _ => ())
                   (compute: => DataFrame): DataFrame = {
    val dir = Paths.get(s"$stagesRoot/$runKey/$name")
    if (!Files.exists(dir)) {
      val tmp = Paths.get(s"$stagesRoot/$runKey/.$name.tmp")
      SparkIo.deleteRecursively(tmp) // stale partial write from a killed run
      val df = compute
      SparkIo.withJobDesc(spark, s"stage:$name")(df.write.parquet(tmp.toString))
      // schema sidecar: the read-back below (and every resume) skips the
      // footer-based schema-inference job — a no-op sync is fixed-overhead
      // bound, and each inference is one extra Spark job
      SparkIo.writeAtomically(tmp.resolve(TableCommitter.SchemaSidecar), df.schema.json)
      afterWrite(tmp)
      Files.createDirectories(dir.getParent)
      Files.move(tmp, dir, StandardCopyOption.ATOMIC_MOVE)
      if (failAfterStage.contains(name))
        throw new RuntimeException(s"injected failure after stage $name")
    }
    spark.read.schema(SparkIo.schemaSidecar(dir)).parquet(dir.toString)
  }

  /** Bucket-set sidecar name (leading underscore — not data). */
  private val BucketSidecar = "_graft_buckets"

  /** Stage checkpoint whose BUCKET SET rides the stage write itself: the
    * distinct `bucketExpr` values are observed during the parquet write
    * (one CollectMetrics aggregate — zero extra Spark jobs) and committed
    * as a sidecar atomically WITH the checkpoint. A resumed run reads the
    * sidecar (still zero jobs); a checkpoint without one is an older
    * layout, refused. */
  private def stageWithBuckets(spark: SparkSession, runKey: String, name: String,
                               bucketExpr: org.apache.spark.sql.Column,
                               afterWrite: java.nio.file.Path => Unit = _ => ())
                              (compute: => DataFrame): (DataFrame, Set[Int]) = {
    var obs: Option[org.apache.spark.sql.Observation] = None
    val df = stage(spark, runKey, name, afterWrite = tmp => {
      val bs = obs.get.get("buckets").asInstanceOf[scala.collection.Seq[Any]]
        .map(_.toString.toInt)
      Files.writeString(tmp.resolve(BucketSidecar), bs.sorted.mkString(","))
      afterWrite(tmp)
    }) {
      val o = new org.apache.spark.sql.Observation(s"$runKey-$name-buckets")
      obs = Some(o)
      compute.observe(o, collect_set(bucketExpr).as("buckets"))
    }
    val sidecar = sidecarOf(runKey, name, BucketSidecar)
    (df, if (sidecar.isEmpty) Set.empty else sidecar.split(",").map(_.toInt).toSet)
  }

  /** Stage `name`'s sidecar `file`, which the current format always writes. */
  private def sidecarOf(runKey: String, name: String, file: String): String = {
    val dir = Paths.get(s"$stagesRoot/$runKey/$name")
    SparkIo.readString(dir.resolve(file))
      .getOrElse(throw new TableCommitter.OlderFormat(s"stage checkpoint $dir has no $file"))
  }

  /** Watermark sidecar name: leading underscore keeps parquet readers from
    * treating it as data (like _SUCCESS). */
  private val WmSidecar = "_graft_watermark"

  // `<epoch seconds>,<nanos>` or `none`: full precision, since the sync
  // filter is `ts > wm` over microsecond timestamps — a millisecond
  // watermark would re-select the max-ts conversation on every later sync
  private def writeWmSidecar(tmp: java.nio.file.Path,
                             wm: Option[Timestamp]): Unit =
    Files.writeString(tmp.resolve(WmSidecar), wm.map(_.toInstant)
      .map(i => s"${i.getEpochSecond},${i.getNano}").getOrElse("none"))

  /** The watermark the ORIGINAL attempt of this stage observed; a resumed
    * run must replay it — recomputing from the post-crash source would
    * advance past data the stale checkpoint never extracted. */
  private def readWmSidecar(runKey: String, name: String): Option[Timestamp] =
    sidecarOf(runKey, name, WmSidecar).split(",") match {
      case Array("none") => None
      case Array(sec, nanos) =>
        Some(Timestamp.from(java.time.Instant.ofEpochSecond(sec.toLong, nanos.toLong)))
      case _ => throw new TableCommitter.OlderFormat(
        s"stage checkpoint $stagesRoot/$runKey/$name has a millisecond $WmSidecar")
    }

  /** Per-conversation triple supports under this pipeline's config — see
    * [[KgPipeline.supports]]. */
  def computeSupports(spark: SparkSession, turns: Dataset[Turn],
                      catalog: Seq[CatalogEntry],
                      markers: Map[String, String]): DataFrame =
    KgPipeline.supports(cfg, turns, catalog, markers)

  /** The supports stage of a full run or a sync: the quarantine split and
    * the watermark observation ride the stage write (fire() runs in
    * afterWrite, when the write — and thus the observation — has completed).
    * A resumed run replays the checkpoint's own watermark: recomputing it
    * from the current source would advance past turns that arrived between
    * the crash and the retry without ever extracting them. The lineage
    * rows, (stage, partition id, rows), come from the checkpoint's parquet
    * footers — no data read, no Spark job; the partition id is the writer
    * task's number in the file name (`part-00007-…` is 7), or -1 for another
    * name, as lineage is a metric, never a gate.
    * @return (supports, watermark, lineage) */
  private def supportsStage(spark: SparkSession, runId: String, name: String,
                            turns: Dataset[Turn], catalog: Seq[CatalogEntry],
                            markers: Map[String, String])
      : (DataFrame, Option[Timestamp], Seq[(String, Int, Long)]) = {
    var fire: () => Option[Timestamp] = () => None
    val supports = stage(spark, runId, name,
      afterWrite = tmp => writeWmSidecar(tmp, fire())) {
      val (good, writeBad, watermark) =
        KgPipeline.quarantined(spark, turns, cfg.workDir, runId)
      fire = () => { writeBad(); watermark() }
      computeSupports(spark, good, catalog, markers)
    }
    val wm = readWmSidecar(runId, name)
    val parts = SparkIo.list(Paths.get(s"$stagesRoot/$runId/$name"))
      .filter(_.getFileName.toString.endsWith(".parquet"))
    val lineage = parts.map(f => scala.util.Try(f.getFileName.toString
        .stripPrefix("part-").takeWhile(_.isDigit).toInt).getOrElse(-1))
      .zip(SparkIo.footerRowCounts(parts, spark.sessionState.newHadoopConf()))
      .map { case (pid, n) => (name, pid, n) }
    (supports, wm, lineage)
  }

  final case class RunResult(runId: String, edgesGen: String, nodesGen: String,
                             triples: Long)

  // ---- physical bucketing of the published tables: supports bucket on
  // conv_id (the sync replacement unit), edges and docs on subj, nodes
  // on entity_id — each table's bucket is derived from its own MERGE key, so
  // an incremental change maps to a deterministic, small set of buckets.
  //
  // Bucket-key choice at 10^12 turns: hash(conv_id) spreads UNIFORM change
  // evenly, so k ~ min(B, #changed conversations) — right when syncs touch
  // few conversations. When the change pattern is temporal (recent convs
  // change, old ones never), derive the bucket from a stable conv-level
  // time attribute instead (e.g. creation epoch-week) so changed convs
  // cluster into few buckets; the overwrite/carryover mechanism below is
  // key-agnostic — only this expression changes.
  private val B = cfg.syncBuckets
  // supports bucket on conv_id through the SAME verified mapping as the
  // derived tables (never a re-derived formula — see subjectBucket's
  // contract); edges, nodes and docs bucket in DerivedTables
  private def convBucket(c: org.apache.spark.sql.Column) = subjectBucket(c)

  /** Pin or verify the on-disk format and the bucket mapping (count and key
    * expression) of every table of this workDir before any of them is
    * written ([[TableCommitter.pinBucketMapping]]): the mapping is
    * baked into every published generation, so a writer with a different
    * syncBuckets would replace rows in the wrong buckets and silently carry
    * stale copies forward. The pins live in each TABLE's own metadata, so a
    * writer reaching a table through any other path (StreamingSync, another
    * workDir) trips the same check. Public because EVERY writer into the
    * workDir's tables must pass it — KgMain's ingest-nt included. */
  def pinOrVerifyBucketCount(): Unit =
    Seq(supportTable, edgeTable, nodeTable, docTable)
      .foreach(_.pinBucketMapping(B, cfg.bucketKeyExpr))

  /** The subject-bucket expression of this pipeline's edge/doc tables —
    * external writers (KgMain ingest-nt) MUST use this, not a re-derived
    * copy: bucket-merge correctness requires every writer to agree
    * bit-for-bit on the key-to-bucket mapping. */
  def subjectBucket(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    // keys here are always simple attribute references (conv_id / subj /
    // entity_id), whose Column rendering IS the identifier — the shared
    // mapping helper guards that, because a computed Column would not
    // round-trip through SQL text. Default "hash({k})" is the round-3
    // mapping bit-for-bit.
    graft.config.PipelineConfig.bucketCol(cfg.bucketKeyExpr, c.toString, B)
  }

  /** Every bucket id of this pipeline's tables (full-publish bucket set). */
  def allBucketIds: Set[Int] = derived.allBuckets

  /** Full harvest (reference lifecycle §3.1): compute everything, publish
    * atomically, record the run (metrics, lineage, watermark).
    *
    * The support publish and the derived tables both read the supports
    * checkpoint, not each other, so they run at the same time
    * ([[SparkIo.both]]): the supports on one side; on the other the edges,
    * then the nodes and docs together ([[DerivedTables.publishAllNodesAndDocs]]).
    * Both sides join before `finishRun` records the run and commits it, so
    * a crash in either leaves the sync epoch where it was, and the retry
    * under the same runId replays the checkpoint into runId-idempotent
    * publishes. */
  def runFull(spark: SparkSession, turns: Dataset[Turn],
              catalog: Seq[CatalogEntry], markers: Map[String, String],
              runId: String): RunResult = {
    pinOrVerifyBucketCount()
    // the one semantics pin, in the support table's metadata (shared with
    // the streaming ingest): a full run rebuilds every row, so it re-pins
    supportTable.repinSemantics(cfg.semanticsSig)
    val (supports, wm, lineage) =
      supportsStage(spark, runId, "supports", turns, catalog, markers)
    val (_, (n, totalWeight)) = SparkIo.both(
      publishSupports(supports, allBucketIds, runId),
      publishDerivedFull(spark, runId, supports))
    finishRun(runId, wm, n, lineage, Seq(("edges", "total_weight", totalWeight)))
  }

  /** Stage `supports` bucketed by conversation and publish them as exactly
    * `buckets`. */
  private def publishSupports(supports: DataFrame, buckets: Set[Int],
                              runId: String): Unit = {
    supportTable.stagePartitioned(
      supports.withColumn("bucket", convBucket(col("conv_id"))), runId)
    supportTable.publishBuckets(runId, buckets)
  }

  /** Deterministic sync run id: ONE logical sync per (successful-run count,
    * watermark) epoch. The incremental path's resume correctness hangs on
    * runId identity (stage checkpoints + idempotent publishes are
    * runId-scoped); a crashed sync retried under a fresh id would recompute
    * the delta from the already-mutated tables and silently lose the
    * edge/node update. The run COUNT is part of the id because the watermark
    * alone does not advance on an empty sync — a watermark-only id would
    * make the next data-bearing sync reuse the empty sync's checkpoints and
    * swallow its data. Use this (as KgMain does) unless the caller manages
    * its own stable ids. */
  def syncRunId(): String = {
    val (n, wm) = checkpoints.syncEpoch(cfg.pipelineId)
    s"sync-n$n-wm-${wm.map(_.getTime).getOrElse(0L)}"
  }

  /** Incremental sync (reference lifecycle §3.2): watermark-filtered changed
    * set -> semi-join re-extract of changed conversations -> bucket-level
    * dynamic partition overwrite (only buckets containing touched
    * conversations are rewritten; the rest carry into the new generation by
    * hard link) -> delta-propagated edge/node updates. Per-sync work is
    * proportional to the CHANGED data, never to the table size — the
    * 100 TB nightly-sync requirement. Table reads are too: every read is
    * bucket-addressed ([[TableCommitter.readBuckets]]) and built from the
    * generation's manifest, so a sync touching k buckets opens only their
    * files, lists no directory, and a no-op sync reads no table; only
    * `syncOldData`'s vanished-set reconciliation reads a whole generation.
    *
    * Once the edge delta is checkpointed, the support publish and
    * [[DerivedTables.propagate]] (edges, then nodes and docs together) run
    * at the same time ([[SparkIo.both]]) and join before `finishRun`
    * records the run; the self-heal path (no edge generation) derives from
    * the published supports, so it stays sequential. */
  def runSync(spark: SparkSession, turns: Dataset[Turn],
              catalog: Seq[CatalogEntry], markers: Map[String, String],
              runId: String): RunResult = {
    import spark.implicits._
    pinOrVerifyBucketCount()
    // syncs replace slices: they must match the rows they merge into
    supportTable.pinSemanticsOrVerify(cfg.semanticsSig)
    val wm = checkpoints.lastWatermark(cfg.pipelineId).getOrElse(new Timestamp(0L))

    // A8: distinct changed-conversation set since watermark. Stage-
    // CHECKPOINTED, not just materialized: the replayed sync_supports
    // checkpoint covers exactly the ORIGINAL changed set, so a resume must
    // replay the same set — recomputing it from the live source would
    // anti-join away rows of conversations that changed between the crash
    // and the retry while the replayed supports carry no replacement for
    // them (their turns stay above the replayed watermark and are picked up
    // whole by the NEXT sync). Also scans the full source once, not once per
    // consumer (semi-join restriction, replacement anti-join, bucket set).
    // the changed-conv BUCKET set rides this stage's write (sidecar) — no
    // separate collect job later
    val (changedConvs, changedConvBuckets) =
      stageWithBuckets(spark, runId, "changed_convs", convBucket(col("conv_id"))) {
        turns.toDF()
          .filter(col("ts") > lit(wm))
          .select("conv_id").distinct()
      }

    // the pre-sync snapshot, bound ONCE by name (generations are immutable,
    // so every consumer below — vanished set, keep/replace, delta — reads
    // the same snapshot even after the publish flips the pointer). Nothing
    // is read yet: a no-op sync lists no table dir
    val curGen = supportTable.currentGeneration()

    // J4: conversations that vanished from the source entirely (their
    // buckets must be rewritten too, or the delete would be lost).
    // Stage-checkpointed like changedConvs: the replayed edge_delta was
    // computed against the ORIGINAL vanished set, so a resume must
    // replace/delete exactly the same conversations — recomputing from
    // the post-crash source (or the already-published support table)
    // would diverge the support replacement from the edge/node delta.
    // Computed BEFORE the re-extract stages so a true no-op sync can exit
    // without scheduling any of them.
    val (vanished, vanishedBuckets) = curGen match {
      case Some(gen) if cfg.syncOldData =>
        stageWithBuckets(spark, runId, "vanished_convs",
          convBucket(col("conv_id"))) {
          // reconciliation against the full set reads every bucket
          supportTable.readGeneration(spark, gen).get
            .select("conv_id").distinct()
            .join(turns.select("conv_id").distinct(),
              Seq("conv_id"), "left_anti")
        }
      case _ => (changedConvs.limit(0), Set.empty[Int])
    }

    // TRUE NO-OP fast path: nothing changed, nothing vanished (both known
    // from the stage sidecars — zero extra jobs) and every derived table is
    // healthy — record the run and stop. The empty re-extract, delta and
    // carryover-publish machinery would cost ~15 fixed Spark jobs to move
    // zero rows; a nightly no-op sync against a 100 TB table should be
    // metadata-only. The derived-table guards keep the self-heal paths
    // reachable: a table half-published by a crashed run still routes
    // through the full machinery below. Replay-stable: the checkpointed
    // changed set replays empty for this runId, so a crash-retry takes the
    // same path; the watermark cannot regress (None falls back to the last
    // recorded one inside finishRun).
    if (curGen.isDefined && changedConvBuckets.isEmpty &&
        vanishedBuckets.isEmpty &&
        edgeTable.currentGeneration().isDefined &&
        nodeTable.currentGeneration().isDefined &&
        (!cfg.publishDocs || docTable.currentGeneration().isDefined)) {
      return finishRun(runId, None,
        edgeTable.currentRecordCount().getOrElse(0L), Seq.empty)
    }

    // J3: re-extract only changed conversations (semi-join restriction)
    // any turn newer than the watermark belongs to a changed conversation by
    // construction, so max(ts) over changedTurns == max over the full source
    // whenever new data exists (and the fallback keeps the old watermark).
    // Stage-checkpointed: the quarantine split and the extraction each
    // consume these rows, and without the checkpoint each consumer re-scans
    // the FULL source behind the semi-join — three 100 TB scans per sync
    // instead of two (the changed-set scan + this one). The checkpoint is
    // delta-sized, and pinning it also hardens resume (a post-crash source
    // mutation can never leak into a replayed extraction).
    val changedTurns = stage(spark, runId, "changed_turns") {
      turns.join(changedConvs, Seq("conv_id"), "left_semi").toDF()
    }.as[Turn]
    val (newSupports, newWm, lineage) = supportsStage(spark, runId, "sync_supports",
      changedTurns, catalog, markers)

    curGen match {
      case None =>
        // first run arrived as a sync: equivalent to a full publish
        publishSupports(newSupports, allBucketIds, runId)
        finishDerivedFull(spark, runId, newWm, lineage)

      case Some(gen) =>
        val touched = changedConvs.unionByName(vanished).distinct()

        // the set of physical buckets to rewrite — at most B driver-side
        // ints, already known from the two stage sidecars (zero jobs); the
        // read lists only their dirs
        val changedBuckets = changedConvBuckets ++ vanishedBuckets
        val curChanged = supportTable.readGeneration(spark, gen, Some(changedBuckets)).get
        val keep = curChanged
          .join(touched, Seq("conv_id"), "left_anti")
          .drop("bucket")

        // the edge/node delta needs the rows being REPLACED — read from the
        // bound pre-sync generation, so this plan stays valid after the
        // publish below flips the pointer
        val key = DerivedTables.EdgeKey.map(col)
        val oldOfTouched = curChanged.join(touched, Seq("conv_id"), "left_semi")
        val delta = newSupports
          .select(key :+ col("weight").as("dw"): _*)
          .unionByName(oldOfTouched
            .select(key :+ (-col("weight")).as("dw"): _*))
          .groupBy(key: _*)
          .agg(sum(col("dw")).as("dw"))
          .filter(col("dw") =!= 0)

        // checkpoint the delta BEFORE the support publish: it reads the
        // pre-publish snapshot, and a resume AFTER the publish must replay
        // the original delta — recomputing it from the mutated table would
        // yield an empty (or doubled) delta and silently lose the edge/node
        // update. The affected EDGE bucket set rides the same write.
        val (deltaCk, affectedEdgeBuckets) =
          stageWithBuckets(spark, runId, "edge_delta", derived.edgeBucket)(delta)

        // dynamic-partition-overwrite: only the k changed buckets are
        // written; the other B-k carry over by hard link
        def publishChangedSupports(): Unit = {
          publishSupports(keep.unionByName(newSupports), changedBuckets, runId)
          publishHook("support")
        }

        if (edgeTable.currentGeneration().isEmpty) {
          // the previous run crashed between the support publish and the
          // edge publish (e.g. a first-ever run that arrived as a sync): no
          // edge snapshot exists to merge a delta into — derive everything
          // fully from the published supports, which already contain the
          // replayed update
          publishChangedSupports()
          finishDerivedFull(spark, runId, newWm, lineage)
        } else {
          // the support publish and the propagation both read only the
          // checkpoints above (the delta is already staged): they run at
          // the same time, and both join before the run commits. Every
          // publish is runId-idempotent and the edge merge reads the edges
          // as they stood before the run, so a crash in any interleaving
          // replays to the same tables
          SparkIo.both(publishChangedSupports(),
            derived.propagate(spark, deltaCk, affectedEdgeBuckets, runId))
          // the triple count is the edge manifest's row sum: no Spark job
          finishRun(runId, newWm,
            edgeTable.currentRecordCount().getOrElse(0L), lineage)
        }
    }
  }

  /** Derive + publish full edge/node/doc snapshots from `supports`
    * (full-harvest path: every bucket is written): the edges, then the
    * nodes and docs at the same time.
    * @return (edge rows, total edge weight) */
  private def publishDerivedFull(spark: SparkSession, runId: String,
                                 supports: DataFrame): (Long, Long) = {
    // metrics ride the write itself (Dataset.observe) — no extra count job
    val obs = new org.apache.spark.sql.Observation()
    val edges = supports
      .groupBy(DerivedTables.EdgeKey.map(col): _*)
      .agg(sum(col("weight")).as("weight"))
      .observe(obs, count(lit(1)).as("n"), sum(col("weight")).as("total_weight"))
    derived.publishEdges(edges, allBucketIds, runId)
    val n = obs.get("n").asInstanceOf[Long]

    // nodes and docs derive from the just-published parquet snapshot —
    // re-using the logical `edges` plan would re-run the whole supports
    // aggregation once per derived table
    derived.publishAllNodesAndDocs(spark, runId)
    (n, obs.get("total_weight").asInstanceOf[Long])
  }

  /** The sync's self-heal: every derived table rebuilt from the published
    * supports, then the run's commit. */
  private def finishDerivedFull(spark: SparkSession, runId: String,
                                newWatermark: Option[Timestamp],
                                lineage: Seq[(String, Int, Long)]): RunResult = {
    val (n, totalWeight) = publishDerivedFull(spark, runId,
      supportTable.read(spark).get.drop("bucket"))
    finishRun(runId, newWatermark, n, lineage,
      Seq(("edges", "total_weight", totalWeight)))
  }

  /** Record the run, then commit it ([[CheckpointStore]]): driver-side file
    * writes, no Spark job. A run without a new watermark keeps the last one. */
  private def finishRun(runId: String, newWatermark: Option[Timestamp], nTriples: Long,
                        lineage: Seq[(String, Int, Long)],
                        extraMetrics: Seq[(String, String, Long)] = Seq.empty)
      : RunResult = {
    val wm = newWatermark
      .orElse(checkpoints.lastWatermark(cfg.pipelineId))
      .getOrElse(new Timestamp(0L))
    checkpoints.writeRunRecord(cfg.pipelineId, runId, wm,
      ("edges", "published_triples", nTriples) +: extraMetrics, lineage)
    publishHook("run-record")
    checkpoints.commit(cfg.pipelineId, runId, wm)
    RunResult(runId, edgeTable.currentGeneration().get,
      nodeTable.currentGeneration().get, nTriples)
  }
}

object KgPipeline {

  /** K2: structurally-bad rows can never succeed on retry — divert them to
    * the quarantine table with a reason instead of failing the job. The one
    * quarantine of the batch pipeline and the streaming ingest.
    *
    * The validity split, the event-time watermark (max ts) AND the bad-row
    * count ride the consumer's own action via ONE Dataset.observe — no
    * dedicated pass over the source. Bad rows are written only when the
    * observation reports any (a second, rare scan), overwriting
    * `<workDir>/quarantine/run_id=<runId>`, so a crash-and-resume never
    * double-appends (K3 idempotence).
    * @return (valid rows, writeBad, watermark) — call either thunk only
    *         AFTER an action that consumed the valid rows completed;
    *         writeBad writes any quarantined rows, watermark returns the max
    *         ts observed across ALL rows. */
  def quarantined(spark: SparkSession, turns: Dataset[Turn], workDir: String,
                  runId: String)
      : (Dataset[Turn], () => Unit, () => Option[Timestamp]) = {
    import spark.implicits._
    val obs = new org.apache.spark.sql.Observation()
    def wmOf(v: Any): Option[Timestamp] = v match {
      case null => None
      case t: Timestamp => Some(t)
      case i: java.time.Instant => Some(Timestamp.from(i))
      case l: java.time.LocalDateTime =>
        Some(new Timestamp(l.atZone(java.time.ZoneOffset.UTC)
          .toInstant.toEpochMilli))
      case other => sys.error(s"unexpected max_ts type: ${other.getClass}")
    }
    val reason = Quarantine.reasonCol(Quarantine.turnChecks)
    val observed = turns.toDF().observe(obs,
      max(col("ts")).as("max_ts"),
      count(when(reason.isNotNull, lit(1))).as("n_bad"))
    val (good, bad) = Quarantine.split(observed, Quarantine.turnChecks)
    // EMPTY-RESULT corner: when the consumer's result prunes to an empty
    // relation, AQE's empty-relation propagation removes the whole subtree
    // INCLUDING the CollectMetrics node — the observation then reports an
    // empty map even though the action completed. Both thunks fall back to
    // explicit input-sized passes: the quarantine is written defensively (an
    // all-bad input is exactly the empty-good-plan case), and the watermark
    // is re-derived only by a caller that reads it (the stream does not)
    (good.as[Turn],
      () =>
        if (obs.get.get("n_bad").map(_.asInstanceOf[Long]).forall(_ > 0))
          SparkIo.withJobDesc(spark, "quarantine-write")(
            bad.write.mode("overwrite").parquet(s"$workDir/quarantine/run_id=$runId")),
      () => obs.get.get("max_ts") match {
        case Some(v) => wmOf(v)
        case None => maxEventTime(turns)
      })
  }

  /** Event-time watermark: the max source timestamp processed — the next
    * sync run re-extracts only conversations with turns after it (the
    * reference uses harvest start time, Harvester.java:712; event time is
    * the Spark-idiomatic equivalent and is deterministic under replay).
    *
    * LATE-DATA CONTRACT: a turn whose ts is at or below the current
    * watermark when it ARRIVES is invisible to watermark syncs — same class
    * of gap as the reference's time-filtered sync (its start-time watermark
    * just trades it for reprocessing). Out-of-order sources need
    * `syncOldData` (full-set reconciliation) or a periodic full run. */
  private def maxEventTime(turns: Dataset[Turn]): Option[Timestamp] = {
    val r = turns.toDF().agg(max(col("ts"))).head()
    if (r.isNullAt(0)) None else Some(r.getTimestamp(0))
  }

  /** Per-conversation triple supports: (conv_id, subj, pred, obj, lang,
    * weight) — the unit of idempotent incremental replacement. THE
    * statement-level chain (Harvester.java:1811-1877): canonicalize ->
    * extract -> scored linking -> coref -> normalize -> count -> stamp the
    * language. The batch pipeline and the streaming ingest both call it; the
    * stream passes its stateful `coref` (cross-batch antecedent state) and
    * its cumulative `langs` (cross-batch language counters), the batch path
    * the defaults, which see the whole of `turns`.
    *
    * Extraction runs on the input splits with no exchange; the count
    * shuffles by its own group keys with map-side partial aggregation. */
  def supports(cfg: PipelineConfig, turns: Dataset[Turn],
               catalog: Seq[CatalogEntry], markers: Map[String, String],
               coref: DataFrame => DataFrame = CorefResolver.resolve,
               langs: Option[DataFrame] = None): DataFrame = {
    // scoredLinking flips the shared-alias semantics: a surface form naming
    // several entities is AMBIGUITY to resolve per mention by context (the
    // TF-IDF/Jaccard linker), not identity to collapse — so canon is the
    // identity map and ambiguous aliases route through the linker below.
    // Otherwise mentions emit at canonical-cluster granularity (driver
    // union-find over the catalog, O(|catalog|) like the kernel's trie), and
    // canonicalization composes into the kernel's broadcast dictionary.
    val canon: Map[String, String] =
      if (cfg.scoredLinking) Map.empty
      else graft.sources.TranscriptGen.components(catalog)
    val enc = Extractor.extractEncoded(turns, catalog, markers, canon,
      emitContext = cfg.corefResolution, sentinelAmbiguous = cfg.scoredLinking)
    def counted(df: Dataset[_], s: String, p: String, o: String) =
      df.groupBy("conv_id", s, p, o).agg(count(lit(1)).as("weight"))
    // the decode point: scored linking, coref and normalization rewrite
    // per-row strings, so they decode before the count; otherwise the count
    // shuffles codes and only its output is decoded
    val perRowStrings = cfg.scoredLinking || cfg.corefResolution ||
      cfg.proplist.nonEmpty || cfg.normProp.nonEmpty || cfg.normObj.nonEmpty ||
      cfg.whiteMap.nonEmpty || cfg.blackMap.nonEmpty
    val grouped =
      if (perRowStrings) {
        val raw0 = Extractor.decode(enc)
        val raw1 =
          if (cfg.scoredLinking) graft.link.AmbiguityResolver.resolve(raw0, turns, catalog)
          else raw0
        // coref runs AFTER scored linking so the cross-turn antecedent is the
        // contextually-resolved entity, not an ambiguity sentinel
        val raw = if (cfg.corefResolution) coref(raw1) else raw1
        counted(Extractor.normalize(raw, cfg), "subj", "pred", "obj")
      } else {
        val (rows, ents, preds) = enc
        Extractor.decode((counted(rows, "subjC", "predC", "objC"), ents, preds))
      }
    // detectLanguage cost note: one extra narrow aggregation scan of `turns`
    // plus a post-aggregation join of the (already conv-grouped, far smaller
    // than raw turns) supports against the per-conversation langs. Default
    // off; the zero-extra-scan path is fusing the hit counts into the
    // extraction kernel — do that before enabling it at the 100 TB point.
    val stamped =
      if (!cfg.detectLanguage) grouped.withColumn("lang", lit(cfg.language))
      else grouped
        .join(langs.getOrElse(convLanguages(cfg, turns)), Seq("conv_id"), "left")
        .withColumn("lang", coalesce(col("lang"), lit(cfg.language)))
    stamped.select("conv_id", "subj", "pred", "obj", "lang", "weight")
  }

  /** Conversation-level language detection: argmax function-word hit ratio
    * over `cfg.langProfiles` (ties break toward the lexicographically later
    * language — deterministic), falling back to the configured default when
    * no profile hits. Conversation granularity (not per-turn) because the
    * doc split is per (subject, lang) and a conversation is the subject
    * unit; a per-literal tag source (RDF ingestion) bypasses this entirely
    * via Triple.objLang. */
  private def convLanguages(cfg: PipelineConfig, turns: Dataset[Turn]): DataFrame = {
    // shared with the streaming ingest (LangDetect): the counts row is
    // associative over turns, which is what lets StreamingSync accumulate
    // the same detection across micro-batches bit-identically
    val profs = graft.text.LangDetect.sortedProfiles(cfg.langProfiles)
    require(profs.nonEmpty, "detectLanguage=true requires a non-empty langProfiles")
    graft.text.LangDetect.pick(
      graft.text.LangDetect.counts(turns.toDF(), profs), profs, cfg.language)
  }
}
