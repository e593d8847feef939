package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.config.PipelineConfig
import graft.io.{SparkIo, TableCommitter}
import graft.text.TextNorm

/** Incrementally-maintained duplicate index: the batch dedup queries
  * (dd_exact_hash / dd_dup_clusters) recompute fingerprints over the whole
  * corpus; at the 100 TB design point a nightly ingest of a few thousand
  * changed documents must NOT re-read a 10^9-doc table to find their
  * duplicates. This class maintains the corpus fingerprint relation as two
  * bucketed tables committed through the same generation/hard-link
  * machinery as the KG support tables, so every update costs O(delta):
  *
  *  - `dedup_fp_index` (fp, doc_id), bucketed by hash(fp): duplicate lookup
  *    for a new document reads ONLY the buckets its fingerprint hashes to.
  *  - `dedup_doc_map`  (doc_id, fp), bucketed by hash(doc_id): a changed
  *    document's PRIOR fingerprint (whose index bucket must drop the stale
  *    row) is found by reading only the doc-buckets of the changed ids —
  *    never by scanning the index.
  *
  * The fingerprint is TextNorm.fingerprintCol — the same sorted-token-set
  * md5 that defines near-dup membership for ta_fingerprint /
  * ta_curation_pipeline / dd_dup_clusters, so "incremental" and "batch"
  * agree on what a duplicate IS. Additional relations (SimHash bands,
  * MinHash band keys) route through the identical mechanism: they are just
  * more (key, doc_id) rows with the key column in the bucket hash.
  *
  * Scale/crash contract (mirrors KgPipeline's support tables):
  *  - bucket counts and the key-to-bucket mapping are pinned in each
  *    table's metadata; a writer with a different mapping is refused;
  *  - per-update work = changed fp-buckets + changed doc-buckets, rewritten
  *    via staging + atomic publish with hard-linked carryover of the rest;
  *  - publishes are runId-idempotent: a crash between the two table
  *    publishes is healed by re-running the SAME runId (the completed
  *    table short-circuits to its already-published generation, the other
  *    completes).
  *
  * Reference anchor: the ES-era analogue is the indexer's full reindex
  * (Harvester.java's harvest-then-bulk-load); this is the incremental
  * replacement the reference never had.
  */
final class IncrementalDedupIndex(workDir: String, buckets: Int = 64) {

  private val fpTable = new TableCommitter(s"$workDir/dedup_fp_index")
  private val docTable = new TableCommitter(s"$workDir/dedup_doc_map")

  private def fpBucket = PipelineConfig.bucketCol(
    PipelineConfig.DefaultBucketKeyExpr, "fp", buckets)
  private def docBucket = PipelineConfig.bucketCol(
    PipelineConfig.DefaultBucketKeyExpr, "doc_id", buckets)

  private def pin(t: TableCommitter): Unit =
    t.pinBucketMapping(buckets, PipelineConfig.DefaultBucketKeyExpr)

  /** (doc_id, fp) for a document frame — THE single fingerprint derivation
    * both tables and all batch queries share. */
  def fingerprints(docs: DataFrame): DataFrame =
    docs.select(col("doc_id").cast("long").as("doc_id"),
      TextNorm.fingerprintCol(col("text")).as("fp"))

  def readIndex(spark: SparkSession): Option[DataFrame] = fpTable.read(spark)

  /** Apply a delta: `changed` carries the new text of added/updated docs
    * (doc_id, text); `removed` lists doc ids deleted from the corpus.
    * Returns (touched fp-buckets, touched doc-buckets). Work and rewritten
    * bytes are proportional to the delta, never the corpus.
    *
    * Input contract (the upstream CDC's job, not re-checked here with an
    * extra corpus-sized job): `changed` carries at most one row per doc_id
    * — two texts for one id would both enter the index; an id in BOTH
    * `changed` and `removed` is treated as changed (the fresh row wins).
    * An empty delta is a metadata-only no-op: no generation is published.
    *
    * Every Spark job it starts is labelled `graft:dedup-update:<runId>` or
    * finer. The fresh rows and the touched ids are each materialized once,
    * their bucket set observed in the same job (`SparkIo.checkpointBuckets`):
    * both feed several later reads.
    */
  def update(spark: SparkSession, changed: DataFrame, runId: String,
             removed: Seq[Long] = Nil): (Set[Int], Set[Int]) =
    SparkIo.withJobDesc(spark, s"dedup-update:$runId")(
      applyDelta(spark, changed, runId, removed))

  private def applyDelta(spark: SparkSession, changed: DataFrame, runId: String,
                         removed: Seq[Long]): (Set[Int], Set[Int]) = {
    import spark.implicits._
    pin(fpTable); pin(docTable)

    // the fresh rows and the fp-buckets they land in
    val (fresh, freshFpBuckets) = SparkIo.checkpointBuckets(
      fingerprints(changed).distinct().withColumn("b", fpBucket), col("b"),
      "dedup-fresh")
    if (removed.isEmpty && freshFpBuckets.isEmpty) return (Set.empty, Set.empty)
    // the touched ids and the doc-buckets holding them (bounded by `buckets`)
    val (touched, docBuckets) = SparkIo.checkpointBuckets(
      fresh.select("doc_id").union(removed.toDF("doc_id")).distinct()
        .withColumn("b", docBucket), col("b"), "dedup-touched")
    val touchedIds = touched.select("doc_id")

    // the touched ids' PRIOR fingerprints, read from their doc-map buckets
    val prior = docTable.readBuckets(spark, docBuckets) match {
      case Some(t) => t.join(touchedIds, "doc_id").select("doc_id", "fp")
      case None => Seq.empty[(Long, String)].toDF("doc_id", "fp")
    }

    // fp-buckets to rewrite: where fresh rows land + where stale rows live
    val fpBuckets = freshFpBuckets ++ SparkIo.withJobDesc(spark,
      "collect:dedup-prior")(prior.select(fpBucket).distinct().as[Int].collect())

    // rebuild the touched fp-buckets: prior contents minus ALL rows of
    // touched docs, plus the fresh rows
    val fpPrior = fpTable.readBuckets(spark, fpBuckets) match {
      case Some(t) => t.select("fp", "doc_id")
        .join(touchedIds, Seq("doc_id"), "left_anti")
      case None => Seq.empty[(String, Long)].toDF("fp", "doc_id")
    }
    val fpRows = fpPrior.select("fp", "doc_id")
      .unionByName(fresh.select("fp", "doc_id"))
      .withColumn("bucket", fpBucket)
    fpTable.stagePartitioned(fpRows, runId)
    fpTable.publishBuckets(runId, fpBuckets)

    // rebuild the touched doc-buckets of the doc map likewise
    val docPrior = docTable.readBuckets(spark, docBuckets) match {
      case Some(t) => t.select("doc_id", "fp")
        .join(touchedIds, Seq("doc_id"), "left_anti")
      case None => Seq.empty[(Long, String)].toDF("doc_id", "fp")
    }
    val docRows = docPrior.select("doc_id", "fp")
      .unionByName(fresh.select("doc_id", "fp"))
      .withColumn("bucket", docBucket)
    docTable.stagePartitioned(docRows, runId)
    docTable.publishBuckets(runId, docBuckets)
    (fpBuckets, docBuckets)
  }

  /** Duplicate candidates for a delta frame (doc_id, text) against the
    * CURRENT index: existing docs sharing a fingerprint with a delta doc.
    * Reads only the fp-buckets the delta's fingerprints hash to; the
    * delta's fingerprints are materialized once, with their bucket set.
    * Every Spark job it starts is labelled `graft:dedup-candidates` or finer.
    */
  def candidates(spark: SparkSession, delta: DataFrame): DataFrame =
    SparkIo.withJobDesc(spark, "dedup-candidates") {
      import spark.implicits._
      val (d, bs) = SparkIo.checkpointBuckets(
        fingerprints(delta).distinct().withColumn("b", fpBucket), col("b"),
        "dedup-candidates")
      fpTable.readBuckets(spark, bs) match {
        case Some(idx) =>
          idx.select(col("fp"), col("doc_id").as("dup_id"))
            .join(d.select("doc_id", "fp"), "fp")
            .filter(col("dup_id") =!= col("doc_id"))
            .select("doc_id", "dup_id", "fp")
        case None => Seq.empty[(Long, Long, String)].toDF("doc_id", "dup_id", "fp")
      }
    }
}
