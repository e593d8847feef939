package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.config.PipelineConfig
import graft.io.{SparkIo, TableCommitter}
import graft.materialize.DocAssembler

/** The one propagation from a support delta to the derived tables, shared
  * by the batch sync (KgPipeline) and the streaming ingest (StreamingSync):
  *  - an edge's weight is the sum of its support weights;
  *  - a node's refs count the distinct edge keys it is an endpoint of;
  *  - a doc is the pivot of one subject's edges.
  *
  * Every write is a bucketed stage + publish of only the touched buckets;
  * the rest carry into the new generation by hard link.
  *
  * One crash-safety rule serves both callers: a retry replays the same
  * delta under the same runId (the batch sync from its `edge_delta` stage,
  * the stream by re-running the micro-batch), publishes are
  * runId-idempotent, and the merge reads the edges as they stood BEFORE
  * the run ([[TableCommitter.readBefore]]). If retention expired that
  * generation, nodes and docs are rebuilt whole from the published edges. */
final class DerivedTables(cfg: PipelineConfig, val edgeTable: TableCommitter,
                          nodeTable: TableCommitter,
                          docTable: Option[TableCommitter],
                          afterPublish: String => Unit = _ => ()) {
  import DerivedTables._

  private val B = cfg.syncBuckets
  val allBuckets: Set[Int] = (0 until B).toSet
  /** Edges and docs bucket on hash(subj), so a subject's edges (the doc
    * input) are one bucket-addressed read. */
  val edgeBucket: Column = PipelineConfig.bucketCol(cfg.bucketKeyExpr, "subj", B)
  val nodeBucket: Column = PipelineConfig.bucketCol(cfg.bucketKeyExpr, "entity_id", B)

  /** Propagate a keyed weight delta `(subj, pred, obj, lang, dw)` whose
    * keys lie in `edgeBuckets` into the edges, then — once the edges are
    * published — the nodes and the docs at the same time
    * ([[SparkIo.both]]: neither reads the other, and both have joined when
    * this returns). A node or doc table with no generation is built whole
    * from the published edges; otherwise edges move only when
    * `edgeBuckets` is non-empty, nodes only when the ref delta is, and
    * docs only when an edge key was created or retired (see publishDocs). */
  def propagate(spark: SparkSession, delta: DataFrame, edgeBuckets: Set[Int],
                runId: String): Unit = {
    // no delta and no edges yet: there is nothing to derive from
    if (edgeBuckets.isEmpty && edgeTable.currentGeneration().isEmpty) return
    val (refDelta, nodeBuckets, keysMoved) =
      // no key moved: the empty delta stands in for the empty ref delta
      if (edgeBuckets.isEmpty) (delta, Set.empty[Int], false)
      else {
        val pre = try edgeTable.readBefore(spark, runId, edgeBuckets) catch {
          case _: TableCommitter.ExpiredGeneration =>
            publishAllNodesAndDocs(spark, runId)
            return
        }
        val keys = new Observation()
        val (edges, refs) = mergeEdges(
          pre.map(_.drop(TableCommitter.BucketCol)), delta, keys)
        val (nodeDelta, nodeBuckets) =
          SparkIo.checkpointBuckets(refs, nodeBucket, "node-delta")
        publishEdges(edges, edgeBuckets, runId)
        (nodeDelta, nodeBuckets,
          keys.get.get("n").exists(_.asInstanceOf[Long] > 0))
      }
    SparkIo.both(
      publishNodes(spark, refDelta, nodeBuckets, runId),
      publishDocs(spark, delta.select("subj").distinct(), edgeBuckets,
        keysMoved, runId))
  }

  /** Merge a keyed weight delta `(subj, pred, obj, lang, dw)` into `pre`,
    * the pre-merge edges of the delta's buckets (`None` when the edge table
    * had no generation). One full outer join on the edge key yields both
    * results:
    *  - the merged edges: `weight = prior + dw`, rows with weight > 0 kept;
    *  - the node ref delta `(entity_id, dn)`: +1 per endpoint of a created
    *    key (no prior weight, new weight > 0), -1 per endpoint of a retired
    *    key (prior weight, new weight <= 0), zero sums dropped.
    * `keys` observes the number of created plus retired keys, counted per
    * key before the per-entity sum can cancel them. */
  private def mergeEdges(pre: Option[DataFrame], delta: DataFrame,
                         keys: Observation)
      : (DataFrame, DataFrame) = {
    val joined = pre match {
      case Some(p) =>
        p.select(EdgeKey.map(col) :+ col("weight").as("w0"): _*)
          .join(delta, EdgeKey, "full_outer")
      case None => delta.withColumn("w0", lit(null).cast("long"))
    }
    val merged = joined.withColumn("weight",
      coalesce(col("w0"), lit(0L)) + coalesce(col("dw"), lit(0L)))
    val edges = merged
      .filter(col("weight") > 0)
      .select(EdgeKey.map(col) :+ col("weight"): _*)
    val refDelta = merged
      .withColumn("dn",
        when(col("w0").isNull && col("weight") > 0, lit(1L))
          .when(col("w0").isNotNull && col("weight") <= 0, lit(-1L)))
      .filter(col("dn").isNotNull)
      .observe(keys, count(lit(1)).as("n"))
      .select(explode(array(col("subj"), col("obj"))).as("entity_id"), col("dn"))
      .groupBy("entity_id").agg(sum(col("dn")).as("dn"))
      .filter(col("dn") =!= 0)
    (edges, refDelta)
  }

  /** Stage + publish edges that replace exactly `buckets`. */
  def publishEdges(edges: DataFrame, buckets: Set[Int], runId: String): Unit = {
    publish(edgeTable, edges, edgeBucket, buckets, runId)
    afterPublish("edges")
  }

  /** Additive merge of a node ref delta `(entity_id, dn)` into the node
    * buckets it touches; an entity whose refs reach 0 drops. A node table
    * with no generation (a crash before its first publish) is built whole
    * from the published edges instead. */
  private def publishNodes(spark: SparkSession, refDelta: DataFrame,
                           buckets: Set[Int], runId: String): Unit =
    nodeTable.readBuckets(spark, buckets) match {
      case None =>
        publish(nodeTable, nodesOf(edgeTable.read(spark).get), nodeBucket,
          allBuckets, runId)
      case Some(_) if buckets.isEmpty => // no entity's refs moved
      case Some(cur) =>
        val merged = cur
          .select(col("entity_id"), col("refs"))
          .unionByName(refDelta.select(col("entity_id"), col("dn").as("refs")))
          .groupBy("entity_id").agg(sum(col("refs")).as("refs"))
          .filter(col("refs") > 0)
        publish(nodeTable, merged, nodeBucket, buckets, runId)
    }

  /** Node and doc tables built whole from the published edges (a full
    * harvest, or a retry whose pre-run edges retention expired): one read
    * of the edge snapshot feeds both, and the two publishes run at the same
    * time ([[SparkIo.both]]), both joined when this returns. */
  def publishAllNodesAndDocs(spark: SparkSession, runId: String): Unit = {
    val edges = edgeTable.read(spark).get
    SparkIo.both(
      publish(nodeTable, nodesOf(edges), nodeBucket, allBuckets, runId),
      docTable.foreach(publish(_, docsOf(edges), edgeBucket, allBuckets, runId)))
  }

  private def docsOf(edges: DataFrame): DataFrame =
    DocAssembler.assemble(edges.select(EdgeKey.map(col): _*), cfg)

  /** Incremental doc rebuild after an edge publish. Docs pivot per
    * (subj, lang) over ALL of a subject's edges, and edges are
    * subject-bucketed, so the changed subjects map to exactly the delta's
    * edge buckets (`edgeBuckets`): rebuild their docs from those buckets'
    * post-merge edges, keep every other doc of those buckets, carry
    * untouched buckets by hard link. Skipped when no edge key was created
    * or retired (`keysMoved`): docs render keys, never weights, and the
    * node delta cannot stand in (retiring (s, p1, o) while creating
    * (s, p2, o) cancels per entity).
    *
    * uriDescription labels resolve against the slice's own object URIs,
    * read from those objects' buckets only — result-identical to a
    * full-table lookup because labels of URI u live under subject u. A
    * label change refreshes only docs of changed subjects — the reference's
    * sync has the same staleness (unchanged resources are not re-indexed,
    * Harvester.java:1199-1453) — unless `refreshReferencingDocs` widens the
    * affected set to every subject holding a changed subject as an object
    * value. A doc table with no generation (publishDocs enabled after a
    * docs-less run) is built whole: a slice would present only the changed
    * subjects' docs as the whole table. */
  private def publishDocs(spark: SparkSession, changedSubjects: DataFrame,
                          edgeBuckets: Set[Int], keysMoved: Boolean,
                          runId: String): Unit =
    docTable.foreach { dTbl =>
      dTbl.currentGeneration() match {
        case None =>
          publish(dTbl, docsOf(edgeTable.read(spark).get), edgeBucket,
            allBuckets, runId)
        case Some(_) if !keysMoved =>
        case Some(_) =>
          // a referencing subject can live outside the delta's edge buckets
          val (affected, docBuckets) =
            if (!cfg.refreshReferencingDocs) (changedSubjects, edgeBuckets)
            else SparkIo.checkpointBuckets(changedSubjects.unionByName(
              // obj is not the bucket key, so this scans the edge table —
              // the documented cost of opting into label freshness
              edgeTable.read(spark).get
                .join(changedSubjects.withColumnRenamed("subj", "obj"),
                  Seq("obj"), "left_semi")
                .select("subj")).distinct(),
              // materialized ONCE: the slice semi-join and the kept
              // anti-join would each re-run the obj-side scan
              edgeBucket, "doc-buckets")
          val slice = edgeTable.readBuckets(spark, docBuckets).get
            .join(affected, Seq("subj"), "left_semi")
            .select(EdgeKey.map(col): _*)
          // restricted to the slice's objects BEFORE aggregation: resolving
          // against the whole edge table would make per-sync doc cost
          // O(table), not O(delta). Materialized once with its bucket set:
          // the label source reads only those buckets
          val (sliceObjs, labelBuckets) = SparkIo.checkpointBuckets(
            slice.select(col("obj").as("subj")).distinct(), edgeBucket,
            "label-buckets")
          val labelSrc = edgeTable.readBuckets(spark, labelBuckets).get
            .join(sliceObjs, Seq("subj"), "left_semi")
            .select(EdgeKey.map(col): _*)
          val rebuilt = DocAssembler.assemble(
            slice, cfg, labelSource = Some(labelSrc))
          val kept = dTbl.readBuckets(spark, docBuckets).get
            .drop(TableCommitter.BucketCol)
            .join(affected, Seq("subj"), "left_anti")
          publish(dTbl, rebuilt.unionByName(kept), edgeBucket, docBuckets,
            runId)
      }
    }

  /** Stage `df` bucketed by `bucket` and publish it as exactly `buckets`. */
  private def publish(t: TableCommitter, df: DataFrame, bucket: Column,
                          buckets: Set[Int], runId: String): Unit = {
    t.stagePartitioned(df.withColumn(TableCommitter.BucketCol, bucket), runId)
    t.publishBuckets(runId, buckets)
  }
}

object DerivedTables {
  /** The edge key: every derived-table merge joins on it. */
  val EdgeKey: Seq[String] = Seq("subj", "pred", "obj", "lang")

  /** Refs per entity over the distinct edge keys of `edges` (one row per
    * key): each key counts once for its subject and once for its object. */
  def nodesOf(edges: DataFrame): DataFrame =
    edges.select(explode(array(col("subj"), col("obj"))).as("entity_id"))
      .groupBy("entity_id").agg(count(lit(1)).as("refs"))
}
