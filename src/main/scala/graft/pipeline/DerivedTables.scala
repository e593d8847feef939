package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.config.PipelineConfig
import graft.io.{SparkIo, TableCommitter}
import graft.materialize.DocAssembler

/** The one propagation rule from a support delta to the derived tables,
  * shared by the batch sync (KgPipeline) and the streaming ingest
  * (StreamingSync):
  *  - an edge's weight is the sum of its support weights;
  *  - a node's refs count the distinct edge keys it is an endpoint of;
  *  - a doc is the pivot of one subject's edges.
  *
  * Every write is a bucketed stage + publish of only the touched buckets;
  * the rest carry into the new generation by hard link. Crash safety stays
  * with the callers: the batch sync checkpoints the edge and node deltas as
  * stages, the streaming ingest reads the parent generation as `pre` on a
  * replay. Both rely on publishes being runId-idempotent. */
final class DerivedTables(cfg: PipelineConfig, val edgeTable: TableCommitter,
                          nodeTable: TableCommitter,
                          docTable: Option[TableCommitter]) {
  import DerivedTables._

  private val B = cfg.syncBuckets
  val allBuckets: Set[Int] = (0 until B).toSet
  /** Edges and docs bucket on hash(subj), so a subject's edges (the doc
    * input) are one pruned read. */
  val edgeBucket: Column = PipelineConfig.bucketCol(cfg.bucketKeyExpr, "subj", B)
  val nodeBucket: Column = PipelineConfig.bucketCol(cfg.bucketKeyExpr, "entity_id", B)

  /** Merge a keyed weight delta `(subj, pred, obj, lang, dw)` into `pre`,
    * the pre-merge edges of the delta's buckets (`None` when the edge table
    * has no generation yet). One full outer join on the edge key yields
    * both results:
    *  - the merged edges: `weight = prior + dw`, rows with weight > 0 kept;
    *  - the node ref delta `(entity_id, dn)`: +1 per endpoint of a created
    *    key (no prior weight, new weight > 0), -1 per endpoint of a retired
    *    key (prior weight, new weight <= 0), zero sums dropped. */
  def mergeEdges(pre: Option[DataFrame], delta: DataFrame): (DataFrame, DataFrame) = {
    val joined = pre match {
      case Some(p) =>
        p.select(EdgeKey.map(col) :+ col("weight").as("w0"): _*)
          .join(delta, EdgeKey, "full_outer")
      case None => delta.withColumn("w0", lit(null).cast("long"))
    }
    val merged = joined.withColumn("weight",
      coalesce(col("w0"), lit(0L)) + coalesce(col("dw"), lit(0L)))
    val edges = merged.filter(col("weight") > 0)
      .select(EdgeKey.map(col) :+ col("weight"): _*)
    val refDelta = merged
      .withColumn("dn",
        when(col("w0").isNull && col("weight") > 0, lit(1L))
          .when(col("w0").isNotNull && col("weight") <= 0, lit(-1L)))
      .filter(col("dn").isNotNull)
      .select(explode(array(col("subj"), col("obj"))).as("entity_id"), col("dn"))
      .groupBy("entity_id").agg(sum(col("dn")).as("dn"))
      .filter(col("dn") =!= 0)
    (edges, refDelta)
  }

  /** Stage + publish edges that replace exactly `buckets`. */
  def publishEdges(edges: DataFrame, buckets: Set[Int], runId: String): String = {
    edgeTable.stagePartitioned(edges.withColumn(TableCommitter.BucketCol, edgeBucket), runId)
    edgeTable.publishBuckets(runId, buckets)
  }

  /** Additive merge of a node ref delta `(entity_id, dn)` into the node
    * buckets it touches; an entity whose refs reach 0 drops. A node table
    * with no generation (a crash before its first publish) is built whole
    * from the published edges instead. */
  def publishNodes(spark: SparkSession, refDelta: DataFrame, buckets: Set[Int],
                   runId: String): String =
    nodeTable.read(spark) match {
      case None =>
        publishAll(nodeTable, nodesOf(edgeTable.read(spark).get), nodeBucket, runId)
      case Some(cur) =>
        val merged = cur
          .filter(col(TableCommitter.BucketCol).isin(buckets.toSeq: _*)) // pruned
          .select(col("entity_id"), col("refs"))
          .unionByName(refDelta.select(col("entity_id"), col("dn").as("refs")))
          .groupBy("entity_id").agg(sum(col("refs")).as("refs"))
          .filter(col("refs") > 0)
        nodeTable.stagePartitioned(
          merged.withColumn(TableCommitter.BucketCol, nodeBucket), runId)
        nodeTable.publishBuckets(runId, buckets)
    }

  /** Node and doc tables built whole from the published edges (full
    * harvest): one read of the edge snapshot feeds both. */
  def publishAllNodesAndDocs(spark: SparkSession, runId: String): String = {
    val edges = edgeTable.read(spark).get
    val gen = publishAll(nodeTable, nodesOf(edges), nodeBucket, runId)
    docTable.foreach(publishAll(_, docsOf(edges), edgeBucket, runId))
    gen
  }

  private def docsOf(edges: DataFrame): DataFrame =
    DocAssembler.assemble(edges.select(EdgeKey.map(col): _*), cfg)

  /** Incremental doc rebuild after an edge publish. Docs pivot per
    * (subj, lang) over ALL of a subject's edges, and edges are
    * subject-bucketed, so the changed subjects map to exactly the delta's
    * edge buckets (`edgeBuckets`): rebuild their docs from their pruned
    * post-merge edge slice, keep every other doc of those buckets, carry
    * untouched buckets by hard link.
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
  def publishDocs(spark: SparkSession, changedSubjects: DataFrame,
                  edgeBuckets: Set[Int], runId: String): Unit =
    docTable.foreach { dTbl =>
      dTbl.read(spark) match {
        case None =>
          publishAll(dTbl, docsOf(edgeTable.read(spark).get), edgeBucket, runId)
        case Some(curD) =>
          val postEdges = edgeTable.read(spark).get
          val affected =
            if (!cfg.refreshReferencingDocs) changedSubjects
            else changedSubjects.unionByName(
              // obj is not the bucket key, so this scans the edge table —
              // the documented cost of opting into label freshness
              postEdges
                .join(changedSubjects.withColumnRenamed("subj", "obj"),
                  Seq("obj"), "left_semi")
                .select("subj")).distinct()
              // materialized ONCE: the bucket collect, the slice semi-join
              // and the kept anti-join would each re-run the obj-side scan
              .localCheckpoint(true)
          // a referencing subject can live outside the delta's edge buckets
          val docBuckets =
            if (!cfg.refreshReferencingDocs) edgeBuckets
            else subjectBuckets(spark, "doc-buckets", affected)
          val slice = postEdges
            .filter(col(TableCommitter.BucketCol).isin(docBuckets.toSeq: _*)) // pruned
            .join(affected, Seq("subj"), "left_semi")
            .select(EdgeKey.map(col): _*)
          // restricted to the slice's objects BEFORE aggregation: resolving
          // against the whole edge table would make per-sync doc cost
          // O(table), not O(delta). Materialized once: consumed by the
          // bucket collect AND the label semi-join
          val sliceObjs = slice.select(col("obj").as("subj")).distinct()
            .localCheckpoint(true)
          val labelSrc = postEdges
            .filter(col(TableCommitter.BucketCol)
              .isin(subjectBuckets(spark, "label-buckets", sliceObjs).toSeq: _*))
            .join(sliceObjs, Seq("subj"), "left_semi")
            .select(EdgeKey.map(col): _*)
          val rebuilt = DocAssembler.assemble(
            slice, cfg, labelSource = Some(labelSrc))
          val kept = curD
            .filter(col(TableCommitter.BucketCol).isin(docBuckets.toSeq: _*))
            .drop(TableCommitter.BucketCol)
            .join(affected, Seq("subj"), "left_anti")
          dTbl.stagePartitioned(rebuilt.unionByName(kept)
            .withColumn(TableCommitter.BucketCol, edgeBucket), runId)
          dTbl.publishBuckets(runId, docBuckets)
      }
    }

  /** The buckets of `df`'s subjects — at most B driver-side ints. */
  private def subjectBuckets(spark: SparkSession, label: String,
                             df: DataFrame): Set[Int] =
    SparkIo.withJobDesc(spark, s"collect:$label")(
      df.select(edgeBucket.as("b")).distinct().collect()).map(_.getInt(0)).toSet

  private def publishAll(t: TableCommitter, df: DataFrame, bucket: Column,
                         runId: String): String = {
    t.stagePartitioned(df.withColumn(TableCommitter.BucketCol, bucket), runId)
    t.publishBuckets(runId, allBuckets)
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
