package graftbench

import java.nio.file.Path

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import graft.config.PipelineConfig
import graft.io.TableCommitter
import graft.materialize.DocAssembler
import graft.pipeline.KgPipeline
import graft.schema.Turn
import graft.sources.TranscriptGen

/** The transcript corpus the pipeline workloads run on, generated from the
  * seed by `TranscriptGen`, and the checks on what the pipeline publishes. */
object Corpus {
  val Entities = 50
  val Buckets = 64
  val catalog = TranscriptGen.catalog(Entities)
  val markers = TranscriptGen.markerPreds
  private val turnSchema = Encoders.product[Turn].schema

  /** Conversation 0 is hot: it holds about 5% of all turns. */
  def hotFactor(convs: Int): Int = math.max(1, convs / 20)

  def generate(spark: SparkSession, convs: Int, seed: Long): Dataset[Turn] =
    TranscriptGen.generateDistributed(spark, convs, Entities, hotFactor(convs),
      seed = seed, partitions = 2 * spark.sparkContext.defaultParallelism)

  def read(spark: SparkSession, dir: Path): Dataset[Turn] = {
    import spark.implicits._
    spark.read.schema(turnSchema).parquet(dir.toString).as[Turn]
  }

  def config(workDir: Path): PipelineConfig =
    PipelineConfig(workDir = workDir.toString, syncBuckets = Buckets,
      publishDocs = true)

  def pipeline(workDir: Path): KgPipeline = new KgPipeline(config(workDir))

  /** Print the corpus' provenance: a change to the generator shows up here
    * as a different input, not as a speed-up. */
  def provenance(ctx: Ctx, workload: String, dir: Path): Unit = {
    val t = read(ctx.spark, dir).toDF()
    val fp = Fingerprint.of(t)
    val r = t.agg(countDistinct(col("conv_id")),
      count(when(col("conv_id") === "conv-000000", 1))).head()
    ctx.info(s"provenance: " + Json.obj(Seq(
      "workload" -> Json.str(workload), "seed" -> ctx.seed.toString,
      "conversations" -> r.getLong(0).toString, "turns" -> fp.rows.toString,
      "hot_turns" -> r.getLong(1).toString,
      "parquet_fingerprint" -> Json.str(fp.toString))))
  }

  /** The (conv_id, subj, pred, obj, lang) support keys the generator
    * planted, from its golden triples (computed independently of the
    * extractor), for every conversation outside `skip`. */
  def goldenSupportKeys(spark: SparkSession, convs: Int, seed: Long,
                        skip: Set[String]): Fingerprint = {
    import spark.implicits._
    val hot = hotFactor(convs)
    val keys = spark.range(0, convs, 1, 2 * spark.sparkContext.defaultParallelism)
      .mapPartitions { it =>
        val g = TranscriptGen.mkCtx(Entities, hot, "en", seed, TranscriptGen.catalog(Entities))
        it.map(_.toInt).filterNot(c => skip.contains(f"conv-$c%06d")).flatMap { c =>
          TranscriptGen.convData(c, g)._2.iterator
            .map(t => (f"conv-$c%06d", t.subj, t.pred, t.obj, t.objLang))
        }
      }.toDF(SupportKey: _*)
    Fingerprint.of(keys)
  }

  val SupportKey = Seq("conv_id", "subj", "pred", "obj", "lang")

  /** Edges, nodes and docs fingerprints of a pipeline's published tables,
    * every column but the physical bucket. */
  def published(spark: SparkSession, p: KgPipeline): Seq[(String, Fingerprint)] =
    Seq("edges" -> p.edgeTable, "nodes" -> p.nodeTable, "docs" -> p.docTable)
      .map { case (n, t) => n -> Fingerprint.of(t.read(spark).get.drop(TableCommitter.BucketCol)) }

  /** Edges, nodes and docs fingerprints derived from scratch from `turns`
    * through the layers' public functions, as a full run derives them:
    * supports, then edges summed per key, nodes with their edge refcount,
    * docs assembled from the edges. */
  def derived(spark: SparkSession, turns: Dataset[Turn], workDir: Path): Seq[(String, Fingerprint)] = {
    val key = Seq("subj", "pred", "obj", "lang").map(col)
    val edges = pipeline(workDir).computeSupports(spark, turns, catalog, markers)
      .groupBy(key: _*).agg(sum(col("weight")).as("weight")).localCheckpoint()
    val nodes = edges.select(explode(array(col("subj"), col("obj"))).as("entity_id"))
      .groupBy("entity_id").agg(count(lit(1)).as("refs"))
    val docs = DocAssembler.assemble(edges.select(key: _*), config(workDir))
    Seq("edges" -> edges, "nodes" -> nodes, "docs" -> docs)
      .map { case (n, df) => n -> Fingerprint.of(df) }
  }

  def write(ds: Dataset[_], dir: Path): Unit =
    ds.write.mode("overwrite").parquet(dir.toString)
}
