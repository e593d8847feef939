package graftbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.extract.Extractor
import graft.materialize.DocAssembler
import graft.sources.TranscriptGen

/** Workload `build_sync`, the reference lifecycle: a full harvest, then
  * incremental syncs on top of it. One client, closed loop:
  *  1. `runFull` (docs published, 64 sync buckets) into a fresh workDir,
  *     then a no-op `runSync`;
  *  2. steps: append later-timestamped turns of 5 non-hot conversations and
  *     `runSync`, then a no-op `runSync`, until the run's time is up;
  *  3. five more no-op `runSync`s: the no-op floor is cheap to sample.
  * Checks: the full build's supports carry exactly the generator's golden
  * triples for every conversation it holds whole; after the last no-op sync
  * the published edge, node and doc tables equal the tables derived from
  * scratch from the final input (untimed). */
object BuildSync extends Workload {
  val Convs = 5000
  val ConvsPerStep = 5
  val MaxSteps = 60
  val MinSteps = 1
  val ExtraNoops = 5
  val ProbeReps = 2

  /** The conversations each step changes: non-hot, distinct, drawn from
    * the seed. */
  private def picks(seed: Long): Vector[Seq[String]] =
    new scala.util.Random(seed).shuffle((1 until Convs).toVector)
      .take(MaxSteps * ConvsPerStep)
      .map(c => f"conv-$c%06d").grouped(ConvsPerStep).toVector

  /** The whole corpus under `full`; the base input under `input` lacks the
    * turns after the fourth of every conversation a step will change. */
  def input(ctx: Ctx, dir: Path): Unit = {
    val held = col("conv_id").isin(picks(ctx.seed).flatten: _*) && col("turn_idx") > 3
    Corpus.write(Corpus.generate(ctx.spark, Convs, ctx.seed), dir.resolve("full"))
    Corpus.write(Corpus.read(ctx.spark, dir.resolve("full")).filter(!held),
      dir.resolve("input"))
  }

  def run(ctx: Ctx, dir: Path): Unit = {
    val spark = ctx.spark
    val (full, input, wd) = (dir.resolve("full"), dir.resolve("input"), ctx.freshDir("work"))
    Corpus.provenance(ctx, "build_sync", full)
    val steps = picks(ctx.seed)
    val p = Corpus.pipeline(wd)
    val noops = mutable.ArrayBuffer.empty[Tracer.Op]

    def noop(tag: String): Unit =
      noops += ctx.tracer.op(s"runSync-noop:$tag", "pipeline") {
        p.runSync(spark, Corpus.read(spark, input), Corpus.catalog,
          Corpus.markers, s"noop-$tag")
      }._2

    ctx.phase("full build")
    val t0 = ctx.elapsed
    val build = ctx.tracer.op("runFull", "pipeline") {
      p.runFull(spark, Corpus.read(spark, input), Corpus.catalog, Corpus.markers, "full")
    }._2
    noop("full")
    ctx.phase("golden check")
    val golden = Corpus.goldenSupportKeys(spark, Convs, ctx.seed, steps.flatten.toSet)
    val got = Fingerprint.of(p.supportTable.read(spark).get
      .filter(!col("conv_id").isin(steps.flatten: _*)), Corpus.SupportKey)
    ctx.check("full build supports", got == golden, s"$got != golden $golden")

    def step(k: Int): (Tracer.Op, Fresh) = {
      Corpus.read(spark, full)
        .filter(col("conv_id").isin(steps(k): _*) && col("turn_idx") > 3)
        .withColumn("ts", col("ts") + expr(s"INTERVAL ${30 * (k + 1)} DAYS"))
        .write.mode("append").parquet(input.toString)
      val before = p.supportTable.currentPath().get
      val (_, d) = ctx.tracer.op(s"runSync:$k", "pipeline") {
        p.runSync(spark, Corpus.read(spark, input), Corpus.catalog,
          Corpus.markers, s"sync-$k")
      }
      val fresh = Fresh.of(Path.of(before), Path.of(p.supportTable.currentPath().get))
      noop(k.toString)
      (d, fresh)
    }

    val deltas = mutable.ArrayBuffer.empty[Tracer.Op]
    val freshes = mutable.ArrayBuffer.empty[Fresh]
    var k = 0
    while (k < MaxSteps && (deltas.size < MinSteps || ctx.elapsed - t0 < ctx.seconds)) {
      ctx.phase(s"step $k")
      ctx.attempt(s"step $k")(step(k)).foreach { case (d, f) =>
        deltas += d; freshes += f
      }
      k += 1
    }
    (1 to ExtraNoops).foreach(i => ctx.attempt(s"no-op sync $i")(noop(s"end$i")))

    // untimed: the synced tables must equal the tables derived from
    // scratch from the final input, the way runFull derives them
    ctx.phase("check")
    ctx.attempt("final tables") {
      val expect = Corpus.derived(spark, Corpus.read(spark, input), wd)
      Corpus.published(spark, p).zip(expect).foreach { case ((name, got), (_, want)) =>
        ctx.check(s"$name after $k steps", got == want, s"synced $got != derived $want")
      }
    }
    if (ctx.traced) probes(ctx, input, p)

    ctx.put("bulk_s", build.wall)
    ctx.put("op_p50_s", Ctx.median(deltas.map(_.wall).toSeq))
    ctx.put("floor_s", Ctx.median(noops.map(_.wall).toSeq))
    ctx.info(s"build_sync: runFull ${build.wall}, ${deltas.size} steps, delta runSync " +
      s"${deltas.map(_.wall).mkString(" ")}, no-op runSync ${noops.map(_.wall).mkString(" ")}")

    if (ctx.traced) {
      Layers.pipelineFull(ctx, Seq(build))
      Layers.pipelineSync(ctx, deltas.toSeq)
      Layers.pipelineNoop(ctx, noops.toSeq)
      Layers.spark(ctx, Seq(Seq(build)))
      Layers.selfTimes(ctx, Seq(Seq(build) ++ deltas ++ noops))
      ctx.put("io.sync.rewritten_buckets", Ctx.median(freshes.map(_.buckets.toDouble).toSeq))
      ctx.put("io.sync.fresh_bytes", Ctx.median(freshes.map(_.bytes.toDouble).toSeq))
      ctx.put("io.sync.fresh_share", Ctx.median(freshes.map(_.share).toSeq))
    }
  }

  /** The layers' own entry points, each to the noop sink (traced runs
    * only): extraction and supports over the final input, documents over
    * the synced edges. */
  private def probes(ctx: Ctx, input: Path, p: graft.pipeline.KgPipeline): Unit = {
    val spark = ctx.spark
    val turns = Corpus.read(spark, input)
    val canon = TranscriptGen.components(Corpus.catalog)
    def sink(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    def probe(name: String, layer: String)(body: => Unit): Double =
      Ctx.median((1 to ProbeReps).map(_ => ctx.tracer.op(name, layer)(body)._2.wall))
    def extracted = Extractor.extractEncoded(turns, Corpus.catalog, Corpus.markers, canon)._1

    ctx.put("extract.busy_s", probe("extractEncoded", "extract")(sink(extracted.toDF())))
    ctx.put("extract.turns_in", turns.count().toDouble)
    ctx.put("extract.triples_out", extracted.count().toDouble)
    ctx.put("pipeline.supports_s", probe("computeSupports", "pipeline") {
      sink(p.computeSupports(spark, turns, Corpus.catalog, Corpus.markers))
    })
    val edges = p.edgeTable.read(spark).get.select("subj", "pred", "obj", "lang")
    val cfg = Corpus.config(ctx.tmp.resolve("unused"))
    ctx.put("materialize.docs_s", probe("assemble", "materialize") {
      sink(DocAssembler.assemble(edges, cfg))
    })
  }

  /** What a sync physically rewrote in the support table: files of the new
    * generation that are not hard links into the old one. */
  final case class Fresh(buckets: Int, bytes: Long, share: Double)

  object Fresh {
    private def files(g: Path): Seq[Path] =
      Files.walk(g).iterator().asScala
        .filter(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet"))
        .toSeq

    private def inode(f: Path): Any = Files.getAttribute(f, "unix:ino")

    def of(before: Path, after: Path): Fresh = {
      val old = files(before).map(inode).toSet
      val now = files(after)
      val fresh = now.filterNot(f => old.contains(inode(f)))
      val bytes = fresh.map(Files.size).sum
      val total = now.map(Files.size).sum
      Fresh(fresh.map(_.getParent).distinct.size, bytes,
        if (total == 0) 0.0 else bytes.toDouble / total)
    }
  }
}
