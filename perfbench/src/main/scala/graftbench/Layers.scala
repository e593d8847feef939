package graftbench

/** Per-layer metrics derived from traced ops. Each timing is the median
  * over the run's ops of the seconds covered by the Spark jobs whose
  * `graft:` label names the stage. */
object Layers {
  val SelfLayers = Seq("extract", "pipeline", "io", "materialize", "queries",
    "sparql", "spark")

  private def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Ctx.median(xs)

  private def jobs(ctx: Ctx, name: String, ops: Seq[Tracer.Op])(p: String => Boolean): Unit =
    ctx.put(name, med(ops.map(_.jobTime(p))))

  private val isListing = (d: String) => d.startsWith("Listing leaf files")
  private val isCkpt = (d: String) => d.startsWith("graft:ckpt:")
  private val isDocs = (d: String) => d == "graft:stage-buckets:docs"
  private def isPublish(t: String) = (d: String) => d == s"graft:stage-buckets:$t"

  def pipelineFull(ctx: Ctx, builds: Seq[Tracer.Op]): Unit = {
    jobs(ctx, "pipeline.full.stage_supports_s", builds)(_ == "graft:stage:supports")
    ctx.put("pipeline.full.driver_gap_s", med(builds.map(_.driverGap)))
    Seq("support", "edges", "nodes").foreach(t =>
      jobs(ctx, s"io.full.publish_${t}_s", builds)(isPublish(t)))
    jobs(ctx, "materialize.full.publish_docs_s", builds)(isDocs)
    ctx.put("io.full.bytes_written", med(builds.map(o =>
      SparkCounts.of(ctx.tracer.log, o.jobs).bytesOut.toDouble)))
  }

  def pipelineSync(ctx: Ctx, syncs: Seq[Tracer.Op]): Unit = {
    Seq("changed_convs", "changed_turns", "sync_supports", "edge_delta",
      "node_delta").foreach(s =>
      jobs(ctx, s"pipeline.sync.${s}_s", syncs)(_ == s"graft:stage:$s"))
    ctx.put("pipeline.sync.driver_gap_s", med(syncs.map(_.driverGap)))
    ctx.put("spark.sync_jobs", med(syncs.map(_.jobs.size.toDouble)))
    jobs(ctx, "io.sync.publish_s", syncs)(d =>
      d.startsWith("graft:stage-buckets:") && !isDocs(d))
    jobs(ctx, "materialize.sync.publish_docs_s", syncs)(isDocs)
    jobs(ctx, "io.sync.listing_s", syncs)(isListing)
    jobs(ctx, "io.sync.checkpoint_s", syncs)(isCkpt)
  }

  def pipelineNoop(ctx: Ctx, noops: Seq[Tracer.Op]): Unit = {
    ctx.put("pipeline.noop.driver_gap_s", med(noops.map(_.driverGap)))
    jobs(ctx, "io.noop.listing_s", noops)(isListing)
    jobs(ctx, "io.noop.checkpoint_s", noops)(isCkpt)
    ctx.put("spark.noop_jobs", med(noops.map(_.jobs.size.toDouble)))
  }

  /** Spark totals per pass (the jobs of all of a pass's ops), median over
    * passes; task skew is the worst stage of the pass. */
  def spark(ctx: Ctx, passes: Seq[Seq[Tracer.Op]]): Unit = {
    val cs = passes.map(ops => SparkCounts.of(ctx.tracer.log, ops.flatMap(_.jobs)))
    ctx.put("spark.jobs", med(cs.map(_.jobs.toDouble)))
    ctx.put("spark.stages", med(cs.map(_.stages.toDouble)))
    ctx.put("spark.tasks", med(cs.map(_.tasks.toDouble)))
    ctx.put("spark.shuffle_write_bytes", med(cs.map(_.shuffleWrite.toDouble)))
    ctx.put("spark.spill_bytes", med(cs.map(_.spill.toDouble)))
    ctx.put("spark.task_skew", med(cs.map(_.skew)))
  }

  /** Self time per layer, mean per pass. */
  def selfTimes(ctx: Ctx, passes: Seq[Seq[Tracer.Op]]): Unit = {
    val per = passes.map(_.map(_.selfTimes).foldLeft(Map.empty[String, Double]) {
      (a, m) => m.foldLeft(a) { case (acc, (k, v)) => acc.updated(k, acc.getOrElse(k, 0.0) + v) }
    })
    SelfLayers.foreach(l =>
      ctx.put(s"self.${l}_s", if (per.isEmpty) 0.0 else per.map(_.getOrElse(l, 0.0)).sum / per.size))
  }
}
