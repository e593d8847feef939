package graftbench

import java.nio.file.{Files, Path, Paths}

/** Benchmark entry point (see perfbench/NOTES.md).
  *
  * Usage: Main --workload <build_sync|query_mix> --seed <n>
  *             --seconds <s> --trace <0|1> --bench-dir <perfbench dir>
  *             --tmp <run temp root> [--trace-out <spans.jsonl>]
  *        Main --record-queries <out.tsv> --bench-dir .. --tmp ..
  *
  * The last line of stdout is the result object. */
object Main {
  val Workloads = Seq("build_sync", "query_mix")

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "bulk_s" -> "s", "op_p50_s" -> "s", "floor_s" -> "s")

  val PerLayer: Seq[(String, String)] = {
    val s = "s"; val n = "count"; val b = "bytes"; val r = "ratio"
    Seq("extract.busy_s" -> s, "extract.turns_in" -> n, "extract.triples_out" -> n,
      "pipeline.supports_s" -> s, "pipeline.full.stage_supports_s" -> s) ++
      Seq("changed_convs", "changed_turns", "sync_supports", "edge_delta",
        "node_delta").map(x => s"pipeline.sync.${x}_s" -> s) ++
      Seq("full", "sync", "noop").map(x => s"pipeline.$x.driver_gap_s" -> s) ++
      Seq("support", "edges", "nodes").map(x => s"io.full.publish_${x}_s" -> s) ++
      Seq("io.full.bytes_written" -> b, "io.sync.publish_s" -> s,
        "io.sync.rewritten_buckets" -> n, "io.sync.fresh_bytes" -> b,
        "io.sync.fresh_share" -> r, "io.sync.listing_s" -> s,
        "io.noop.listing_s" -> s, "io.sync.checkpoint_s" -> s,
        "io.noop.checkpoint_s" -> s, "materialize.docs_s" -> s,
        "materialize.full.publish_docs_s" -> s,
        "materialize.sync.publish_docs_s" -> s,
        "spark.jobs" -> n, "spark.stages" -> n, "spark.tasks" -> n,
        "spark.shuffle_write_bytes" -> b, "spark.spill_bytes" -> b,
        "spark.task_skew" -> r, "spark.sync_jobs" -> n, "spark.noop_jobs" -> n,
        "spark.session_start_s" -> s, "jvm.peak_rss_mb" -> "MB") ++
      QueryMix.Families.map(_._1).flatMap(f => Seq(s"queries.$f.plan_s" -> s,
        s"queries.$f.exec_s" -> s, s"queries.$f.jobs" -> n,
        s"queries.$f.shuffle_bytes" -> b)) ++
      Seq("queries.p90_s" -> s) ++
      QueryMix.Watch.map(q => s"queries.q.${q}_s" -> s) ++
      Layers.SelfLayers.map(l => s"self.${l}_s" -> s)
  }

  private def opts(args: Array[String]): Map[String, String] =
    args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap

  private def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(Double.NaN)

  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val o = opts(args)
    val tmp = Paths.get(o("tmp")).toAbsolutePath
    Files.createDirectories(tmp)
    val ctx = new Ctx(tmp, o.getOrElse("seed", "1").toLong,
      o.getOrElse("seconds", "10").toDouble, o.get("trace").contains("1"),
      Paths.get(o("bench-dir")).toAbsolutePath)
    try {
      if (o.contains("record-queries")) {
        ctx.startSession()
        QueryMix.record(ctx, Paths.get(o("record-queries")))
      } else {
        val w: Workload = o.getOrElse("workload", "") match {
          case "build_sync" => BuildSync
          case "query_mix" => QueryMix
          case x => sys.error(s"unknown workload '$x' (one of ${Workloads.mkString(", ")})")
        }
        measure(ctx, w)
        o.get("trace-out").foreach(p => ctx.tracer.write(Paths.get(p)))
        report(ctx)
      }
    } finally ctx.stop()
  }

  /** Set up `SetupReps` times (each a fresh session plus the workload's
    * inputs), then run the workload on the last set-up. A failure ends the
    * run as a failed op; the result is still reported. */
  private def measure(ctx: Ctx, w: Workload): Unit = {
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    ctx.attempt("workload") {
      var dir: Path = null
      val reps = (1 to SetupReps).map { i =>
        if (dir != null) Ctx.delete(dir)
        dir = ctx.tmp.resolve(s"input-$i")
        Ctx.time {
          ctx.phase(s"set-up $i")
          ctx.startSession()
          if (i == 1) ctx.put("spark.session_start_s",
            (System.currentTimeMillis() - jvmStart) / 1000.0)
          w.input(ctx, dir)
        }._2
      }
      ctx.put("setup_s", Ctx.median(reps))
      ctx.phase("run")
      w.run(ctx, dir)
    }
    ctx.phase("done")
    ctx.put("jvm.peak_rss_mb", peakRssMb)
  }

  private def report(ctx: Ctx): Unit = {
    def render(names: Seq[(String, String)]) = Json.obj(names.map { case (n, u) =>
      n -> Json.obj(Seq("value" -> Json.num(ctx.metrics.getOrElse(n, 0.0)),
        "unit" -> Json.str(u)))
    })
    // a traced run also shows its end-to-end numbers, for the tracing
    // overhead (traced minus untraced)
    if (ctx.traced) println("traced_end_to_end: " + render(EndToEnd))
    val missing = EndToEnd.map(_._1).filterNot(ctx.metrics.contains)
    if (missing.nonEmpty) ctx.check("all end-to-end metrics measured", ok = false,
      s"missing ${missing.mkString(",")}")
    println(Json.obj(Seq(
      "correct" -> (ctx.failed == 0).toString,
      "attempted" -> ctx.attempted.toString,
      "failed" -> ctx.failed.toString,
      "metrics" -> render(if (ctx.traced) PerLayer else EndToEnd))))
  }
}
