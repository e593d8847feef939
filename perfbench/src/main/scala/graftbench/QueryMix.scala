package graftbench

import java.nio.file.Files

import scala.collection.mutable

import graft.queries._

/** Workload `query_mix`: a fixed cross-section of the registry queries
  * (the first query of each family in name order, plus the watch list), in
  * name order, over the fixed tables in `perfbench/data`. One client, closed
  * loop; after the first pass the order repeats until the run's time is up.
  * The order is fixed, not drawn from the seed: in a fresh JVM a query's
  * place in the pass decides how much cold-start cost it pays, so a seeded
  * order would make each query's latency a function of the seed. Each
  * query's result is fingerprinted by one action (every column computed),
  * which is also the timed action, and checked against the fingerprint
  * recorded for it. */
object QueryMix extends Workload {
  val Families: Seq[(String, Map[String, Q])] = Seq(
    "relational" -> RelationalQueries.all, "kg" -> KgQueries.all,
    "graph" -> GraphQueries.all, "dedup" -> DedupQueries.all,
    "textstats" -> TextStatsQueries.all, "curation" -> CurationQueries.all,
    "analytical" -> AnalyticalQueries.all,
    "materialize" -> MaterializeQueries.all, "sparql" -> SparqlQueries.all)

  val Watch = Seq("dd_dup_clusters", "kg_canonicalize_cc", "sparql_path_star",
    "dd_embed_cosine", "dd_ngram_jaccard", "a2_collect_values", "kg_conflicts",
    "s5_rdfxml_roundtrip")

  val Tables = Seq("lineitem", "events", "documents", "embeddings", "orders",
    "customer", "supplier", "part", "nation", "region")

  /** The queries a pass runs. */
  lazy val selected: Seq[String] =
    (Families.map(_._2.keys.min) ++ Watch).distinct.sorted

  /** name -> (family, query) */
  lazy val registry: Map[String, (String, Q)] = {
    val all = Families.flatMap { case (f, qs) => qs.toSeq.map { case (n, q) => n -> (f, q) } }
    require(all.map(_._1).distinct.size == all.size, "duplicate query names")
    all.toMap
  }

  def expected(ctx: Ctx): Map[String, String] = {
    val f = ctx.benchDir.resolve("expected/queries.tsv")
    scala.io.Source.fromFile(f.toFile).getLines().map(_.split("\t"))
      .collect { case Array(n, fp) => n -> fp }.toMap
  }

  final case class Sample(name: String, plan: Double, exec: Double,
                          op: Tracer.Op) {
    def total: Double = op.wall
  }

  /** Run one query: fn + executed plan (plan), then the fingerprint
    * action (exec). */
  def runOne(ctx: Ctx, dataDir: String, name: String): (Sample, Fingerprint) = {
    val (family, q) = registry(name)
    var plan = 0.0
    var exec = 0.0
    val layer = if (family == "sparql") "sparql" else "queries"
    val (fp, op) = ctx.tracer.op(s"query:$name", layer) {
      val (p, tp) = Ctx.time(ctx.tracer.span("plan", layer) {
        val p = Fingerprint.plan(q.fn(ctx.spark, dataDir))
        p.queryExecution.executedPlan
        p
      })
      val (fp, te) = Ctx.time(ctx.tracer.span("exec", layer)(Fingerprint.collect(p)))
      plan = tp; exec = te
      fp
    }
    System.err.println(f"[perfbench] query $name%-28s plan $plan%.3f exec $exec%.3f")
    (Sample(name, plan, exec, op), fp)
  }

  private def dataDir(ctx: Ctx): String = ctx.benchDir.resolve("data").toString

  /** The tables are fixed files; set-up opens each of them. */
  def input(ctx: Ctx, dir: java.nio.file.Path): Unit =
    Tables.foreach(t => graft.Tables(ctx.spark, dataDir(ctx), t).limit(1).count())

  def run(ctx: Ctx, dir: java.nio.file.Path): Unit = {
    val spark = ctx.spark
    val data = dataDir(ctx)
    val want = expected(ctx)
    val names = selected
    ctx.check("recorded fingerprints cover the registry",
      registry.keys.forall(want.contains),
      s"missing: ${registry.keys.filterNot(want.contains).mkString(",")}")
    ctx.info("provenance: " + Json.obj(Seq(
      "workload" -> Json.str("query_mix"), "seed" -> ctx.seed.toString,
      "queries" -> names.size.toString,
      "tables" -> Json.obj(Tables.map(t =>
        t -> graft.Tables(spark, data, t).count().toString)))))

    val samples = mutable.ArrayBuffer.empty[Sample]
    val t0 = ctx.elapsed
    var i = 0
    while (i < names.size || ctx.elapsed - t0 < ctx.seconds) {
      val name = names(i % names.size)
      i += 1
      ctx.attempt(s"query $name")(runOne(ctx, data, name)).foreach { case (s, fp) =>
        val ok = want.get(name).contains(fp.toString)
        ctx.check(s"query $name", ok, s"$fp != recorded ${want.get(name)}")
        if (ok) samples += s
      }
    }

    val perQuery = samples.groupBy(_.name).map { case (n, ss) =>
      n -> Ctx.median(ss.map(_.total).toSeq) }
    ctx.put("bulk_s", perQuery.values.sum)
    ctx.put("op_p50_s", Ctx.median(perQuery.values.toSeq))
    ctx.put("floor_s", Ctx.median(samples.groupBy(_.name).values
      .map(ss => Ctx.median(ss.map(_.plan).toSeq)).toSeq))
    ctx.put("queries.p90_s", Ctx.quantile(perQuery.values.toSeq, 0.9))
    ctx.info(s"query_mix: $i queries run, ${perQuery.size} distinct, " +
      s"pass ${perQuery.values.sum}")

    if (ctx.traced) {
      val firstPass = samples.take(names.size).toSeq
      Families.foreach { case (f, qs) =>
        val ss = firstPass.filter(s => qs.contains(s.name))
        val cs = SparkCounts.of(ctx.tracer.log, ss.flatMap(_.op.jobs))
        ctx.put(s"queries.$f.plan_s", ss.map(_.plan).sum)
        ctx.put(s"queries.$f.exec_s", ss.map(_.exec).sum)
        ctx.put(s"queries.$f.jobs", cs.jobs.toDouble)
        ctx.put(s"queries.$f.shuffle_bytes", cs.shuffleWrite.toDouble)
      }
      Watch.foreach(n => ctx.put(s"queries.q.${n}_s", perQuery.getOrElse(n, 0.0)))
      Layers.spark(ctx, Seq(firstPass.map(_.op)))
      Layers.selfTimes(ctx, Seq(firstPass.map(_.op)))
    }
  }

  /** Write the fingerprint of every query, in name order. */
  def record(ctx: Ctx, out: java.nio.file.Path): Unit = {
    val lines = registry.keys.toSeq.sorted.map(n => s"$n\t${runOne(ctx, dataDir(ctx), n)._2}")
    Files.write(out, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}
