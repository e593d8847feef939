package graft.app

import java.nio.file.{Files, Paths}
import java.util.concurrent.Executors

import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.util.{Failure, Success, Try}

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

import graft.config.{ConfigParsing, PipelineConfig}
import graft.pipeline.KgPipeline

/** Concurrent multi-river harvests — the reference's cross-river parallelism
  * re-expressed Spark-first.
  *
  * Reference shape: each river's Harvester is submitted to a fixed thread
  * pool sized `max_concurrent_harvests` (default 6) — `Indexer.java:78`,
  * `ServerConfiguration.java:26-33` — and a river already running is skipped,
  * `RunScheduledIndexing.java:19-24`. Parallelism exists ONLY across rivers;
  * each harvest is single-threaded.
  *
  * Spark translation: ONE SparkSession; each river is a task on a bounded
  * driver-side pool, and every Spark job a river submits is tagged into a
  * FAIR scheduler pool named after the river (`spark.scheduler.pool` is a
  * thread-local), so concurrent rivers SHARE the executors fairly instead of
  * FIFO-starving each other — unlike the reference, a single river still uses
  * the whole cluster when it runs alone. Per-river `workDir` isolation keeps
  * the committers' staging/atomic-swap lifecycles independent: no shared
  * mutable state crosses rivers.
  *
  * Failure isolation mirrors the reference's per-thread catch: a poisoned
  * river reports its error in its own result row and the other rivers
  * publish. Double-start guarding WITHIN one invocation is structural
  * (duplicate river names are refused — two tasks writing one workDir would
  * race the committer); across processes it belongs to the external
  * scheduler, the same boundary as the reference's cron (SURVEY §7.5).
  */
object MultiRiver {
  /** One river: `name` keys the scheduler pool and the per-river workDir
    * (`<baseWorkDir>/<name>`); `mode` is full|sync; `configJson` an optional
    * river-config path (the reference's settings blob, S7); `catalogDir` an
    * optional entity-catalog parquet. */
  final case class RiverSpec(name: String, mode: String, input: String,
      workDir: String, configJson: Option[String], catalogDir: Option[String])

  /** Per-river outcome: `detail` is the river's one-line result JSON on
    * success, the error message on failure. */
  final case class RiverReport(name: String, mode: String, ok: Boolean,
      detail: String)

  private val mapper = new ObjectMapper()

  /** Parse the multi-river spec: a JSON array of
    * `{"name": ..., "mode": "full"|"sync", "input": ...,
    *   "config": <path>?, "catalog": <dir>?}`. */
  def parseSpec(json: String, baseWorkDir: String): Seq[RiverSpec] = {
    val root = mapper.readTree(json)
    require(root.isArray && root.size() > 0,
      "multi-river spec must be a non-empty JSON array of river objects")
    val rivers = (0 until root.size()).map { i =>
      val n = root.get(i)
      def req(k: String): String = {
        val v = n.path(k)
        require(v.isTextual && v.asText().nonEmpty,
          s"river[$i] needs a non-empty string '$k'")
        v.asText()
      }
      def opt(k: String): Option[String] = {
        val v = n.path(k)
        // loud-knob convention (cf. envFlag): a PRESENT key with the wrong
        // shape (inline object, number, empty string) must not silently
        // fall back to the default config/catalog
        require(v.isMissingNode || v.isNull ||
          (v.isTextual && v.asText().nonEmpty),
          s"river[$i] '$k', when present, must be a non-empty string path")
        Option(v).filter(_.isTextual).map(_.asText()).filter(_.nonEmpty)
      }
      val name = req("name")
      // the name becomes a path segment and a scheduler-pool id
      require(name.matches("[A-Za-z0-9._-]+"),
        s"river[$i] name '$name' must be [A-Za-z0-9._-]+ (it names the " +
          "workDir subdirectory and the scheduler pool)")
      val mode = req("mode")
      require(mode == "full" || mode == "sync",
        s"river[$i] ('$name') mode must be full|sync, got '$mode'")
      RiverSpec(name, mode, req("input"), s"$baseWorkDir/$name",
        opt("config"), opt("catalog"))
    }
    val dup = rivers.groupBy(_.name).collect { case (n, rs) if rs.size > 1 => n }
    require(dup.isEmpty,
      s"duplicate river name(s) ${dup.mkString(", ")}: two concurrent tasks " +
        "over one workDir would race the committer (the reference's " +
        "skip-if-running guard, RunScheduledIndexing.java:19-24)")
    rivers
  }

  /** Run one river's harvest on the shared session (KgMain's full/sync
    * dispatch, workDir-scoped). Returns the result JSON line. */
  private def runOne(spark: SparkSession, spec: RiverSpec,
      overlay: (PipelineConfig, String) => PipelineConfig): String = {
    val baseCfg = spec.configJson
      .map(p => ConfigParsing.fromJson(Files.readString(Paths.get(p))))
      .getOrElse(PipelineConfig())
    val result = KgMain.harvest(spark,
      new KgPipeline(overlay(baseCfg, spec.workDir)), spec.mode, spec.input,
      spec.catalogDir, idSuffix = s"-${spec.name}")
    s"""{"river":${KgMain.jsonStr(spec.name)},"mode":"${spec.mode}",""" +
      s""""run_id":"${result.runId}","edges_gen":"${result.edgesGen}",""" +
      s""""nodes_gen":"${result.nodesGen}","published_triples":${result.triples}}"""
  }

  /** Run all rivers, at most `maxConcurrent` at a time (the reference's
    * pool-of-6). Report order follows spec order regardless of completion
    * order. `overlay` applies the process-level env knobs on top of each
    * river's own config (KgMain.envOverlay — shared with single-river mode
    * so the two paths can never diverge). */
  def run(spark: SparkSession, rivers: Seq[RiverSpec], maxConcurrent: Int,
      overlay: (PipelineConfig, String) => PipelineConfig): Seq[RiverReport] = {
    require(maxConcurrent >= 1, s"maxConcurrent must be >= 1, got $maxConcurrent")
    val pool = Executors.newFixedThreadPool(math.min(maxConcurrent, rivers.size))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val futures = rivers.map { spec =>
        Future {
          // thread-local: every job this river submits lands in its own
          // FAIR pool; cleared so a reused pool thread never leaks the tag
          spark.sparkContext.setLocalProperty("spark.scheduler.pool", spec.name)
          // catch Throwable, not just NonFatal: Future{} only completes a
          // promise for NonFatal throwables, so a fatal error in one river
          // (OutOfMemoryError, StackOverflowError) would leave its promise
          // uncompleted and hang the Await below FOREVER; captured here,
          // the fatal becomes that river's failure report instead
          try {
            try Try(runOne(spark, spec, overlay))
            catch { case t: Throwable => Failure(t) }
          }
          finally spark.sparkContext.setLocalProperty("spark.scheduler.pool", null)
        }
      }
      rivers.zip(futures).map { case (spec, f) =>
        Await.result(f, Duration.Inf) match {
          case Success(json) => RiverReport(spec.name, spec.mode, ok = true, json)
          case Failure(e) =>
            // per-river catch, like the reference's harvester thread: the
            // failed river reports; the others are unaffected
            RiverReport(spec.name, spec.mode, ok = false,
              Option(e.getMessage).getOrElse(e.getClass.getName))
        }
      }
    } finally pool.shutdown()
  }
}
