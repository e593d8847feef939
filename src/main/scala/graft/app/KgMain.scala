package graft.app

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit}
import org.apache.spark.storage.StorageLevel

import graft.config.PipelineConfig
import graft.io.TableCommitter
import graft.pipeline.KgPipeline
import graft.schema.{CatalogEntry, Turn}
import graft.sources.TranscriptGen

/** spark-submit entry point (SURVEY.md §7.1 module 9): full vs sync mode
  * dispatch (the reference's S4 query-type dispatch + indexAll/sync flag,
  * Harvester.java:571-575), reading the transcript table and the entity
  * catalog from parquet, publishing node/edge tables via the committer.
  *
  * Usage (the same modes as the usage error's list):
  *   KgMain full|sync|ingest-stream <turnsParquetDir> <workDir> [catalogParquetDir]
  *   KgMain ingest-nt|ingest-rdfxml <dumpDir> <workDir>
  *   KgMain stats - <workDir>              per-predicate edge-table profile
  *   KgMain diff <genA,genB> <workDir>     edge delta between two generations
  *   KgMain query <file.rq|-> <workDir>    SPARQL over the published graph
  *                                         ('-': GRAFT_SPARQL env, or the
  *                                         river config's query[] list)
  *   KgMain dedup-update|dedup-candidates <deltaParquet> <workDir>
  *                                         fold a (doc_id, text) delta into
  *                                         the incremental dedup index in
  *                                         O(delta) bucket rewrites, or list
  *                                         its duplicate candidates
  *                                         (GRAFT_DEDUP_REMOVED=id,id,...
  *                                         retires docs; GRAFT_RUN_ID pins
  *                                         an idempotent crash-retry)
  *   KgMain multi <rivers.json> <baseWorkDir>
  *                                         concurrent harvests (the
  *                                         reference's pool across rivers,
  *                                         Indexer.java:78): each river
  *                                         {name, mode: full|sync, input,
  *                                         config?, catalog?} runs under
  *                                         <baseWorkDir>/<name> in its own
  *                                         FAIR pool; GRAFT_MAX_CONCURRENT
  *                                         caps them (default 6); a failed
  *                                         river blocks no other (exit 1
  *                                         after all ran)
  *
  * Pipeline knobs (env, all optional):
  *   GRAFT_CONFIG_JSON=<path>   river-config JSON (the reference's settings
  *                              blob shape — proplist/normProp/normObj/
  *                              normMissing/white/blackMap/language/
  *                              uriDescription/..., ConfigParsing.fromJson);
  *                              env flags below override its flags and
  *                              bucket count
  *   GRAFT_PUBLISH_DOCS=1       also publish the per-(subject, lang) doc table
  *   GRAFT_DETECT_LANGUAGE=1    per-conversation language detection
  *   GRAFT_SCORED_LINKING=1     contextual disambiguation of ambiguous aliases
  *   GRAFT_COREF=1              cross-turn coreference for subject-less markers
  *   GRAFT_REFRESH_REF_DOCS=1   label edits also refresh referencing docs
  *   GRAFT_SYNC_OLD_DATA=1      full-set vanished-conversation reconciliation
  *   GRAFT_SYNC_BUCKETS=<n>     physical bucket count (pinned at first run)
  *   GRAFT_STREAM_MAX_FILES=<n> (ingest-stream) cap files per micro-batch
  *
  * `ingest-nt` / `ingest-rdfxml` are the reference's dump-harvest lifecycle
  * (harvestFromDumps -> addModelToES -> publish, Harvester.java:1702-1730,
  * 1803-1905): RDF triples from N-Triples (line-parallel) or RDF/XML
  * (file-parallel — the serialization the reference itself reads) dumps are
  * assembled into per-(resource, language) docs — per-literal lang tags
  * routing via objLang — and published atomically.
  *
  * With no catalog dir, the built-in demo catalog is used (so the app is
  * drivable end-to-end on a bare fixture).
  */
object KgMain {
  /** Minimal RFC 8259 string escaping for data values interpolated into the
    * control-plane JSON lines (quotes, backslashes, control chars). */
  private[app] def jsonStr(s: String): String =
    s.flatMap {
      case '"'           => "\\\""
      case '\\'          => "\\\\"
      case c if c < ' '  => f"\\u${c.toInt}%04x"
      case c             => c.toString
    }.mkString("\"", "", "\"")

  /** The dedup-update / dedup-candidates mode body (separated from main()
    * so specs can drive the app path on a shared session): nightly CDC
    * deltas update / query the incremental dedup index in O(delta) bucket
    * rewrites — never a corpus re-scan (IncrementalDedupIndex scaladoc).
    * The delta parquet carries (doc_id, text); returns the mode's one-line
    * JSON report. */
  private[graft] def runDedup(spark: SparkSession, mode: String,
      deltaPath: String, workDir: String, removed: Seq[Long],
      runId: String, buckets: Int = 64): String = {
    val idx = new graft.dedup.IncrementalDedupIndex(workDir, buckets)
    val delta = spark.read.parquet(deltaPath)
    require(delta.columns.contains("doc_id") && delta.columns.contains("text"),
      s"dedup delta at $deltaPath needs (doc_id, text) columns, has " +
        delta.columns.mkString("(", ", ", ")"))
    if (mode == "dedup-update") {
      val (fpB, docB) = idx.update(spark, delta, runId, removed)
      s"""{"mode":"dedup-update","run_id":${jsonStr(runId)},""" +
        s""""touched_fp_buckets":${fpB.size},"touched_doc_buckets":${docB.size},""" +
        s""""removed":${removed.size}}"""
    } else {
      val out = idx.candidates(spark, delta)
      val outDir = s"$workDir/dedup_candidates"
      out.orderBy("doc_id", "dup_id").write.mode("overwrite").parquet(outDir)
      val n = spark.read.parquet(outDir).count()
      s"""{"mode":"dedup-candidates","rows":$n,"out":${jsonStr(outDir)}}"""
    }
  }

  private def envFlag(name: String): Boolean = sys.env.get(name) match {
    case None => false
    case Some("1") | Some("true") => true
    case Some("0") | Some("false") => false
    case Some(other) => // loud: a typo must not silently disable a feature
      sys.error(s"$name must be 0/1/true/false, got '$other'")
  }

  /** Process-level env knobs applied on top of a river config — ONE overlay
    * shared by the single-river and multi-river paths so they can never
    * diverge on what a flag means. */
  private[app] def envOverlay(baseCfg: PipelineConfig,
      workDir: String): PipelineConfig =
    baseCfg.copy(workDir = workDir,
      publishDocs = envFlag("GRAFT_PUBLISH_DOCS"),
      detectLanguage = envFlag("GRAFT_DETECT_LANGUAGE"),
      scoredLinking = envFlag("GRAFT_SCORED_LINKING"),
      corefResolution = envFlag("GRAFT_COREF"),
      refreshReferencingDocs = envFlag("GRAFT_REFRESH_REF_DOCS"),
      syncOldData = baseCfg.syncOldData || envFlag("GRAFT_SYNC_OLD_DATA"),
      syncBuckets = sys.env.get("GRAFT_SYNC_BUCKETS").map(_.toInt)
        .getOrElse(baseCfg.syncBuckets))

  /** The entity catalog parquet at `dir`, else the built-in demo catalog
    * (so the app is drivable end-to-end on a bare fixture). */
  private[app] def loadCatalog(spark: SparkSession,
      dir: Option[String]): Seq[CatalogEntry] = {
    import spark.implicits._
    dir.map(d => spark.read.parquet(d).as[CatalogEntry].collect().toSeq)
      .getOrElse(TranscriptGen.catalog(50))
  }

  /** The one full/sync dispatch of single-river and multi-river mode: load
    * the catalog, mint the run id, run. Sync run ids are watermark-derived,
    * so a crashed sync RETRIED FROM A NEW PROCESS resumes the original run
    * (stage checkpoints + idempotent publishes are runId-scoped); a full run
    * is self-contained and takes a fresh id, `full-<millis><idSuffix>`. */
  private[app] def harvest(spark: SparkSession, pipeline: KgPipeline,
      mode: String, turnsDir: String, catalogDir: Option[String],
      idSuffix: String = ""): KgPipeline#RunResult = {
    import spark.implicits._
    val runId =
      if (mode == "sync") pipeline.syncRunId(spark)
      else s"full-${System.currentTimeMillis()}$idSuffix"
    val turns = spark.read.parquet(turnsDir).as[Turn]
    val catalog = loadCatalog(spark, catalogDir)
    if (mode == "full")
      pipeline.runFull(spark, turns, catalog, TranscriptGen.markerPreds, runId)
    else
      pipeline.runSync(spark, turns, catalog, TranscriptGen.markerPreds, runId)
  }

  /** Writes each query's rows over `tr` to `<workDir>/query_out/q<i>` and
    * emits its line at once: a failing query keeps the lines before it. */
  private[app] def runQueries(spark: SparkSession, queryTexts: Seq[String],
      tr: DataFrame, services: Map[String, DataFrame], workDir: String,
      emit: String => Unit): Unit =
    queryTexts.zipWithIndex.foreach { case (q, i) =>
      val out = graft.sparql.SparqlCompiler.compile(q, tr, services)
      val outDir = s"$workDir/query_out/q$i"
      out.write.mode("overwrite").parquet(outDir)
      val n = spark.read.parquet(outDir).count()
      emit(s"""{"mode":"query","query_idx":$i,"rows":$n,""" +
        s""""columns":${out.columns.map(jsonStr).mkString("[", ",", "]")},""" +
        s""""out":${jsonStr(outDir)}}""")
    }

  def main(args: Array[String]): Unit = {
    val spark = graft.Sessions.create("graft-kg",
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt, sys.env.get("SPARK_MASTER"))
    val code = try run(spark, args.toSeq, println) finally spark.stop()
    // a failed multi river fails the invocation after all rivers ran: a
    // batch job needs the nonzero exit for its scheduler to alert on
    if (code != 0) sys.exit(code)
  }

  private def usage(): Nothing = throw new IllegalArgumentException(
    "usage: KgMain <mode> <inputDir> <workDir> [catalogParquetDir]; modes: " +
      "full|sync|ingest-stream take a turns parquet dir; " +
      "ingest-nt|ingest-rdfxml a dump dir; stats ignores <inputDir>, pass '-'; " +
      "diff takes <gen-N,gen-M>; query a .rq file path, or '-' to use " +
      "GRAFT_SPARQL / the river config's query[] list; " +
      "dedup-update|dedup-candidates a delta parquet of (doc_id, text); " +
      "multi a rivers.json and a BASE workDir (see MultiRiver)")

  /** One invocation's mode on `spark` (the process's session, or a spec's
    * shared one): hands each JSON report line to `emit` as soon as it is
    * known (a query's line once its output is written) and returns the exit
    * code, 1 when a `multi` river failed. */
  private[app] def run(spark: SparkSession, args: Seq[String],
      emit: String => Unit): Int = {
    import spark.implicits._
    val (mode, input, workDir) = args match {
      case Seq(m, i, w, _*) => (m, i, w)
      case _ => usage()
    }
    // data-shaping keys come from the river-config JSON when given (the
    // reference's settings blob, S7); env flags and the bucket count layer on top
    val baseCfg = sys.env.get("GRAFT_CONFIG_JSON")
      .map(p => graft.config.ConfigParsing.fromJson(Files.readString(Paths.get(p))))
      .getOrElse(PipelineConfig())
    val cfg = envOverlay(baseCfg, workDir)
    val pipeline = new KgPipeline(cfg)
    // ingest/dedup runs are self-contained and take a fresh id (full/sync
    // mint theirs in harvest)
    val runId = s"$mode-${System.currentTimeMillis()}"
    def publishedEdges = pipeline.edgeTable.read(spark).getOrElse(
      sys.error(s"no published edges table under $workDir — run full/sync first"))

    mode match {
      case "full" | "sync" =>
        val result = harvest(spark, pipeline, mode, input, args.lift(3))
        emit(s"""{"run_id":"${result.runId}","mode":"$mode","edges_gen":"${result.edgesGen}","nodes_gen":"${result.nodesGen}","published_triples":${result.triples}}""")
        0

      case "ingest-nt" | "ingest-rdfxml" =>
        // every writer into the workDir's bucketed tables verifies the pin
        pipeline.pinOrVerifyBucketCount()
        // NT scans line-parallel; RDF/XML (the reference's own dump format,
        // Harvester.java:1711) scans file-parallel and skips a malformed file
        // whole, but lands it in the quarantine area with its path and reason
        // (Harvester.java:1723-1725). The RDF/XML parse is persisted: the
        // reject write and the doc build are two actions over it
        val parsed =
          if (mode == "ingest-rdfxml")
            Some(graft.sources.RdfXmlSource.readParsed(spark, input)
              .persist(StorageLevel.DISK_ONLY))
          else None
        // the session may outlive this run (a spec's shared one), so both
        // caches are released on every exit, a refused publish included
        try {
          val nRejects = parsed.fold(0L) { p =>
            val rejects = p.filter(_.reason.isDefined)
              .map(r => (r.path, r.reason.get)).toDF("path", "reason")
            val obs = new Observation()
            // runId-scoped overwrite, like the pipeline's row quarantine: a
            // crash-and-retry never double-appends; file-grain rejects get
            // their own dir (different schema than the turn quarantine)
            rejects.observe(obs, count(lit(1)).as("n"))
              .write.mode("overwrite")
              .parquet(s"$workDir/quarantine_files/run_id=$runId")
            obs.get("n").asInstanceOf[Long]
          }
          val triples = parsed.fold(graft.sources.NTriplesSource.read(spark, input))(
            _.flatMap(_.triples))
          val docs = graft.materialize.DocAssembler.assemble(
            triples.toDF().select(col("subj"), col("pred"), col("obj"),
              col("objLang").as("lang")), cfg)
            .persist()
          try {
            // an all-malformed (or empty) dump yields zero docs: refuse to
            // publish nothing over a good table (a zero-row generation would
            // stay readable through its manifest, but it would replace every
            // doc) — fail before the pointer moves
            val n = docs.count()
            require(n > 0, s"no valid triples parsed from $input — nothing published")
            // the pipeline's own bucket expression (never a re-derived copy):
            // a later full+sync over this workDir updates the table
            // incrementally only if every writer agrees bit-for-bit on
            // key-to-bucket mapping
            pipeline.docTable.stagePartitioned(
              docs.withColumn("bucket", pipeline.subjectBucket(col("subj"))), runId)
            val gen = pipeline.docTable.publishBuckets(runId, pipeline.allBucketIds)
            emit(s"""{"run_id":"$runId","mode":"$mode","docs_gen":"$gen","published_docs":$n,"rejected_files":$nRejects}""")
            0
          } finally docs.unpersist()
        } finally parsed.foreach(_.unpersist())

      case "diff" =>
        // edge delta between two published generations ("what did this sync
        // change"): one full-outer join on the edge key feeding one
        // aggregate; no row data reaches the driver
        val gens = input.split(",").map(_.trim)
        require(gens.length == 2 && gens.forall(_.matches("gen-\\d+")),
          s"usage: KgMain diff <gen-N,gen-M> <workDir> — got '$input'")
        val Array(genA, genB) = gens
        def gen(g: String) = pipeline.edgeTable.readGeneration(spark, g).getOrElse(
          sys.error(s"generation $g does not exist under the edges table"))
        val (added, removed, reweighted) =
          graft.materialize.GraphStats.generationDelta(gen(genA), gen(genB))
        emit(s"""{"table":"edges","from":"$genA","to":"$genB",""" +
          s""""added":$added,"removed":$removed,"reweighted":$reweighted}""")
        0

      case "query" =>
        // river configs carry SPARQL (query[], Indexer.java:350-463) that the
        // reference ships to a remote triplestore; here the same text compiles
        // to a Catalyst plan over the published edge table viewed as (s, p, o)
        val queryTexts: Seq[String] =
          if (input != "-") Seq(Files.readString(Paths.get(input)))
          else sys.env.get("GRAFT_SPARQL").map(Seq(_)).getOrElse(cfg.queries)
        require(queryTexts.nonEmpty,
          "query mode needs a .rq file, GRAFT_SPARQL, or query[] in GRAFT_CONFIG_JSON")
        // `ol` is the edge's language stamp, the source turn's language on
        // every edge (the reference's addLanguage: the whole document's
        // language, not per-literal), so lang(?o) answers it for a resource
        // object too, not RDF's no-tag-on-IRIs rule
        val tr = publishedEdges.select(col("subj").as("s"), col("pred").as("p"),
          col("obj").as("o"), col("lang").as("ol"))
        // SERVICE federation against pre-materialized local graphs: each
        // configured IRI loads its dump once (an .nt file through the
        // line-parallel parser, else a parquet dir) and the compiler joins
        // SERVICE blocks against it instead of refusing
        val services: Map[String, DataFrame] =
          cfg.serviceGraphs.map { case (iri, path) =>
            val df =
              if (path.endsWith(".nt"))
                // kind-preserving read: SERVICE frames carry the full
                // optional-column contract (ol + dt + tk), so lang()/
                // datatype()/isIRI-family filters inside SERVICE bodies
                // compile with exact spec semantics
                graft.sources.NTriplesSource.readWithKind(spark, path)
              else if (path.endsWith(".rdf") || path.endsWith(".xml"))
                graft.sources.RdfXmlSource.readWithKind(spark, path)
              else {
                val raw = spark.read.parquet(path)
                if (raw.columns.contains("subj"))
                  raw.select(col("subj").as("s"), col("pred").as("p"),
                    col("obj").as("o"))
                else raw
              }
            iri -> df
          }
        runQueries(spark, queryTexts, tr, services, workDir, emit)
        0

      case "multi" =>
        // concurrent multi-river harvests (the reference's pool-of-6 across
        // rivers, Indexer.java:78) — <inputDir> is the rivers.json spec,
        // <workDir> the BASE dir (each river publishes under <base>/<name>)
        val rivers = MultiRiver.parseSpec(Files.readString(Paths.get(input)), workDir)
        val maxConc = sys.env.get("GRAFT_MAX_CONCURRENT").map(_.toInt).getOrElse(6)
        val reports = MultiRiver.run(spark, rivers, maxConc, envOverlay)
        val failed = reports.count(!_.ok)
        reports.foreach { r =>
          emit(if (r.ok) r.detail
            else s"""{"river":${jsonStr(r.name)},"mode":"${r.mode}",""" +
              s""""ok":false,"error":${jsonStr(r.detail)}}""")
        }
        emit(s"""{"mode":"multi","rivers":${reports.size},"failed":$failed,""" +
          s""""max_concurrent":$maxConc}""")
        if (failed > 0) 1 else 0

      case "dedup-update" | "dedup-candidates" =>
        emit(runDedup(spark, mode, input, workDir,
          removed = sys.env.get("GRAFT_DEDUP_REMOVED").toSeq
            .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty).map(_.toLong),
          // honor an explicit runId so a crashed update RETRIED FROM A NEW
          // PROCESS heals idempotently (same contract as sync)
          runId = sys.env.getOrElse("GRAFT_RUN_ID", runId),
          buckets = sys.env.get("GRAFT_DEDUP_BUCKETS").map(_.toInt).getOrElse(64)))
        0

      case "stats" =>
        // per-predicate schema profile of the PUBLISHED edge table (the
        // control-plane view that catches extraction drift between runs —
        // GraphStats scaladoc). Unlike KgAdmin this reads data, so it lives
        // in the Spark app, not the metadata-only CLI.
        // pred is DATA (it can arrive from a user-supplied catalog), so it is
        // JSON-escaped; every other field is an engine-generated number
        graft.materialize.GraphStats.profile(publishedEdges).collect().foreach { r =>
          emit(s"""{"pred":${jsonStr(r.getString(0))},"n_edges":${r.getLong(1)},""" +
            s""""n_subj":${r.getLong(2)},"n_obj":${r.getLong(3)},""" +
            s""""max_out":${r.getLong(4)},"functional":${r.getInt(5)},""" +
            s""""total_weight":${r.getLong(6)}}""")
        }
        0

      case "ingest-stream" =>
        // Structured-Streaming front-end over the same transcript shape:
        // checkpointed source offsets replace the batch sync's watermark, and
        // each micro-batch merges its supports into the touched buckets of
        // its OWN table (StreamingSync scaladoc) — never the batch support
        // table, whose rows are replaced per conversation: mixing the two
        // would double-count on the first overlapping run.
        // corefResolution wires the per-conversation antecedent state table
        // automatically; scoredLinking needs nothing extra; detectLanguage
        // wires the cumulative language-counter state table.
        def table(name: String) = new TableCommitter(s"$workDir/tables/$name")
        val tbl = table("stream_supports")
        // the app publishes the full product surface like batch full does:
        // edges + nodes (+ docs) propagate per micro-batch
        // (StreamingSync.propagate; a language flip retracts and re-emits)
        val eTbl = table("stream_edges")
        val merged = graft.streaming.StreamingSync.ingestAvailableNow(
          spark, input, s"$workDir/stream_checkpoint",
          loadCatalog(spark, args.lift(3)), TranscriptGen.markerPreds, cfg, tbl,
          maxFilesPerBatch = sys.env.get("GRAFT_STREAM_MAX_FILES").map(_.toInt),
          corefStateTable =
            if (cfg.corefResolution) Some(table("stream_coref_state")) else None,
          langStateTable =
            if (cfg.detectLanguage) Some(table("stream_lang_state")) else None,
          edgeTable = Some(eTbl),
          docTable = if (cfg.publishDocs) Some(table("stream_docs")) else None,
          nodeTable = Some(table("stream_nodes")))
        val gen = tbl.currentGeneration().getOrElse("<none>")
        // streaming publishes are keyed stream-<ckptId>-<batchId>, not by this
        // app invocation — report the LINEAGE id (what _meta/runs records
        // actually carry), not a minted run_id nothing on disk matches
        val lineage = tbl.currentGeneration("lastBatchCkpt").getOrElse("<none>")
        val edgesGen = eTbl.currentGeneration().getOrElse("<none>")
        emit(s"""{"lineage":"$lineage","mode":"$mode","supports_gen":"$gen","edges_gen":"$edgesGen","merged_rows":$merged,"last_batch":${tbl.currentGeneration("lastBatch").getOrElse("-1")}}""")
        0

      case _ => usage()
    }
  }
}
