package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.extract.Extractor
import graft.sources.TranscriptGen

/** Locks the physical-plan properties that matter at 100 TB: filter/column
  * pushdown into the parquet scan, broadcast strategy on dimension joins,
  * hash (not nested-loop) joins for the LSH bucket path, and a shuffle-free
  * narrow extraction stage. A regression here is a performance bug even if
  * results stay correct. */
class PlanRegressionSpec extends AnyFunSuite {
  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    val spark = SparkTestSession.get
    SparkEntry.queries(name)(spark, sf).queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
  }

  test("s1: range predicates reach the parquet scan; schema pruned") {
    val p = plan("s1_scan_project")
    assert(p.contains("PushedFilters") && p.contains("GreaterThanOrEqual(l_shipdate"))
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_partkey:bigint," +
      "l_linenumber:int,l_quantity:double,l_shipdate:timestamp"))
    assert(!p.contains("l_extendedprice"), "scan reads more columns than projected")
  }

  test("j1: dimension join is a broadcast hash join, never sort-merge") {
    val p = plan("j1_label_broadcast_join")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("kg_extract_mentions: dictionary join broadcasts; scan pruned to (doc_id, text)") {
    val p = plan("kg_extract_mentions")
    assert(p.contains("BroadcastHashJoin"))
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"))
  }

  test("sparql_lang_filter: the lang tag condition reaches the parquet scan " +
       "as a pushed filter") {
    val p = plan("sparql_lang_filter")
    // lang(?t)="fr" compiles into the title pattern, whose `ol` column is
    // documents.lang under the projection — Catalyst must push the equality
    // through to the scan (so at 100 TB only fr-stamped row groups survive
    // the scan's filter, not a post-join residual)
    assert(p.contains("EqualTo(lang,fr)"),
      s"ol equality must land in PushedFilters:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
  }

  test("sparql_numeric_filter: numeric comparison stays at the scan — no " +
       "join, no shuffle before the filter") {
    val p = plan("sparql_numeric_filter")
    // the dt-membership + cast comparison compile into the ONE pattern
    // binding ?n: the frame derivation is a projection over documents, so
    // the whole thing must stay a single narrow scan+filter (at 100 TB the
    // numeric filter prunes before anything widens)
    assert(!p.contains("Join") && !p.contains("Exchange hashpartitioning"),
      s"numeric filter must not introduce a join/shuffle:\n$p")
    assert(p.toLowerCase.contains("cast"),
      s"value-space comparison must appear in the plan:\n$p")
  }

  test("sparql_agg_sum: proven-integer SUM is ONE hash aggregate with a " +
       "map-side partial, joined via hash joins only") {
    val p = plan("sparql_agg_sum")
    assert(p.contains("HashAggregate"))
    assert(p.contains("partial_sum") || p.contains("Partial"),
      s"SUM must partial-aggregate map-side:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
    assert(!p.contains("SortAggregate"),
      s"SUM over bigint must stay a hash aggregate:\n$p")
  }

  test("sparql_union_join: distributed union join is hash joins over pruned " +
       "scans, never a nested loop") {
    val p = plan("sparql_union_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
    assert(p.contains("Union"), "the distributed form union-alls the per-branch joins")
  }

  test("ann_lsh_buckets: bucket join is hash-based, not a cartesian product") {
    val p = plan("ann_lsh_buckets")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("dd_winnow_overlap: fingerprint pair join is hash-based, never a " +
       "cartesian product; 0-mod-p selection runs below every shuffle") {
    val p = plan("dd_winnow_overlap")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    // the % p = 0 selection must run map-side so only ~1/p of token
    // positions are ever shuffled: the FilterExec carrying it must have no
    // Exchange BELOW it in the physical tree
    val spark = SparkTestSession.get
    val wrapped = SparkEntry.queries("dd_winnow_overlap")(spark, sf)
      .queryExecution.executedPlan
    // AQE wraps the real tree; collect() does not descend through it
    val phys = wrapped match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case other => other
    }
    // r6: the selection moved from a FilterExec over exploded rows into a
    // row-local array `filter` inside the projection that BUILDS the
    // fingerprint array (before the explode) — a strictly earlier position.
    // Accept either carrier; the invariant (no Exchange below it) is the
    // same.
    val selNodes = phys.collect {
      case n: org.apache.spark.sql.execution.SparkPlan
        if n.expressions.exists(_.toString.contains("% 8")) => n
    }
    assert(selNodes.nonEmpty, "0-mod-p selection missing from the plan")
    selNodes.foreach { f =>
      val shufflesBelow = f.collect {
        // a ROUND-ROBIN repartition of the raw doc rows is allowed below
        // the selection: it carries whole docs (the §2.5 input-layout fix
        // for a sub-split-size file), not fingerprint positions; what the
        // lock forbids is a KEYED exchange of positions before selection
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
          if !e.outputPartitioning.toString.contains("RoundRobin") => e
      }
      assert(shufflesBelow.isEmpty,
        "selection sits above a keyed shuffle — positions are exchanged " +
          "before being down-selected")
    }
  }

  test("kg_link_predict / kg_weighted_paths: wedge self-join, edge anti-join " +
       "and per-round relaxation are all hash-based, never a nested loop") {
    for (q <- Seq("kg_link_predict", "kg_weighted_paths")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian product")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q has a nested loop")
    }
  }

  test("kg_walks / kg_transitive_pred / kg_rel_pairs: every per-step or " +
       "per-round join is hash-based, never a nested loop; rel-pairs scan " +
       "is pruned to (doc_id, text)") {
    for (q <- Seq("kg_walks", "kg_transitive_pred", "kg_rel_pairs")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian product")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q has a nested loop")
    }
    val p = plan("kg_rel_pairs")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      "rel-pairs reads more of documents than (doc_id, text)")
  }

  test("sparql_*: every compiled join is hash-based — BGP chains, the " +
       "OPTIONAL/!BOUND anti-join, the DESCRIBE semi-join and the " +
       "reference template's redundant-clause gate included") {
    for (q <- Seq("sparql_select_bgp", "sparql_construct_sync",
                  "sparql_sync_query", "sparql_describe", "sparql_values_bind",
                  "sparql_not_exists", "sparql_minus", "sparql_path_closure",
                  "sparql_path_star", "sparql_graph_path")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian product")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q has a nested loop")
    }
  }

  test("dd_minhash_lsh: banded candidate join and verification are hash joins, " +
       "never a cartesian product") {
    val p = plan("dd_minhash_lsh")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    // verification must be fed by the candidate-doc semi-join, not the full
    // shingle table
    assert(p.contains("LeftSemi"), "candidate semi-join missing from the plan")
  }

  test("kg_entity_cooccur: conv-keyed self-join is hash-based, never a " +
       "cartesian product; dictionary broadcasts") {
    val p = plan("kg_entity_cooccur")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("BroadcastHashJoin"))
  }

  test("kg_triangles: wedge build, closure semi-join and degree joins are " +
       "all hash-based, never a cartesian product") {
    val p = plan("kg_triangles")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("LeftSemi"), "triangle closure must be a semi-join")
  }

  test("kg_pagerank: per-iteration joins are hash/merge, never nested-loop") {
    val p = plan("kg_pagerank")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("kg_label_prop / kg_kcore / kg_bfs_hops: every per-iteration join is " +
       "hash-based, never a nested loop") {
    for (q <- Seq("kg_label_prop", "kg_kcore", "kg_bfs_hops")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian product")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q has a nested loop join")
    }
  }

  test("j7_range_bucket_join: interval bucketing keeps the range join a " +
       "broadcast HASH join — the theta formulation would be a nested loop") {
    val p = plan("j7_range_bucket_join")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("ta_stratified_sample: scan prunes to (doc_id, lang) — payload text " +
       "is never read; rate map broadcasts") {
    val p = plan("ta_stratified_sample")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,lang:string>"))
    assert(!p.contains("text:string"), "sampling must not scan the text column")
    assert(p.contains("BroadcastHashJoin"))
  }

  test("sync support read prunes to the changed buckets only") {
    val spark = SparkTestSession.get
    import spark.implicits._
    val dir = TempDirs("prune-")
    val t = new graft.io.TableCommitter(dir)
    val df = (0 until 64).map(i => (i, s"v$i", i % 8)).toDF("k", "v", "bucket")
    t.stagePartitioned(df, "r1")
    t.publishBuckets("r1", (0 until 8).toSet)
    val pruned = t.read(spark).get
      .filter(org.apache.spark.sql.functions.col("bucket").isin(2, 5))
    // partition pruning: the executed scan's selected partitions cover only
    // the 2 matching bucket dirs of 8 (inputFiles is pre-pruning, so inspect
    // the physical scan node)
    val scan = pruned.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.getOrElse(fail("no file scan in the plan"))
    val files = scan.selectedPartitions.toPartitionArray
      .map(_.filePath.toString)
    assert(files.nonEmpty && files.forall(f =>
      f.contains("bucket=2") || f.contains("bucket=5")),
      s"scan reads non-matching buckets: ${files.mkString(",")}")
    assert(pruned.queryExecution.executedPlan.toString.contains("PartitionFilters"))
  }

  test("kg_conflicts / kg_negative_samples: dictionary joins broadcast; the " +
       "anti-join is hash-based; no cartesian product (the negative-sampling " +
       "k-expansion is a deliberate 2-row broadcast loop, not a data join)") {
    val pc = plan("kg_conflicts")
    assert(pc.contains("BroadcastHashJoin") && !pc.contains("CartesianProduct"))
    val pn = plan("kg_negative_samples")
    assert(!pn.contains("CartesianProduct"))
    assert(pn.contains("BroadcastHashJoin"))
    assert(pn.contains("LeftAnti"), "true-edge filter must be an anti-join")
  }

  test("ta_pii_redact / ta_chunk_overlap: pure per-row transforms — no hash " +
       "shuffle anywhere (only the presentation sort's range exchange)") {
    for (q <- Seq("ta_pii_redact", "ta_chunk_overlap")) {
      val p = plan(q)
      assert(!p.contains("Arguments: hashpartitioning"),
        s"$q shuffles a narrow transform")
      assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
        s"$q reads more than (doc_id, text)")
    }
  }

  test("ta_sft_pairs / ta_tool_transitions / ta_seq_pack: conv-keyed window " +
       "and joins stay hash-based, never a nested loop") {
    for (q <- Seq("ta_sft_pairs", "ta_tool_transitions", "ta_seq_pack")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian product")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q has a nested loop")
    }
    // packing: the post-window groupBy keys (conv_id, chunk_id) are
    // satisfied by the window's conv_id partitioning — Catalyst must not
    // insert a second aggregate exchange
    // formatted mode lists each Exchange's partitioning on its detail line
    val p = plan("ta_seq_pack")
    val hashEx = "Arguments: hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 1, s"ta_seq_pack has $hashEx hash exchanges, want 1:\n$p")
  }

  test("ta_decontaminate: benchmark membership filters inside the narrow " +
       "transform — the exploded stream is hit-only before any shuffle") {
    val p = plan("ta_decontaminate")
    assert(!p.contains("CartesianProduct"))
    // the explode input must already carry the array_contains filter
    assert(p.contains("array_contains"), "membership filter missing")
    val spark = SparkTestSession.get
    val wrapped = SparkEntry.queries("ta_decontaminate")(spark, sf)
      .queryExecution.executedPlan
    val phys = wrapped match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case other => other
    }
    val gens = phys.collect {
      case g: org.apache.spark.sql.execution.GenerateExec => g
    }
    assert(gens.nonEmpty, "no explode in the plan")
    gens.foreach { g =>
      assert(g.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
      }.isEmpty, "explode sits above a shuffle")
      assert(g.generator.toString.contains("array_contains") ||
        g.child.toString.contains("array_contains"),
        "explode input is not membership-filtered")
    }
  }

  test("ann_sq_int8: query side broadcasts; no cartesian or nested-loop join") {
    val p = plan("ann_sq_int8")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("SortMergeJoin"))
    // candidate side scans only (vec_id, embedding) — label never read
    assert(p.contains("ReadSchema: struct<vec_id:bigint,embedding:array<float>>"))
  }

  test("kg_schema_profile / kg_edge_lifespan: dictionary broadcasts, agg-only " +
       "shapes; lifespan scan prunes to (ts, user_id, event_type)") {
    val sp = plan("kg_schema_profile")
    assert(sp.contains("BroadcastHashJoin"))
    assert(!sp.contains("CartesianProduct"))
    assert(sp.contains("ReadSchema: struct<doc_id:bigint,text:string>"))
    val lp = plan("kg_edge_lifespan")
    assert(!lp.contains("Join"), "lifespan is a single-table aggregation")
    assert(lp.contains("ReadSchema: struct<ts:timestamp_ntz,user_id:bigint,event_type:string>"))
  }

  test("extraction stage is narrow: no Exchange below the mapPartitions kernel") {
    val spark = SparkTestSession.get
    import spark.implicits._
    val fx = TranscriptGen.generate(nConv = 3, nEnt = 5, hotFactor = 1)
    val p = Extractor.extractEncoded(fx.turns.toDS(), fx.catalog, fx.markers, Map.empty)
      ._1.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"extraction plan has a shuffle:\n$p")
    // only the 3 needed columns are deserialized into the kernel
    assert(p.contains("conv_id") && p.contains("text"))
    assert(!p.contains("tool#"), "kernel deserializes unused columns")
  }

  test("supports decode late: the count exchange hash-partitions on codes, " +
       "with and without detectLanguage") {
    val spark = SparkTestSession.get
    import spark.implicits._
    val fx = TranscriptGen.generate(nConv = 3, nEnt = 5, hotFactor = 1)
    val onCodes = """hashpartitioning\(conv_id#\d+, subjC#\d+, predC#\d+, objC#\d+""".r
    val onStrings = """hashpartitioning\(conv_id#\d+, subj#\d+, pred#\d+, obj#\d+""".r
    for (cfg <- Seq(graft.config.PipelineConfig(),
                    graft.config.PipelineConfig(detectLanguage = true))) {
      val p = graft.pipeline.KgPipeline.supports(cfg, fx.turns.toDS(), fx.catalog,
        fx.markers).queryExecution.executedPlan.toString
      assert(onCodes.findFirstIn(p).isDefined, s"$cfg: count not on codes:\n$p")
      assert(onStrings.findFirstIn(p).isEmpty, s"$cfg: strings shuffled:\n$p")
    }
  }
}
