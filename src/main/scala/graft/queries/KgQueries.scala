package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.canon.ConnectedComponents
import graft.text.TextNorm

/** The KG-construction pipeline stages (north rule: triple extraction ->
  * entity linking -> canonicalization -> materialization) expressed as
  * driver-verifiable queries. The transcript shape (conv_id, turn_idx, role,
  * text) is derived deterministically from the `documents` table so the
  * DuckDB oracle can derive the identical input — the full synthetic
  * `Turn`-typed pipeline (with ts/tool, golden-fixture P/R scoring, resume)
  * lives in graft.pipeline and is exercised by `sbt test`.
  */
object KgQueries {

  /** Deterministic transcript view over documents:
    * conv_id = conv-%04d(doc_id mod 50), turn_idx = doc_id div 50. */
  private[queries] def turns(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      concat(lit("conv-"), lpad((col("doc_id") % 50).cast("string"), 4, "0")).as("conv_id"),
      floor(col("doc_id") / 50).cast("bigint").as("turn_idx"),
      when(col("doc_id") % 3 === 0, "user")
        .when(col("doc_id") % 3 === 1, "assistant")
        .otherwise("tool").as("role"),
      col("doc_id"), col("text"), col("lang"))

  private[queries] val turnsSql: String =
    """SELECT 'conv-' || lpad(CAST(doc_id % 50 AS VARCHAR), 4, '0') AS conv_id,
      |       doc_id // 50 AS turn_idx,
      |       CASE doc_id % 3 WHEN 0 THEN 'user' WHEN 1 THEN 'assistant' ELSE 'tool' END AS role,
      |       doc_id, text, lang
      |FROM documents""".stripMargin

  /** Extraction dictionary: surface term -> predicate URI (graft analogue of
    * the proplist/normProp river config, Indexer.java:350-463). */
  private val termPreds = Seq(
    ("spark", "urn:p:tech"), ("table", "urn:p:artifact"), ("query", "urn:p:op"),
    ("join", "urn:p:op"), ("window", "urn:p:op"), ("stream", "urn:p:artifact"),
    ("vector", "urn:p:artifact"), ("hash", "urn:p:op"), ("merge", "urn:p:op"),
    ("filter", "urn:p:op"))

  private val termPredsSql: String =
    termPreds.map { case (t, p) => s"('$t','$p')" }.mkString(", ")

  /** Linking dictionary: alias -> (entity, rank); deliberate alias collisions
    * force the first-match-wins priority (W3, ESNormalizer.java:417-455). */
  private val aliasEntities = Seq(
    ("spark", "urn:ent:00001", 1), ("table", "urn:ent:00002", 1),
    ("table", "urn:ent:00012", 2), ("query", "urn:ent:00003", 1),
    ("vector", "urn:ent:00004", 1), ("vector", "urn:ent:00014", 2),
    ("stream", "urn:ent:00005", 1), ("hash", "urn:ent:00006", 1))

  private val aliasEntitiesSql: String =
    aliasEntities.map { case (a, e, r) => s"('$a','$e',$r)" }.mkString(", ")

  /** Entity contexts for Jaccard-scored disambiguation (J1 + TF-IDF/Jaccard
    * scoring per the north star). */
  private val entityCtx = Seq(
    ("urn:ent:00001", "spark fast batch engine data"),
    ("urn:ent:00002", "table row column part storage"),
    ("urn:ent:00003", "query filter join plan scan"),
    ("urn:ent:00004", "vector embedding hash data"),
    ("urn:ent:00005", "stream window batch data"))

  private val entityCtxSql: String =
    entityCtx.map { case (e, c) => s"('$e','$c')" }.mkString(", ")

  /** MULTI-token linking dictionary (round-4: the scored path must see
    * trie-length spans, not single tokens). Two deliberately ambiguous
    * bigram aliases whose rank-1 candidate has the WEAKER context, so only
    * contextual overlap can win — plus one unambiguous control. */
  /** Entity universe for negative sampling: dense 1-based index over the
    * distinct sorted entity ids. ONE derivation feeds both the DuckDB VALUES
    * list and the Spark broadcast frame — the hash-into-universe arithmetic
    * must agree byte-for-byte between the engines. */
  private val negUniverse: Seq[(String, Int)] =
    aliasEntities.map(_._2).distinct.sorted.zipWithIndex
      .map { case (e, i) => (e, i + 1) }

  private val mtAliasEntities = Seq(
    ("window join", "urn:ent:10001", 1), ("window join", "urn:ent:10002", 2),
    ("order sort", "urn:ent:10003", 1), ("order sort", "urn:ent:10004", 2),
    ("query filter", "urn:ent:10005", 1))

  private val mtAliasEntitiesSql: String =
    mtAliasEntities.map { case (a, e, r) => s"('$a','$e',$r)" }.mkString(", ")

  private val mtEntityCtx = Seq(
    ("urn:ent:10001", "join shuffle exchange broadcast plan"),
    ("urn:ent:10002", "window frame partition row order"),
    ("urn:ent:10003", "sort spill run external disk"),
    ("urn:ent:10004", "order ranking stable sequence key"),
    ("urn:ent:10005", "filter predicate pushdown scan"))

  private val mtEntityCtxSql: String =
    mtEntityCtx.map { case (e, c) => s"('$e','$c')" }.mkString(", ")

  /** Direct rdf:type assertions for the linked entities, and the
    * rdfs:subClassOf hierarchy they inherit through (kg_rdfs_closure). The
    * hierarchy has a 3-deep chain and a diamond-free fan-in so the closure
    * is non-trivial; one entity (00006) is deliberately untyped. */
  private val entityTypes = Seq(
    ("urn:ent:00001", "urn:c:engine"), ("urn:ent:00002", "urn:c:store"),
    ("urn:ent:00012", "urn:c:store"), ("urn:ent:00003", "urn:c:op"),
    ("urn:ent:00004", "urn:c:embedding"), ("urn:ent:00014", "urn:c:embedding"),
    ("urn:ent:00005", "urn:c:stream"))

  private val classHier = Seq(
    ("urn:c:engine", "urn:c:software"), ("urn:c:store", "urn:c:software"),
    ("urn:c:software", "urn:c:thing"), ("urn:c:embedding", "urn:c:artifact"),
    ("urn:c:artifact", "urn:c:thing"), ("urn:c:stream", "urn:c:artifact"))

  /** Driver-side rdfs:subClassOf closure over a config-sized hierarchy
    * (kg_rdfs_closure): BFS with a visited set, so it matches a recursive
    * CTE's semantics exactly — a MULTI-parent class keeps every ancestor
    * path (a naive toMap lookup would silently keep one parent per class)
    * and a cyclic hierarchy terminates (the CTE's UNION-dedup analogue)
    * instead of hanging the driver. Exposed for the differential spec. */
  private[graft] def ancestorClosure(hier: Seq[(String, String)], c: String): Seq[String] = {
    val direct: Map[String, Seq[String]] =
      hier.groupBy(_._1).map { case (k, ps) => k -> ps.map(_._2) }
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    var frontier = direct.getOrElse(c, Seq.empty).distinct
    while (frontier.nonEmpty) {
      val fresh = frontier.filterNot(seen.contains)
      fresh.foreach(seen += _)
      frontier = fresh.flatMap(p => direct.getOrElse(p, Seq.empty)).distinct
    }
    seen.toSeq
  }

  /** Rank-1 winner per alias (first-match-wins, W3), broadcast — shared by
    * every query that links at alias granularity without per-doc context. */
  private def rankWinners(s: SparkSession): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy("alias").orderBy(col("rnk"), col("entity_id"))
    broadcast(aliasEntities.toDF("alias", "entity_id", "rnk")
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select("alias", "entity_id"))
  }

  val all: Map[String, Q] = Map(

    // ---- stable turn ordering + cross-turn context (north-rule invariant:
    // Window over (conv_id, turn_idx); lag gives coreference context)
    "kg_turn_ordering" -> Q(
      s"""WITH t AS ($turnsSql)
         |SELECT conv_id, turn_idx, role,
         |       lag(doc_id) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev_doc
         |FROM t ORDER BY conv_id, turn_idx""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("conv_id").orderBy("turn_idx")
      turns(s, d)
        .withColumn("prev_doc", lag(col("doc_id"), 1).over(w))
        .select("conv_id", "turn_idx", "role", "prev_doc")
        .orderBy("conv_id", "turn_idx")
    },

    // ---- cross-turn coreference through the REAL kernel + resolver
    // (Extractor.extractEncoded with emitContext=true, decoded ->
    // CorefResolver.resolve): a marker with a right-hand mention but nothing
    // to its left takes the most recent mention from EARLIER turns of the
    // conversation (north rule: cross-turn context under stable
    // (conv_id, turn_idx) ordering).
    // The oracle replays the kernel's marker-adjacency scan with positional
    // windows; parseForJson is the identity on this corpus (plain
    // space-separated words), which the trip-wire queries (p5) cover
    // separately.
    "kg_coref_resolve" -> Q(
      s"""WITH t AS ($turnsSql),
         |pos AS (
         |  SELECT conv_id, turn_idx, l[i] AS tok, i
         |  FROM (SELECT conv_id, turn_idx, l, unnest(range(1, len(l) + 1)) AS i
         |        FROM (SELECT conv_id, turn_idx,
         |                     list_filter(string_split(text, ' '), x -> length(x) > 0) AS l
         |              FROM t))),
         |aliases(alias, entity) AS (VALUES
         |  ('spark','urn:ent:00001'), ('table','urn:ent:00002'), ('query','urn:ent:00003'),
         |  ('vector','urn:ent:00004'), ('stream','urn:ent:00005'), ('hash','urn:ent:00006')),
         |markers(term, mpred) AS (VALUES
         |  ('join','urn:p:op'), ('merge','urn:p:op'), ('scan','urn:p:op')),
         |seq AS (
         |  SELECT p.conv_id, p.turn_idx, p.i, a.entity,
         |         CASE WHEN a.entity IS NULL THEN m.mpred END AS mpred,
         |         last_value(a.entity IGNORE NULLS) OVER
         |           (PARTITION BY p.conv_id, p.turn_idx ORDER BY p.i
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lent,
         |         first_value(a.entity IGNORE NULLS) OVER
         |           (PARTITION BY p.conv_id, p.turn_idx ORDER BY p.i
         |            ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS rent
         |  FROM pos p
         |  LEFT JOIN aliases a ON p.tok = a.alias
         |  LEFT JOIN markers m ON p.tok = m.term),
         |triples AS (
         |  SELECT conv_id, turn_idx, lent AS subj, mpred AS pred, rent AS obj
         |  FROM seq WHERE mpred IS NOT NULL AND lent IS NOT NULL AND rent IS NOT NULL),
         |orphans AS (
         |  SELECT conv_id, turn_idx, mpred AS pred, rent AS obj
         |  FROM seq WHERE mpred IS NOT NULL AND lent IS NULL AND rent IS NOT NULL),
         |lastment AS (
         |  SELECT conv_id, turn_idx, arg_max(entity, i) AS lastent
         |  FROM seq WHERE entity IS NOT NULL GROUP BY 1, 2),
         |turnctx AS (
         |  SELECT tt.conv_id, tt.turn_idx,
         |         last_value(lm.lastent IGNORE NULLS) OVER
         |           (PARTITION BY tt.conv_id ORDER BY tt.turn_idx
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_ent
         |  FROM (SELECT DISTINCT conv_id, turn_idx FROM t) tt
         |  LEFT JOIN lastment lm ON tt.conv_id = lm.conv_id AND tt.turn_idx = lm.turn_idx),
         |resolved AS (
         |  SELECT o.conv_id, o.turn_idx, tc.prev_ent AS subj, o.pred, o.obj
         |  FROM orphans o JOIN turnctx tc
         |    ON o.conv_id = tc.conv_id AND o.turn_idx = tc.turn_idx
         |  WHERE tc.prev_ent IS NOT NULL),
         |mentions AS (
         |  SELECT DISTINCT conv_id, turn_idx,
         |         'urn:conv:' || conv_id AS subj, 'urn:p:mentions' AS pred, entity AS obj
         |  FROM seq WHERE entity IS NOT NULL),
         |unioned AS (
         |  SELECT * FROM triples UNION ALL SELECT * FROM resolved
         |  UNION ALL SELECT * FROM mentions)
         |SELECT conv_id, turn_idx, subj, pred, obj FROM unioned
         |ORDER BY conv_id, turn_idx, subj, pred, obj""".stripMargin) { (s, d) =>
      import s.implicits._
      import graft.schema.{CatalogEntry, Turn}
      val t = turns(s, d).select(
          col("conv_id"), col("turn_idx").cast("int").as("turn_idx"),
          col("role"), col("text"), lit("").as("tool"),
          lit(null).cast("timestamp").as("ts"))
        .as[Turn]
      val catalog = aliasEntities.map { case (a, e, r) => CatalogEntry(e, a, "", r) }
      val markers = Map("join" -> "urn:p:op", "merge" -> "urn:p:op",
        "scan" -> "urn:p:op")
      val raw = graft.extract.Extractor.decode(graft.extract.Extractor
        .extractEncoded(t, catalog, markers, Map.empty, emitContext = true))
      graft.extract.CorefResolver.resolve(raw)
        .select(col("conv_id"), col("turn_idx").cast("bigint").as("turn_idx"),
          col("subj"), col("pred"), col("obj"))
        .orderBy("conv_id", "turn_idx", "subj", "pred", "obj")
    },

    // ---- mention detection: tokenize turns, equality-join tokens against a
    // broadcast dictionary (NOT a contains() theta-join — stays a hash join
    // at any scale)
    "kg_extract_mentions" -> Q(
      s"""WITH t AS ($turnsSql),
         |toks AS (SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\\s+'), x -> length(x) > 0)) AS tok FROM t),
         |dict(term, pred) AS (VALUES $termPredsSql)
         |SELECT 'urn:doc:' || CAST(doc_id AS VARCHAR) AS subj, pred, tok AS obj, count(*) AS n
         |FROM toks JOIN dict ON toks.tok = dict.term
         |WHERE length(tok) > 0
         |GROUP BY 1, 2, 3 ORDER BY subj, pred, obj""".stripMargin) { (s, d) =>
      import s.implicits._
      val dict = broadcast(termPreds.toDF("term", "pred"))
      turns(s, d)
        .select(col("doc_id"), explode(TextNorm.tokensCol(col("text"))).as("tok"))
        .join(dict, col("tok") === col("term"))
        .groupBy(
          concat(lit("urn:doc:"), col("doc_id").cast("string")).as("subj"),
          col("pred"), col("tok").as("obj"))
        .agg(count(lit(1)).as("n"))
        .orderBy("subj", "pred", "obj")
    },

    // ---- entity linking, first-match-wins: alias collisions resolved by
    // rank via row_number over a per-(doc,alias) window (J1 + W3)
    "kg_entity_link_rank" -> Q(
      s"""WITH t AS ($turnsSql),
         |toks AS (SELECT DISTINCT doc_id, unnest(list_filter(string_split_regex(lower(text), '\\s+'), x -> length(x) > 0)) AS tok FROM t),
         |dict(alias, entity_id, rnk) AS (VALUES $aliasEntitiesSql),
         |ranked AS (
         |  SELECT doc_id, alias, entity_id,
         |         row_number() OVER (PARTITION BY doc_id, alias ORDER BY rnk, entity_id) AS rn
         |  FROM toks JOIN dict ON toks.tok = dict.alias)
         |SELECT doc_id, alias, entity_id FROM ranked WHERE rn = 1
         |ORDER BY doc_id, alias""".stripMargin) { (s, d) =>
      import s.implicits._
      val dict = broadcast(aliasEntities.toDF("alias", "entity_id", "rnk"))
      // restrict to dictionary terms BEFORE the (doc, tok) distinct: the
      // alias dictionary is a compile-time literal, so the equality join
      // can be pre-applied as an isin filter below the exchange — the
      // distinct then dedups only matching tokens (~2% of positions)
      // instead of the whole token stream (guide §2.3: shuffle fewer bytes)
      val toks = turns(s, d)
        .select(col("doc_id"), explode(TextNorm.tokensCol(col("text"))).as("tok"))
        .filter(col("tok").isin(aliasEntities.map(_._1).distinct: _*))
        .distinct()
      val w = Window.partitionBy("doc_id", "alias").orderBy(col("rnk"), col("entity_id"))
      toks.join(dict, col("tok") === col("alias"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("doc_id", "alias", "entity_id")
        .orderBy("doc_id", "alias")
    },

    // ---- entity linking, Jaccard-scored: token-set overlap between turn and
    // entity context; top-1 per turn (score desc, entity asc). Counts are
    // exact ints, the ratio is a single double division — bit-identical in
    // both engines.
    "kg_link_jaccard" -> Q(
      s"""WITH t AS ($turnsSql),
         |dtoks AS (SELECT DISTINCT doc_id, unnest(list_filter(string_split_regex(lower(text), '\\s+'), x -> length(x) > 0)) AS tok FROM t),
         |ctx(entity_id, ctx_text) AS (VALUES $entityCtxSql),
         |ctoks AS (SELECT DISTINCT entity_id, unnest(list_filter(string_split_regex(lower(ctx_text), '\\s+'), x -> length(x) > 0)) AS tok FROM ctx),
         |dsize AS (SELECT doc_id, count(*) AS dn FROM dtoks GROUP BY doc_id),
         |csize AS (SELECT entity_id, count(*) AS cn FROM ctoks GROUP BY entity_id),
         |inter AS (SELECT d.doc_id, c.entity_id, count(*) AS i
         |          FROM dtoks d JOIN ctoks c ON d.tok = c.tok GROUP BY 1, 2),
         |scored AS (
         |  SELECT i.doc_id, i.entity_id,
         |         CAST(i.i AS DOUBLE) / (ds.dn + cs.cn - i.i) AS score,
         |         row_number() OVER (PARTITION BY i.doc_id
         |           ORDER BY CAST(i.i AS DOUBLE) / (ds.dn + cs.cn - i.i) DESC, i.entity_id) AS rn
         |  FROM inter i JOIN dsize ds ON i.doc_id = ds.doc_id
         |               JOIN csize cs ON i.entity_id = cs.entity_id)
         |SELECT doc_id, entity_id, score FROM scored WHERE rn = 1
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      import s.implicits._
      // NOTE r6: splitting this into a countDistinct for dn plus an
      // isin-pre-filtered distinct for the overlap (as kg_entity_link_rank
      // does) was A/B-measured SLOWER — dn needs the full-vocabulary
      // distinct either way, so the split only duplicated the wide token
      // aggregation. The shared distinct stays deliberate.
      val dtoks = turns(s, d)
        .select(col("doc_id"), explode(TextNorm.tokensCol(col("text"))).as("tok"))
        .distinct()
      val ctoks = entityCtx.toDF("entity_id", "ctx_text")
        .select(col("entity_id"), explode(TextNorm.tokensCol(col("ctx_text"))).as("tok"))
        .distinct()
      val dsize = dtoks.groupBy("doc_id").agg(count(lit(1)).as("dn"))
      val csize = broadcast(ctoks.groupBy("entity_id").agg(count(lit(1)).as("cn")))
      val inter = dtoks.join(broadcast(ctoks), "tok")
        .groupBy("doc_id", "entity_id").agg(count(lit(1)).as("i"))
      val scored = inter
        .join(dsize, "doc_id").join(csize, "entity_id")
        .withColumn("score", col("i").cast("double") / (col("dn") + col("cn") - col("i")))
      val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("entity_id"))
      scored.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("doc_id", "entity_id", "score")
        .orderBy("doc_id")
    },

    // ---- entity linking over MULTI-token alias spans (round-4: the scored
    // path sees trie-length mentions, not single tokens): bigram mention
    // detection + context-overlap disambiguation, top-1 per (doc, alias).
    // Overlap counts are exact ints, so the result is bit-identical in both
    // engines. Plan shape at scale: bigram generation is a narrow per-row
    // transform (no shuffle); dict and context tables broadcast; the only
    // wide ops are the doc-token/bigram DISTINCTs and the map-side-
    // combinable overlap aggregation — same shape as kg_link_jaccard.
    "kg_link_multitoken" -> Q(
      s"""WITH t AS ($turnsSql),
         |toksl AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), x -> length(x) > 0) AS l FROM t),
         |dtoks AS (SELECT DISTINCT doc_id, unnest(l) AS tok FROM toksl),
         |bigrams AS (SELECT DISTINCT doc_id, l[i] || ' ' || l[i+1] AS bg
         |            FROM (SELECT doc_id, l, unnest(range(1, len(l))) AS i FROM toksl)),
         |dict(alias, entity_id, rnk) AS (VALUES $mtAliasEntitiesSql),
         |ctx(entity_id, ctx_text) AS (VALUES $mtEntityCtxSql),
         |ctoks AS (SELECT DISTINCT entity_id, unnest(list_filter(string_split_regex(lower(ctx_text), '\\s+'), x -> length(x) > 0)) AS tok FROM ctx),
         |inter AS (SELECT d.doc_id, c.entity_id, count(*) AS i
         |          FROM dtoks d JOIN ctoks c ON d.tok = c.tok GROUP BY 1, 2),
         |mentions AS (SELECT DISTINCT b.doc_id, dd.alias, dd.entity_id, dd.rnk
         |             FROM bigrams b JOIN dict dd ON b.bg = dd.alias),
         |scored AS (
         |  SELECT m.doc_id, m.alias, m.entity_id,
         |         CAST(coalesce(i.i, 0) AS BIGINT) AS ov,
         |         row_number() OVER (PARTITION BY m.doc_id, m.alias
         |           ORDER BY coalesce(i.i, 0) DESC, m.rnk, m.entity_id) AS rn
         |  FROM mentions m LEFT JOIN inter i
         |    ON m.doc_id = i.doc_id AND m.entity_id = i.entity_id)
         |SELECT doc_id, alias, entity_id, ov FROM scored WHERE rn = 1
         |ORDER BY doc_id, alias""".stripMargin) { (s, d) =>
      import s.implicits._
      val dict = broadcast(mtAliasEntities.toDF("alias", "entity_id", "rnk"))
      val toksl = turns(s, d).select(col("doc_id"), TextNorm.tokensCol(col("text")).as("l"))
      // both distincts dedup only rows that can join: the context-token and
      // bigram-alias dictionaries are compile-time literals, so the isin
      // pre-filters run below the exchanges (guide §2.3; neither count
      // feeds a full-vocabulary size here, unlike kg_link_jaccard's dn)
      val mtCtxTerms = mtEntityCtx
        .flatMap(_._2.toLowerCase.split("\\s+")).filter(_.nonEmpty).distinct
      val dtoks = toksl.select(col("doc_id"), explode(col("l")).as("tok"))
        .filter(col("tok").isin(mtCtxTerms: _*))
        .distinct()
      val bigrams = toksl
        .select(col("doc_id"), explode(TextNorm.bigramsCol(col("l"))).as("bg"))
        .filter(col("bg").isin(mtAliasEntities.map(_._1).distinct: _*))
        .distinct()
      val ctoks = mtEntityCtx.toDF("entity_id", "ctx_text")
        .select(col("entity_id"), explode(TextNorm.tokensCol(col("ctx_text"))).as("tok"))
        .distinct()
      val inter = dtoks.join(broadcast(ctoks), "tok")
        .groupBy("doc_id", "entity_id").agg(count(lit(1)).as("i"))
      val mentions = bigrams.join(dict, col("bg") === col("alias"))
        .select("doc_id", "alias", "entity_id", "rnk").distinct()
      val scored = mentions.join(inter, Seq("doc_id", "entity_id"), "left")
        .withColumn("ov", coalesce(col("i"), lit(0L)))
      val w = Window.partitionBy("doc_id", "alias")
        .orderBy(col("ov").desc, col("rnk"), col("entity_id"))
      scored.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("doc_id", "alias", "entity_id", "ov")
        .orderBy("doc_id", "alias")
    },

    // ---- canonicalization: connected components over a co-occurrence graph
    // (users sharing an (event_type, day) bucket), large-star/small-star on
    // the Spark side, transitive closure via recursive CTE in the oracle
    "kg_canonicalize_cc" -> Q(
      """WITH RECURSIVE
        |buckets AS (SELECT event_type, date_trunc('day', ts) AS d, min(user_id) AS mn
        |            FROM events GROUP BY 1, 2),
        |edges AS (SELECT DISTINCT e.user_id AS u, b.mn AS v
        |          FROM events e JOIN buckets b
        |            ON e.event_type = b.event_type AND date_trunc('day', e.ts) = b.d
        |          WHERE e.user_id <> b.mn),
        |sym AS (SELECT u, v FROM edges UNION SELECT v AS u, u AS v FROM edges),
        |nodes AS (SELECT DISTINCT u AS id FROM sym),
        |reach(id, r) AS (
        |  SELECT id, id FROM nodes
        |  UNION
        |  SELECT reach.id, sym.v FROM reach JOIN sym ON reach.r = sym.u)
        |SELECT id, min(r) AS component FROM reach GROUP BY id ORDER BY id""".stripMargin) { (s, d) =>
      // bucket-min attach as a WINDOW over the bucket key — one exchange,
      // no groupBy+join pair (guide §2.4; same idiom as the CC round body)
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("event_type"), date_trunc("day", col("ts")).as("day"))
      val edges = ev
        .withColumn("mn", min(col("user_id"))
          .over(Window.partitionBy("event_type", "day")))
        .filter(col("user_id") =!= col("mn"))
        .select(col("user_id").as("src"), col("mn").as("dst"))
        // r6: NO caller-side distinct here — the events co-occurrence rows
        // duplicate heavily per (user, bucket-min) and CC's own canonical
        // hi->lo distinct dedups them in its first exchange anyway; the
        // extra exchange measured 1.62 -> 1.11 s SLOWER kept (A/B min-of-5).
        // dd_dup_clusters keeps ITS distinct: star edges are near-unique
        // there, and the materialized stage's stats help AQE (same A/B).
      ConnectedComponents.run(edges)
        .orderBy("id")
    },

    // ---- graph analytics over the materialized KG: fixed-point PageRank
    // (3 iterations, damping 0.85) on a deterministic skewed doc-reference
    // graph. All arithmetic is BIGINT fixed-point (scale 1e12, per-edge
    // 85/100 integer damping) so the iteration is BIT-EXACT in both engines
    // — float PageRank sums are order-dependent and can never hash-match
    // across engines. Plan shape at scale: each iteration is one
    // shuffle-on-dst aggregation (map-side combinable longs) + one
    // node-sized left join; nothing driver-side but the node count.
    // The oracle casts the final rank back to BIGINT: DuckDB's sum(BIGINT)
    // widens to HUGEINT and the driver's value hash is type-sensitive, so
    // an un-cast projection mismatches even when the values are identical.
    "kg_pagerank" -> Q(
      """WITH n AS (SELECT count(*) AS cnt FROM documents),
        |edges AS (SELECT doc_id AS src, (doc_id * doc_id) % (SELECT cnt FROM n) AS dst
        |          FROM documents),
        |pr0 AS (SELECT doc_id AS id, 1000000000000 // (SELECT cnt FROM n) AS r
        |        FROM documents),
        |pr1 AS (SELECT d.doc_id AS id,
        |               (150000000000 // (SELECT cnt FROM n)) + coalesce(s.inr, 0) AS r
        |        FROM documents d
        |        LEFT JOIN (SELECT e.dst, sum((85 * p.r) // 100) AS inr
        |                   FROM edges e JOIN pr0 p ON e.src = p.id GROUP BY e.dst) s
        |          ON d.doc_id = s.dst),
        |pr2 AS (SELECT d.doc_id AS id,
        |               (150000000000 // (SELECT cnt FROM n)) + coalesce(s.inr, 0) AS r
        |        FROM documents d
        |        LEFT JOIN (SELECT e.dst, sum((85 * p.r) // 100) AS inr
        |                   FROM edges e JOIN pr1 p ON e.src = p.id GROUP BY e.dst) s
        |          ON d.doc_id = s.dst),
        |pr3 AS (SELECT d.doc_id AS id,
        |               (150000000000 // (SELECT cnt FROM n)) + coalesce(s.inr, 0) AS r
        |        FROM documents d
        |        LEFT JOIN (SELECT e.dst, sum((85 * p.r) // 100) AS inr
        |                   FROM edges e JOIN pr2 p ON e.src = p.id GROUP BY e.dst) s
        |          ON d.doc_id = s.dst)
        |SELECT 'urn:doc:' || CAST(id AS VARCHAR) AS node,
        |       CAST(r AS BIGINT) AS rank_fp
        |FROM pr3 ORDER BY rank_fp DESC, node LIMIT 20""".stripMargin) { (s, d) =>
      // cached: the count plus every iteration's node frame and edge
      // derivation read this one node-sized projection — uncached, the
      // final action would re-scan the source once per iteration level
      val docs = Tables.documents(s, d).select(col("doc_id")).persist()
      // node count: the one driver-side scalar (bounded O(1) result)
      val cnt = docs.count()
      val edges = docs.select(col("doc_id").as("src"),
        ((col("doc_id") * col("doc_id")) % cnt).as("dst"))
      val base = 150000000000L / cnt
      var pr = docs.select(col("doc_id").as("id"),
        lit(1000000000000L / cnt).as("r"))
      for (_ <- 1 to 3) {
        val contrib = edges.join(pr, col("src") === col("id"))
          .groupBy("dst").agg(sum(expr("(85 * r) div 100")).as("inr"))
        pr = docs.select(col("doc_id").as("id"))
          .join(contrib, col("id") === col("dst"), "left")
          .select(col("id"), (lit(base) + coalesce(col("inr"), lit(0L))).as("r"))
      }
      // materialize the 20-row result eagerly so the cached projection can
      // be RELEASED before returning — a persist left live would steal
      // storage memory from every later query in the session
      val out = pr
        .select(concat(lit("urn:doc:"), col("id").cast("string")).as("node"),
          col("r").as("rank_fp"))
        .orderBy(col("rank_fp").desc, col("node")).limit(20)
        .localCheckpoint(true)
      docs.unpersist()
      out
    },

    // ---- graph analytics: entity co-occurrence edges (entities mentioned
    // in the same conversation), the standard KG edge-derivation self-join.
    // Scale shape: mention sets are DISTINCT per conversation and bounded by
    // the (broadcast-sized) catalog, so the conv-keyed self-join does
    // O(k^2) work per conversation with small k — hot conversations cannot
    // blow it up, and the pair aggregation combines map-side.
    "kg_entity_cooccur" -> Q(
      s"""WITH t AS ($turnsSql),
         |toks AS (SELECT DISTINCT conv_id, unnest(list_filter(string_split_regex(lower(text), '\\s+'), x -> length(x) > 0)) AS tok FROM t),
         |dict(alias, entity_id, rnk) AS (VALUES $aliasEntitiesSql),
         |winners AS (
         |  SELECT alias, entity_id FROM (
         |    SELECT alias, entity_id,
         |           row_number() OVER (PARTITION BY alias ORDER BY rnk, entity_id) AS rn
         |    FROM dict) WHERE rn = 1),
         |ment AS (SELECT DISTINCT conv_id, entity_id
         |         FROM toks JOIN winners ON toks.tok = winners.alias)
         |SELECT a.entity_id AS e1, b.entity_id AS e2, count(*) AS n_convs
         |FROM ment a JOIN ment b
         |  ON a.conv_id = b.conv_id AND a.entity_id < b.entity_id
         |GROUP BY 1, 2 ORDER BY e1, e2""".stripMargin) { (s, d) =>
      val winners = rankWinners(s)
      val ment = turns(s, d)
        .select(col("conv_id"), explode(TextNorm.tokensCol(col("text"))).as("tok"))
        .join(winners, col("tok") === col("alias"))
        .select("conv_id", "entity_id").distinct()
      ment.alias("a").join(ment.alias("b"),
          col("a.conv_id") === col("b.conv_id") &&
            col("a.entity_id") < col("b.entity_id"))
        .groupBy(col("a.entity_id").as("e1"), col("b.entity_id").as("e2"))
        .agg(count(lit(1)).as("n_convs"))
        .orderBy("e1", "e2")
    },

    // ---- distant-supervision relation-extraction pairs: every turn that
    // mentions two distinct linked entities yields a (subj, pred, obj)
    // weakly-labeled training example — pred is the turn's strongest
    // predicate cue (deterministic min), the turn text ships as md5 so the
    // oracle never re-renders free text. The Mintz-style weak-labeling join
    // that turns a KG + corpus into relation-extraction training data (the
    // companion to kg_negative_samples / kg_walks on the ML-prep side).
    // Scale shape: one token explode feeds both broadcast dictionary joins;
    // the per-turn entity pair self-join is catalog-bounded per turn (the
    // mention set per doc is <= |catalog|), never corpus-quadratic; the
    // predicate pick is a map-side-combinable min on doc_id.
    "kg_rel_pairs" -> Q(
      s"""WITH t AS ($turnsSql),
         |toks AS (SELECT DISTINCT doc_id, unnest(list_filter(string_split_regex(lower(text), '\\s+'), x -> length(x) > 0)) AS tok FROM t),
         |preds(term, pred) AS (VALUES $termPredsSql),
         |dict(alias, entity_id, rnk) AS (VALUES $aliasEntitiesSql),
         |winners AS (
         |  SELECT alias, entity_id FROM (
         |    SELECT alias, entity_id,
         |           row_number() OVER (PARTITION BY alias ORDER BY rnk, entity_id) AS rn
         |    FROM dict) WHERE rn = 1),
         |ment AS (SELECT DISTINCT doc_id, entity_id
         |         FROM toks JOIN winners ON toks.tok = winners.alias),
         |pcue AS (SELECT doc_id, min(pred) AS pred
         |         FROM toks JOIN preds ON toks.tok = preds.term GROUP BY doc_id)
         |SELECT a.doc_id AS doc_id, a.entity_id AS subj, p.pred, b.entity_id AS obj,
         |       md5(t.text) AS text_md5
         |FROM ment a JOIN ment b ON a.doc_id = b.doc_id AND a.entity_id < b.entity_id
         |JOIN pcue p ON a.doc_id = p.doc_id
         |JOIN t ON a.doc_id = t.doc_id
         |ORDER BY a.doc_id, subj, obj""".stripMargin) { (s, d) =>
      import s.implicits._
      val winners = rankWinners(s)
      val preds = broadcast(termPreds.toDF("term", "pred"))
      // both dictionaries are compile-time literals: restrict the token
      // stream to their union below the distinct exchange (guide §2.3)
      val tks = turns(s, d)
        .select(col("doc_id"), explode(TextNorm.tokensCol(col("text"))).as("tok"))
        .filter(col("tok").isin(
          (termPreds.map(_._1) ++ aliasEntities.map(_._1)).distinct: _*))
        .distinct()
      val ment = tks.join(winners, col("tok") === col("alias"))
        .select("doc_id", "entity_id").distinct()
      val pcue = tks.join(preds, col("tok") === col("term"))
        .groupBy("doc_id").agg(min(col("pred")).as("pred"))
      val txt = turns(s, d).select(col("doc_id"), md5(col("text")).as("text_md5"))
      ment.alias("a").join(ment.alias("b"),
          col("a.doc_id") === col("b.doc_id") &&
            col("a.entity_id") < col("b.entity_id"))
        .select(col("a.doc_id").as("doc_id"), col("a.entity_id").as("subj"),
          col("b.entity_id").as("obj"))
        .join(pcue, "doc_id")
        .join(txt, "doc_id")
        .select("doc_id", "subj", "pred", "obj", "text_md5")
        .orderBy("doc_id", "subj", "obj")
    },

    // ---- graph analytics: triangle enumeration over the co-occurrence
    // graph, DEGREE-ORDERED (each triangle is found exactly once, as a wedge
    // at its lowest-(degree, id) vertex, closed by a semi-join against the
    // oriented edge set). The orientation is what survives scale: out-degree
    // under (deg, id) ordering is bounded by ~sqrt(E) (arboricity bound), so
    // wedge fanout per node is capped even on power-law graphs where the
    // naive id-ordered join explodes at hub vertices. Equality joins only;
    // the oracle's simple a<b<c formulation enumerates the identical set.
    "kg_triangles" -> Q(
      s"""WITH t AS ($turnsSql),
         |toks AS (SELECT DISTINCT conv_id, unnest(list_filter(string_split_regex(lower(text), '\\s+'), x -> length(x) > 0)) AS tok FROM t),
         |dict(alias, entity_id, rnk) AS (VALUES $aliasEntitiesSql),
         |winners AS (
         |  SELECT alias, entity_id FROM (
         |    SELECT alias, entity_id,
         |           row_number() OVER (PARTITION BY alias ORDER BY rnk, entity_id) AS rn
         |    FROM dict) WHERE rn = 1),
         |ment AS (SELECT DISTINCT conv_id, entity_id
         |         FROM toks JOIN winners ON toks.tok = winners.alias),
         |edges AS (SELECT DISTINCT a.entity_id AS u, b.entity_id AS v
         |          FROM ment a JOIN ment b
         |            ON a.conv_id = b.conv_id AND a.entity_id < b.entity_id)
         |SELECT x.u AS e1, x.v AS e2, y.v AS e3
         |FROM edges x JOIN edges y ON x.v = y.u
         |JOIN edges z ON z.u = x.u AND z.v = y.v
         |ORDER BY e1, e2, e3""".stripMargin) { (s, d) =>
      val winners = rankWinners(s)
      val ment = turns(s, d)
        .select(col("conv_id"), explode(TextNorm.tokensCol(col("text"))).as("tok"))
        .join(winners, col("tok") === col("alias"))
        .select("conv_id", "entity_id").distinct()
      val edges = ment.alias("a").join(ment.alias("b"),
          col("a.conv_id") === col("b.conv_id") &&
            col("a.entity_id") < col("b.entity_id"))
        .select(col("a.entity_id").as("u"), col("b.entity_id").as("v"))
        .distinct()
        // edge set reused three times (degrees, orientation, closure):
        // entity-pair-bounded, eagerly materialized once
        .localCheckpoint(true)
      val deg = edges.select(col("u").as("n"))
        .unionAll(edges.select(col("v").as("n")))
        .groupBy("n").agg(count(lit(1)).as("d"))
      val withDeg = edges
        .join(deg.select(col("n").as("u"), col("d").as("du")), Seq("u"))
        .join(deg.select(col("n").as("v"), col("d").as("dv")), Seq("v"))
      val uFirst = struct(col("du"), col("u")) < struct(col("dv"), col("v"))
      val oriented = withDeg.select(
          when(uFirst, col("u")).otherwise(col("v")).as("lo"),
          when(uFirst, col("v")).otherwise(col("u")).as("hi"),
          when(uFirst, col("dv")).otherwise(col("du")).as("dhi"))
        .localCheckpoint(true)
      val wedges = oriented.select(col("lo").as("a"), col("hi").as("b"),
          col("dhi").as("db"))
        .join(oriented.select(col("lo").as("a2"), col("hi").as("c"),
          col("dhi").as("dc")),
          col("a") === col("a2") &&
            struct(col("db"), col("b")) < struct(col("dc"), col("c")))
      // the closing edge {b,c} — if present — is oriented b->c, because
      // orientation and the wedge-leg ordering use the SAME (deg, id) key
      val tri = wedges.join(
        oriented.select(col("lo").as("b2"), col("hi").as("c2")),
        col("b") === col("b2") && col("c") === col("c2"), "left_semi")
      tri.select(array_sort(array(col("a"), col("b"), col("c"))).as("t"))
        .select(element_at(col("t"), 1).as("e1"),
          element_at(col("t"), 2).as("e2"),
          element_at(col("t"), 3).as("e3"))
        .orderBy("e1", "e2", "e3")
    },

    // ---- temporal analytics: per-entity mention counts per (synthetic)
    // week with week-over-week delta — the monitoring query over a KG that
    // grows by streaming ingest. Counts aggregate map-side; the lag window
    // partitions by entity (weeks-per-entity sized, never conversation
    // sized).
    "kg_mention_trend" -> Q(
      s"""WITH t AS ($turnsSql),
         |toks AS (SELECT turn_idx // 4 AS week, unnest(list_filter(string_split_regex(lower(text), '\\s+'), x -> length(x) > 0)) AS tok FROM t),
         |dict(alias, entity_id, rnk) AS (VALUES $aliasEntitiesSql),
         |winners AS (
         |  SELECT alias, entity_id FROM (
         |    SELECT alias, entity_id,
         |           row_number() OVER (PARTITION BY alias ORDER BY rnk, entity_id) AS rn
         |    FROM dict) WHERE rn = 1),
         |wk AS (SELECT entity_id, week, count(*) AS n
         |       FROM toks JOIN winners ON toks.tok = winners.alias
         |       GROUP BY 1, 2)
         |SELECT entity_id, week, n,
         |       n - coalesce(lag(n) OVER (PARTITION BY entity_id ORDER BY week), 0) AS delta
         |FROM wk ORDER BY entity_id, week""".stripMargin) { (s, d) =>
      val winners = rankWinners(s)
      val wk = turns(s, d)
        .select(floor(col("turn_idx") / 4).cast("bigint").as("week"),
          explode(TextNorm.tokensCol(col("text"))).as("tok"))
        .join(winners, col("tok") === col("alias"))
        .groupBy("entity_id", "week").agg(count(lit(1)).as("n"))
      val lw = Window.partitionBy("entity_id").orderBy("week")
      wk.withColumn("delta",
          col("n") - coalesce(lag(col("n"), 1).over(lw), lit(0L)))
        .orderBy("entity_id", "week")
    },

    // ---- full mini-pipeline: normalize text -> extract -> link -> emit the
    // materialized edge-table rows (subj, pred, obj, lang) — the flagship
    "kg_triples_full" -> Q(
      s"""WITH t AS ($turnsSql),
         |toks AS (SELECT DISTINCT doc_id, lang, unnest(list_filter(string_split_regex(lower(text), '\\s+'), x -> length(x) > 0)) AS tok FROM t),
         |preds(term, pred) AS (VALUES $termPredsSql),
         |dict(alias, entity_id, rnk) AS (VALUES $aliasEntitiesSql),
         |linked AS (
         |  SELECT doc_id, alias, entity_id,
         |         row_number() OVER (PARTITION BY doc_id, alias ORDER BY rnk, entity_id) AS rn
         |  FROM toks JOIN dict ON toks.tok = dict.alias)
         |SELECT DISTINCT 'urn:doc:' || CAST(t.doc_id AS VARCHAR) AS subj,
         |       p.pred, coalesce(l.entity_id, t.tok) AS obj, t.lang
         |FROM toks t
         |JOIN preds p ON t.tok = p.term
         |LEFT JOIN (SELECT * FROM linked WHERE rn = 1) l
         |  ON t.doc_id = l.doc_id AND t.tok = l.alias
         |ORDER BY subj, pred, obj, lang""".stripMargin) { (s, d) =>
      import s.implicits._
      val preds = broadcast(termPreds.toDF("term", "pred"))
      val dict = broadcast(aliasEntities.toDF("alias", "entity_id", "rnk"))
      // both dictionaries are compile-time literals: restrict the token
      // stream to their union below the distinct exchange (guide §2.3)
      val toks = turns(s, d)
        .select(col("doc_id"), col("lang"), explode(TextNorm.tokensCol(col("text"))).as("tok"))
        .filter(col("tok").isin(
          (termPreds.map(_._1) ++ aliasEntities.map(_._1)).distinct: _*))
        .distinct()
      val w = Window.partitionBy("doc_id", "alias").orderBy(col("rnk"), col("entity_id"))
      val linked = toks.join(dict, col("tok") === col("alias"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("doc_id").as("ldoc"), col("alias"), col("entity_id"))
      toks.join(preds, col("tok") === col("term"))
        .join(linked, col("doc_id") === col("ldoc") && col("tok") === col("alias"), "left")
        .select(
          concat(lit("urn:doc:"), col("doc_id").cast("string")).as("subj"),
          col("pred"),
          coalesce(col("entity_id"), col("tok")).as("obj"),
          col("lang"))
        .distinct()
        .orderBy("subj", "pred", "obj", "lang")
    },

    // ---- KG quality: functional-predicate cardinality violations. A
    // functional predicate admits ONE object per subject; subjects carrying
    // several distinct objects are conflicts a curator must resolve (the
    // graph analogue of the reference's one-prefLabel-per-URI assumption,
    // ESNormalizer.java:410-457). Map-side-combinable distinct-count per
    // (subj, pred); values flattened a2-style for exact cross-engine
    // compare. At scale: one shuffle on the (subj, pred) key, output
    // bounded by the violating groups only.
    "kg_conflicts" -> Q(
      s"""WITH t AS ($turnsSql),
         |toks AS (SELECT DISTINCT doc_id, unnest(list_filter(string_split_regex(lower(text), '\\s+'), x -> length(x) > 0)) AS tok FROM t),
         |preds(term, pred) AS (VALUES $termPredsSql),
         |triples AS (SELECT DISTINCT 'urn:doc:' || CAST(doc_id AS VARCHAR) AS subj, pred, tok AS obj
         |            FROM toks JOIN preds ON toks.tok = preds.term
         |            WHERE pred IN ('urn:p:tech', 'urn:p:artifact'))
         |SELECT subj, pred, count(DISTINCT obj) AS n_vals,
         |       array_to_string(list_sort(list(DISTINCT obj)), ',') AS vals
         |FROM triples GROUP BY subj, pred HAVING count(DISTINCT obj) > 1
         |ORDER BY subj, pred""".stripMargin) { (s, d) =>
      import s.implicits._
      val functional = Seq("urn:p:tech", "urn:p:artifact")
      val preds = broadcast(termPreds.toDF("term", "pred"))
      // only terms mapping to a functional predicate can survive the join +
      // pred filter — pre-apply that literal set below the distinct exchange
      val funTerms = termPreds.collect {
        case (t, p) if functional.contains(p) => t }.distinct
      turns(s, d)
        .select(col("doc_id"), explode(TextNorm.tokensCol(col("text"))).as("tok"))
        .filter(col("tok").isin(funTerms: _*))
        .distinct()
        .join(preds, col("tok") === col("term"))
        .filter(col("pred").isin(functional: _*))
        .groupBy(
          concat(lit("urn:doc:"), col("doc_id").cast("string")).as("subj"),
          col("pred"))
        .agg(countDistinct(col("tok")).as("n_vals"),
          array_join(array_sort(collect_set(col("tok"))), ",").as("vals"))
        .filter(col("n_vals") > 1)
        .orderBy("subj", "pred")
    },

    // ---- deterministic negative sampling for KG-embedding training: each
    // positive (doc, entity) link spawns K corrupted candidates via an
    // arithmetic hash into the entity universe (no RNG — reproducible and
    // engine-agnostic), then an anti-join drops candidates that are true
    // edges. Plan shape at scale: candidate generation is narrow per-edge
    // work, the entity index broadcasts, and the anti-join shuffles on the
    // same (doc, entity) key as the positives — the standard KGE corrupt-
    // triple prep with no quadratic step.
    "kg_negative_samples" -> Q {
      val uniSql = negUniverse.map { case (e, i) => s"('$e',$i)" }.mkString(", ")
      val n = negUniverse.size
      s"""WITH t AS ($turnsSql),
         |toks AS (SELECT DISTINCT doc_id, unnest(list_filter(string_split_regex(lower(text), '\\s+'), x -> length(x) > 0)) AS tok FROM t),
         |dict(alias, entity_id, rnk) AS (VALUES $aliasEntitiesSql),
         |ranked AS (
         |  SELECT doc_id, alias, entity_id,
         |         row_number() OVER (PARTITION BY doc_id, alias ORDER BY rnk, entity_id) AS rn
         |  FROM toks JOIN dict ON toks.tok = dict.alias),
         |pos AS (SELECT DISTINCT doc_id, entity_id FROM ranked WHERE rn = 1),
         |uni(neg_entity_id, idx) AS (VALUES $uniSql),
         |cand AS (
         |  SELECT p.doc_id, p.entity_id, CAST(k.k AS BIGINT) AS k,
         |         ((p.doc_id * 31 + k.k * 17 + CAST(substr(p.entity_id, 9) AS BIGINT)) % $n) + 1 AS idx
         |  FROM pos p CROSS JOIN (SELECT unnest([1, 2]) AS k) k),
         |neg AS (SELECT c.doc_id, c.entity_id, c.k, u.neg_entity_id
         |        FROM cand c JOIN uni u ON c.idx = u.idx)
         |SELECT g.doc_id, g.entity_id, g.k, g.neg_entity_id
         |FROM neg g LEFT JOIN pos p2
         |  ON g.doc_id = p2.doc_id AND g.neg_entity_id = p2.entity_id
         |WHERE p2.entity_id IS NULL
         |ORDER BY g.doc_id, g.entity_id, g.k""".stripMargin
    } { (s, d) =>
      import s.implicits._
      val n = negUniverse.size
      val dict = broadcast(aliasEntities.toDF("alias", "entity_id", "rnk"))
      val toks = turns(s, d)
        .select(col("doc_id"), explode(TextNorm.tokensCol(col("text"))).as("tok"))
        .filter(col("tok").isin(aliasEntities.map(_._1).distinct: _*))
        .distinct()
      val w = Window.partitionBy("doc_id", "alias").orderBy(col("rnk"), col("entity_id"))
      val pos = toks.join(dict, col("tok") === col("alias"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("doc_id", "entity_id")
        .distinct()
      val ks = broadcast(Seq(1, 2).toDF("kk"))
      val uni = broadcast(
        negUniverse.map { case (e, i) => (e, i.toLong) }
          .toDF("neg_entity_id", "idx"))
      val cand = pos.crossJoin(ks)
        .select(col("doc_id"), col("entity_id"), col("kk").cast("bigint").as("k"),
          (((col("doc_id") * 31 + col("kk") * 17 +
            expr("substring(entity_id, 9)").cast("bigint")) % n) + 1).as("idx"))
      cand.join(uni, "idx")
        .join(pos.select(col("doc_id"),
          col("entity_id").as("neg_entity_id")),
          Seq("doc_id", "neg_entity_id"), "left_anti")
        .select("doc_id", "entity_id", "k", "neg_entity_id")
        .orderBy("doc_id", "entity_id", "k")
    },

    // ---- schema profiling over the materialized graph: per-predicate
    // cardinalities (edges, distinct subjects/objects), max out-degree and
    // an is-functional flag — the ontology-inference stats a KG operator
    // watches to catch extraction drift (a functional predicate growing a
    // max out-degree > 1 means upstream rules regressed). All exact integer
    // counts, bit-identical cross-engine. Scale shape: one distinct over
    // triples, then two map-side-combinable aggregations (per-(pred, subj)
    // out-degrees reuse the distinct's clustering; the per-pred rollups are
    // predicate-cardinality-sized — tiny).
    "kg_schema_profile" -> Q(
      s"""WITH t AS ($turnsSql),
         |toks AS (SELECT DISTINCT doc_id, unnest(list_filter(string_split_regex(lower(text), '\\s+'), x -> length(x) > 0)) AS tok FROM t),
         |preds(term, pred) AS (VALUES $termPredsSql),
         |triples AS (SELECT DISTINCT 'urn:doc:' || CAST(doc_id AS VARCHAR) AS subj, pred, tok AS obj
         |            FROM toks JOIN preds ON toks.tok = preds.term),
         |perS AS (SELECT pred, subj, count(*) AS od FROM triples GROUP BY pred, subj),
         |card AS (SELECT pred, CAST(count(*) AS BIGINT) AS n_edges,
         |                CAST(count(DISTINCT subj) AS BIGINT) AS n_subj,
         |                CAST(count(DISTINCT obj) AS BIGINT) AS n_obj
         |         FROM triples GROUP BY pred),
         |deg AS (SELECT pred, CAST(max(od) AS BIGINT) AS max_out,
         |               CASE WHEN max(od) = 1 THEN 1 ELSE 0 END AS functional
         |        FROM perS GROUP BY pred)
         |SELECT card.pred, n_edges, n_subj, n_obj, max_out, functional
         |FROM card JOIN deg ON card.pred = deg.pred
         |ORDER BY card.pred""".stripMargin) { (s, d) =>
      import s.implicits._
      val preds = broadcast(termPreds.toDF("term", "pred"))
      val triples = turns(s, d)
        .select(col("doc_id"), explode(TextNorm.tokensCol(col("text"))).as("tok"))
        .filter(col("tok").isin(termPreds.map(_._1).distinct: _*))
        .distinct()
        .join(preds, col("tok") === col("term"))
        .select(concat(lit("urn:doc:"), col("doc_id").cast("string")).as("subj"),
          col("pred"), col("tok").as("obj"))
        .distinct()
      val card = triples.groupBy("pred").agg(
        count(lit(1)).as("n_edges"),
        countDistinct(col("subj")).as("n_subj"),
        countDistinct(col("obj")).as("n_obj"))
      val deg = triples.groupBy("pred", "subj").agg(count(lit(1)).as("od"))
        .groupBy("pred").agg(
          max(col("od")).as("max_out"),
          when(max(col("od")) === 1, 1).otherwise(0).as("functional"))
      card.join(deg, "pred")
        .select("pred", "n_edges", "n_subj", "n_obj", "max_out", "functional")
        .orderBy("pred")
    },

    // ---- RDFS subclass closure / type inference: every linked entity gets
    // its direct class plus all inherited ancestors (rdfs:subClassOf
    // semantics — the reference's domain is exactly this kind of SKOS/OWL
    // vocabulary data). Scale contract: ontologies are config-sized (KBs)
    // even when the instance data is 100 TB, so the hierarchy is closed
    // DRIVER-SIDE (bounded fixpoint over a broadcast-sized Seq, same
    // contract as the alias catalog) and applied to the instance table with
    // ONE broadcast join — no iterative shuffle ever touches the big side.
    // The DuckDB oracle derives the same closure with a recursive CTE.
    "kg_rdfs_closure" -> Q {
      val typesSql = entityTypes.map { case (e, c) => s"('$e','$c')" }.mkString(", ")
      val hierSql = classHier.map { case (c, p) => s"('$c','$p')" }.mkString(", ")
      s"""WITH RECURSIVE t AS ($turnsSql),
         |toks AS (SELECT DISTINCT doc_id, unnest(list_filter(string_split_regex(lower(text), '\\s+'), x -> length(x) > 0)) AS tok FROM t),
         |dict(alias, entity_id, rnk) AS (VALUES $aliasEntitiesSql),
         |ranked AS (
         |  SELECT doc_id, alias, entity_id,
         |         row_number() OVER (PARTITION BY doc_id, alias ORDER BY rnk, entity_id) AS rn
         |  FROM toks JOIN dict ON toks.tok = dict.alias),
         |links AS (SELECT DISTINCT doc_id, entity_id FROM ranked WHERE rn = 1),
         |types(entity_id, cls) AS (VALUES $typesSql),
         |hier(c, p) AS (VALUES $hierSql),
         |anc(c, a) AS (
         |  SELECT c, p FROM hier
         |  UNION
         |  SELECT anc.c, hier.p FROM anc JOIN hier ON anc.a = hier.c),
         |inferred AS (
         |  SELECT entity_id, cls FROM types
         |  UNION
         |  SELECT t2.entity_id, a.a AS cls FROM types t2 JOIN anc a ON t2.cls = a.c)
         |SELECT l.doc_id, l.entity_id, i.cls
         |FROM links l JOIN inferred i ON l.entity_id = i.entity_id
         |ORDER BY l.doc_id, l.entity_id, i.cls""".stripMargin
    } { (s, d) =>
      import s.implicits._
      val inferred = (entityTypes ++
        entityTypes.flatMap { case (e, c) =>
          ancestorClosure(classHier, c).map(e -> _) }).distinct
      val dict = broadcast(aliasEntities.toDF("alias", "entity_id", "rnk"))
      val inf = broadcast(inferred.toDF("entity_id", "cls"))
      val toks = turns(s, d)
        .select(col("doc_id"), explode(TextNorm.tokensCol(col("text"))).as("tok"))
        .filter(col("tok").isin(aliasEntities.map(_._1).distinct: _*))
        .distinct()
      val w = Window.partitionBy("doc_id", "alias").orderBy(col("rnk"), col("entity_id"))
      val links = toks.join(dict, col("tok") === col("alias"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("doc_id", "entity_id")
        .distinct()
      links.join(inf, "entity_id")
        .select("doc_id", "entity_id", "cls")
        .orderBy("doc_id", "entity_id", "cls")
    },

    // ---- owl:inverseOf materialization: configured inverse-predicate
    // pairs fan each edge out to its inverse (subj/obj swapped), so queries
    // can traverse either direction without a runtime union — the standard
    // KG trade of write-side fan-out for read-side locality. Narrow per-row
    // transform (explode of a 2-element array), one distinct; the pair map
    // is config-sized and inlined into the plan as a literal CASE.
    "kg_inverse_edges" -> Q(
      s"""WITH t AS ($turnsSql),
         |toks AS (SELECT DISTINCT doc_id, unnest(list_filter(string_split_regex(lower(text), '\\s+'), x -> length(x) > 0)) AS tok FROM t),
         |preds(term, pred) AS (VALUES $termPredsSql),
         |triples AS (SELECT DISTINCT 'urn:doc:' || CAST(doc_id AS VARCHAR) AS subj, pred, tok AS obj
         |            FROM toks JOIN preds ON toks.tok = preds.term),
         |bidir AS (
         |  SELECT subj, pred, obj FROM triples
         |  UNION
         |  SELECT obj AS subj,
         |         CASE pred WHEN 'urn:p:tech' THEN 'urn:p:techOf'
         |                   WHEN 'urn:p:artifact' THEN 'urn:p:artifactOf'
         |                   WHEN 'urn:p:op' THEN 'urn:p:opOf' END AS pred,
         |         subj AS obj
         |  FROM triples)
         |SELECT subj, pred, obj FROM bidir ORDER BY subj, pred, obj""".stripMargin) { (s, d) =>
      import s.implicits._
      val inverse = Map("urn:p:tech" -> "urn:p:techOf",
        "urn:p:artifact" -> "urn:p:artifactOf", "urn:p:op" -> "urn:p:opOf")
      // every predicate the extraction can emit MUST have an inverse: the
      // when-chain below (and the oracle's ELSE-less CASE) would otherwise
      // materialize NULL-predicate edges and fail the compare on NULL
      // ordering rather than at the source
      locally {
        val missing = termPreds.map(_._2).toSet.diff(inverse.keySet)
        require(missing.isEmpty,
          s"kg_inverse_edges: no inverse configured for predicate(s) ${missing.mkString(", ")}")
      }
      val invCol = inverse.toSeq.sortBy(_._1).map { case (p, ip) =>
        when(col("pred") === p, ip)
      }.reduceRight((a, b) => a.otherwise(b))
      val preds = broadcast(termPreds.toDF("term", "pred"))
      val triples = turns(s, d)
        .select(col("doc_id"), explode(TextNorm.tokensCol(col("text"))).as("tok"))
        .filter(col("tok").isin(termPreds.map(_._1).distinct: _*))
        .distinct()
        .join(preds, col("tok") === col("term"))
        .select(concat(lit("urn:doc:"), col("doc_id").cast("string")).as("subj"),
          col("pred"), col("tok").as("obj"))
        .distinct()
      triples.unionByName(
          triples.select(col("obj").as("subj"), invCol.as("pred"), col("subj").as("obj")))
        .distinct()
        .orderBy("subj", "pred", "obj")
    },

    // ---- temporal edge validity: per (user, event_type) graph edge, its
    // lifespan window (first/last observation) plus exact support and
    // active-day counts — the inputs to edge aging/TTL decisions when the
    // KG is maintained incrementally (a 100 TB graph retires edges by
    // last_seen, it never rescans history). One map-side-combinable
    // aggregation over the fact table; timestamps flow through raw (the
    // driver hash-compares them, cf. j6_asof_attribution).
    "kg_edge_lifespan" -> Q(
      """SELECT user_id, event_type,
        |       min(ts) AS first_seen, max(ts) AS last_seen,
        |       CAST(count(*) AS BIGINT) AS n_obs,
        |       CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS active_days
        |FROM events GROUP BY user_id, event_type
        |ORDER BY user_id, event_type""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .groupBy("user_id", "event_type")
        .agg(min(col("ts")).as("first_seen"), max(col("ts")).as("last_seen"),
          count(lit(1)).as("n_obs"),
          countDistinct(col("ts").cast("date")).as("active_days"))
        .orderBy("user_id", "event_type")
    }
  )
}
