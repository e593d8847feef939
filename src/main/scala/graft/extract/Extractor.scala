package graft.extract

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.config.PipelineConfig
import graft.schema.{CatalogEntry, Triple, Turn}

/** Per-turn mention detection + (subj, pred, obj) emission.
  *
  * The kernel is a single `mapPartitions` pass with broadcast dictionaries
  * (north star: "per-turn batched mention detection and triple extraction via
  * mapPartitions with broadcast dictionaries") — one tokenizer sweep per
  * turn, O(1) hash lookups per token, no shuffle until the downstream
  * aggregate. The reference's analogue walks Jena statements row-at-a-time
  * (Harvester.java:1811-1877); here a turn is the row and each partition
  * processes turns independently, so the stage scales embarrassingly with
  * input splits.
  *
  * Semantics: text is cleaned with the char-exact `parseForJson` chain
  * (fused into a reusable-buffer scan, see [[graft.text.CharScan]])
  * first (per-turn text-equality invariant), then whitespace-tokenized. A
  * token that is a catalog alias is a mention, resolved first-match-wins by
  * (rank, entityId) (W3, ESNormalizer.java:417-455). A token that is a
  * predicate marker emits a triple between the nearest mention on its left
  * and the nearest on its right. Every distinct mentioned entity also yields
  * a (urn:conv:<id>, urn:p:mentions, entity) triple (the per-subject doc
  * emission of Harvester.java:1826-1856 recast as edges).
  */
object Extractor {

  val MentionsPred = "urn:p:mentions"

  /** Sentinel subject for a marker with a right-hand mention but no
    * left-hand one — resolved by [[CorefResolver]] from prior turns. */
  val OrphanSubj = "__orphan__"

  /** Per-turn context row: the turn's last mention by token position. */
  val LastMentionPred = "urn:graft:lastMention"

  /** Sentinel prefix for mentions of AMBIGUOUS aliases (an alias naming >1
    * distinct entity) when scored linking is on: the kernel defers the
    * entity choice to the contextual linker (EntityLinker), which re-maps
    * the sentinel per (conv, turn, alias) — see
    * AmbiguityResolver.resolve. */
  val AmbPrefix = "urn:amb:"

  /** Canonical sentinel for an ambiguous alias: whitespace-normalized and
    * lowercased, matching the linker's case-insensitive alias key. */
  def ambSentinel(alias: String): String =
    AmbPrefix + alias.trim.split("\\s+").mkString(" ").toLowerCase

  /** Token-trie node for multi-token alias matching (longest match wins).
    * A single-token alias is a depth-1 terminal, so the trie scan is a
    * strict generalization of plain hash lookup. */
  final case class TrieNode(
      children: Map[String, TrieNode],
      entity: String) extends Serializable

  /** Build the alias trie with first-match-wins resolution per full alias
    * (rank, then entityId — W3 semantics), aliases tokenized on whitespace.
    * When a canonical map is given, resolution composes with it so mentions
    * are emitted (and per-turn deduplicated) at canonical granularity —
    * two aliases of one canonical cluster in a turn are ONE mention.
    *
    * With `sentinelAmbiguous`, an alias whose candidates resolve to MORE
    * THAN ONE canonical entity maps to [[ambSentinel]] instead of the
    * rank-winner — the scored-linking mode where surface-form collisions are
    * disambiguated per mention by context, not collapsed or rank-guessed. */
  def buildTrie(catalog: Seq[CatalogEntry],
                canon: Map[String, String] = Map.empty,
                sentinelAmbiguous: Boolean = false): TrieNode = {
    val resolve: Map[String, String] =
      catalog.groupBy(_.alias).map { case (a, es) =>
        val targets = es.map(e => canon.getOrElse(e.entityId, e.entityId)).distinct
        val e = es.minBy(e => (e.rank, e.entityId)).entityId
        a -> (if (sentinelAmbiguous && targets.size > 1) ambSentinel(a)
              else canon.getOrElse(e, e))
      }
    def insert(node: TrieNode, toks: List[String], entity: String): TrieNode =
      toks match {
        case Nil => if (node.entity == null) node.copy(entity = entity) else node
        case t :: rest =>
          val child = node.children.getOrElse(t, TrieNode(Map.empty, null))
          node.copy(children = node.children.updated(t, insert(child, rest, entity)))
      }
    resolve.toSeq.sortBy(_._1).foldLeft(TrieNode(Map.empty, null)) {
      case (root, (alias, entity)) =>
        insert(root, alias.split("\\s+").filter(_.nonEmpty).toList, entity)
    }
  }

  /** Per-partition scan state for the fused kernel: reusable clean/token
    * buffers ([[graft.text.CharScan.Scratch]]) plus mention/marker position
    * arrays. One scan = clean -> tokenize -> single sweep doing greedy
    * longest-match [[FlatTrie]] descent (mentions) with [[CharScan.TokenMap]]
    * lookup on non-mention tokens (markers) — zero allocation per turn
    * beyond the emitted rows. Mention entities are recorded as trie
    * payload indices (their entity codes), marker predicates as marker
    * indices. */
  private final class ScanState(trie: FlatTrie, markers: graft.text.CharScan.TokenMap) {
    import graft.text.CharScan
    val scratch = new CharScan.Scratch
    private var cap = 64
    var mPos = new Array[Int](cap) // mention start positions (ascending)
    var mEnt = new Array[Int](cap) // mention payload indices
    var kPos = new Array[Int](cap) // marker positions (ascending)
    var kPred = new Array[Int](cap) // marker value indices
    var nM = 0
    var nK = 0

    def scan(rawText: String): Unit = {
      val len = if (rawText == null) 0 else CharScan.clean(rawText, scratch)
      CharScan.tokenize(scratch, len)
      val nTok = scratch.nTok
      if (nTok > cap) { // all four sized to cap: nM, nK <= nTok
        cap = nTok
        mPos = new Array[Int](cap)
        mEnt = new Array[Int](cap)
        kPos = new Array[Int](cap)
        kPred = new Array[Int](cap)
      }
      val buf = scratch.buf
      val ts = scratch.tokStart
      val te = scratch.tokEnd
      val th = scratch.tokHash
      nM = 0
      nK = 0
      var i = 0
      while (i < nTok) {
        // walk the trie greedily from position i, remember the longest
        // terminal hit
        var node = 0
        var j = i
        var bestEnd = -1
        var bestEnt = -1
        var continue = true
        while (continue && j < nTok) {
          val c = trie.child(node, buf, ts(j), te(j), th(j))
          if (c < 0) continue = false
          else {
            val p = trie.payload(c)
            if (p >= 0) { bestEnd = j; bestEnt = p }
            node = c
            j += 1
          }
        }
        if (bestEnd >= 0) {
          mPos(nM) = i; mEnt(nM) = bestEnt; nM += 1
          i = bestEnd + 1 // non-overlapping, longest match consumes its span
        } else {
          val p = markers.lookup(buf, ts(i), te(i), th(i))
          if (p >= 0) { kPos(nK) = i; kPred(nK) = p; nK += 1 }
          i += 1
        }
      }
    }

    /** Left/right nearest mention around marker position `pos`: packs
      * (li, ri) mention indices into a long (li in the high 32, ri low),
      * -1 for absent. Positions are ascending, single walk. */
    def adjacent(pos: Int): Long = {
      var li = -1
      var ri = -1
      var m = 0
      while (m < nM) {
        if (mPos(m) < pos) li = m
        else if (ri < 0 && mPos(m) > pos) ri = m
        m += 1
      }
      (li.toLong << 32) | (ri.toLong & 0xffffffffL)
    }

    /** Whether mention `m` is the first occurrence of its entity in the
      * turn (nM is tiny: linear probe). Payload equality is value equality
      * (FlatTrie value arrays are deduplicated). */
    def firstOccurrence(m: Int): Boolean = {
      var seen = false
      var j = 0
      while (j < m && !seen) { seen = mEnt(j) == mEnt(m); j += 1 }
      !seen
    }
  }

  /** Dictionary-encoded extraction row: subjC == -1 encodes the
    * conversation subject (urn:conv:<conv_id> is derivable from conv_id);
    * entity and predicate codes index the dictionaries returned by
    * [[extractEncoded]], and [[decode]] maps them back to strings. */
  final case class EncodedExtracted(
      conv_id: String,
      turn_idx: Int,
      subjC: Int,
      predC: Int,
      objC: Int)

  /** THE extraction kernel: one `mapPartitions` scan per turn emitting
    * integer codes instead of URI strings, so a downstream count exchanges
    * (conv_id, 3 ints) instead of four ~20-60 byte strings. The entity
    * dictionary is the trie's deduplicated terminal values (a trie payload
    * IS its code), so canonicalization and the [[ambSentinel]] of
    * `sentinelAmbiguous` compose into it and any `canon` map, total or not,
    * is valid. Every config runs this kernel; only where its codes are
    * decoded depends on the config (see `KgPipeline.supports`).
    *
    * With `emitContext` it also emits, per turn, the [[CorefResolver]]
    * inputs: orphan rows (subject [[OrphanSubj]], a marker with a right-hand
    * mention only) and one context row (`__ctx__`, [[LastMentionPred]], the
    * turn's last mention by token position).
    *
    * @return (rows, entity dictionary by code, predicate dictionary by code)
    */
  def extractEncoded(
      turns: Dataset[Turn],
      catalog: Seq[CatalogEntry],
      markers: Map[String, String],
      canon: Map[String, String],
      emitContext: Boolean = false,
      sentinelAmbiguous: Boolean = false)
      : (Dataset[EncodedExtracted], Array[String], Array[String]) = {
    val spark = turns.sparkSession
    import spark.implicits._

    val (flat, values) =
      FlatTrie.fromTrie(buildTrie(catalog, canon, sentinelAmbiguous))
    val orphanCode = values.length
    val ctxCode = values.length + 1
    val entities = values ++ Array(OrphanSubj, "__ctx__")
    val preds =
      (markers.values.toSeq ++ Seq(MentionsPred, LastMentionPred)).distinct.sorted.toArray
    val predCode = preds.zipWithIndex.toMap
    val markerKeys = markers.keys.toArray.sorted
    val markerCodes = markerKeys.map(k => predCode(markers(k)))
    val markerMap =
      graft.text.CharScan.TokenMap.build(markerKeys, markerKeys.indices.toArray)
    val mentionsCode = predCode(MentionsPred)
    val lastMentionCode = predCode(LastMentionPred)
    val bc = spark.sparkContext.broadcast((flat, markerMap, markerCodes))

    // project before the kernel: only 3 of the 6 turn columns are consumed,
    // and the narrow select pushes column pruning into the parquet scan
    // (ReadSchema carries conv_id, turn_idx, text only)
    val rows = turns
      .select(col("conv_id"), col("turn_idx"), col("text"))
      .as[(String, Int, String)]
      .mapPartitions { it =>
        val (trie, markerMap, markerCodes) = bc.value
        val st = new ScanState(trie, markerMap)
        it.flatMap { case (convId, turnIdx, rawText) =>
          st.scan(rawText)
          val nM = st.nM
          val nK = st.nK
          val mEnt = st.mEnt
          val out = new scala.collection.mutable.ArrayBuffer[EncodedExtracted](nK + nM + 1)
          // marker-adjacency triples (mention positions are sorted: walk)
          var k = 0
          while (k < nK) {
            val lr = st.adjacent(st.kPos(k))
            val li = (lr >> 32).toInt
            val ri = lr.toInt
            if (li >= 0 && ri >= 0)
              out += EncodedExtracted(convId, turnIdx,
                mEnt(li), markerCodes(st.kPred(k)), mEnt(ri))
            else if (emitContext && li < 0 && ri >= 0)
              out += EncodedExtracted(convId, turnIdx,
                orphanCode, markerCodes(st.kPred(k)), mEnt(ri))
            k += 1
          }
          if (emitContext && nM > 0)
            out += EncodedExtracted(convId, turnIdx,
              ctxCode, lastMentionCode, mEnt(nM - 1))
          // distinct mention edges per turn (nM is tiny: linear distinct)
          var m = 0
          while (m < nM) {
            if (st.firstOccurrence(m))
              out += EncodedExtracted(convId, turnIdx, -1, mentionsCode, mEnt(m))
            m += 1
          }
          out
        }
      }
    (rows, entities, preds)
  }

  /** The one decoder: `subjC`/`predC`/`objC` become `subj`/`pred`/`obj`
    * strings in place (subjC -1 is `urn:conv:<conv_id>`), every other column
    * is kept. Takes [[extractEncoded]]'s triple, or any frame over its codes
    * (e.g. their count) with the same dictionaries. */
  def decode(encoded: (Dataset[_], Array[String], Array[String])): DataFrame = {
    val (rows, entities, preds) = encoded
    val ents = typedlit(entities.toSeq)
    val ps = typedlit(preds.toSeq)
    rows.toDF().select(rows.columns.toSeq.map {
      case "subjC" =>
        when(col("subjC") === -1, concat(lit("urn:conv:"), col("conv_id")))
          .otherwise(element_at(ents, col("subjC") + 1)).as("subj")
      case "predC" => element_at(ps, col("predC") + 1).as("pred")
      case "objC" => element_at(ents, col("objC") + 1).as("obj")
      case c => col(c)
    }: _*)
  }

  /** Config-driven normalization of raw statements — the ESNormalizer stage
    * re-expressed as Catalyst column ops over the long (triple) form:
    * P1 proplist filter, A4 normProp fan-out (explode), A3 normObj rewrite,
    * P2 white/blackMap object filters, all against broadcast literal maps.
    * normProp keys escape the P1 filter exactly like the reference
    * (Harvester.java:1818-1822). */
  def normalize(raw: DataFrame, cfg: PipelineConfig): DataFrame = {
    var df = raw

    // P1 predicate white/blacklist (+ normProp-key escape hatch)
    if (cfg.proplist.nonEmpty) {
      val keep = if (cfg.listType == "white") cfg.proplist ++ cfg.normProp.keySet
                 else cfg.proplist -- cfg.normProp.keySet
      df = if (cfg.listType == "white")
        df.filter(col("pred").isInCollection(keep))
      else
        df.filter(!col("pred").isInCollection(keep))
    }

    // A4 normProp rename / fan-out: explode the rename targets
    if (cfg.normProp.nonEmpty) {
      val entries = cfg.normProp.toSeq.flatMap { case (from, tos) =>
        tos.map(to => (from, to))
      }
      // map literal: pred -> array(renames); fallback to identity
      val m = map(entries.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (k, vs) =>
        Seq(lit(k), array(vs.map(v => lit(v._2)): _*))
      }: _*)
      df = df.withColumn("pred",
        explode(coalesce(element_at(m, col("pred")), array(col("pred")))))
    }

    // A3 normObj canonicalization (before downstream dedup, as in
    // ESNormalizer.java:214-222)
    if (cfg.normObj.nonEmpty) {
      val m = map(cfg.normObj.toSeq.sortBy(_._1)
        .flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)
      df = df.withColumn("obj", coalesce(element_at(m, col("obj")), col("obj")))
    }

    // P2 white/blackMap per-predicate object filters
    if (cfg.whiteMap.nonEmpty) {
      val cond = cfg.whiteMap.toSeq.sortBy(_._1).map { case (p, allowed) =>
        col("pred") === p && !col("obj").isInCollection(allowed)
      }.reduce(_ || _)
      df = df.filter(!cond)
    }
    if (cfg.blackMap.nonEmpty) {
      val cond = cfg.blackMap.toSeq.sortBy(_._1).map { case (p, banned) =>
        col("pred") === p && col("obj").isInCollection(banned)
      }.reduce(_ || _)
      df = df.filter(!cond)
    }
    df
  }
}
