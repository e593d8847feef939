package graft.link

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.extract.Extractor
import graft.schema.{CatalogEntry, Turn}

/** Scored entity linking over extraction output (north star: "entity
  * linking scored with a broadcast-hash-join candidate lookup plus
  * TF-IDF/Jaccard similarity"): rows whose subject/object is an
  * [[Extractor.ambSentinel]] — a mention of an alias naming several
  * entities — are re-mapped to the contextual winner chosen by
  * [[EntityLinker.linkMentions]] for that exact (conv, turn, alias).
  *
  * The mention list is derived FROM the sentinel rows themselves — the
  * extraction trie's longest-match spans — so MULTI-TOKEN ambiguous aliases
  * score contextually exactly like single-token ones. The rank fallback
  * remains only for mentions whose turn text yields no scoring signal, so
  * no triple is ever dropped.
  *
  * Called by the one supports chain (KgPipeline.supports) that both the
  * batch pipeline and the streaming ingest run: scoring is strictly
  * per-(conv, turn, alias) over the turn's OWN tokens, so resolving inside
  * a micro-batch is content-identical to resolving over the whole corpus —
  * a turn is never split across batches. (Cross-turn state like coref does
  * NOT have this property, which is why the stream carries coref state
  * across batches explicitly — StreamingSync.corefStep.)
  *
  * Plan shape: the linker's decision table is ambiguous-mention-sized; the
  * two re-mapping joins touch only the sentinel-bearing extraction rows
  * (clean rows bypass them entirely). The final mention dedup re-groups
  * only mention edges — two aliases resolving to one entity within a turn
  * must count as ONE mention, exactly as trie-time canonical resolution
  * would have.
  *
  * @param raw extraction output produced with `sentinelAmbiguous = true`
  * @param turns the turns the sentinel rows came from (scoring context)
  */
object AmbiguityResolver {
  def resolve(raw: DataFrame, turns: Dataset[Turn],
              catalog: Seq[CatalogEntry]): DataFrame = {
    val amb = catalog.groupBy(_.alias)
      .filter { case (_, es) => es.map(_.entityId).distinct.size > 1 }
    if (amb.isEmpty) return raw
    val ambAliases = amb.keySet
    val ambCatalog = catalog.filter(e => ambAliases.contains(e.alias))
    val fallback: Map[String, String] = amb.map { case (a, es) =>
      Extractor.ambSentinel(a) -> es.minBy(e => (e.rank, e.entityId)).entityId
    }
    val fbLit = typedlit(fallback)

    val isAmb = col("subj").startsWith(Extractor.AmbPrefix) ||
      col("obj").startsWith(Extractor.AmbPrefix)
    // sentinel rows materialized ONCE (ambiguous-mention-sized, eager):
    // they feed both the mention-span derivation and the re-mapping joins —
    // recomputing them would add a third full extraction scan to the stage
    val ambRows = raw.filter(isAmb).localCheckpoint(true)

    // the mentions to resolve ARE the sentinel rows: strip the prefix back
    // to the trie-matched alias span (ambSentinel already lowercased and
    // whitespace-normalized it — the linker's alias-key normalization), so
    // MULTI-TOKEN ambiguous aliases reach the scorer too
    val mentionSpans = ambRows
      .select(col("conv_id"), col("turn_idx"),
        explode(array(col("subj"), col("obj"))).as("m"))
      .filter(col("m").startsWith(Extractor.AmbPrefix))
      .select(col("conv_id"), col("turn_idx"),
        col("m").substr(lit(Extractor.AmbPrefix.length + 1), lit(Int.MaxValue))
          .as("alias"))
      .distinct()

    // per-(conv, turn, alias) contextual winner over the extractor's spans
    val dec = EntityLinker.linkMentions(turns, mentionSpans, ambCatalog)
      .select(col("conv_id"), col("turn_idx"),
        concat(lit(Extractor.AmbPrefix), col("alias")).as("amb"),
        col("entity_id"))
    val clean = raw.filter(!isAmb)
    val decS = dec.toDF("c_s", "t_s", "amb_s", "res_s")
    val decO = dec.toDF("c_o", "t_o", "amb_o", "res_o")
    val resolved = ambRows
      .join(decS, col("conv_id") === col("c_s") &&
        col("turn_idx") === col("t_s") && col("subj") === col("amb_s"), "left")
      .join(decO, col("conv_id") === col("c_o") &&
        col("turn_idx") === col("t_o") && col("obj") === col("amb_o"), "left")
      .select(col("conv_id"), col("turn_idx"),
        coalesce(col("res_s"), element_at(fbLit, col("subj")), col("subj")).as("subj"),
        col("pred"),
        coalesce(col("res_o"), element_at(fbLit, col("obj")), col("obj")).as("obj"))

    val all = clean.unionByName(resolved)
    // re-establish per-turn mention uniqueness across BOTH row classes: a
    // clean mention and a resolved one may land on the same entity in the
    // same turn, which trie-time resolution would have emitted once
    val mentions = all.filter(col("pred") === Extractor.MentionsPred)
      .dropDuplicates("conv_id", "turn_idx", "subj", "pred", "obj")
    all.filter(col("pred") =!= Extractor.MentionsPred).unionByName(mentions)
  }
}
