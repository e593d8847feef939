package graft

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.config.PipelineConfig
import graft.extract.{CorefResolver, Extractor}
import graft.schema.{CatalogEntry, Turn}
import graft.text.TextNorm

/** Test-side models of the extraction kernel and the supports chain: the
  * Map-trie model of the per-turn scan (no [[graft.extract.FlatTrie]], no
  * [[graft.text.CharScan]], no dictionary codes) and the string-per-row
  * supports chain built on it, which `KgPipeline.supports` must equal under
  * every config whichever point it decodes its codes at. */
object ExtractModel {

  /** One decoded extraction row with its provenance (conv, turn). */
  final case class Extracted(
      conv_id: String,
      turn_idx: Int,
      subj: String,
      pred: String,
      obj: String)

  /** The kernel's rows, decoded, as typed rows. */
  def kernel(turns: Dataset[Turn], catalog: Seq[CatalogEntry],
             markers: Map[String, String], emitContext: Boolean = false,
             canon: Map[String, String] = Map.empty,
             sentinelAmbiguous: Boolean = false): Dataset[Extracted] = {
    import turns.sparkSession.implicits._
    Extractor.decode(Extractor.extractEncoded(turns, catalog, markers, canon,
      emitContext = emitContext, sentinelAmbiguous = sentinelAmbiguous))
      .as[Extracted]
  }

  /** The pre-fusion kernel logic, kept as the differential model:
    * parseForJson + fastTokens + greedy longest-match walk over the
    * Map-based [[Extractor.TrieNode]], then marker adjacency, optional
    * context rows, and per-turn distinct mention edges. */
  def modelExtract(
      convId: String, turnIdx: Int, rawText: String,
      trie: Extractor.TrieNode, markers: Map[String, String],
      emitContext: Boolean): Seq[Extracted] = {
    val text = if (rawText == null) "" else TextNorm.parseForJson(rawText)
    val toks = TextNorm.fastTokens(text)
    val mentions = scala.collection.mutable.ArrayBuffer[(Int, String)]()
    val marks = scala.collection.mutable.ArrayBuffer[(Int, String)]()
    var i = 0
    while (i < toks.length) {
      var node = trie
      var j = i
      var bestEnd = -1
      var bestEnt: String = null
      var continue = true
      while (continue && j < toks.length) {
        node.children.getOrElse(toks(j), null) match {
          case null => continue = false
          case child =>
            if (child.entity != null) { bestEnd = j; bestEnt = child.entity }
            node = child
            j += 1
        }
      }
      if (bestEnd >= 0) { mentions += ((i, bestEnt)); i = bestEnd + 1 }
      else {
        markers.get(toks(i)).foreach(p => marks += ((i, p)))
        i += 1
      }
    }
    val out = scala.collection.mutable.ArrayBuffer[Extracted]()
    marks.foreach { case (pos, pred) =>
      val left = mentions.filter(_._1 < pos).lastOption
      val right = mentions.find(_._1 > pos)
      (left, right) match {
        case (Some((_, l)), Some((_, r))) =>
          out += Extracted(convId, turnIdx, l, pred, r)
        case (None, Some((_, r))) if emitContext =>
          out += Extracted(convId, turnIdx, Extractor.OrphanSubj, pred, r)
        case _ =>
      }
    }
    if (emitContext && mentions.nonEmpty)
      out += Extracted(convId, turnIdx,
        "__ctx__", Extractor.LastMentionPred, mentions.last._2)
    val seen = scala.collection.mutable.LinkedHashSet[String]()
    mentions.foreach { case (_, e) => seen += e }
    seen.foreach { e =>
      out += Extracted(convId, turnIdx, s"urn:conv:$convId",
        Extractor.MentionsPred, e)
    }
    out.toSeq
  }

  /** The supports chain with strings on every row, from the model's rows:
    * scored linking, coref, normalization, the count, then the language
    * stamp — what `KgPipeline.supports` computes under `cfg`. */
  def referenceSupports(cfg: PipelineConfig, turns: Seq[Turn],
                        catalog: Seq[CatalogEntry],
                        markers: Map[String, String]): DataFrame = {
    val spark = SparkTestSession.get
    import spark.implicits._
    val canon =
      if (cfg.scoredLinking) Map.empty[String, String]
      else graft.sources.TranscriptGen.components(catalog)
    val trie = Extractor.buildTrie(catalog, canon, cfg.scoredLinking)
    val raw0 = turns.flatMap(t => modelExtract(t.conv_id, t.turn_idx, t.text,
      trie, markers, cfg.corefResolution)).toDF()
    val raw1 =
      if (cfg.scoredLinking)
        graft.link.AmbiguityResolver.resolve(raw0, turns.toDS(), catalog)
      else raw0
    val raw = if (cfg.corefResolution) CorefResolver.resolve(raw1) else raw1
    val grouped = Extractor.normalize(raw, cfg)
      .groupBy("conv_id", "subj", "pred", "obj")
      .agg(count(lit(1)).as("weight"))
    val stamped =
      if (!cfg.detectLanguage) grouped.withColumn("lang", lit(cfg.language))
      else {
        val profs = graft.text.LangDetect.sortedProfiles(cfg.langProfiles)
        val langs = graft.text.LangDetect.pick(
          graft.text.LangDetect.counts(turns.toDF(), profs), profs, cfg.language)
        grouped.join(langs, Seq("conv_id"), "left")
          .withColumn("lang", coalesce(col("lang"), lit(cfg.language)))
      }
    stamped.select("conv_id", "subj", "pred", "obj", "lang", "weight")
  }
}
