package graft.materialize

import scala.collection.{immutable, mutable}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.config.PipelineConfig

/** Per-subject per-language document assembly — the reference's actual
  * output shape (one ES JSON doc per (resource, language),
  * Harvester.java:1826-1877 + ESNormalizer.process):
  *
  *  - A2: values of a predicate collect into a deduplicated list.
  *    Reference preserves first-seen order; we standardize on sorted
  *    (Spark's binary UTF-8 order, as array_sort) for determinism under
  *    parallelism (documented divergence, SURVEY.md §7.4.6).
  *  - P3: empty value lists are never emitted (ESNormalizer.java:226).
  *  - A6: untagged ("") values are shared properties — merged into every
  *    tagged language doc of the subject (value lists unioned per key); a
  *    subject with only untagged values keeps one doc stamped with the
  *    configured default language (ESNormalizer.java:114-127, 177-194).
  *  - `addLanguage`: every language-TAGGED doc carries a `language: [lang]`
  *    property (ESNormalizer.java:193-194 `jsonMaps.get(lang).put("language",
  *    lang)` — applied only when `!lang.equals("")`, so untagged-only docs
  *    never get one). put() overwrite semantics: an extracted `language`
  *    predicate is replaced, not merged.
  *  - `includeResourceURI`: an `about: [<subject URI>]` property is added to
  *    the SHARED doc (ESNormalizer.addUriForResource, ESNormalizer.java:
  *    318-328 puts into jsonMaps.get("")), so it flows into every tagged doc
  *    via the shared merge, or stays on the untagged-only doc.
  *  - `uriDescription`: object URIs are replaced by the first label found
  *    among the configured label predicates, looked up IN the triple set
  *    itself (getLabelForUri semantics, ESNormalizer.java:410-457; priority
  *    order EEASettings.java:46-50; the live v2 path is the sync-query label
  *    pushdown, Harvester.java:982-1031). Substitution happens BEFORE value
  *    dedup, exactly like the reference's per-value rewrite.
  *  - A5 `normMissing`: per-predicate default values fill the untagged map
  *    when (and only when) it lacks the predicate (ESNormalizer.java:127-155;
  *    see [[DocAssembler.SubjectDocs]] for the bug-compatible tagged-only
  *    case).
  *  - F7: doc id = subj@lang (Harvester.java:1852-1853) — the MERGE key.
  *  - A7: optional items_count_<pred> entries (dead code in the reference,
  *    call site commented out at Harvester.java:1845-1848 — implemented
  *    behind `addCounting`, default off, matching observable behavior).
  *
  * Plan: the label lookup (a dimension-sized join AQE broadcasts), then ONE
  * exchange — a `groupBy(subj)` collecting the subject's (lang, pred, obj)
  * rows — and a per-subject kernel ([[DocAssembler.SubjectDocs]]) that
  * builds all of that subject's docs at once (A7's counts stay a row-local
  * map edit after it). Every rule above is local to one subject, so one
  * exchange is all the assembly needs: per-value, per-language and
  * shared/tagged joins would each shuffle again. No per-doc driver work;
  * scales with the subject count.
  */
object DocAssembler {

  /** J1/J5 label resolution over the model itself: for every object value
    * that matches the URI of a label-described subject, substitute the label;
    * priority = position in `cfg.uriDescription`, ties broken by min label
    * (the reference's inner `LIMIT 1` is endpoint-order-arbitrary; min is the
    * deterministic choice, documented divergence). Non-URI objects simply
    * never match the equality join — the reference's isResource gate for
    * free. */
  def resolveUriLabels(triples: DataFrame, cfg: PipelineConfig): DataFrame =
    resolveUriLabels(triples, cfg, triples)

  /** Variant with an explicit label source: when assembling only a SLICE of
    * the model (incremental doc rebuild), labels must still be looked up in
    * the WHOLE model — an object's label lives under another subject. */
  def resolveUriLabels(triples: DataFrame, cfg: PipelineConfig,
                       labelSource: DataFrame): DataFrame = {
    if (cfg.uriDescription.isEmpty) return triples
    val spark = triples.sparkSession
    import spark.implicits._
    val prio = cfg.uriDescription.zipWithIndex.toDF("pred", "prank")
    val labels = labelSource
      .join(broadcast(prio), "pred")
      .filter(length(col("obj")) > 0) // empty labels never win (getLabelForUri)
      .groupBy(col("subj").as("obj"))
      .agg(min(struct(col("prank"), col("obj").as("l"))).as("best"))
      .select(col("obj"), col("best.l").as("resolved_label"))
    triples
      .join(labels, Seq("obj"), "left")
      .withColumn("obj", coalesce(col("resolved_label"), col("obj")))
      .drop("resolved_label")
      .select(triples.columns.map(col): _*)
  }

  /** F8 + F10 composed: JSON rendering of a literal value with the
    * reference's typed passthrough — numeric/boolean datatypes emit native
    * JSON tokens, everything else a quoted, escaped string
    * (getStringForResult, ESNormalizer.java:349-393: Boolean/Number literal
    * values are added unconverted and serialize as JSON numbers/booleans;
    * mapToString quoting, Harvester.java:1937-1951). */
  def typedJsonValue(obj: org.apache.spark.sql.Column,
                     objType: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val xsd = "http://www.w3.org/2001/XMLSchema#"
    val numeric = Seq("byte", "short", "int", "integer", "long", "float",
      "double", "decimal").map(xsd + _)
    // native passthrough only for lexical forms that ARE valid JSON tokens;
    // anything else (e.g. "NaN"^^xsd:double, "abc"^^xsd:integer) falls back
    // to the quoted-string rendering — emitting it bare would produce
    // invalid JSON
    // RFC 8259 number grammar exactly — note xsd permits leading zeros
    // ("0123" is a valid xsd:integer lexical) but JSON does not, so those
    // fall back to the quoted branch too
    val numericLexical = "^-?(0|[1-9][0-9]*)(\\.[0-9]+)?([eE][+-]?[0-9]+)?$"
    // RFC 8259 string: escape backslash/quote/\n\r\t, strip remaining
    // control chars (documented: the reference's raw put() would emit them
    // and rely on the ES client's serializer)
    val e1 = regexp_replace(obj, "\\\\", "\\\\\\\\")
    val e2 = regexp_replace(e1, "\"", "\\\\\"")
    val e3 = regexp_replace(e2, "\n", "\\\\n")
    val e4 = regexp_replace(e3, "\r", "\\\\r")
    val e5 = regexp_replace(e4, "\t", "\\\\t")
    val e6 = regexp_replace(e5, "[\\x00-\\x1f]", "")
    when(objType.isInCollection(numeric) && obj.rlike(numericLexical), obj)
      .when(objType === s"${xsd}boolean" && obj.isin("true", "false"), obj)
      .otherwise(concat(lit("\""), e6, lit("\"")))
  }

  /** @param triples columns (subj, pred, obj, lang); lang "" = untagged.
    * @param labelSource label-lookup scope for uriDescription substitution
    *        (defaults to `triples`; pass the full model when `triples` is an
    *        incremental slice).
    * @return (id, subj, lang, doc: Map[String, Array[String]]) */
  def assemble(triples: DataFrame, cfg: PipelineConfig,
               addCounting: Boolean = false,
               labelSource: Option[DataFrame] = None): DataFrame = {
    val resolved = resolveUriLabels(triples, cfg, labelSource.getOrElse(triples))
    val kernel = new SubjectDocs(cfg)
    val docsOf = udf((subj: String, rows: Seq[(String, String, String)]) =>
      kernel(subj, rows))
    // the kernel emits no null value, which a typed UDF cannot declare:
    // keep the schema the formulation before the kernel typed — value lists
    // of non-null strings (collect_set's), unless an array of a nullable
    // column joined them: the stamp's [lang], about's [subj], A7's counts
    val doc =
      if (cfg.addLanguage || cfg.includeResourceURI || addCounting) col("d._2")
      else transform_values(col("d._2"),
        (_, vs) => transform(vs, v => coalesce(v, lit(""))))
    val docs = resolved
      // a null value joins no value list, and a null language no doc
      .filter(col("obj").isNotNull && col("lang").isNotNull)
      .groupBy("subj")
      .agg(collect_list(struct(col("lang").as("_1"), col("pred").as("_2"),
        col("obj").as("_3"))).as("rows"))
      .select(col("subj"), explode(docsOf(col("subj"), col("rows"))).as("d"))
      .select(concat_ws("@", col("subj"), col("d._1")).as("id"), col("subj"),
        col("d._1").as("lang"), doc.as("doc"))

    if (!addCounting) docs
    else docs.withColumn("doc", map_concat(col("doc"),
      map_from_entries(transform(map_entries(col("doc")),
        e => struct(
          concat(lit("items_count_"), e.getField("key")),
          array(size(e.getField("value")).cast("string")))))))
  }

  /** The per-subject kernel of [[assemble]]: every doc of one subject from
    * its (lang, pred, obj) rows (obj and lang non-null), as (lang, doc)
    * pairs in language order. Value lists are sorted in Spark's binary
    * UTF-8 order (`UTF8String.compareTo`, what `array_sort` uses), not
    * `String.compareTo`, which orders UTF-16 code units.
    *
    * The shared doc is the untagged ("") map with the row-local edits in
    * reference order: `about` merges in first (includeResourceURI), then
    * normMissing defaults fill each predicate the map lacks — absence is
    * judged on the untagged map alone, so a subject holding a defaulted
    * predicate only under a language tag still receives the default, which
    * unions into its tagged docs (bug-compatible by design,
    * ESNormalizer.java:127-155). Defaults skip label resolution. */
  private[graft] final class SubjectDocs(cfg: PipelineConfig) extends Serializable {
    private val includeUri = cfg.includeResourceURI
    private val addLanguage = cfg.addLanguage
    private val language = cfg.language
    private val defaults: Seq[(String, Seq[String])] =
      cfg.normMissing.toSeq.sortBy(_._1).map { case (p, vs) => p -> sortedDistinct(vs) }

    private def sortedDistinct(vs: Iterable[String]): Seq[String] =
      vs.iterator.map(UTF8String.fromString).toSeq.distinct
        .sortWith((x, y) => x.compareTo(y) < 0).map(_.toString)

    def apply(subj: String, rows: Seq[(String, String, String)])
        : Seq[(String, Map[String, Seq[String]])] = {
      // lang -> pred -> values (A2: a set, sorted on output)
      val byLang = mutable.TreeMap.empty[String, mutable.Map[String, mutable.Set[String]]]
      rows.foreach { case (lang, pred, obj) =>
        byLang.getOrElseUpdate(lang, mutable.HashMap.empty)
          .getOrElseUpdate(pred, mutable.HashSet.empty) += obj
      }
      val untagged = byLang.remove("")
      // P3 holds by construction: every list holds at least one value
      // (an empty normMissing default is emitted as configured)
      val shared = mutable.HashMap.empty[String, mutable.Set[String]]
      untagged.foreach(shared ++= _)
      if (includeUri) shared.getOrElseUpdate("about", mutable.HashSet.empty) += subj
      defaults.foreach { case (p, vs) =>
        if (!shared.contains(p)) shared(p) = mutable.LinkedHashSet(vs: _*)
      }
      def render(m: collection.Map[String, collection.Set[String]])
          : Map[String, Seq[String]] =
        immutable.TreeMap.from(m.view.mapValues(sortedDistinct))
      if (byLang.isEmpty)
        // untagged values only: one doc at the default language, unstamped
        untagged.map(_ => language -> render(shared)).toSeq
      else byLang.toSeq.map { case (lang, tagged) =>
        // A6: the shared doc merges into every tagged doc, lists unioned
        val merged = mutable.HashMap.from[String, collection.Set[String]](shared)
        tagged.foreach { case (p, vs) =>
          merged(p) = merged.get(p).fold[collection.Set[String]](vs)(_ ++ vs)
        }
        val doc = render(merged)
        // language stamp: put-overwrite, tagged docs only
        lang -> (if (addLanguage) doc.updated("language", Seq(lang)) else doc)
      }
    }
  }
}
