package graft.config

/** Pipeline configuration mirroring the reference's river settings surface
  * (every data-shaping key parsed in Indexer.addHarvesterSettings,
  * Indexer.java:350-463) plus the graft's physical layout (bucket count and
  * key expression of the published tables) and extraction-semantics flags.
  *
  * Driver-side plain Scala — no Spark types; the reference persists the same
  * shape as a JSON blob via JPA (River.java:14-47).
  */
final case class PipelineConfig(
    pipelineId: String = "kg",
    // P1: predicate white/blacklist (proplist/listtype,
    //     docs/EEA_Indexer_README.rst:268-291)
    proplist: Set[String] = Set.empty,
    listType: String = "white", // "white" | "black"
    // A4: normProp — predicate rename / 1->N fan-out
    //     (EEA_Indexer_README.rst:339-412)
    normProp: Map[String, Seq[String]] = Map.empty,
    // A3: normObj — object value canonicalization (rst:414-433)
    normObj: Map[String, String] = Map.empty,
    // A5: normMissing — per-predicate default values (rst:435-463)
    normMissing: Map[String, Seq[String]] = Map.empty,
    // P2: per-predicate object white/black value sets (rst:293-331)
    whiteMap: Map[String, Set[String]] = Map.empty,
    blackMap: Map[String, Set[String]] = Map.empty,
    // A6: language handling (rst:190-198)
    language: String = "en",
    addLanguage: Boolean = true,
    // stamp each conversation's DETECTED language on its supports instead of
    // the single configured one — the graft analogue of per-literal RDF lang
    // tags for text-only sources (detection: argmax function-word hit ratio
    // over langProfiles, fallback `language`)
    // profiles must be DISJOINT across languages where words collide in
    // practice (e.g. "to"/"a" are both top English and Czech function words
    // — including either in one profile misclassifies the other language)
    detectLanguage: Boolean = false,
    langProfiles: Map[String, Set[String]] = Map(
      "en" -> Set("the", "of", "and", "is", "with"),
      "cs" -> Set("je", "na", "se", "aby", "nebo")),
    // J1: label source priority (uriDescriptionList; defaults are the
    // reference's full predicate IRIs, EEASettings.java:46-50 — ingest-nt
    // dumps carry full-IRI predicates, so bare local names would silently
    // never match. Bare-name fallbacks follow at lower priority for
    // synthetic/transcript-derived models keyed by local names.)
    uriDescription: Seq[String] = Seq(
      "http://www.w3.org/2004/02/skos/core#prefLabel",
      "http://purl.org/dc/terms/title",
      "http://www.w3.org/2000/01/rdf-schema#label",
      "prefLabel", "title", "label"),
    // about=[subject URI] property on the shared doc
    // (addUriForResource, ESNormalizer.java:318-328; key Indexer.java:389)
    includeResourceURI: Boolean = false,
    // sync (Harvester.java:1199-1453)
    syncOldData: Boolean = false,
    // physical bucket count of the published support/edge/node tables
    // (partitionBy(bucket)); a sync touching k of B buckets rewrites only k
    // bucket directories. At 100 TB size B so one bucket ~ tens of GB.
    syncBuckets: Int = 16,
    // bucket-KEY expression: SQL over the template slot {k} (the table's own
    // merge key column — conv_id for supports, subj for edges/docs,
    // entity_id for nodes), bucketed pmod(expr, syncBuckets). The default
    // hash spreads UNIFORM change evenly (k ~ min(B, #changed convs)). When
    // the change pattern is TEMPORAL (recent conversations change, old ones
    // never) and the key embeds a stable time attribute, point this at it —
    // e.g. "coalesce(try_cast(regexp_extract({k}, 'w(\\d\\d)-', 1) as int),
    // hash({k}))" for ids like "w07-conv-0042" (try_cast: ANSI mode throws
    // on non-matching keys otherwise; the hash fallback covers keys with no
    // time attribute, e.g. entity ids in the node table) — so a sync's
    // changed conversations cluster into few buckets instead of k of them.
    // Pinned in the workDir like syncBuckets: every writer must agree or
    // rows would be replaced in the wrong buckets.
    bucketKeyExpr: String = "hash({k})",
    workDir: String = "/tmp/graft-work",
    // scored entity linking: an alias naming SEVERAL entities is resolved
    // per mention by TF-IDF/Jaccard context similarity (EntityLinker)
    // instead of being collapsed by alias-sharing canonicalization or
    // rank-guessed — flips the shared-alias semantics from "identity" to
    // "ambiguity" (AmbiguityResolver.resolve)
    scoredLinking: Boolean = false,
    // cross-turn coreference: a marker with a right-hand mention but no
    // left-hand one takes the most recently mentioned entity from earlier
    // turns of the same conversation (CorefResolver — window over
    // (conv_id, turn_idx), no stateful per-conversation scan). Off by
    // default: it adds one conversation-keyed window shuffle of the
    // extraction output
    corefResolution: Boolean = false,
    // also publish the per-(subject, language) document table — the
    // reference's actual output shape (one ES doc per resource@lang)
    publishDocs: Boolean = false,
    // incremental doc rebuild also refreshes docs that REFERENCE a changed
    // subject as an object value (a label edit then propagates to every doc
    // that displays it). Off by default: matching the reference's sync
    // staleness (unchanged resources are not re-indexed) AND because the
    // obj-side semi-join scans the edge table along a non-bucketed column —
    // opt in when label freshness is worth one extra edge-table pass per sync
    refreshReferencingDocs: Boolean = false,
    // the river config's SPARQL query texts (`query[]` in the settings
    // blob) — run against the published graph by `KgMain query`
    queries: Seq[String] = Seq.empty,
    // SERVICE IRI -> local graph path: a pre-materialized dump (.nt via
    // NTriplesSource, else a parquet dir with s/p/o or subj/pred/obj
    // columns) registered so federated queries compile against it instead
    // of refusing — there is no remote endpoint in a Spark-local engine
    serviceGraphs: Map[String, String] = Map.empty) {

  /** Signature of the flags that change what a published ROW means (not
    * how fast it is computed). There is one pin, in the support table's
    * metadata (`TableCommitter.pinSemanticsOrVerify`): a batch full run
    * re-pins it, a batch sync and the streaming ingest verify it, so two
    * row semantics can never mix inside one table. Catalog/marker/
    * normalization evolution is deliberately NOT part of it: syncing
    * against an updated model is the reference's normal operating mode. */
  def semanticsSig: String =
    s"coref=$corefResolution,scored=$scoredLinking," +
      s"detect=$detectLanguage,lang=$language"
}

object PipelineConfig {
  /** The default bucket-key expression: a hash of the key. A table's
    * expression is pinned by its first writer, and a writer with another
    * one is refused (`TableCommitter.pinBucketMapping`). */
  val DefaultBucketKeyExpr = "hash({k})"

  /** THE key-to-bucket mapping. Bucket-merge correctness requires every
    * writer of a table — batch pipeline, streaming ingest, external
    * ingesters — to agree on this mapping BIT-FOR-BIT, so it exists exactly
    * once: re-deriving the pmod/splice at a call site risks silently
    * desynchronizing one writer while the pinned expression STRING still
    * matches. `key` must be a plain column name (a computed expression
    * would not round-trip through the {k} SQL-text splice). */
  def bucketCol(keyExpr: String, key: String, buckets: Int)
      : org.apache.spark.sql.Column = {
    require(key.matches("[A-Za-z_][A-Za-z0-9_]*"),
      s"bucket keys must be plain columns, got: $key")
    org.apache.spark.sql.functions.pmod(
      org.apache.spark.sql.functions.expr(keyExpr.replace("{k}", key)),
      org.apache.spark.sql.functions.lit(buckets))
  }
}
