package graft.schema

import java.sql.Timestamp

/** Core row types of the KG-construction pipeline (SURVEY.md §7.1 module 1).
  *
  * `Turn` is exactly `BASELINE.json`'s `input_hint` schema. `Triple` is the
  * universal IR — the Spark-native stand-in for the reference's Jena
  * `Statement` in an in-memory `Model` (Harvester.java:1578-1581): set
  * semantics are realized by `dropDuplicates` on the triple key, not by a
  * driver-side graph object.
  */
final case class Turn(
    conv_id: String,
    turn_idx: Int,
    role: String,
    text: String,
    tool: String,
    ts: Timestamp)

/** One (subject, predicate, object) statement. `objLang` mirrors the RDF
  * literal language tag that routes values into per-language documents
  * (ESNormalizer.java:190-194); `objType` mirrors the literal datatype
  * dispatch (ESNormalizer.java:349-393). */
final case class Triple(
    subj: String,
    pred: String,
    obj: String,
    objLang: String,
    objType: String)

/** Broadcast dictionary row for entity linking (mirrors the reference's
  * uriDescriptionList label sources, EEASettings.java:46-50 — first-match
  * priority is `rank`). */
final case class CatalogEntry(
    entityId: String,
    alias: String,
    prefLabel: String,
    rank: Int)
