package graft.extract

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Cross-turn coreference: a predicate marker whose turn has no left-hand
  * mention ("uses al2x" — implicit subject) takes the most recently
  * mentioned entity from earlier turns of the same conversation.
  *
  * This is the north rule's cross-turn context made concrete: stable
  * (conv_id, turn_idx) ordering + a running last-non-null window — the same
  * scalable shape as AsOfJoin (no per-conversation stateful scan, so hot
  * conversations stay parallel and salting remains unnecessary).
  *
  * Inputs come from `Extractor.decode` of `Extractor.extractEncoded` with
  * `emitContext = true`, which additionally emits per turn:
  *   - orphan triples: subj = [[Extractor.OrphanSubj]] (marker with right
  *     mention only)
  *   - context rows: pred = [[Extractor.LastMentionPred]], obj = last
  *     mention of the turn (by token position)
  */
object CorefResolver {

  /** Resolve orphan subjects; drop context rows and unresolvable orphans.
    * @return same schema as the input extraction DataFrame. */
  def resolve(extracted: DataFrame): DataFrame = {
    val w = Window.partitionBy("conv_id").orderBy("turn_idx")
      .rangeBetween(Window.unboundedPreceding, -1) // strictly earlier turn_idx
    val withCtx = extracted.withColumn("__last_ent",
      last(when(col("pred") === Extractor.LastMentionPred, col("obj")),
        ignoreNulls = true).over(w))
    withCtx
      .filter(col("pred") =!= Extractor.LastMentionPred)
      .withColumn("subj",
        when(col("subj") === Extractor.OrphanSubj, col("__last_ent"))
          .otherwise(col("subj")))
      .filter(col("subj").isNotNull) // orphan with no prior mention: dropped
      .drop("__last_ent")
  }
}
