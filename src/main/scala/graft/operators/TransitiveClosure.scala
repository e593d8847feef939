package graft.operators

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

/** Transitive closure of a pair frame by ITERATIVE DOUBLING to the
  * fixpoint: rounds of P <- P ∪ (P ∘ P) reach every path of length
  * <= 2^r after r rounds — O(log depth) self-join rounds where the naive
  * frontier walk needs O(depth). It serves SPARQL `+`/`*` (default graph
  * and GRAPH ?g) and kg_transitive_pred.
  *
  * The first two columns are the endpoint pair (from, to); every further
  * column is a scope key that each doubling join also matches on equality,
  * so a closure keyed by a named graph never crosses graphs. The output
  * has the input's schema.
  *
  * Each round is distinct()-ed (on DAGs P∘P re-derives short paths) and
  * eagerly materialized, because the next round consumes it on BOTH sides
  * of the self-join — unmaterialized, the lineage would re-execute the
  * whole prefix 2x per round. The row count rides that checkpoint via
  * Dataset.observe, so each round is one driver action, and the loop stops
  * when the count repeats: a growing set whose size did not change is the
  * fixpoint. Empty input returns without a join round. */
object TransitiveClosure {

  def apply(pairs: DataFrame): DataFrame = {
    val Seq(from, to, keys @ _*) = pairs.columns.toSeq
    def ckptCounted(df: DataFrame): (DataFrame, Long) = {
      val obs = new Observation(s"closure-${System.nanoTime()}")
      val out = df.observe(obs, count(lit(1)).as("c")).localCheckpoint(true)
      (out, obs.get("c").asInstanceOf[Long])
    }
    val on = keys.foldLeft(col(s"a.$to") === col(s"b.$from"))(
      (c, k) => c && col(s"a.$k") === col(s"b.$k"))
    val out = Seq(col(s"a.$from").as(from), col(s"b.$to").as(to)) ++
      keys.map(k => col(s"a.$k").as(k))
    var (p, n) = ckptCounted(pairs.distinct())
    var converged = n == 0
    while (!converged) {
      val ext = p.alias("a").join(p.alias("b"), on).select(out: _*)
      val (nxt, n2) = ckptCounted(p.unionAll(ext).distinct())
      if (n2 == n) converged = true else { p = nxt; n = n2 }
    }
    p
  }
}
