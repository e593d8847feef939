package graft.canon

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Distributed connected components via alternating large-star / small-star
  * contraction (Kiveris et al., "Connected Components in MapReduce and
  * Beyond", SoCC'14) — converges in O(log n) rounds, vs O(diameter) for naive
  * label propagation, which matters at 10^12-edge scale.
  *
  * This generalizes the reference's single-hop `normalizeObj` alias merge
  * (ESNormalizer.java:214-222) to multi-hop canonicalization (SURVEY.md §2.4
  * A3 / §7.1 module 7).
  *
  * Scale notes:
  *  - Neighborhood minima are computed with `groupBy().min()` + join — a
  *    partial-aggregatable map-side-combinable shuffle — never with
  *    `collect_set`, so a hot entity with millions of neighbors cannot blow
  *    a single task's memory.
  *  - Every round materializes via persist + count and truncates lineage
  *    with `localCheckpoint`, so the plan does not grow unboundedly.
  *  - AQE handles residual join skew (skew-join split enabled in session).
  *
  * Ids are compared with `least`/min — works for any orderable id type
  * (long ids preferred at scale; string URNs accepted).
  */
object ConnectedComponents {

  /** round cap: star contraction converges in O(log n) rounds */
  private val MaxRounds = 25

  /** @param edgesIn DataFrame with columns (src, dst); undirected semantics.
    * @return DataFrame (id, component) covering every node that appears in
    *         any edge; component = min id of the node's component.
    */
  def run(edgesIn: DataFrame): DataFrame = {
    val spark = edgesIn.sparkSession

    // Canonical directed form (hi -> lo), self-loops dropped, deduped.
    // The INPUT's convergence signature rides the persist materialization
    // via observe (it completes inside round 1's job — no up-front action),
    // so an ALREADY-CONVERGED input (the common star shape from dedup
    // group-min edges) is recognized after ONE round instead of two.
    // Round fusion — two star rounds per action — was TRIED here and
    // measured 2.4–5x SLOWER at sf0.1 (the outer round's repeated
    // references recompute the inner DAG; even a lazy persist of the
    // intermediate costs more than the saved driver sync), so one round
    // per action stays deliberate.
    val obs0 = new org.apache.spark.sql.Observation("cc-sig-init")
    var edges = edgesIn
      .select(
        greatest(col("src"), col("dst")).as("u"),
        least(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .observe(obs0, count(lit(1)).as("c"),
        coalesce(sum(hash(col("u"), col("v")).cast("long")), lit(0L)).as("h"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    var prevSig: (Long, Long) = (-1L, -1L) // replaced by obs0 after round 1
    var first = true
    var converged = false
    var it = 0

    while (!converged && it < MaxRounds) {
      import org.apache.spark.sql.expressions.Window
      // ---- large-star: for every node, connect its larger neighbors to the
      // minimum of its neighborhood (incl. itself). The neighborhood minimum
      // is a running-min WINDOW over the partition key — one exchange+sort,
      // no separate aggregate and no join (guide §2.4: a window keyed like
      // the preceding operation needs no second shuffle). The former
      // groupBy().min() + join formulation shuffled sym TWICE (agg exchange
      // + join exchange) and built two more stages per round; A/B at sf0.1:
      // window round 1.35 s vs agg+join round 2.5 s, jobs 39 -> 23 on
      // kg_canonicalize_cc. Skew note: a hub key's rows land in one sort
      // task either way (SMJ sorts the hub partition too); what is given up
      // is AQE skew-join splitting, which cannot split a window partition —
      // acceptable because the per-row state of a running min is constant
      // and the sort spills, so a hub costs time, not memory.
      val sym = edges.select(col("u").as("a"), col("v").as("b"))
        .union(edges.select(col("v").as("a"), col("u").as("b")))
      val afterLarge = sym
        .withColumn("m", least(col("a"), min(col("b")).over(Window.partitionBy("a"))))
        .filter(col("b") > col("a"))
        .select(col("b").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))

      // ---- small-star: connect all smaller neighbors (and the node) to the
      // minimum of the smaller neighborhood — same window idiom; the second
      // union branch emits (u, m) once per ROW rather than once per distinct
      // u (the round's distinct collapses the duplicates — same set).
      val withM = afterLarge
        .withColumn("m2", min(col("v")).over(Window.partitionBy("u")))
      // the convergence signature rides the checkpoint materialization
      // (Dataset.observe) — ONE driver action per round, not two
      val obs = new org.apache.spark.sql.Observation(s"cc-sig-$it")
      val afterSmall = withM
        .select(col("v").as("n"), col("m2").as("m"))
        .union(withM.select(col("u").as("n"), col("m2").as("m")))
        .filter(col("n") =!= col("m"))
        .select(
          greatest(col("n"), col("m")).as("u"),
          least(col("n"), col("m")).as("v"))
        .distinct()
        .observe(obs, count(lit(1)).as("c"),
          coalesce(sum(hash(col("u"), col("v")).cast("long")), lit(0L)).as("h"))
        .localCheckpoint(true) // truncate lineage each round; fires the observation

      val sig = (obs.get("c").asInstanceOf[Long], obs.get("h").asInstanceOf[Long])
      if (first) {
        // the input frame materialized inside this round's job, so its
        // signature is available now — round 1 can read as converged
        prevSig = (obs0.get("c").asInstanceOf[Long],
          obs0.get("h").asInstanceOf[Long])
        first = false
      }
      // (count, hash-sum) can collide: when it repeats, confirm the fixpoint
      // with ONE exact set check (counts already match, so one-sided except
      // suffices) — runs only at the candidate fixpoint, never per round
      converged = sig == prevSig && afterSmall.except(edges).isEmpty
      prevSig = sig
      edges.unpersist()
      edges = afterSmall
      it += 1
    }

    // At the fixpoint every edge is (member -> root); add the roots themselves.
    edges.select(col("u").as("id"), col("v").as("component"))
      .union(edges.select(col("v").as("id"), col("v").as("component")))
      .distinct()
  }

}
