package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.functions.lit

import graft.operators.TransitiveClosure
import graft.queries.GraphQueries

/** Differential tests for the iterative graph operators: the Catalyst
  * formulations (argmax-by-struct label propagation, semi-join k-core
  * peeling, min-merge BFS) vs brute-force single-threaded references on
  * seeded random graphs. The driver's DuckDB oracles pin one fixed corpus;
  * these sweep many shapes — in particular tie-heavy label distributions,
  * where the max(struct(count, -label)) trick must agree exactly with the
  * row_number-by-(count DESC, label ASC) definition. */
class GraphQueriesSpec extends AnyFunSuite {

  private def randomGraph(seed: Int, n: Int, m: Int): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    // dedup + drop self loops; keep both generated directions as given
    (1 to m).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter { case (u, v) => u != v }.distinct
  }

  private def sym(es: Seq[(Long, Long)]): Seq[(Long, Long)] =
    (es ++ es.map(_.swap)).distinct

  private def toDf(es: Seq[(Long, Long)]) = {
    val spark = SparkTestSession.get
    import spark.implicits._
    es.toDF("u", "v").repartition(5)
  }

  // ---- brute-force references --------------------------------------------

  private def refLabelProp(es: Seq[(Long, Long)], rounds: Int): Map[Long, Long] = {
    val nbrs = es.groupBy(_._1).map { case (u, vs) => u -> vs.map(_._2) }
    var lbl: Map[Long, Long] = nbrs.keys.map(k => k -> k).toMap
    for (_ <- 1 to rounds)
      lbl = nbrs.map { case (u, vs) =>
        val counts = vs.groupBy(lbl).map { case (l, xs) => (l, xs.size) }
        // most frequent, ties to the smallest label
        u -> counts.toSeq.minBy { case (l, c) => (-c, l) }._1
      }
    lbl
  }

  private def refKcore(es: Seq[(Long, Long)], k: Int,
                       rounds: Int): Seq[(Long, Long)] = {
    var e = es
    for (_ <- 1 to rounds) {
      val deg = e.groupBy(_._1).map { case (u, xs) => (u, xs.size) }
      val keep = deg.collect { case (u, d) if d >= k => u }.toSet
      e = e.filter { case (u, v) => keep(u) && keep(v) }
    }
    e
  }

  private def refBfs(es: Seq[(Long, Long)], seeds: Seq[Long],
                     hops: Int): Map[Long, Long] = {
    val out = es.groupBy(_._1).map { case (u, vs) => u -> vs.map(_._2) }
    var dist: Map[Long, Long] = seeds.map(_ -> 0L).toMap
    for (_ <- 1 to hops) {
      val next = dist.toSeq.flatMap { case (u, h) =>
        out.getOrElse(u, Nil).map(_ -> (h + 1)) }
      dist = (dist.toSeq ++ next).groupBy(_._1)
        .map { case (id, hs) => id -> hs.map(_._2).min }
    }
    dist
  }

  // ---- sweeps -------------------------------------------------------------

  private val shapes = Seq( // (seed, nodes, directed-edge draws)
    (1, 8, 12), (2, 20, 40), (3, 40, 60), (4, 15, 120), (5, 30, 30))

  test("label propagation == brute force on random graphs (incl. tie-heavy)") {
    for ((seed, n, m) <- shapes; rounds <- Seq(1, 3)) {
      val s = sym(randomGraph(seed, n, m))
      val got = GraphQueries.labelPropagate(toDf(s), rounds)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(got == refLabelProp(s, rounds),
        s"labelProp mismatch at seed=$seed n=$n m=$m rounds=$rounds")
    }
  }

  test("k-core peeling == brute force on random graphs") {
    for ((seed, n, m) <- shapes; k <- Seq(2, 3)) {
      val s = sym(randomGraph(seed, n, m))
      val got = GraphQueries.kcorePeel(toDf(s), k, rounds = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == refKcore(s, k, rounds = 3).toSet,
        s"kcore mismatch at seed=$seed n=$n m=$m k=$k")
    }
  }

  test("multi-source BFS == brute force on random DIRECTED graphs") {
    val spark = SparkTestSession.get
    import spark.implicits._
    for ((seed, n, m) <- shapes) {
      val es = randomGraph(seed, n, m)
      val seedNodes = (0L until n.toLong).filter(_ % 5 == 1)
      val seedsDf = seedNodes.map(id => (id, 0L)).toDF("id", "dist")
      // BFS = Bellman-Ford over unit bigint weights (kg_bfs_hops)
      val got = GraphQueries
        .bellmanFord(toDf(es).withColumn("w", lit(1L)), seedsDf, rounds = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(got == refBfs(es, seedNodes, hops = 3),
        s"bfs mismatch at seed=$seed n=$n m=$m")
    }
  }

  /** (a, b) -> (cn, ra_fp, jac-numerator-check) over non-edges only. */
  private def refLinkPredict(es: Seq[(Long, Long)], maxHubDeg: Int,
                             minCn: Int): Map[(Long, Long), (Long, Long, Double)] = {
    val nbrs = es.groupBy(_._1).map { case (u, vs) => u -> vs.map(_._2).toSet }
    val deg = nbrs.map { case (u, vs) => u -> vs.size.toLong }
    val edgeSet = es.toSet
    val wedges = for {
      (w, vs) <- nbrs.toSeq if deg(w) <= maxHubDeg
      a <- vs; b <- vs if a < b
    } yield ((a, b), 1000000L / deg(w))
    wedges.groupBy(_._1).collect {
      case ((a, b), rs) if rs.size >= minCn && !edgeSet((a, b)) =>
        val cn = rs.size.toLong
        (a, b) -> (cn, rs.map(_._2).sum,
          cn.toDouble / (deg(a) + deg(b) - cn))
    }
  }

  test("link prediction == brute force; hub-capped wedges certify nothing") {
    for ((seed, n, m) <- shapes; cap <- Seq(3, 32)) {
      val s = sym(randomGraph(seed, n, m))
      val got = GraphQueries.linkPredict(toDf(s), maxHubDeg = cap, minCn = 2)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) ->
          (r.getLong(2), r.getLong(3), r.getDouble(4)))
        .toMap
      assert(got == refLinkPredict(s, cap, minCn = 2),
        s"linkPredict mismatch at seed=$seed n=$n m=$m cap=$cap")
    }
    // a star hub over the cap: no pair may be certified through it
    val star = sym((1L to 40L).map(i => (0L, i)))
    assert(GraphQueries.linkPredict(toDf(star), maxHubDeg = 32, minCn = 1)
      .collect().isEmpty, "over-cap hub must certify no pairs")
  }

  private def refBellman(es: Seq[(Long, Long, Long)], seeds: Seq[Long],
                         rounds: Int): Map[Long, Long] = {
    val out = es.groupBy(_._1)
    var dist: Map[Long, Long] = seeds.map(_ -> 0L).toMap
    for (_ <- 1 to rounds) {
      val relax = dist.toSeq.flatMap { case (u, du) =>
        out.getOrElse(u, Nil).map { case (_, v, w) => v -> (du + w) } }
      dist = (dist.toSeq ++ relax).groupBy(_._1)
        .map { case (id, ds) => id -> ds.map(_._2).min }
    }
    dist
  }

  test("Bellman-Ford == brute force on random weighted DIRECTED graphs") {
    val spark = SparkTestSession.get
    import spark.implicits._
    for ((seed, n, m) <- shapes) {
      val rnd = new scala.util.Random(seed + 100)
      val es = randomGraph(seed, n, m)
        .map { case (u, v) => (u, v, rnd.nextInt(9).toLong + 1) }
      val seedNodes = (0L until n.toLong).filter(_ % 5 == 1)
      val seedsDf = seedNodes.map(id => (id, 0L)).toDF("id", "dist")
      val got = GraphQueries
        .bellmanFord(es.toDF("u", "v", "w").repartition(5), seedsDf, rounds = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(got == refBellman(es, seedNodes, rounds = 4),
        s"bellmanFord mismatch at seed=$seed n=$n m=$m")
    }
  }

  // ---- deterministic random walks ----------------------------------------

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Brute-force walk reference: at each step pick the non-backtracking
    * neighbor minimizing md5("walk:step:v") ++ ":" ++ lpad(v) — the exact
    * key randomWalks minimizes. */
  private def refWalks(es: Seq[(Long, Long)], starts: Seq[Long],
                       steps: Int): Seq[(Long, Int, Long)] = {
    val out = es.groupBy(_._1).map { case (u, vs) => u -> vs.map(_._2) }
    starts.flatMap { w =>
      var prev = -1L
      var cur = w
      var rows = Seq((w, 0, w))
      var alive = true
      for (st <- 1 to steps if alive) {
        val cands = out.getOrElse(cur, Nil).filter(_ != prev)
        if (cands.isEmpty) alive = false
        else {
          val nxt = cands.minBy(v =>
            md5Hex(s"$w:$st:$v") + ":" + "%010d".format(v))
          prev = cur; cur = nxt
          rows :+= ((w, st, cur))
        }
      }
      rows
    }
  }

  test("deterministic random walks == brute force; non-backtracking; edges real") {
    for ((seed, n, m) <- shapes) {
      val es = randomGraph(seed, n, m)
      val starts = (0L until n.toLong).filter(_ % 3 == 0)
      val spark = SparkTestSession.get
      import spark.implicits._
      val startsDf = starts.map(id => (id, id)).toDF("walk_id", "cur")
      val got = GraphQueries.randomWalks(toDf(es), startsDf, steps = 4)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      assert(got.sorted.toSeq == refWalks(es, starts, 4).sorted,
        s"walks mismatch at seed=$seed n=$n m=$m")
      // structural invariants on the engine output itself
      val edgeSet = es.toSet
      val byWalk = got.groupBy(_._1).values
      for (wseq <- byWalk) {
        val path = wseq.sortBy(_._2).map(_._3).toSeq
        path.sliding(2).foreach {
          case Seq(a, b) => assert(edgeSet((a, b)), s"non-edge $a->$b in walk")
          case _ =>
        }
        path.sliding(3).foreach {
          case Seq(a, _, c) => assert(a != c, "backtracking step in walk")
          case _ =>
        }
      }
    }
    // dead-end stops: a single directed edge walks one step and halts
    val spark = SparkTestSession.get
    import spark.implicits._
    val one = Seq((0L, 1L)).toDF("u", "v")
    val st = Seq((0L, 0L)).toDF("walk_id", "cur")
    val rows = GraphQueries.randomWalks(one, st, steps = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted
    assert(rows.toSeq == Seq((0L, 0, 0L), (0L, 1, 1L)),
      "dead-end walk must stop emitting, not fabricate steps")
  }

  // ---- iterative-doubling transitive closure ------------------------------

  private def refClosure(es: Seq[(Long, Long)]): Set[(Long, Long)] = {
    val out = es.groupBy(_._1).map { case (u, vs) => u -> vs.map(_._2).toSet }
    var reach = es.toSet
    var grew = true
    while (grew) {
      val ext = reach.flatMap { case (a, b) =>
        out.getOrElse(b, Set.empty).map(c => (a, c)) }
      val nxt = reach ++ ext
      grew = nxt.size > reach.size
      reach = nxt
    }
    reach
  }

  test("iterative-doubling closure == brute-force reachability on random DAGs") {
    for ((seed, n, m) <- shapes) {
      // orient edges downward (u > v) => acyclic, multi-path DAG
      val es = randomGraph(seed, n, m)
        .map { case (u, v) => if (u > v) (u, v) else (v, u) }
        .filter { case (u, v) => u != v }.distinct
      val spark = SparkTestSession.get
      import spark.implicits._
      val got = TransitiveClosure(es.toDF("src", "dst").repartition(5))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == refClosure(es), s"closure mismatch at seed=$seed n=$n m=$m")
    }
  }

  test("doubling depth bound: 16- and 40-chains close fully at the fixpoint") {
    val spark = SparkTestSession.get
    import spark.implicits._
    // 16 edges = 2^4 closes in exactly 4 doubling rounds; 40 edges needs
    // 6, so any loop stopping at a fixed 4 rounds loses pairs
    for (k <- Seq(16L, 40L)) {
      val chain = (0L until k).map(i => (i, i + 1)).toDF("src", "dst")
      val got = TransitiveClosure(chain)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val want = (for (a <- 0L to k; b <- (a + 1) to k) yield (a, b)).toSet
      assert(got == want, s"the doubling closure must close a $k-chain")
    }
  }
}
