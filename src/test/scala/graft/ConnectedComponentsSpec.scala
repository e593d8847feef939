package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.canon.ConnectedComponents

/** Large-star/small-star CC vs a brute-force union-find oracle on seeded
  * random graphs (SURVEY.md §5: CC fixpoint = transitive closure). */
class ConnectedComponentsSpec extends AnyFunSuite {

  private def unionFind(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    def union(a: Long, b: Long): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    edges.foreach { case (a, b) => union(a, b) }
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    // min-id representative per component
    val byRoot = nodes.groupBy(find)
    byRoot.flatMap { case (_, members) =>
      val m = members.min
      members.map(_ -> m)
    }
  }

  private def check(edges: Seq[(Long, Long)]): Unit = {
    val spark = SparkTestSession.get
    import spark.implicits._
    val df = edges.toDF("src", "dst")
    val got = ConnectedComponents.run(df).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = unionFind(0, edges)
    assert(got == want)
  }

  test("chain graph contracts to one component") {
    check((0L until 20L).sliding(2).map(s => (s(0), s(1))).toSeq)
  }

  test("star graph (hot entity) resolves in one round") {
    check((1L to 50L).map(i => (0L, i)))
  }

  test("disjoint pairs stay disjoint") {
    check(Seq((1L, 2L), (3L, 4L), (10L, 11L)))
  }

  test("self-loops and duplicates are ignored") {
    check(Seq((1L, 1L), (1L, 2L), (2L, 1L), (1L, 2L), (5L, 5L), (5L, 6L)))
  }

  test("seeded random graphs match union-find") {
    val rnd = new scala.util.Random(7)
    (1 to 5).foreach { _ =>
      val n = 30 + rnd.nextInt(40)
      val m = rnd.nextInt(60)
      val edges = Seq.fill(m)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2)
      if (edges.nonEmpty) check(edges)
    }
  }

  test("5000-node random graph matches union-find (log-round convergence)") {
    val rnd = new scala.util.Random(11)
    val n = 5000
    val edges = Seq.fill(4000)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter(e => e._1 != e._2)
    check(edges)
  }
}
