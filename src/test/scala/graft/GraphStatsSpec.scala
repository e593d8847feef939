package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.materialize.GraphStats

/** The control-plane schema profile (`KgMain stats` / GraphStats.profile):
  * exact cardinalities, out-degree and functionality on a hand-built edge
  * frame, and end-to-end over a real published edge table. */
class GraphStatsSpec extends AnyFunSuite {

  test("profile: cardinalities, max out-degree and functional flag are exact") {
    val spark = SparkTestSession.get
    import spark.implicits._
    val edges = Seq(
      // p1: functional (every subj has exactly one obj), weights sum
      ("s1", "p1", "a", 2L), ("s2", "p1", "b", 3L),
      // p2: s1 has two objects -> max_out 2, not functional
      ("s1", "p2", "a", 1L), ("s1", "p2", "b", 1L), ("s2", "p2", "a", 1L)
    ).toDF("subj", "pred", "obj", "weight")
    val got = GraphStats.profile(edges).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getInt(5), r.getLong(6)))
    assert(got.toSeq == Seq(
      ("p1", 2L, 2L, 2L, 1L, 1, 5L),
      ("p2", 3L, 2L, 2L, 2L, 0, 3L)))
  }

  test("generation diff: added/removed/reweighted edges between two runs " +
       "(the KgMain diff semantics)") {
    val spark = SparkTestSession.get
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val fx = graft.sources.TranscriptGen.generate(nConv = 12, nEnt = 6, hotFactor = 1)
    val dir = TempDirs("gdiff-")
    val p = new graft.pipeline.KgPipeline(
      graft.config.PipelineConfig(workDir = dir))
    p.runFull(spark, fx.turns.toDS(), fx.catalog, fx.markers, "r1")
    // second full run over a corpus with 2 conversations dropped and their
    // turns re-used under a fresh conv id -> both adds and removes
    val mutated = fx.turns.filterNot(t => t.conv_id == "conv-000000" || t.conv_id == "conv-000001") ++
      fx.turns.filter(_.conv_id == "conv-000000").map(t => t.copy(conv_id = "conv-new"))
    p.runFull(spark, mutated.toDS(), fx.catalog, fx.markers, "r2")
    val gens = p.edgeTable.generations()
    assert(gens.size >= 2)
    val key = Seq("subj", "pred", "obj", "lang")
    val a = p.edgeTable.readGeneration(spark, gens(gens.size - 2)).get
    val b = p.edgeTable.readGeneration(spark, gens.last).get
    val added = b.join(a, key, "left_anti")
    val removed = a.join(b, key, "left_anti")
    // the new conversation's subject edges exist only in the new generation
    assert(added.filter(col("subj") === "urn:conv:conv-new").count() > 0)
    assert(removed.filter(col("subj") === "urn:conv:conv-000000").count() > 0)
    assert(removed.filter(col("subj") === "urn:conv:conv-000001").count() > 0)
    // unchanged conversations appear in neither delta
    assert(added.filter(col("subj") === "urn:conv:conv-000002").count() == 0)
    assert(removed.filter(col("subj") === "urn:conv:conv-000002").count() == 0)
    // the single-pass full-outer delta (what KgMain diff prints) agrees
    // with the reference anti-join counts
    val (nAdd, nRem, nRew) = GraphStats.generationDelta(a, b)
    assert(nAdd == added.count())
    assert(nRem == removed.count())
    val key2 = Seq("subj", "pred", "obj", "lang")
    val rewRef = a.select(key2.map(col) :+ col("weight").as("wa"): _*)
      .join(b.select(key2.map(col) :+ col("weight").as("wb"): _*), key2)
      .filter(col("wa") =!= col("wb")).count()
    assert(nRew == rewRef)
  }

  test("generationDelta: reweighted edges counted once; identical frames " +
       "and empty sides yield zeros, not nulls") {
    val spark = SparkTestSession.get
    import spark.implicits._
    def df(rows: Seq[(String, String, String, String, Long)]) =
      rows.toDF("subj", "pred", "obj", "lang", "weight")
    val a = df(Seq(("s1", "p", "o1", "cs", 2L), ("s2", "p", "o2", "cs", 1L)))
    val b = df(Seq(("s1", "p", "o1", "cs", 5L), ("s3", "p", "o3", "cs", 1L)))
    assert(GraphStats.generationDelta(a, b) == ((1L, 1L, 1L)))
    assert(GraphStats.generationDelta(a, a) == ((0L, 0L, 0L)))
    val empty = df(Seq.empty)
    assert(GraphStats.generationDelta(empty, empty) == ((0L, 0L, 0L)))
    assert(GraphStats.generationDelta(empty, a) == ((2L, 0L, 0L)))
  }

  test("readGeneration accepts only validated gen-N directories: the " +
       "'current' pointer file, traversal names and unknown gens -> None") {
    val spark = SparkTestSession.get
    import spark.implicits._
    val fx = graft.sources.TranscriptGen.generate(nConv = 6, nEnt = 4, hotFactor = 1)
    val dir = TempDirs("rgv-")
    val p = new graft.pipeline.KgPipeline(
      graft.config.PipelineConfig(workDir = dir))
    p.runFull(spark, fx.turns.toDS(), fx.catalog, fx.markers, "r1")
    val t = p.edgeTable
    assert(t.readGeneration(spark, t.generations().head).isDefined)
    assert(t.readGeneration(spark, "current").isEmpty)   // pointer FILE, not a gen
    assert(t.readGeneration(spark, "_meta").isEmpty)
    assert(t.readGeneration(spark, "../edges").isEmpty)  // traversal rejected
    assert(t.readGeneration(spark, "gen-999999").isEmpty)
  }

  test("profile over a published edge table from a real pipeline run") {
    val spark = SparkTestSession.get
    import spark.implicits._
    val fx = graft.sources.TranscriptGen.generate(nConv = 20, nEnt = 8, hotFactor = 2)
    val dir = TempDirs("stats-")
    val p = new graft.pipeline.KgPipeline(
      graft.config.PipelineConfig(workDir = dir))
    p.runFull(spark, fx.turns.toDS(), fx.catalog, fx.markers, "r1")
    val edges = p.edgeTable.read(spark).get
    val prof = GraphStats.profile(edges)
    val rows = prof.collect()
    assert(rows.nonEmpty)
    // totals reconcile with the table itself
    assert(rows.map(_.getLong(1)).sum == edges.count())
    // the mentions predicate always exists and is never functional on a
    // multi-entity corpus
    val mentions = rows.find(_.getString(0) == graft.extract.Extractor.MentionsPred)
    assert(mentions.isDefined)
    assert(mentions.get.getInt(5) == 0)
  }
}
