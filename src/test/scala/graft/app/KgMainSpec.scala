package graft.app

import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkTestSession, TempDirs}
import graft.io.TableCommitter
import graft.sources.TranscriptGen

/** `KgMain.run`, the app's one mode dispatch, driven on the shared session:
  * every mode's report lines are JSON, reported counts agree with what was
  * published, and an unknown mode's error names every mode. */
class KgMainSpec extends AnyFunSuite {

  private val json = new ObjectMapper().enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)

  /** The mode's report lines, each parsed as one JSON object. */
  private def run(args: String*): Seq[JsonNode] = {
    val lines = ArrayBuffer.empty[String]
    val code = KgMain.run(SparkTestSession.get, args, lines += _)
    assert(code == 0, lines.mkString("\n"))
    lines.toSeq.map(json.readTree)
  }

  test("full, sync, stats, diff and query report JSON lines that agree with " +
       "the published edges; an unknown mode's error names every mode") {
    val spark = SparkTestSession.get
    import spark.implicits._
    val fx = TranscriptGen.generate(nConv = 20, nEnt = 20, hotFactor = 5)
    // event-time split: sync is watermark-driven, so the turns it adds must
    // carry the later timestamps
    val cut = fx.turns.map(_.ts.getTime).sorted.apply(fx.turns.size / 2)
    val dir = TempDirs("kgmain-")
    fx.turns.filter(_.ts.getTime <= cut).toDS().write.parquet(s"$dir/early")
    fx.turns.toDS().write.parquet(s"$dir/all")
    fx.catalog.toDS().write.parquet(s"$dir/catalog")
    val wd = s"$dir/work"
    val edges = new TableCommitter(s"$wd/tables/edges")

    def harvest(mode: String, input: String): JsonNode = {
      val Seq(r) = run(mode, s"$dir/$input", wd, s"$dir/catalog")
      assert(r.get("mode").asText() == mode)
      assert(r.get("published_triples").asLong() ==
        edges.manifest(r.get("edges_gen").asText()).get.rows, r)
      r
    }
    val full = harvest("full", "early")
    val sync = harvest("sync", "all")
    assert(full.get("edges_gen").asText() == "gen-0")
    assert(sync.get("edges_gen").asText() == "gen-1")
    val triples = sync.get("published_triples").asLong()
    assert(triples > full.get("published_triples").asLong())

    val stats = run("stats", "-", wd)
    assert(stats.nonEmpty)
    assert(stats.map(_.get("n_edges").asLong()).sum == triples)

    val Seq(diff) = run("diff", "gen-0,gen-1", wd)
    assert(diff.get("from").asText() == "gen-0" && diff.get("to").asText() == "gen-1")
    assert(diff.get("added").asLong() - diff.get("removed").asLong() ==
      triples - full.get("published_triples").asLong())

    val rq = Files.writeString(TempDirs.path("kgmain-rq-").resolve("all.rq"),
      "SELECT ?s ?p ?o WHERE { ?s ?p ?o }")
    val Seq(query) = run("query", rq.toString, wd)
    assert(query.get("rows").asLong() == triples)
    assert(query.get("columns").toString == """["s","p","o"]""")

    val modes = Seq("full", "sync", "ingest-nt", "ingest-rdfxml", "ingest-stream",
      "stats", "diff", "query", "dedup-update", "dedup-candidates", "multi")
    for (args <- Seq(Seq("frobnicate", "-", wd), Seq("full", "-"))) {
      val e = intercept[IllegalArgumentException](KgMain.run(spark, args, _ => ()))
      assert(modes.forall(e.getMessage.contains), e.getMessage)
    }
  }

  test("ingest-rdfxml releases its cached parse and docs, on a publish and " +
       "on a refused all-malformed dump") {
    val spark = SparkTestSession.get
    def cached = spark.sparkContext.getPersistentRDDs.keySet
    val before = cached
    val good = TempDirs.path("kgmain-rdf-")
    Files.writeString(good.resolve("a.rdf"),
      """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
        |         xmlns:ex="urn:ex:">
        |  <rdf:Description rdf:about="urn:s:1">
        |    <ex:label xml:lang="en">one</ex:label>
        |  </rdf:Description>
        |</rdf:RDF>""".stripMargin)
    Files.writeString(good.resolve("bad.rdf"), "<rdf:RDF><unclosed>")
    val Seq(r) = run("ingest-rdfxml", good.toString, TempDirs("kgmain-"))
    assert(r.get("published_docs").asLong() > 0)
    assert(r.get("rejected_files").asLong() == 1)
    assert(cached.subsetOf(before), cached -- before)

    val bad = TempDirs.path("kgmain-rdf-")
    Files.writeString(bad.resolve("bad.rdf"), "<rdf:RDF><unclosed>")
    val e = intercept[IllegalArgumentException](
      run("ingest-rdfxml", bad.toString, TempDirs("kgmain-")))
    assert(e.getMessage.contains("nothing published"))
    assert(cached.subsetOf(before), cached -- before)
  }

  test("a failing query keeps the report lines of the queries before it") {
    val spark = SparkTestSession.get
    import spark.implicits._
    val tr = Seq(("urn:s", "urn:p", "urn:o", "en")).toDF("s", "p", "o", "ol")
    val wd = TempDirs("kgmain-")
    val lines = ArrayBuffer.empty[String]
    intercept[Exception](KgMain.runQueries(spark,
      Seq("SELECT ?s WHERE { ?s ?p ?o }", "SELECT WHERE {"), tr, Map.empty, wd,
      lines += _))
    val Seq(first) = lines.toSeq.map(json.readTree)
    assert(first.get("query_idx").asInt() == 0 && first.get("rows").asLong() == 1)
    assert(Files.isDirectory(java.nio.file.Paths.get(first.get("out").asText())))
  }
}
