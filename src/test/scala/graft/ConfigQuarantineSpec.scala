package graft

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite

import graft.config.{ConfigParsing, PipelineConfig}
import graft.io.Quarantine
import graft.pipeline.KgPipeline
import graft.schema.Turn
import graft.sources.TranscriptGen

class ConfigQuarantineSpec extends AnyFunSuite {

  test("river-config JSON parses into PipelineConfig (Indexer.java:350-463 keys)") {
    val json =
      """{"schedule": {"schedule": "0 0 9 * * *", "automatic": false},
        | "incrementally": false,
        | "config": {"type": "eeaRDF", "eeaRDF": {
        |   "proplist": ["p_title", "p_type"],
        |   "listtype": "white",
        |   "normProp": {"p_old": ["p_new1", "p_new2"], "p_ren": "p_to"},
        |   "normObj": {"Organisation": "Organization"},
        |   "normMissing": {"p_def": ["d1"]},
        |   "whiteMap": {"p_w": ["ok"]},
        |   "blackMap": {"p_b": ["bad", "worse"]},
        |   "language": "cs",
        |   "addLanguage": true,
        |   "uriDescription": "[skos:prefLabel,dcterms:title]",
        |   "syncOldData": true}}}""".stripMargin
    val cfg = ConfigParsing.fromJson(json)
    assert(cfg.proplist == Set("p_title", "p_type"))
    assert(cfg.normProp == Map("p_old" -> Seq("p_new1", "p_new2"), "p_ren" -> Seq("p_to")))
    assert(cfg.normObj == Map("Organisation" -> "Organization"))
    assert(cfg.whiteMap == Map("p_w" -> Set("ok")))
    assert(cfg.blackMap == Map("p_b" -> Set("bad", "worse")))
    assert(cfg.language == "cs" && cfg.syncOldData)
    assert(cfg.uriDescription == Seq("skos:prefLabel", "dcterms:title"))
    // defaults for absent keys
    val d = ConfigParsing.fromJson("""{"config":{"eeaRDF":{}}}""")
    assert(d.listType == "white" && d.language == "en" && !d.syncOldData)
  }

  test("fromJson with no uriDescription key matches PipelineConfig's default " +
       "(full predicate IRIs first — the two default paths must not diverge)") {
    val cfg = graft.config.ConfigParsing.fromJson("""{"config":{"eeaRDF":{}}}""")
    assert(cfg.uriDescription == graft.config.PipelineConfig().uriDescription)
    assert(cfg.uriDescription.head ==
      "http://www.w3.org/2004/02/skos/core#prefLabel")
  }

  test("F4/F5/F6 scalar config functions match reference behavior") {
    // F4 duration format (Harvester.java:719-728)
    assert(ConfigParsing.formatDuration(512) == "512ms")
    assert(ConfigParsing.formatDuration(65512) == "1m 5s 512ms")
    assert(ConfigParsing.formatDuration(3 * 3600000 + 65512) == "3h 1m 5s 512ms")
    assert(ConfigParsing.formatDuration(26 * 3600000L) == "1days 2h 0m 0s 0ms")
    // F6 bracket list (Harvester.java:210-214)
    assert(ConfigParsing.parseBracketList("[a,b,c]") == Seq("a", "b", "c"))
    assert(ConfigParsing.parseBracketList("[]") == Seq.empty)
    // a BARE value must not be substring-mangled (the reference's blind
    // substring would turn "http://x#p" into "ttp://x#")
    assert(ConfigParsing.parseBracketList("http://x#prefLabel")
      == Seq("http://x#prefLabel"))
    assert(ConfigParsing.parseBracketList("a, b") == Seq("a", "b"))
    assert(ConfigParsing.parseBracketList("") == Seq.empty)
    // F5 IDN endpoint (Harvester.java:222-235)
    assert(ConfigParsing.normalizeEndpoint("https://slovník.example/sparql")
      == "https://xn--slovnk-7va.example/sparql")
    assert(ConfigParsing.normalizeEndpoint("not a url") == "not a url")
  }

  test("quarantine splits structurally-bad rows with first-failing reason") {
    val spark = SparkTestSession.get
    import spark.implicits._
    val rows = Seq(
      Turn("c1", 0, "user", "fine", null, new Timestamp(0)),
      Turn(null, 1, "user", "no conv", null, new Timestamp(0)),
      Turn("c2", -5, "user", "neg idx", null, new Timestamp(0)),
      Turn("c3", 2, "user", null, null, new Timestamp(0)))
    val (good, bad) = Quarantine.split(rows.toDF(), Quarantine.turnChecks)
    assert(good.count() == 1)
    val reasons = bad.collect()
      .map(r => (r.getAs[String]("text"), r.getAs[String]("quarantine_reason"))).toMap
    assert(reasons == Map(
      "no conv" -> "null_conv_id", "neg idx" -> "negative_turn_idx",
      (null: String) -> "null_text"))
  }

  test("pipeline diverts bad rows to the quarantine table and still publishes") {
    val spark = SparkTestSession.get
    import spark.implicits._
    val fx = TranscriptGen.generate(nConv = 5, nEnt = 5, hotFactor = 1)
    val poisoned = fx.turns ++ Seq(
      Turn(null, 0, "user", "bad", null, new Timestamp(0)),
      Turn("cX", 0, "user", null, null, new Timestamp(0)))
    val wd = TempDirs("quar-")
    val p = new KgPipeline(PipelineConfig(workDir = wd))
    p.runFull(spark, poisoned.toDS(), fx.catalog, fx.markers, "r")
    val quarantined = spark.read.parquet(s"$wd/quarantine")
    assert(quarantined.count() == 2)
    // clean rows unaffected: same edges as a run without poison
    val clean = new KgPipeline(PipelineConfig(
      workDir = TempDirs("quar2-")))
    clean.runFull(spark, fx.turns.toDS(), fx.catalog, fx.markers, "r")
    assert(p.edgeTable.read(spark).get.collect().toSet
      == clean.edgeTable.read(spark).get.collect().toSet)
  }
}
