package graft

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite

import graft.ExtractModel.kernel
import graft.extract.{CorefResolver, Extractor}
import graft.schema.{CatalogEntry, Turn}

class CorefResolverSpec extends AnyFunSuite {

  private val catalog = Seq(
    CatalogEntry("urn:ent:a", "ala", "entity a", 1),
    CatalogEntry("urn:ent:b", "alb", "entity b", 1),
    CatalogEntry("urn:ent:c", "alc", "entity c", 1))
  private val markers = Map("uses" -> "urn:p:uses")

  private def turn(c: String, i: Int, text: String) =
    Turn(c, i, "user", text, null, new Timestamp(i * 1000L))

  test("orphan subject resolves to the last mention of strictly earlier turns") {
    val spark = SparkTestSession.get
    import spark.implicits._
    val turns = Seq(
      turn("c1", 0, "ala uses alb"),       // full triple; last mention: b
      turn("c1", 1, "filler noise"),       // no mentions
      turn("c1", 2, "uses alc"),           // orphan -> subject = urn:ent:b
      turn("c2", 0, "uses alc"))           // orphan, nothing prior -> dropped
      .toDS()
    val extracted = kernel(turns, catalog, markers, emitContext = true).toDF()
    val got = CorefResolver.resolve(extracted)
      .filter("pred = 'urn:p:uses'")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getString(4)))
      .toSet
    assert(got == Set(
      ("c1", 0, "urn:ent:a", "urn:ent:b"),
      ("c1", 2, "urn:ent:b", "urn:ent:c")))
  }

  test("own-turn mentions do not feed the orphan (strictly-earlier frame)") {
    val spark = SparkTestSession.get
    import spark.implicits._
    // the only mention in the orphan's turn is its right-hand object
    val turns = Seq(turn("c1", 0, "uses alc")).toDS()
    val extracted = kernel(turns, catalog, markers, emitContext = true).toDF()
    assert(CorefResolver.resolve(extracted).filter("pred = 'urn:p:uses'").count() == 0)
  }

  test("emitContext=false keeps the default extraction byte-identical") {
    val spark = SparkTestSession.get
    import spark.implicits._
    val fx = graft.sources.TranscriptGen.generate(nConv = 10, nEnt = 10, hotFactor = 1)
    val a = kernel(fx.turns.toDS(), fx.catalog, fx.markers).collect().toSet
    val b = kernel(fx.turns.toDS(), fx.catalog, fx.markers,
      emitContext = false).collect().toSet
    assert(a == b)
    assert(!a.exists(e => e.subj == Extractor.OrphanSubj ||
      e.pred == Extractor.LastMentionPred))
  }
}
