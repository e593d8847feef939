package graft

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite

import graft.schema.{CatalogEntry, Turn}

class MultiTokenAliasSpec extends AnyFunSuite {

  private val catalog = Seq(
    CatalogEntry("urn:ent:spark", "apache spark", "apache spark", 1),
    CatalogEntry("urn:ent:apache", "apache", "apache httpd", 1),
    CatalogEntry("urn:ent:flink", "flink", "flink", 1))
  private val markers = Map("uses" -> "urn:p:uses")

  private def turn(text: String) =
    Turn("c1", 0, "user", text, null, new Timestamp(0))

  private def triples(text: String) = {
    val spark = SparkTestSession.get
    import spark.implicits._
    ExtractModel.kernel(Seq(turn(text)).toDS(), catalog, markers)
      .collect().map(e => (e.subj, e.pred, e.obj)).toSet
  }

  test("longest match wins: 'apache spark' is one mention, not 'apache'") {
    val got = triples("apache spark uses flink")
    assert(got.contains(("urn:ent:spark", "urn:p:uses", "urn:ent:flink")))
    assert(!got.exists(_._3 == "urn:ent:apache"))
    assert(got.collect { case (s, "urn:p:mentions", o) => o } ==
      Set("urn:ent:spark", "urn:ent:flink"))
  }

  test("prefix alone still matches the shorter alias") {
    val got = triples("apache uses flink")
    assert(got.contains(("urn:ent:apache", "urn:p:uses", "urn:ent:flink")))
  }

  test("regression: more markers than the initial scratch capacity") {
    // 20 markers in a 22-token turn used to overflow the 16-slot marker
    // scratch (resize was gated on a different array's capacity)
    val text = "apache " + Seq.fill(20)("uses").mkString(" ") + " flink"
    val got = triples(text)
    assert(got.contains(("urn:ent:apache", "urn:p:uses", "urn:ent:flink")))
  }

  test("unfinished multi-token prefix is not a mention") {
    // "apache" followed by a non-continuation still matches the 1-token alias;
    // a pure prefix with no terminal ("spark" alone) matches nothing
    val got = triples("spark uses flink")
    assert(!got.exists(t => t._1 == "urn:ent:spark" || t._3 == "urn:ent:spark"))
  }
}
