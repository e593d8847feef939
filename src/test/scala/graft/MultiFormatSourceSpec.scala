package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.schema.Triple
import graft.sources.NTriplesSource

class MultiFormatSourceSpec extends AnyFunSuite {

  test("S5: N-Triples golden fixture round-trips with lang tags and datatypes") {
    val spark = SparkTestSession.get
    val dir = TempDirs.path("nt-")
    val nt =
      """# a comment line
        |<urn:s:1> <urn:p:name> "Alice" .
        |<urn:s:1> <urn:p:name> "Alice"@cs .
        |<urn:s:1> <urn:p:age> "42"^^<http://www.w3.org/2001/XMLSchema#integer> .
        |<urn:s:1> <urn:p:knows> <urn:s:2> .
        |_:b0 <urn:p:label> "blank subject" .
        |<urn:s:2> <urn:p:note> "esc \" quote \\ back \n line š" .
        |
        |this line is malformed and must be dropped
        |<urn:s:3> <urn:p:x> "trailing comment" . # trailing
        |""".stripMargin +
      // hostile escapes (normal-string concat: Scala's scanner would choke
      // on a literal \u sequence even inside triple quotes): out-of-range
      // \U codepoint, signed hex, truncated hex — all dropped, never thrown
      "<urn:s:9> <urn:p:x> \"bad codepoint \\U00110000\" .\n" +
      "<urn:s:9> <urn:p:x> \"signed hex \\" + "u-1230\" .\n" +
      "<urn:s:9> <urn:p:x> \"short hex \\" + "u12\" .\n"
    Files.writeString(dir.resolve("g.nt"), nt)
    val got = NTriplesSource.read(spark, dir.toString).collect().toSet
    assert(got == Set(
      Triple("urn:s:1", "urn:p:name", "Alice", "", ""),
      Triple("urn:s:1", "urn:p:name", "Alice", "cs", ""),
      Triple("urn:s:1", "urn:p:age", "42", "", "http://www.w3.org/2001/XMLSchema#integer"),
      Triple("urn:s:1", "urn:p:knows", "urn:s:2", "", ""),
      Triple("_:b0", "urn:p:label", "blank subject", "", ""),
      Triple("urn:s:2", "urn:p:note", "esc \" quote \\ back \n line š", "", ""),
      Triple("urn:s:3", "urn:p:x", "trailing comment", "", "")))
  }

  test("readWithKind: tk stamps the parsed object form; isIRI/isBlank compile over it") {
    val spark = SparkTestSession.get
    val dir = TempDirs.path("nt-tk-")
    Files.writeString(dir.resolve("g.nt"),
      """<urn:s:1> <urn:p:knows> <urn:s:2> .
        |<urn:s:1> <urn:p:name> "Alice"@cs .
        |<urn:s:1> <urn:p:age> "42"^^<http://www.w3.org/2001/XMLSchema#integer> .
        |<urn:s:1> <urn:p:prov> _:b7 .
        |<urn:s:2> <urn:p:name> "urn:looks-like-an-iri" .
        |""".stripMargin)
    val frame = NTriplesSource.readWithKind(spark, dir.toString)
    assert(frame.columns.toSeq == Seq("s", "p", "o", "ol", "dt", "tk"))
    val byObj = frame.collect().map(r => r.getString(2) -> r.getString(5)).toMap
    // the kind is the PARSED form — a literal whose lexical form looks like
    // an IRI stays 'l' (exactly what a lexical heuristic would get wrong)
    assert(byObj == Map("urn:s:2" -> "i", "Alice" -> "l", "42" -> "l",
      "_:b7" -> "b", "urn:looks-like-an-iri" -> "l"))
    def q(query: String): Set[String] =
      graft.sparql.SparqlCompiler.compile(query, frame)
        .collect().map(_.getString(0)).toSet
    assert(q("SELECT ?o WHERE { ?s ?p ?o . FILTER(isIRI(?o)) }") == Set("urn:s:2"))
    assert(q("SELECT ?o WHERE { ?s ?p ?o . FILTER(isBlank(?o)) }") == Set("_:b7"))
    // negative datatype() on this tk frame is spec-exact: IRI and blank
    // objects are type errors (removed), not retained as untagged literals
    assert(q("""SELECT ?o WHERE { ?s ?p ?o .
               |  FILTER(datatype(?o) != <http://www.w3.org/2001/XMLSchema#integer>) }""".stripMargin)
      == Set("Alice", "urn:looks-like-an-iri"))
  }

  test("objLang flows from N-Triples into per-language doc routing (A6 e2e)") {
    val spark = SparkTestSession.get
    val dir = TempDirs.path("nt-a6-")
    Files.writeString(dir.resolve("m.nt"),
      """<urn:s:1> <urn:p:title> "hello"@en .
        |<urn:s:1> <urn:p:title> "ahoj"@cs .
        |<urn:s:1> <urn:p:type> "thing" .
        |""".stripMargin)
    val triples = NTriplesSource.read(spark, dir.toString).toDF()
      .select(org.apache.spark.sql.functions.col("subj"),
        org.apache.spark.sql.functions.col("pred"),
        org.apache.spark.sql.functions.col("obj"),
        org.apache.spark.sql.functions.col("objLang").as("lang"))
    val docs = graft.materialize.DocAssembler
      .assemble(triples, graft.config.PipelineConfig(language = "en"))
      .collect()
      .map(r => r.getString(0) ->
        r.getMap[String, scala.collection.Seq[String]](3).toMap
          .map { case (k, v) => k -> v.toList })
      .toMap
    // literal tags split the subject into per-language docs; the untagged
    // value is shared into both (ESNormalizer.java:114-127, 177-194)
    assert(docs.keySet == Set("urn:s:1@en", "urn:s:1@cs"))
    assert(docs("urn:s:1@en") == Map("urn:p:title" -> List("hello"),
      "urn:p:type" -> List("thing"), "language" -> List("en")))
    assert(docs("urn:s:1@cs") == Map("urn:p:title" -> List("ahoj"),
      "urn:p:type" -> List("thing"), "language" -> List("cs")))
  }

  test("render/parse round-trip holds over 5000 randomized triples") {
    val rnd = new scala.util.Random(424242)
    val specials = "\"\\\n\r\t\u0001š€ <>@^." // escapes, unicode, NT syntax chars
    def lit(max: Int): String =
      (0 until rnd.nextInt(max)).map { _ =>
        if (rnd.nextInt(4) == 0) specials(rnd.nextInt(specials.length))
        else ('a' + rnd.nextInt(26)).toChar
      }.mkString
    def iri(): String = s"urn:x:${(0 until 1 + rnd.nextInt(8)).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString}"
    (0 until 5000).foreach { i =>
      val subj = if (rnd.nextInt(5) == 0) s"_:b${rnd.nextInt(100)}" else iri()
      val t = rnd.nextInt(3) match {
        case 0 => Triple(subj, iri(), lit(20), "", "") // plain literal / IRI
        case 1 => Triple(subj, iri(), lit(20), s"${('a' + rnd.nextInt(26)).toChar}${('a' + rnd.nextInt(26)).toChar}", "")
        case 2 => Triple(subj, iri(), lit(20), "", iri())
      }
      val line = NTriplesSource.render(t)
      val back = NTriplesSource.parseLine(line)
      assert(back.contains(t), s"case $i: $t -> $line -> $back")
    }
  }

  test("NT parser never throws on 20000 hostile random lines (drop, not crash)") {
    val rnd = new scala.util.Random(8816)
    // syntax chars, escapes, controls (NUL/0x1F written as \u escapes so
    // git keeps treating this source file as text)
    val alphabet =
      "<>\"\\@^._:# \tabcXYZ019\u0000\u001fšU u-+"
    (0 until 20000).foreach { i =>
      val line = (0 until rnd.nextInt(60))
        .map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
      // must return (None or Some) without throwing — a single hostile line
      // in a 100 TB dump must never kill the ingest job
      try NTriplesSource.parseLine(line)
      catch {
        case e: Throwable => fail(s"case $i threw on: [$line] — $e")
      }
    }
    // truncated-escape boundary cases specifically
    Seq("<a:b> <a:p> \"x\\", "<a:b> <a:p> \"x\\u", "<a:b> <a:p> \"x\\u12",
        "<a:b> <a:p> \"x\\U1234567", "<a:b> <a:p> \"x\\q\" .",
        "<a:b> <a:p> \"unterminated", "<a:b> <a:p> ", "<a:b>", "_:",
        "<a:b> <a:p> \"v\"@ .", "<a:b> <a:p> \"v\"^^ .")
      .foreach(l => assert(NTriplesSource.parseLine(l).isEmpty, s"accepted: $l"))
    // whitespace before the terminator is optional; a label never ENDS in
    // '.', but interior dots are part of it
    assert(NTriplesSource.parseLine("<a:b> <a:p> _:b0.")
      .contains(Triple("a:b", "a:p", "_:b0", "", "")))
    assert(NTriplesSource.parseLine("_:x.y <a:p> \"v\" .")
      .contains(Triple("_:x.y", "a:p", "v", "", "")))
  }

  test("F9: index-pattern to regex matches the reference's conversion") {
    import graft.config.ConfigParsing.patternToRegex
    assert(patternToRegex("river-*.v2") == "^river-.*\\.v2")
    assert("river-abc.v2".matches(patternToRegex("river-*.v2")))
    assert(!"xriver-abc_v2".matches(patternToRegex("river-*.v2")))
    // unanchored at the end, like the reference (String.matches anchors both
    // sides in Java, so behavior still equals the reference call site)
    assert(patternToRegex("a*b") == "^a.*b")
  }
}
