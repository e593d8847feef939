package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.schema.Triple
import graft.sources.{NTriplesSource, RdfXmlSource}

class RdfXmlSourceSpec extends AnyFunSuite {

  private val RDF = RdfXmlSource.RdfNs

  private def parse(xml: String): Seq[Triple] =
    RdfXmlSource.parseFile("test", xml) match {
      case Right(ts) => ts
      case Left(err) => fail(s"parse failed: $err")
    }

  /** Blank labels are file-hash-scoped; canonicalize by order of first
    * appearance so assertions are label-independent. */
  private def canon(ts: Seq[Triple]): Set[Triple] = {
    val m = scala.collection.mutable.LinkedHashMap[String, String]()
    def c(t: String): String =
      if (t.startsWith("_:")) m.getOrElseUpdate(t, s"_:c${m.size}") else t
    ts.map(t => t.copy(subj = c(t.subj), obj =
      if (t.objLang.isEmpty && t.objType.isEmpty) c(t.obj) else t.obj)).toSet
  }

  test("parseBytesWithKind: kinds track the parsed form, not the lexical shape") {
    val xml =
      """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
        |         xmlns:ex="urn:ex:">
        |  <ex:Doc rdf:about="urn:s:1">
        |    <ex:link rdf:resource="urn:s:2"/>
        |    <ex:note>urn:looks-like-an-iri</ex:note>
        |    <ex:size rdf:datatype="http://www.w3.org/2001/XMLSchema#integer">7</ex:size>
        |    <ex:prov rdf:nodeID="p1"/>
        |  </ex:Doc>
        |</rdf:RDF>""".stripMargin
    val kinds = RdfXmlSource.parseBytesWithKind("t", xml.getBytes("UTF-8"))
      .toOption.get.map { case (t, k) => (t.pred, k) }.toMap
    assert(kinds == Map(
      RDF + "type" -> "i",          // typed node element
      "urn:ex:link" -> "i",         // rdf:resource
      "urn:ex:note" -> "l",         // a literal that LOOKS like an IRI
      "urn:ex:size" -> "l",         // typed literal
      "urn:ex:prov" -> "b"))        // rdf:nodeID
    // the distributed frame read compiles isIRI/isBlank over the tk column
    val spark = SparkTestSession.get
    val dir = TempDirs.path("rdf-tk-")
    Files.writeString(dir.resolve("g.rdf"), xml)
    val frame = RdfXmlSource.readWithKind(spark, dir.toString)
    assert(frame.columns.toSeq == Seq("s", "p", "o", "ol", "dt", "tk"))
    def q(query: String): Set[String] =
      graft.sparql.SparqlCompiler.compile(query, frame)
        .collect().map(_.getString(0)).toSet
    assert(q("SELECT ?o WHERE { ?s <urn:ex:link> ?o . FILTER(isIRI(?o)) }")
      == Set("urn:s:2"))
    assert(q("SELECT ?s WHERE { ?s <urn:ex:prov> ?o . FILTER(isBlank(?o)) }")
      == Set("urn:s:1"))
    assert(q("SELECT ?o WHERE { ?s ?p ?o . FILTER(isLiteral(?o)) }")
      == Set("urn:looks-like-an-iri", "7"))
  }

  test("golden fixture: about/typed nodes, lang inheritance, datatype, resource") {
    val got = parse(
      """<?xml version="1.0"?>
        |<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
        |         xmlns:p="urn:p:" xml:lang="en">
        |  <rdf:Description rdf:about="urn:s:1">
        |    <p:name>Alice</p:name>
        |    <p:name xml:lang="cs">Alena</p:name>
        |    <p:age rdf:datatype="http://www.w3.org/2001/XMLSchema#integer">42</p:age>
        |    <p:knows rdf:resource="urn:s:2"/>
        |  </rdf:Description>
        |  <p:Person rdf:about="urn:s:2">
        |    <p:note>esc " quote &amp; amp š</p:note>
        |  </p:Person>
        |</rdf:RDF>""".stripMargin)
    assert(got.toSet == Set(
      Triple("urn:s:1", "urn:p:name", "Alice", "en", ""),
      Triple("urn:s:1", "urn:p:name", "Alena", "cs", ""),
      Triple("urn:s:1", "urn:p:age", "42", "",
        "http://www.w3.org/2001/XMLSchema#integer"),
      Triple("urn:s:1", "urn:p:knows", "urn:s:2", "", ""),
      Triple("urn:s:2", RDF + "type", "urn:p:Person", "", ""),
      Triple("urn:s:2", "urn:p:note", "esc \" quote & amp š", "en", "")))
  }

  test("blank nodes: nodeID sharing, nested fresh blanks, parseType=Resource") {
    val got = canon(parse(
      """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
        |         xmlns:p="urn:p:">
        |  <rdf:Description rdf:nodeID="alice">
        |    <p:knows rdf:nodeID="bob"/>
        |    <p:address rdf:parseType="Resource">
        |      <p:city>Prague</p:city>
        |    </p:address>
        |    <p:pet>
        |      <p:Cat>
        |        <p:name>Mourek</p:name>
        |      </p:Cat>
        |    </p:pet>
        |  </rdf:Description>
        |  <rdf:Description rdf:nodeID="bob">
        |    <p:knows rdf:nodeID="alice"/>
        |  </rdf:Description>
        |</rdf:RDF>""".stripMargin))
    assert(got == Set(
      Triple("_:c0", "urn:p:knows", "_:c1", "", ""),
      Triple("_:c0", "urn:p:address", "_:c2", "", ""),
      Triple("_:c2", "urn:p:city", "Prague", "", ""),
      Triple("_:c3", RDF + "type", "urn:p:Cat", "", ""),
      Triple("_:c3", "urn:p:name", "Mourek", "", ""),
      Triple("_:c0", "urn:p:pet", "_:c3", "", ""),
      Triple("_:c1", "urn:p:knows", "_:c0", "", "")))
  }

  test("property attributes, rdf:type attribute, rdf:li numbering, Collection") {
    val got = canon(parse(
      """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
        |         xmlns:p="urn:p:">
        |  <rdf:Description rdf:about="urn:s:1" p:name="Attr Alice"
        |                   rdf:type="urn:p:Person">
        |    <rdf:li>first</rdf:li>
        |    <rdf:li>second</rdf:li>
        |    <p:list rdf:parseType="Collection">
        |      <rdf:Description rdf:about="urn:i:1"/>
        |      <rdf:Description rdf:about="urn:i:2"/>
        |    </p:list>
        |    <p:empty rdf:parseType="Collection"/>
        |  </rdf:Description>
        |</rdf:RDF>""".stripMargin))
    assert(got == Set(
      Triple("urn:s:1", "urn:p:name", "Attr Alice", "", ""),
      Triple("urn:s:1", RDF + "type", "urn:p:Person", "", ""),
      Triple("urn:s:1", RDF + "_1", "first", "", ""),
      Triple("urn:s:1", RDF + "_2", "second", "", ""),
      Triple("urn:s:1", "urn:p:list", "_:c0", "", ""),
      Triple("_:c0", RDF + "first", "urn:i:1", "", ""),
      Triple("_:c0", RDF + "rest", "_:c1", "", ""),
      Triple("_:c1", RDF + "first", "urn:i:2", "", ""),
      Triple("_:c1", RDF + "rest", RDF + "nil", "", ""),
      Triple("urn:s:1", "urn:p:empty", RDF + "nil", "", "")))
  }

  test("rdf:li numbering counts only li elements; interleaved properties " +
       "do not shift the ordinals") {
    val got = parse(
      """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
        |         xmlns:p="urn:p:">
        |  <rdf:Description rdf:about="urn:s:1">
        |    <p:name>x</p:name>
        |    <rdf:li>first</rdf:li>
        |    <p:other>y</p:other>
        |    <rdf:li>second</rdf:li>
        |  </rdf:Description>
        |</rdf:RDF>""".stripMargin)
    assert(got.toSet == Set(
      Triple("urn:s:1", "urn:p:name", "x", "", ""),
      Triple("urn:s:1", "urn:p:other", "y", "", ""),
      Triple("urn:s:1", RDF + "_1", "first", "", ""),
      Triple("urn:s:1", RDF + "_2", "second", "", "")))
  }

  test("property attributes on property elements assert triples about the " +
       "object (resource target and implicit blank node)") {
    val got = canon(parse(
      """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
        |         xmlns:p="urn:p:" xml:lang="en">
        |  <rdf:Description rdf:about="urn:s:1">
        |    <p:see rdf:resource="urn:s:2" p:note="linked"/>
        |    <p:addr p:city="Prague" p:zip="11000"/>
        |  </rdf:Description>
        |</rdf:RDF>""".stripMargin))
    assert(got == Set(
      Triple("urn:s:1", "urn:p:see", "urn:s:2", "", ""),
      Triple("urn:s:2", "urn:p:note", "linked", "en", ""),
      Triple("urn:s:1", "urn:p:addr", "_:c0", "", ""),
      Triple("_:c0", "urn:p:city", "Prague", "en", ""),
      Triple("_:c0", "urn:p:zip", "11000", "en", "")))
  }

  test("parseBytes honors the XML declaration's encoding (ISO-8859-1 dump)") {
    val xml =
      """<?xml version="1.0" encoding="ISO-8859-1"?>
        |<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
        |         xmlns:p="urn:p:">
        |  <rdf:Description rdf:about="urn:s:1"><p:name>René Åström</p:name></rdf:Description>
        |</rdf:RDF>""".stripMargin
    val bytes = xml.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    val got = RdfXmlSource.parseBytes("latin1-file", bytes).toOption.get
    assert(got.toSet == Set(
      Triple("urn:s:1", "urn:p:name", "René Åström", "", "")))
  }

  test("xml:base resolution for rdf:about, rdf:ID and rdf:resource") {
    val got = parse(
      """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
        |         xmlns:p="urn:p:" xml:base="http://ex.org/data/">
        |  <rdf:Description rdf:about="thing">
        |    <p:see rdf:resource="other"/>
        |    <p:abs rdf:resource="urn:abs:1"/>
        |  </rdf:Description>
        |  <rdf:Description rdf:ID="frag">
        |    <p:x>y</p:x>
        |  </rdf:Description>
        |</rdf:RDF>""".stripMargin)
    assert(got.toSet == Set(
      Triple("http://ex.org/data/thing", "urn:p:see",
        "http://ex.org/data/other", "", ""),
      Triple("http://ex.org/data/thing", "urn:p:abs", "urn:abs:1", "", ""),
      // per W3C rdf:ID resolution: base + '#' + ID
      Triple("http://ex.org/data/#frag", "urn:p:x", "y", "", "")))
  }

  test("whole-file rejection: malformed XML, DOCTYPE (XXE), unknown parseType") {
    assert(RdfXmlSource.parseFile("f", "<rdf:RDF><unclosed>").isLeft)
    assert(RdfXmlSource.parseFile("f",
      """<!DOCTYPE r [<!ENTITY x SYSTEM "file:///etc/hostname">]>
        |<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
        |         xmlns:p="urn:p:">
        |  <rdf:Description rdf:about="urn:s:1"><p:a>&x;</p:a></rdf:Description>
        |</rdf:RDF>""".stripMargin).isLeft)
    assert(RdfXmlSource.parseFile("f",
      """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
        |         xmlns:p="urn:p:">
        |  <rdf:Description rdf:about="urn:s:1">
        |    <p:x rdf:parseType="Bogus"><b>xml</b></p:x>
        |  </rdf:Description>
        |</rdf:RDF>""".stripMargin).isLeft)
  }

  test("parseType=Literal: XML content becomes an rdf:XMLLiteral (round-3 " +
       "gap closed: the reference accepts these, Harvester.java:1711-1716)") {
    val got = parse(
      """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
        |         xmlns:p="urn:p:">
        |  <rdf:Description rdf:about="urn:s:1">
        |    <p:doc rdf:parseType="Literal">a <b xmlns="urn:h" k="v">rich &amp; nested <i>bit</i></b> tail</p:doc>
        |  </rdf:Description>
        |</rdf:RDF>""".stripMargin)
    assert(got == Seq(Triple("urn:s:1", "urn:p:doc",
      """a <b xmlns="urn:h" k="v">rich &amp; nested <i>bit</i></b> tail""",
      "", RdfXmlSource.RdfNs + "XMLLiteral")))

    // sibling after a nested declaration: the child's prefix must NOT leak
    val sib = parse(
      """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
        |         xmlns:p="urn:p:">
        |  <rdf:Description rdf:about="urn:s:2">
        |    <p:doc rdf:parseType="Literal"><q:a xmlns:q="urn:q"/><r xmlns="urn:r"/></p:doc>
        |  </rdf:Description>
        |</rdf:RDF>""".stripMargin)
    assert(sib.head.obj == """<q:a xmlns:q="urn:q"></q:a><r xmlns="urn:r"></r>""")
    assert(sib.head.objType == RdfXmlSource.RdfNs + "XMLLiteral")

    // canonical node ordering (round-5): two literals differing ONLY in
    // attribute / xmlns order serialize to the SAME object (namespace
    // decls sorted by prefix, attributes by (namespace URI, local name)),
    // so cross-serializer hashes agree within the subset
    def literalOf(body: String): String = parse(
      s"""<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
         |         xmlns:p="urn:p:">
         |  <rdf:Description rdf:about="urn:s:9">
         |    <p:doc rdf:parseType="Literal">$body</p:doc>
         |  </rdf:Description>
         |</rdf:RDF>""".stripMargin).head.obj
    val a = literalOf("""<b xmlns:z="urn:z" xmlns="urn:h" k="v" a="1" z:m="2">x</b>""")
    val b = literalOf("""<b a="1" xmlns="urn:h" z:m="2" k="v" xmlns:z="urn:z">x</b>""")
    assert(a == b, s"order-insensitive canonical form: $a vs $b")
    assert(a == """<b xmlns="urn:h" xmlns:z="urn:z" a="1" k="v" z:m="2">x</b>""")

    // the 'xml' prefix (xml:lang, xml:space) is implicitly bound by
    // Namespaces in XML §3 — it never appears in an xmlns declaration and
    // must NOT trip the out-of-scope-prefix reject (XHTML literals carry
    // xml:lang routinely)
    val xl = parse(
      """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
        |         xmlns:p="urn:p:">
        |  <rdf:Description rdf:about="urn:s:3">
        |    <p:doc rdf:parseType="Literal">a <b xml:lang="en" xml:space="preserve">kept</b></p:doc>
        |  </rdf:Description>
        |</rdf:RDF>""".stripMargin)
    assert(xl.head.obj == """a <b xml:lang="en" xml:space="preserve">kept</b>""")

    // a prefix declared OUTSIDE the literal (on rdf:RDF) is out of the
    // subset: reject the file, never emit an unbound-prefix literal
    assert(RdfXmlSource.parseFile("f",
      """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
        |         xmlns:p="urn:p:" xmlns:h="urn:h">
        |  <rdf:Description rdf:about="urn:s:3">
        |    <p:doc rdf:parseType="Literal"><h:b>x</h:b></p:doc>
        |  </rdf:Description>
        |</rdf:RDF>""".stripMargin).isLeft)
  }

  test("parseType=Literal: a DEFAULT namespace inherited from outside the " +
       "literal is rejected like an out-of-scope prefix, never dropped") {
    // the canonical XHTML-literal shape: xmlns sits on the PROPERTY element
    // (outside the captured content), the inner <p> is unprefixed — a naive
    // re-serialization emits <p>hello</p> with no xmlns, silently moving
    // the element out of the XHTML namespace
    assert(RdfXmlSource.parseFile("f",
      """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
        |         xmlns:p="urn:p:">
        |  <rdf:Description rdf:about="urn:s:1">
        |    <p:doc rdf:parseType="Literal" xmlns="http://www.w3.org/1999/xhtml"><p>hello</p></p:doc>
        |  </rdf:Description>
        |</rdf:RDF>""".stripMargin).isLeft)

    // default namespace declared INSIDE the literal: in the subset — the
    // declaration re-serializes with the element, descendants inherit it
    val ok = parse(
      """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
        |         xmlns:p="urn:p:">
        |  <rdf:Description rdf:about="urn:s:2">
        |    <p:doc rdf:parseType="Literal"><div xmlns="http://www.w3.org/1999/xhtml"><p>hello</p></div></p:doc>
        |  </rdf:Description>
        |</rdf:RDF>""".stripMargin)
    assert(ok.head.obj ==
      """<div xmlns="http://www.w3.org/1999/xhtml"><p>hello</p></div>""")

    // an unprefixed element in NO namespace (no default ns in effect
    // anywhere) is fine — there is nothing to drop
    val plain = parse(
      """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
        |         xmlns:p="urn:p:">
        |  <rdf:Description rdf:about="urn:s:3">
        |    <p:doc rdf:parseType="Literal"><p>hello</p></p:doc>
        |  </rdf:Description>
        |</rdf:RDF>""".stripMargin)
    assert(plain.head.obj == "<p>hello</p>")
  }

  test("render/parse round-trip holds over 5000 randomized triples") {
    val rnd = new scala.util.Random(91724)
    // XML-representable specials: markup chars, quotes, CR/LF/TAB, unicode
    val specials = "&<>\"'@^. \t\n\ršé€"
    def lit(max: Int): String =
      (0 until rnd.nextInt(max)).map { _ =>
        if (rnd.nextInt(4) == 0) specials(rnd.nextInt(specials.length))
        else ('a' + rnd.nextInt(26)).toChar
      }.mkString
    def iri(): String =
      s"urn:x:${(0 until 1 + rnd.nextInt(8)).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString}"
    def blank(): String = s"_:b${rnd.nextInt(100)}"
    val batches = (0 until 50).map { _ =>
      (0 until 100).map { _ =>
        val subj = if (rnd.nextInt(5) == 0) blank() else iri()
        rnd.nextInt(4) match {
          case 0 => Triple(subj, iri(), lit(20), "", "")
          case 1 => Triple(subj, iri(), lit(20),
            s"${('a' + rnd.nextInt(26)).toChar}${('a' + rnd.nextInt(26)).toChar}", "")
          case 2 => Triple(subj, iri(), lit(20), "", iri())
          case 3 => Triple(subj, iri(), blank(), "", "")
        }
      }
    }
    batches.zipWithIndex.foreach { case (ts, i) =>
      val doc = RdfXmlSource.render(ts)
      val back = RdfXmlSource.parseFile(s"batch-$i", doc) match {
        case Right(b) => b
        case Left(e) => fail(s"batch $i failed to parse: $e\n$doc")
      }
      // blank labels are re-namespaced per file: compare under first-
      // appearance canonicalization of BOTH sides
      assert(canon(back) == canon(ts), s"batch $i diverged")
      assert(back.size == ts.size)
    }
  }

  test("render refuses what XML cannot carry instead of corrupting it") {
    // XML 1.0 has no representation for control chars other than TAB/LF/CR
    assertThrows[IllegalArgumentException] {
      RdfXmlSource.render(Seq(Triple("urn:s:1", "urn:p:x", "a\u0001b", "", "")))
    }
    // a predicate with no NCName local part cannot become an element name
    assertThrows[IllegalArgumentException] {
      RdfXmlSource.render(Seq(Triple("urn:s:1", "urn:p:", "v", "", "")))
    }
    // a blank label that is not an NCName cannot become rdf:nodeID
    assertThrows[IllegalArgumentException] {
      RdfXmlSource.render(Seq(Triple("_:no spaces", "urn:p:x", "v", "", "")))
    }
    // unpaired surrogates and noncharacters are not XML characters either
    assertThrows[IllegalArgumentException] {
      RdfXmlSource.render(Seq(Triple("urn:s:1", "urn:p:x", "a\ud800b", "", "")))
    }
    assertThrows[IllegalArgumentException] {
      RdfXmlSource.render(Seq(Triple("urn:s:1", "urn:p:x", "a" + 0xFFFF.toChar + "b", "", "")))
    }
  }

  test("text alongside a resource-valued property rejects the file " +
       "(never silently dropped)") {
    assert(RdfXmlSource.parseFile("f",
      """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
        |         xmlns:p="urn:p:">
        |  <rdf:Description rdf:about="urn:s:1">
        |    <p:x rdf:resource="urn:s:2">stray literal</p:x>
        |  </rdf:Description>
        |</rdf:RDF>""".stripMargin).isLeft)
    assert(RdfXmlSource.parseFile("f",
      """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
        |         xmlns:p="urn:p:">
        |  <rdf:Description rdf:about="urn:s:1">
        |    <p:x p:note="y">stray literal</p:x>
        |  </rdf:Description>
        |</rdf:RDF>""".stripMargin).isLeft)
  }

  test("cross-file blank labels never collide; same file maps nodeID stably") {
    val xml =
      """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
        |         xmlns:p="urn:p:">
        |  <rdf:Description rdf:nodeID="n"><p:a>v</p:a></rdf:Description>
        |</rdf:RDF>""".stripMargin
    val a = RdfXmlSource.parseFile("file-a", xml).toOption.get
    val b = RdfXmlSource.parseFile("file-b", xml).toOption.get
    assert(a.head.subj != b.head.subj)
    assert(a.head.subj.startsWith("_:"))
  }

  test("distributed read: NT parity on a blank-free graph, malformed file dropped") {
    val spark = SparkTestSession.get
    val dir = TempDirs.path("rdfxml-")
    Files.writeString(dir.resolve("a.rdf"),
      """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
        |         xmlns:p="urn:p:" xml:lang="en">
        |  <rdf:Description rdf:about="urn:s:1">
        |    <p:name>Alice</p:name>
        |    <p:age rdf:datatype="http://www.w3.org/2001/XMLSchema#integer">42</p:age>
        |    <p:knows rdf:resource="urn:s:2"/>
        |  </rdf:Description>
        |</rdf:RDF>""".stripMargin)
    Files.writeString(dir.resolve("b.rdf"),
      """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
        |         xmlns:p="urn:p:">
        |  <p:Person rdf:about="urn:s:2"><p:note xml:lang="cs">pozn</p:note></p:Person>
        |</rdf:RDF>""".stripMargin)
    Files.writeString(dir.resolve("broken.rdf"), "<rdf:RDF><oops>")
    val viaXml = RdfXmlSource.read(spark, dir.toString).collect().toSet

    val ntDir = TempDirs.path("nt-parity-")
    Files.writeString(ntDir.resolve("g.nt"), viaXml.toSeq.sortBy(_.toString)
      .map(NTriplesSource.render).mkString("", "\n", "\n"))
    val viaNt = NTriplesSource.read(spark, ntDir.toString).collect().toSet

    assert(viaXml == Set(
      Triple("urn:s:1", "urn:p:name", "Alice", "en", ""),
      Triple("urn:s:1", "urn:p:age", "42", "",
        "http://www.w3.org/2001/XMLSchema#integer"),
      Triple("urn:s:1", "urn:p:knows", "urn:s:2", "", ""),
      Triple("urn:s:2", RdfXmlSource.RdfNs + "type", "urn:p:Person", "", ""),
      Triple("urn:s:2", "urn:p:note", "pozn", "cs", "")))
    assert(viaNt == viaXml)
  }

  test("readParsed surfaces rejected files as (path, reason) rows — the " +
       "quarantine contract of KgMain ingest-rdfxml") {
    val spark = SparkTestSession.get
    import spark.implicits._
    val dir = TempDirs.path("rdfxml-rejects-")
    Files.writeString(dir.resolve("good.rdf"),
      """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
        |         xmlns:p="urn:p:">
        |  <rdf:Description rdf:about="urn:s:9"><p:name>Zoe</p:name></rdf:Description>
        |</rdf:RDF>""".stripMargin)
    Files.writeString(dir.resolve("broken.rdf"), "<rdf:RDF><oops>")
    Files.writeString(dir.resolve("xmllit.rdf"),
      """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
        |         xmlns:p="urn:p:">
        |  <rdf:Description rdf:about="urn:s:8">
        |    <p:doc rdf:parseType="Bogus"><b>rich</b></p:doc>
        |  </rdf:Description>
        |</rdf:RDF>""".stripMargin)

    val parsed = RdfXmlSource.readParsed(spark, dir.toString).collect()
    assert(parsed.length == 3)
    val rejects = parsed.filter(_.reason.isDefined)
    assert(rejects.map(p => p.path.split('/').last).toSet ==
      Set("broken.rdf", "xmllit.rdf"))
    assert(rejects.forall(p => p.triples.isEmpty && p.reason.get.nonEmpty))
    val good = parsed.filter(_.reason.isEmpty)
    assert(good.flatMap(_.triples).toSet ==
      Set(Triple("urn:s:9", "urn:p:name", "Zoe", "", "")))
    // the triples stream equals the silent read() (same files accepted)
    assert(good.flatMap(_.triples).toSet ==
      RdfXmlSource.read(spark, dir.toString).collect().toSet)

    // the app's quarantine write shape round-trips through parquet
    val out = TempDirs("rdfxml-rejects-out-")
    RdfXmlSource.readParsed(spark, dir.toString)
      .filter(_.reason.isDefined)
      .map(p => (p.path, p.reason.get)).toDF("path", "reason")
      .write.mode("overwrite").parquet(s"$out/quarantine_files/run_id=r1")
    val back = spark.read.parquet(s"$out/quarantine_files/run_id=r1")
      .collect().map(r => (r.getString(0).split('/').last, r.getString(1)))
    assert(back.map(_._1).toSet == Set("broken.rdf", "xmllit.rdf"))
    assert(back.forall(_._2.nonEmpty))
  }
}
