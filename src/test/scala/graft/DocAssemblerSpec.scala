package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}
import org.scalatest.funsuite.AnyFunSuite

import graft.config.PipelineConfig
import graft.materialize.DocAssembler

class DocAssemblerSpec extends AnyFunSuite {

  private def triplesDf = {
    val spark = SparkTestSession.get
    import spark.implicits._
    Seq(
      // s1: tagged en + cs, plus shared ("") props
      ("s1", "p_title", "hello", "en"),
      ("s1", "p_title", "ahoj", "cs"),
      ("s1", "p_type", "thing", ""),
      ("s1", "p_title", "shared-title", ""),
      // duplicate value dedups (A2)
      ("s1", "p_title", "hello", "en"),
      // s2: untagged only -> default language doc
      ("s2", "p_type", "only-shared", ""))
      .toDF("subj", "pred", "obj", "lang")
  }

  private def docsOf(cfg: PipelineConfig = PipelineConfig(language = "en"),
                     addCounting: Boolean = false) =
    DocAssembler.assemble(triplesDf, cfg, addCounting)
      .collect()
      .map(r => r.getString(0) ->
        r.getMap[String, scala.collection.Seq[String]](3).toMap
          .map { case (k, v) => k -> v.toList })
      .toMap

  // reference behavior: language-tagged docs are stamped unconditionally
  // (ESNormalizer.java:193-194); untagged-only docs never are
  test("A6 shared props merge into every tagged language; F7 id = subj@lang; " +
       "addLanguage stamps tagged docs") {
    val docs = docsOf()
    assert(docs.keySet == Set("s1@en", "s1@cs", "s2@en"))
    assert(docs("s1@en") == Map(
      "p_title" -> List("hello", "shared-title"), "p_type" -> List("thing"),
      "language" -> List("en")))
    assert(docs("s1@cs") == Map(
      "p_title" -> List("ahoj", "shared-title"), "p_type" -> List("thing"),
      "language" -> List("cs")))
  }

  test("untagged-only subject keeps one doc at the configured language, unstamped") {
    assert(docsOf()("s2@en") == Map("p_type" -> List("only-shared")))
  }

  test("addLanguage=false suppresses the language property") {
    val docs = docsOf(PipelineConfig(language = "en", addLanguage = false))
    assert(!docs("s1@en").contains("language"))
    assert(!docs("s1@cs").contains("language"))
  }

  test("includeResourceURI adds about=[subj] via the shared doc (all docs)") {
    val docs = docsOf(PipelineConfig(language = "en", includeResourceURI = true))
    assert(docs("s1@en")("about") == List("s1"))
    assert(docs("s1@cs")("about") == List("s1"))
    assert(docs("s2@en")("about") == List("s2")) // untagged-only path too
    // default off: absent
    assert(!docsOf()("s1@en").contains("about"))
  }

  test("normMissing fills defaults by untagged-map absence (reference-exact): " +
       "tagged-only subjects still get them; untagged holders do not") {
    val cfg = PipelineConfig(language = "en",
      normMissing = Map("p_title" -> Seq("untitled"), "p_flag" -> Seq("a", "b")))
    val docs = docsOf(cfg)
    // s1 HAS an untagged p_title ("shared-title") -> no default for it;
    // p_flag is absent everywhere -> defaults land in the shared map and
    // union into every tagged doc
    assert(docs("s1@en")("p_title") == List("hello", "shared-title"))
    assert(docs("s1@en")("p_flag") == List("a", "b"))
    assert(docs("s1@cs")("p_flag") == List("a", "b"))
    // s2 (untagged-only) lacks p_title entirely -> default fills its doc
    assert(docs("s2@en")("p_title") == List("untitled"))
    assert(docs("s2@en")("p_flag") == List("a", "b"))

    // the bug-compatible branch: a subject holding the predicate ONLY under
    // a language tag still receives the default (absence is judged on the
    // untagged map alone, ESNormalizer.java:127-134), and the default unions
    // with the tagged values via the shared merge
    val spark = SparkTestSession.get
    import spark.implicits._
    val taggedOnly = Seq(("s3", "p_title", "tagged-title", "en"))
      .toDF("subj", "pred", "obj", "lang")
    val got = DocAssembler.assemble(taggedOnly,
        PipelineConfig(language = "en", normMissing = Map("p_title" -> Seq("untitled"))))
      .collect()
      .map(r => r.getString(0) ->
        r.getMap[String, scala.collection.Seq[String]](3).toMap
          .map { case (k, v) => k -> v.toList })
      .toMap
    assert(got("s3@en")("p_title") == List("tagged-title", "untitled"))
  }

  test("uriDescription label substitution: priority first-match, URI fallback") {
    val spark = SparkTestSession.get
    import spark.implicits._
    val t = Seq(
      // e1 described by both prefLabel and title -> prefLabel wins
      ("e1", "prefLabel", "Entity One", ""),
      ("e1", "title", "T-One", ""),
      // e2 described by title only
      ("e2", "title", "T-Two", ""),
      // references: objects e1/e2 substitute, e3 (no labels) passes through
      ("s1", "p_ref", "e1", "en"),
      ("s1", "p_ref", "e2", "en"),
      ("s1", "p_ref", "e3", "en"))
      .toDF("subj", "pred", "obj", "lang")
    val cfg = PipelineConfig(uriDescription = Seq("prefLabel", "title"))
    val got = DocAssembler.resolveUriLabels(t, cfg)
      .filter(org.apache.spark.sql.functions.col("pred") === "p_ref")
      .select("obj").collect().map(_.getString(0)).toSet
    assert(got == Set("Entity One", "T-Two", "e3"))
  }

  test("empty uriDescription disables substitution") {
    val spark = SparkTestSession.get
    import spark.implicits._
    val t = Seq(("e1", "title", "T", ""), ("s1", "p_ref", "e1", "en"))
      .toDF("subj", "pred", "obj", "lang")
    val got = DocAssembler.resolveUriLabels(t,
        PipelineConfig(uriDescription = Seq.empty))
      .filter(org.apache.spark.sql.functions.col("pred") === "p_ref")
      .select("obj").collect().map(_.getString(0)).toSet
    assert(got == Set("e1"))
  }

  test("A7 addCounting adds items_count_<pred> entries when enabled") {
    val noLang = PipelineConfig(language = "en", addLanguage = false)
    val docs = docsOf(noLang, addCounting = true)
    assert(docs("s1@en")("items_count_p_title") == List("2"))
    assert(docs("s1@en")("items_count_p_type") == List("1"))
    // default off: no counting keys
    assert(!docsOf(noLang)("s1@en").keys.exists(_.startsWith("items_count")))
  }

  test("typedJsonValue always emits valid JSON: control chars escape, bad " +
       "numeric lexicals quote") {
    val spark = SparkTestSession.get
    import spark.implicits._
    val xsd = "http://www.w3.org/2001/XMLSchema#"
    val rows = Seq(
      ("42", s"${xsd}integer"),        // -> 42
      ("-1.5e3", s"${xsd}double"),     // -> -1.5e3
      ("true", s"${xsd}boolean"),      // -> true
      ("NaN", s"${xsd}double"),        // invalid JSON token -> quoted
      ("abc", s"${xsd}integer"),       // invalid lexical -> quoted
      ("0123", s"${xsd}integer"),      // valid xsd, INVALID JSON (leading 0)
      ("yes", s"${xsd}boolean"),       // invalid lexical -> quoted
      ("line1\nline2\ttab", ""), // control chars escape/strip
      ("quote \" back \\", ""))
      .toDF("obj", "otype")
    import org.apache.spark.sql.functions.col
    val got = rows.select(col("obj"),
        DocAssembler.typedJsonValue(col("obj"), col("otype")).as("j"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got("42") == "42")
    assert(got("-1.5e3") == "-1.5e3")
    assert(got("true") == "true")
    assert(got("NaN") == "\"NaN\"")
    assert(got("abc") == "\"abc\"")
    assert(got("0123") == "\"0123\"") // RFC 8259 forbids leading zeros
    assert(got("yes") == "\"yes\"")
    assert(got("line1\nline2\ttab") == "\"line1\\nline2\\ttab\"")
    assert(got("quote \" back \\") == "\"quote \\\" back \\\\\"")
    // every rendered value must be a parseable JSON token (RFC 8259)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    got.values.foreach(v => mapper.readTree(v))
  }

  test("config JSON round-trip consumes addLanguage/uriDescription/includeResourceURI") {
    val cfg = graft.config.ConfigParsing.fromJson(
      """{"config":{"eeaRDF":{
        |  "language": "cs",
        |  "addLanguage": false,
        |  "includeResourceURI": true,
        |  "uriDescription": "[skos:prefLabel,dc:title]"
        |}}}""".stripMargin)
    assert(!cfg.addLanguage)
    assert(cfg.includeResourceURI)
    assert(cfg.uriDescription == Seq("skos:prefLabel", "dc:title"))
  }

  /** The DataFrame formulation `assemble` had before its per-subject
    * kernel: per-(subj, lang, pred) value sets, per-(subj, lang) maps, and
    * the shared/tagged/untagged-only joins — the reference the kernel must
    * equal. */
  private def referenceAssemble(triples: DataFrame, cfg: PipelineConfig,
                                addCounting: Boolean): DataFrame = {
    val resolved = DocAssembler.resolveUriLabels(triples, cfg)
    val vals = resolved
      .groupBy("subj", "lang", "pred")
      .agg(array_sort(collect_set(col("obj"))).as("vals"))
      .filter(size(col("vals")) > 0)
    val perLang = vals
      .groupBy("subj", "lang")
      .agg(map_from_entries(collect_list(struct(col("pred"), col("vals")))).as("doc"))
    def mergeMaps(a: Column, b: Column): Column =
      map_zip_with(a, b,
        (_, v1, v2) => when(v1.isNull, v2).when(v2.isNull, v1)
          .otherwise(array_sort(array_union(v1, v2))))
    val aboutMap = map(lit("about"), array(col("subj")))
    def withAbout(m: Column): Column =
      if (!cfg.includeResourceURI) m else mergeMaps(m, aboutMap)
    val defaultsLit: Option[Column] =
      if (cfg.normMissing.isEmpty) None
      else {
        val entries = cfg.normMissing.toSeq.sortBy(_._1)
        Some(map_from_arrays(
          array(entries.map { case (p, _) => lit(p) }: _*),
          array(entries.map { case (_, vs) =>
            array_sort(array_distinct(array(vs.map(lit): _*))) }: _*)))
      }
    def fill(m: Column): Column = defaultsLit match {
      case None => m
      case Some(dl) =>
        map_concat(m, map_filter(dl, (k, _) => !map_contains_key(m, k)))
    }
    val sharedDocExpr = fill(withAbout(col("shared_doc")))
    val fallbackDoc: Option[Column] =
      (cfg.includeResourceURI, defaultsLit) match {
        case (true, Some(_)) => Some(fill(aboutMap))
        case (true, None) => Some(aboutMap)
        case (false, Some(dl)) => Some(dl)
        case (false, None) => None
      }
    val shared = perLang.filter(col("lang") === "")
      .select(col("subj"), col("doc").as("shared_doc"))
    val tagged = perLang.filter(col("lang") =!= "")
    val mergedTagged = tagged.join(shared, Seq("subj"), "left")
      .select(col("subj"), col("lang"),
        when(col("shared_doc").isNull, fallbackDoc match {
          case None => col("doc")
          case Some(fb) => mergeMaps(col("doc"), fb)
        }).otherwise(mergeMaps(col("doc"), sharedDocExpr)).as("doc"))
    val stampedTagged =
      if (!cfg.addLanguage) mergedTagged
      else mergedTagged.withColumn("doc",
        map_concat(
          map_filter(col("doc"), (k, _) => k =!= "language"),
          map(lit("language"), array(col("lang")))))
    val untaggedOnly = shared
      .join(tagged.select("subj").distinct(), Seq("subj"), "left_anti")
      .select(col("subj"), lit(cfg.language).as("lang"),
        sharedDocExpr.as("doc"))
    val docs = stampedTagged.unionByName(untaggedOnly)
      .withColumn("id", concat_ws("@", col("subj"), col("lang")))
    val withCounts = if (addCounting) {
      docs.withColumn("doc", map_concat(col("doc"),
        map_from_entries(transform(map_entries(col("doc")),
          e => struct(
            concat(lit("items_count_"), e.getField("key")),
            array(size(e.getField("value")).cast("string")))))))
    } else docs
    withCounts.select("id", "subj", "lang", "doc")
  }

  private def docRows(df: DataFrame) = df.collect().map { r =>
    (r.getString(0), r.getString(1), r.getString(2),
      r.getMap[String, scala.collection.Seq[String]](3).toMap
        .map { case (k, v) => k -> v.toList })
  }.toSet

  // values whose UTF-16 and UTF-8 orders disagree ("ｚ" U+FF5A sorts after
  // the surrogate pair of "𝄞" U+1D11E in String.compareTo, before it in
  // Spark's binary order), plus a null, labels equal to subjects (about)
  // and empty strings
  private val genTriple: Gen[(String, String, String, String)] = for {
    s <- Gen.oneOf("s1", "s2", "s3", "sé", "s𝄞")
    p <- Gen.oneOf("p_a", "p_b", "language", "about", "p_ü")
    o <- Gen.oneOf[String](null, "x", "y", "", "s1", "sé", "ｚ", "𝄞", "Ω", "é", "e")
    l <- Gen.oneOf("", "", "en", "cs", "de")
  } yield (s, p, o, l)

  private val genDefaults: Gen[Map[String, Seq[String]]] =
    Gen.nonEmptyMap(for {
      p <- Gen.oneOf("p_a", "p_c", "about", "p_ü")
      vs <- Gen.nonEmptyListOf(Gen.oneOf("d", "x", "ｚ", "𝄞", "d"))
    } yield p -> vs)

  test("the per-subject kernel equals the DataFrame formulation over random " +
       "triples, for all 16 combinations of includeResourceURI, addLanguage, " +
       "normMissing and addCounting") {
    val spark = SparkTestSession.get
    import spark.implicits._
    val flags = Seq(false, true)
    for (about <- flags; stamp <- flags; defaults <- flags; counting <- flags) {
      val combo =
        s"about=$about addLanguage=$stamp defaults=$defaults counting=$counting"
      val prop = Prop.forAllNoShrink(Gen.listOfN(60, genTriple), genDefaults,
          Gen.oneOf("en", "fr")) { (triples, dflt, language) =>
        val cfg = PipelineConfig(language = language, addLanguage = stamp,
          includeResourceURI = about,
          normMissing = if (defaults) dflt else Map.empty)
        val df = triples.toDF("subj", "pred", "obj", "lang")
        val got = DocAssembler.assemble(df, cfg, counting)
        val want = referenceAssemble(df, cfg, counting)
        Prop(got.schema == want.schema) :| s"schema ${got.schema} != ${want.schema}" &&
          Prop(docRows(got) == docRows(want)) :| s"docs differ on $triples"
      }
      val res = Test.check(
        Test.Parameters.default.withMinSuccessfulTests(3).withWorkers(1), prop)
      assert(res.passed, s"$combo: ${org.scalacheck.util.Pretty.pretty(res)}")
    }
  }
}
