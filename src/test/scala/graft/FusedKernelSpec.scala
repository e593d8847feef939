package graft

import org.apache.spark.sql.DataFrame
import org.scalacheck.{Gen, Prop, Test}
import org.scalatest.funsuite.AnyFunSuite

import graft.config.PipelineConfig
import graft.extract.{Extractor, FlatTrie}
import graft.pipeline.KgPipeline
import graft.schema.{CatalogEntry, Turn}
import graft.text.{CharScan, TextNorm}

/** Differential lock for the fused allocation-free extraction kernel
  * ([[CharScan]] + [[FlatTrie]]) against the String-based forms it replaced:
  * the buffer clean must equal `TextNorm.parseForJson` char-for-char, the
  * offset tokenizer must equal `TextNorm.fastTokens`, and the full kernel
  * (mention scan + marker adjacency + distinct mention edges) must emit the
  * same rows as an independent Map-trie model over randomized catalogs,
  * markers, canon maps and stress texts. */
class FusedKernelSpec extends AnyFunSuite {

  private val stressAlphabet: IndexedSeq[Char] =
    ('a' to 'f') ++ Seq('"', '\\', '\n', '\r', '\t', 'x', 'F', '0', '9', ' ',
      '\u000B', '\f', '\u0000', 'é', '中')

  private def randomText(rnd: scala.util.Random, maxLen: Int): String =
    Seq.fill(rnd.nextInt(maxLen))(stressAlphabet(rnd.nextInt(stressAlphabet.size))).mkString

  test("clean buffer equals parseForJson char-for-char (20k stress strings)") {
    val rnd = new scala.util.Random(1)
    val s = new CharScan.Scratch
    (1 to 20000).foreach { _ =>
      val raw = randomText(rnd, 60)
      val len = CharScan.clean(raw, s)
      val got = new String(s.buf, 0, len)
      val want = TextNorm.parseForJson(raw)
      assert(got == want, s"input=" + raw.map(_.toInt))
    }
  }

  test("offset tokenizer equals fastTokens, and slice hashes equal String.hashCode") {
    val rnd = new scala.util.Random(2)
    val s = new CharScan.Scratch
    (1 to 20000).foreach { _ =>
      val raw = randomText(rnd, 60)
      val len = CharScan.clean(raw, s)
      CharScan.tokenize(s, len)
      val got = (0 until s.nTok).map(i => new String(s.buf, s.tokStart(i), s.tokEnd(i) - s.tokStart(i)))
      val want = TextNorm.fastTokens(TextNorm.parseForJson(raw)).toSeq
      assert(got == want, s"input=" + raw.map(_.toInt))
      (0 until s.nTok).foreach { i =>
        assert(s.tokHash(i) == got(i).hashCode, s"hash mismatch on token '${got(i)}'")
      }
    }
  }

  private def randomCatalogAndMarkers(rnd: scala.util.Random)
      : (Seq[CatalogEntry], Map[String, String], Map[String, String]) = {
    val vocab = Vector("aa", "bb", "cc", "dd", "ee", "ff", "aa'", "a_b", "\\\\", "''")
    def alias(): String =
      Seq.fill(1 + rnd.nextInt(3))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val catalog = (1 to (3 + rnd.nextInt(8))).map { i =>
      CatalogEntry(s"urn:e:${rnd.nextInt(6)}", alias(), "L", rnd.nextInt(3))
    }
    val markers = (1 to (1 + rnd.nextInt(3)))
      .map(_ => vocab(rnd.nextInt(vocab.size)) -> s"urn:p:${rnd.nextInt(3)}").toMap
    // canon drawn empty, partial (some catalog entities map to themselves
    // implicitly) or total over the catalog's entities
    val total = (0 to 5).map(i => s"urn:e:$i" -> s"urn:e:${i / 2}").toMap
    val canon = rnd.nextInt(3) match {
      case 0 => Map.empty[String, String]
      case 1 => total.filter(_ => rnd.nextBoolean())
      case _ => total
    }
    (catalog, markers, canon)
  }

  /** Mention-bearing text: words drawn from the catalog/marker vocabulary so
    * trie hits, multi-token spans and marker adjacency actually occur. */
  private def mentionText(rnd: scala.util.Random,
      catalog: Seq[CatalogEntry], markers: Map[String, String]): String = {
    val words = catalog.flatMap(_.alias.split(" ")) ++ markers.keys ++
      Seq("zz", "yy", "\t", "\"q\"")
    Seq.fill(rnd.nextInt(14))(words(rnd.nextInt(words.size)))
      .mkString(if (rnd.nextBoolean()) " " else "  ")
  }

  test("fused kernel output equals the Map-trie model (randomized, via Spark)") {
    val spark = SparkTestSession.get
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    (1 to 25).foreach { round =>
      val (catalog, markers, canon) = randomCatalogAndMarkers(rnd)
      val sentinel = rnd.nextBoolean()
      val emitCtx = rnd.nextBoolean()
      val turns = (1 to 40).map { i =>
        graft.schema.Turn(s"c${i % 7}", i, "user", mentionText(rnd, catalog, markers),
          null, java.sql.Timestamp.valueOf("2026-01-01 00:00:00"))
      }
      val got = ExtractModel.kernel(turns.toDS(), catalog, markers,
        emitContext = emitCtx, canon = canon, sentinelAmbiguous = sentinel)
        .collect().toSeq
        .sortBy(e => (e.conv_id, e.turn_idx, e.subj, e.pred, e.obj))
      val trie = Extractor.buildTrie(catalog, canon, sentinel)
      val want = turns.flatMap(t => ExtractModel.modelExtract(
          t.conv_id, t.turn_idx, t.text, trie, markers, emitCtx))
        .sortBy(e => (e.conv_id, e.turn_idx, e.subj, e.pred, e.obj))
      assert(got == want,
        s"round=$round sentinel=$sentinel emitCtx=$emitCtx canon=$canon")
    }
  }

  test("buffer growth paths: multi-KB texts and >64-token turns reuse one scratch") {
    // exercises Scratch.ensureBuf (clean output > 256 chars), ensureTok
    // (mid-scan copyOf beyond 64 tokens) and ScanState's nTok > cap resize —
    // the exact paths short random inputs never reach
    val rnd = new scala.util.Random(7)
    val s = new CharScan.Scratch
    (1 to 300).foreach { _ =>
      val raw = randomText(rnd, 4000) // up to ~16 KB cleaned (tab fan-out)
      val len = CharScan.clean(raw, s)
      assert(new String(s.buf, 0, len) == TextNorm.parseForJson(raw))
      CharScan.tokenize(s, len)
      val got = (0 until s.nTok).map(i =>
        new String(s.buf, s.tokStart(i), s.tokEnd(i) - s.tokStart(i)))
      assert(got == TextNorm.fastTokens(TextNorm.parseForJson(raw)).toSeq)
    }
  }

  test("fused kernel equals the model on long turns (growth inside mapPartitions)") {
    val spark = SparkTestSession.get
    import spark.implicits._
    val rnd = new scala.util.Random(8)
    val (catalog, markers, canon) = randomCatalogAndMarkers(rnd)
    val words = catalog.flatMap(_.alias.split(" ")) ++ markers.keys ++ Seq("zz", "\tq\t")
    // 200-500 tokens per turn: forces ScanState past its 64-slot arrays and
    // the scratch past 256 chars, repeatedly, within one partition
    val turns = (1 to 12).map { i =>
      val text = Seq.fill(200 + rnd.nextInt(300))(words(rnd.nextInt(words.size))).mkString(" ")
      graft.schema.Turn(s"c${i % 3}", i, "user", text,
        null, java.sql.Timestamp.valueOf("2026-01-01 00:00:00"))
    }
    val got = ExtractModel.kernel(turns.toDS().coalesce(1), catalog, markers,
      emitContext = true, canon = canon)
      .collect().toSeq.sortBy(e => (e.conv_id, e.turn_idx, e.subj, e.pred, e.obj))
    val trie = Extractor.buildTrie(catalog, canon)
    val want = turns.flatMap(t => ExtractModel.modelExtract(
        t.conv_id, t.turn_idx, t.text, trie, markers, emitContext = true))
      .sortBy(e => (e.conv_id, e.turn_idx, e.subj, e.pred, e.obj))
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("hash collisions resolve by chars: Aa/BB aliases and markers") {
    assert("Aa".hashCode == "BB".hashCode) // the classic Java collision pair
    val catalog = Seq(
      CatalogEntry("urn:e:aa", "Aa", "L", 0),
      CatalogEntry("urn:e:bb", "BB", "L", 0),
      CatalogEntry("urn:e:ab", "Aa BB", "L", 0))
    val (flat, values) = FlatTrie.fromTrie(Extractor.buildTrie(catalog))
    val s = new CharScan.Scratch
    def matchOne(text: String): String = {
      val len = CharScan.clean(text, s)
      CharScan.tokenize(s, len)
      var node = 0
      var j = 0
      var best: String = null
      var continue = true
      while (continue && j < s.nTok) {
        val c = flat.child(node, s.buf, s.tokStart(j), s.tokEnd(j), s.tokHash(j))
        if (c < 0) continue = false
        else {
          if (flat.payload(c) >= 0) best = values(flat.payload(c))
          node = c; j += 1
        }
      }
      best
    }
    assert(matchOne("Aa") == "urn:e:aa")
    assert(matchOne("BB") == "urn:e:bb")
    assert(matchOne("Aa BB") == "urn:e:ab") // longest match through a colliding edge
    assert(matchOne("AaBB") == null)

    val tm = CharScan.TokenMap.build(Array("Aa", "BB"), Array(1, 2))
    val len = CharScan.clean("Aa BB Ab", s)
    CharScan.tokenize(s, len)
    val got = (0 until s.nTok).map(i =>
      tm.lookup(s.buf, s.tokStart(i), s.tokEnd(i), s.tokHash(i)))
    assert(got == Seq(1, 2, -1))
  }

  // ---- the one supports chain against the string-per-row reference

  private val aliasWords = Vector("aa", "bb", "cc", "dd", "ee")

  private val genCatalog: Gen[Seq[CatalogEntry]] =
    Gen.choose(3, 8).flatMap(n => Gen.listOfN(n, for {
      e <- Gen.choose(0, 5)
      k <- Gen.choose(1, 2)
      a <- Gen.listOfN(k, Gen.oneOf(aliasWords))
      r <- Gen.choose(0, 2)
    } yield CatalogEntry(s"urn:e:$e", a.mkString(" "), s"label $e", r)))

  private val genMarkers: Gen[Map[String, String]] =
    Gen.nonEmptyMap(Gen.zip(Gen.oneOf("uses", "runs", "ee"),
      Gen.choose(0, 2).map(i => s"urn:p:$i")))

  /** 24 turns over 4 conversations, words from the aliases, the markers,
    * both language profiles' function words and filler. */
  private def genTurns(catalog: Seq[CatalogEntry],
                       markers: Map[String, String]): Gen[Seq[Turn]] = {
    val vocab = catalog.flatMap(_.alias.split(" ")) ++ markers.keys ++
      Seq("the", "with", "je", "nebo", "zz")
    val ts = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    Gen.listOfN(24, Gen.zip(Gen.choose(0, 3),
        Gen.choose(0, 8).flatMap(n => Gen.listOfN(n, Gen.oneOf(vocab)))))
      .map(_.zipWithIndex.map { case ((c, toks), i) =>
        Turn(s"c$c", i, "user", toks.mkString(" "), null, ts)
      })
  }

  /** A config carrying at least one normalization rule over `preds` and the
    * catalog's entities. */
  private def genRules(preds: Seq[String]): Gen[PipelineConfig] = {
    val objs = (0 to 5).map(i => s"urn:e:$i")
    def maybe[T](g: Gen[T], none: T): Gen[T] = Gen.oneOf(Gen.const(none), g)
    def objSets = Gen.nonEmptyMap(Gen.zip(Gen.oneOf(preds),
      Gen.nonEmptyContainerOf[Set, String](Gen.oneOf(objs))))
    for {
      listType <- Gen.oneOf("white", "black")
      proplist <- maybe(Gen.nonEmptyContainerOf[Set, String](Gen.oneOf(preds)), Set.empty[String])
      normProp <- maybe(Gen.nonEmptyMap(Gen.zip(Gen.oneOf(preds),
        Gen.nonEmptyListOf(Gen.oneOf("urn:p:x", "urn:p:y")))), Map.empty[String, Seq[String]])
      normObj <- maybe(Gen.nonEmptyMap(Gen.zip(Gen.oneOf(objs),
        Gen.oneOf(objs :+ "urn:e:z"))), Map.empty[String, String])
      whiteMap <- maybe(objSets, Map.empty[String, Set[String]])
      blackMap <- maybe(objSets, Map.empty[String, Set[String]])
    } yield {
      val cfg = PipelineConfig(listType = listType, proplist = proplist,
        normProp = normProp, normObj = normObj, whiteMap = whiteMap, blackMap = blackMap)
      if (cfg.copy(listType = "white") != PipelineConfig()) cfg
      else cfg.copy(listType = "black", proplist = Set(preds.head))
    }
  }

  private def supportRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("\u0001")).toSeq.sorted

  test("KgPipeline.supports equals the string-per-row reference chain " +
       "(model rows, scored linking, coref, normalize, count, language stamp) " +
       "for all 16 combinations of a normalization rule, scoredLinking, " +
       "corefResolution and detectLanguage") {
    val spark = SparkTestSession.get
    import spark.implicits._
    val gen = for {
      catalog <- genCatalog
      markers <- genMarkers
      turns <- genTurns(catalog, markers)
      rules <- genRules(markers.values.toSeq.distinct.sorted :+ Extractor.MentionsPred)
    } yield (catalog, markers, turns, rules)
    val flags = Seq(false, true)
    for (norm <- flags; scored <- flags; coref <- flags; detect <- flags) {
      val combo = s"norm=$norm scoredLinking=$scored coref=$coref detectLanguage=$detect"
      val prop = Prop.forAllNoShrink(gen) { case (catalog, markers, turns, rules) =>
        val cfg = (if (norm) rules else PipelineConfig()).copy(
          scoredLinking = scored, corefResolution = coref, detectLanguage = detect)
        val got = KgPipeline.supports(cfg, turns.toDS(), catalog, markers)
        val want = ExtractModel.referenceSupports(cfg, turns, catalog, markers)
        Prop(got.schema == want.schema) :| s"schema ${got.schema} != ${want.schema}" &&
          Prop(supportRows(got) == supportRows(want)) :|
            s"supports differ: cfg=$cfg catalog=$catalog markers=$markers turns=$turns"
      }
      val res = Test.check(
        Test.Parameters.default.withMinSuccessfulTests(3).withWorkers(1), prop)
      assert(res.passed, s"$combo: ${org.scalacheck.util.Pretty.pretty(res)}")
    }
  }
}
