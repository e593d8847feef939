package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Guards "no main-code module that only its own spec calls": every
  * top-level object, class and trait under src/main/scala must be named,
  * directly or through other main code, by an entry point (an object with
  * `def main`). Specs do not count as callers, so a module kept alive only
  * by its spec fails here. Names inside comments do not count either;
  * names inside string literals do (Spark loads extensions by class name). */
class ReachabilitySpec extends AnyFunSuite {

  private val mainRoot = Paths.get("src", "main", "scala")

  private val Decl =
    """^(?:(?:final|sealed|abstract|private(?:\[\w+\])?|case|implicit)\s+)*(?:object|class|trait)\s+(\w+)""".r

  /** Source with comments blanked out; string and char literals kept. */
  private def stripComments(src: String): String = {
    val out = new StringBuilder
    var i = 0
    def at(s: String) = src.startsWith(s, i)
    while (i < src.length) {
      if (at("//")) {
        while (i < src.length && src(i) != '\n') i += 1
      } else if (at("/*")) {
        var depth = 0 // Scala block comments nest
        do {
          if (at("/*")) { depth += 1; i += 2 }
          else if (at("*/")) { depth -= 1; i += 2 }
          else { if (src(i) == '\n') out += '\n'; i += 1 }
        } while (depth > 0 && i < src.length)
      } else if (at("\"\"\"")) {
        val end = src.indexOf("\"\"\"", i + 3)
        val stop = if (end < 0) src.length else end + 3
        out ++= src.substring(i, stop); i = stop
      } else if (at("\"")) {
        var j = i + 1
        while (j < src.length && src(j) != '"' && src(j) != '\n')
          j += (if (src(j) == '\\') 2 else 1)
        val stop = math.min(j + 1, src.length)
        out ++= src.substring(i, stop); i = stop
      } else if (at("'\\") && src.startsWith("'", i + 3)) {
        out ++= src.substring(i, i + 4); i += 4
      } else if (at("'") && src.startsWith("'", i + 2)) {
        out ++= src.substring(i, i + 3); i += 3
      } else {
        out += src(i); i += 1
      }
    }
    out.toString
  }

  /** Top-level type name -> its code (plus its file's package and imports;
    * companions share one entry). */
  private def definitions(sources: Seq[String]): Map[String, String] =
    sources.flatMap { src =>
      val header = new StringBuilder
      val bodies = scala.collection.mutable.LinkedHashMap.empty[String, StringBuilder]
      var current: Option[String] = None
      stripComments(src).split("\n").foreach { line =>
        Decl.findPrefixMatchOf(line) match {
          case Some(m) =>
            current = Some(m.group(1))
            bodies.getOrElseUpdate(m.group(1), new StringBuilder) ++= m.after.toString ++= "\n"
          case None =>
            current.fold(header)(bodies) ++= line ++= "\n"
        }
      }
      bodies.map { case (name, body) => name -> (header.toString + body) }
    }.groupMapReduce(_._1)(_._2)(_ + _)

  /** Names of the definitions no entry point reaches. */
  private def unreached(sources: Seq[String]): Set[String] = {
    val defs = definitions(sources)
    val roots = defs.collect {
      case (name, code) if """\bdef\s+main\s*\(""".r.findFirstIn(code).isDefined => name
    }
    var reached = roots.toSet
    var frontier = roots.toList
    while (frontier.nonEmpty) {
      val code = defs(frontier.head)
      frontier = frontier.tail
      val found = defs.keys.filter(n =>
        !reached(n) && s"\\b$n\\b".r.findFirstIn(code).isDefined)
      reached ++= found
      frontier ++= found
    }
    defs.keySet -- reached
  }

  private def mainSources(): Seq[(Path, String)] = sources(mainRoot)

  private def sources(root: Path): Seq[(Path, String)] = {
    assert(Files.isDirectory(root),
      s"run from the project root: no $root under ${Paths.get("").toAbsolutePath}")
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      .map(p => p -> Files.readString(p))
    finally walk.close()
  }

  test("the guard flags a module only its spec would call; comments do not reach") {
    val sources = Seq(
      """package x
        |import x.util.Helper
        |/** see [[Orphan]] */
        |object App { def main(a: Array[String]): Unit = Helper.run("/*x") }
        |""".stripMargin,
      """package x.util
        |object Helper { def run(s: String): Unit = Error.check(s) }
        |final case class Error(msg: String)
        |object Error { def check(s: String): Unit = () }
        |""".stripMargin,
      """package x
        |// Orphan is used by App
        |object Orphan { def f = 1 }
        |""".stripMargin)
    assert(unreached(sources) == Set("Orphan"))
  }

  test("every top-level main type is reachable from an entry point") {
    val sources = mainSources()
    val byName = sources.flatMap { case (p, src) =>
      src.split("\n").flatMap(l => Decl.findPrefixMatchOf(l).map(_.group(1) -> p))
    }.toMap
    val dead = unreached(sources.map(_._2))
    assert(dead.isEmpty, "no entry point reaches: " +
      dead.toSeq.sorted.map(n => s"$n (${byName(n)})").mkString(", "))
  }

  /** A filter on the bucket column: the idiom of reading a whole bucketed
    * generation (listing every bucket dir) and pruning it afterwards. */
  private val BucketIsin =
    """col\(\s*(?:"bucket"|(?:TableCommitter\.)?BucketCol)\s*\)\s*\.isin\(""".r

  test("bucket slices are read through TableCommitter, never by a bucket " +
       "isin filter over a whole-generation read") {
    assert(BucketIsin.findFirstIn(
      "t.read(spark).get.filter(col(TableCommitter.BucketCol)\n  .isin(bs: _*))").isDefined)
    assert(BucketIsin.findFirstIn("""cur.filter(col("bucket").isin(1, 2))""").isDefined)
    // a local column named bucket, and the idiom inside a comment, pass
    assert(BucketIsin.findFirstIn(
      stripComments("""bucket.isin(0, 1) // col("bucket").isin(3)""")).isEmpty)
    val offenders = mainSources()
      .filterNot(_._1.getFileName.toString == "TableCommitter.scala")
      .filter { case (_, src) => BucketIsin.findFirstIn(stripComments(src)).isDefined }
      .map(_._1)
    assert(offenders.isEmpty, "use TableCommitter.readBuckets / readBefore " +
      s"instead of a bucket isin filter in: ${offenders.mkString(", ")}")
  }

  /** Starting a thread or a pool: the ways main code could run Spark jobs
    * concurrently outside the audited helper. */
  private val Concurrency = """new\s+Thread\b|Future\s*\{|Executors\.""".r

  /** `src` without the body of `SparkIo.both` (from its `def` to the next
    * member), the one place main code may start a thread. */
  private def withoutBoth(src: String): String = {
    val start = src.indexOf("def both[")
    if (start < 0) src
    else {
      val next = src.indexOf("\n  def ", start + 1)
      src.substring(0, start) + (if (next < 0) "" else src.substring(next))
    }
  }

  test("concurrency stays in SparkIo.both (and MultiRiver's river pool): no " +
       "other main code starts a thread, a Future or an executor") {
    assert(Concurrency.findFirstIn("val t = new Thread(() => run())").isDefined)
    assert(Concurrency.findFirstIn("Future { work() }").isDefined)
    assert(Concurrency.findFirstIn("Executors.newFixedThreadPool(4)").isDefined)
    assert(Concurrency.findFirstIn(
      stripComments("x // new Thread(...) in a comment")).isEmpty)
    val both = "object SparkIo {\n  def both[A](a: => A) = new Thread(() => a)\n  def f = 1\n}"
    assert(Concurrency.findFirstIn(withoutBoth(both)).isEmpty)
    assert(Concurrency.findFirstIn(withoutBoth(both + "\n  def g = new Thread(r)")).isDefined)
    val offenders = mainSources()
      .filterNot(_._1.getFileName.toString == "MultiRiver.scala")
      .filter { case (p, src) =>
        val code = stripComments(src)
        Concurrency.findFirstIn(
          if (p.getFileName.toString == "SparkIo.scala") withoutBoth(code) else code
        ).isDefined
      }
      .map(_._1)
    assert(offenders.isEmpty, "run concurrent Spark work through " +
      s"SparkIo.both, not a thread or pool of its own: ${offenders.mkString(", ")}")
  }

  /** A directory listing or walk: one stream to close per call site. */
  private val Listing = """\bFiles\s*\.\s*(?:list|walk)\s*\(""".r

  test("directory listings and walks stay in SparkIo: no other main code " +
       "calls Files.list or Files.walk") {
    assert(Listing.findFirstIn("val s = Files.list(dir)").isDefined)
    assert(Listing.findFirstIn("java.nio.file.Files.walk(tmp).sorted(c)").isDefined)
    assert(Listing.findFirstIn(
      stripComments("x /* Files.walk(p) */ // java.nio.file.Files.list(d)")).isEmpty)
    assert(Listing.findFirstIn("SparkIo.list(dir) ++ SparkIo.files(dir)").isEmpty)
    val offenders = mainSources()
      .filterNot(p => Set("SparkIo.scala", "Bench.scala")(p._1.getFileName.toString))
      .filter { case (_, src) => Listing.findFirstIn(stripComments(src)).isDefined }
      .map(_._1)
    assert(offenders.isEmpty, "list, walk and delete directories through " +
      s"SparkIo.list / files / deleteRecursively in: ${offenders.mkString(", ")}")
  }

  /** The count sidecar generations kept before manifests. */
  private val CountSidecar = "_graft_count".r

  /** A DataFrameReader: a read of a path, where the committer must read
    * through its manifest relation. */
  private val PathRead = """\bspark\s*\.\s*read\b""".r

  test("every generation read goes through the manifest: no _graft_count in " +
       "main code, no DataFrameReader in TableCommitter") {
    assert(CountSidecar.findFirstIn("""val CountSidecar = "_graft_count"""").isDefined)
    assert(CountSidecar.findFirstIn(stripComments("x // _graft_count")).isEmpty)
    assert(PathRead.findFirstIn("spark.read.parquet(dir.toString)").isDefined)
    assert(PathRead.findFirstIn("spark\n  .read.schema(s).parquet(p)").isDefined)
    assert(PathRead.findFirstIn(
      "def read(spark: SparkSession) = t.read(spark); spark.readStream").isEmpty)
    val counts = mainSources()
      .filter { case (_, src) => CountSidecar.findFirstIn(stripComments(src)).isDefined }
      .map(_._1)
    assert(counts.isEmpty, s"_graft_count is gone: ${counts.mkString(", ")}")
    val committer = mainSources()
      .filter(_._1.getFileName.toString == "TableCommitter.scala")
    assert(committer.size == 1)
    assert(committer.forall { case (_, src) =>
      PathRead.findFirstIn(stripComments(src)).isEmpty },
      "TableCommitter reads generations through the manifest relation")
  }

  /** Instantiating the extraction scan loop: one per kernel. */
  private val ScanLoop = """\bnew\s+ScanState\s*\(""".r

  test("one extraction kernel: new ScanState( occurs exactly once in main code") {
    val two = """val a = new ScanState(t, m)
      |// new ScanState(t, m) in a comment
      |val b = new  ScanState (t, m)""".stripMargin
    assert(ScanLoop.findAllIn(stripComments(two)).size == 2)
    val sites = mainSources().flatMap { case (p, src) =>
      ScanLoop.findAllIn(stripComments(src)).map(_ => p)
    }
    assert(sites.size == 1, "extraction runs one scan loop, " +
      s"Extractor.extractEncoded; found ${sites.size} in: ${sites.mkString(", ")}")
  }

  /** Building a SparkSession by hand instead of through the factory. */
  private val Builder = """\bSparkSession\s*\.\s*builder\b""".r

  test("one session factory: main code builds sessions only in Sessions and " +
       "the frozen Bench and Verify, specs never") {
    assert(Builder.findFirstIn("val s = SparkSession .builder()").isDefined)
    assert(Builder.findFirstIn("org.apache.spark.sql.SparkSession\n  .builder()").isDefined)
    assert(Builder.findFirstIn(stripComments("x // SparkSession .builder()")).isEmpty)
    assert(Builder.findFirstIn("Sessions.create(name, 4)").isEmpty)
    val frozen = Set("Sessions.scala", "Bench.scala", "Verify.scala")
    // this spec's own examples above are the one exempt test source
    val offenders =
      (mainSources().filterNot(p => frozen(p._1.getFileName.toString)) ++
        sources(Paths.get("src", "test", "scala"))
          .filterNot(_._1.getFileName.toString == "ReachabilitySpec.scala"))
        .filter { case (_, src) => Builder.findFirstIn(stripComments(src)).isDefined }
        .map(_._1)
    assert(offenders.isEmpty,
      s"build sessions with graft.Sessions.create in: ${offenders.mkString(", ")}")
  }

  /** The format version's one definition. */
  private val FormatDef = """\bval\s+Format\s*=""".r

  /** The forks that read layouts older than the format: a footer's schema,
    * the unbucketed-generation check, the `watermarks/` parquet log. */
  private val OlderLayoutFork =
    """\b(?:footerSchema|currentIsBucketed)\b|"[^"\n]*\bwatermarks\b""".r

  test("one on-disk format: one version, no reader of an older layout") {
    assert(FormatDef.findAllIn("val Format = \"1\"\nval  Format= \"2\"").size == 2)
    assert(FormatDef.findFirstIn(stripComments("val FormatX = 1 // val Format = 1")).isEmpty)
    assert(OlderLayoutFork.findFirstIn("SparkIo.footerSchema(p, conf)").isDefined)
    assert(OlderLayoutFork.findFirstIn("t.currentIsBucketed()").isDefined)
    assert(OlderLayoutFork.findFirstIn("""spark.read.parquet(s"$root/watermarks")""").isDefined)
    assert(OlderLayoutFork.findFirstIn(
      stripComments("val wm = 1 // the older `watermarks/` log, footerSchema")).isEmpty)
    val defs = mainSources().flatMap { case (p, src) =>
      FormatDef.findAllIn(stripComments(src)).map(_ => p)
    }
    assert(defs.size == 1, s"one format version, TableCommitter.Format: ${defs.mkString(", ")}")
    val forks = mainSources()
      .filter { case (_, src) => OlderLayoutFork.findFirstIn(stripComments(src)).isDefined }
      .map(_._1)
    assert(forks.isEmpty, "older layouts are refused (TableCommitter.OlderFormat), " +
      s"never read: ${forks.mkString(", ")}")
  }

  test("the frozen driver entry points exist") {
    Seq("Bench.scala", "Verify.scala", "SparkEntry.scala").foreach { f =>
      assert(Files.isRegularFile(mainRoot.resolve(Paths.get("graft", f))), f)
    }
  }
}
