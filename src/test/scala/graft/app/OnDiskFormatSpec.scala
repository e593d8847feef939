package graft.app

import java.nio.file.{Files, Path}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.{OlderLayouts, SparkTestSession, TempDirs}
import graft.config.PipelineConfig
import graft.dedup.IncrementalDedupIndex
import graft.io.{SparkIo, TableCommitter}
import graft.pipeline.KgPipeline
import graft.sources.TranscriptGen
import graft.streaming.StreamingSync

/** One on-disk format ([[TableCommitter.Format]]): every writer pins it on
  * every table it creates, and a workDir that a writer before the pin left
  * behind is refused with the one message, untouched. */
class OnDiskFormatSpec extends AnyFunSuite {

  private val fx = TranscriptGen.generate(nConv = 8, nEnt = 8, hotFactor = 1)

  /** A dir holding `fx`'s turns (`turns`), catalog (`catalog`) and a
    * one-line N-Triples dump (`nt`). */
  private lazy val input: Path = {
    val spark = SparkTestSession.get
    import spark.implicits._
    val in = TempDirs.path("format-in-")
    fx.turns.toDS().write.parquet(s"$in/turns")
    fx.catalog.toDS().write.parquet(s"$in/catalog")
    Files.writeString(Files.createDirectories(in.resolve("nt")).resolve("a.nt"),
      "<urn:s:1> <urn:p> \"one\"@en .\n")
    in
  }

  private def turns = {
    val spark = SparkTestSession.get
    import spark.implicits._
    spark.read.parquet(s"$input/turns").as[graft.schema.Turn]
  }

  /** The name of every table under `dir`: each directory holding a generation. */
  private def tables(dir: Path): Map[String, TableCommitter] = {
    val s = Files.walk(dir)
    try s.iterator().asScala.filter(p => Files.isDirectory(p) &&
        p.getFileName.toString.matches("gen-\\d+")).map(_.getParent).toSet
      .map((t: Path) => t.getFileName.toString -> new TableCommitter(t.toString)).toMap
    finally s.close()
  }

  test("every writer pins the format on each table it creates") {
    val spark = SparkTestSession.get
    import spark.implicits._
    def pipeline(wd: Path) =
      new KgPipeline(PipelineConfig(workDir = wd.toString, publishDocs = true))
    val derived = Set("support", "edges", "nodes", "docs")
    val writers = Seq[(String, Set[String], Path => Any)](
      ("runFull", derived,
        wd => pipeline(wd).runFull(spark, turns, fx.catalog, fx.markers, "full")),
      ("runSync as a first run", derived,
        wd => pipeline(wd).runSync(spark, turns, fx.catalog, fx.markers, "sync")),
      ("the stream", derived ++ Set("coref", "langs"), { wd =>
        def t(name: String) = Some(new TableCommitter(s"$wd/$name"))
        StreamingSync.ingestAvailableNow(spark, s"$input/turns", s"$wd/ckpt",
          fx.catalog, fx.markers,
          PipelineConfig(workDir = wd.toString, corefResolution = true,
            detectLanguage = true),
          t("support").get, corefStateTable = t("coref"), edgeTable = t("edges"),
          nodeTable = t("nodes"), docTable = t("docs"), langStateTable = t("langs"))
      }),
      ("the dedup index", Set("dedup_fp_index", "dedup_doc_map"),
        wd => new IncrementalDedupIndex(wd.toString, 8).update(spark,
          Seq((1L, "a b c d"), (2L, "a b c d")).toDF("doc_id", "text"), "d1")),
      ("KgMain ingest-nt", Set("docs"),
        wd => KgMain.run(spark, Seq("ingest-nt", s"$input/nt", wd.toString), _ => ())))
    writers.foreach { case (writer, want, write) =>
      val wd = TempDirs.path("format-wd-")
      write(wd)
      val made = tables(wd)
      assert(made.keySet == want, writer)
      made.foreach { case (name, t) =>
        assert(t.pinned("format").contains(TableCommitter.Format), s"$writer: $name")
      }
    }
  }

  test("KgMain sync refuses a workDir with a watermarks/ log") {
    val spark = SparkTestSession.get
    import spark.implicits._
    val wd = TempDirs.path("format-wd-")
    def kgMain(mode: String) =
      KgMain.run(spark, Seq(mode, s"$input/turns", wd.toString, s"$input/catalog"), _ => ())
    kgMain("full")
    // the workDir as a writer before the status file and the format pin
    // left it: a parquet log of the runs' watermarks beside unpinned tables
    OlderLayouts.unpin(wd)
    SparkIo.deleteRecursively(wd.resolve("checkpoints/status"))
    Seq(("kg", "full-0", new Timestamp(1735689600000L), "success"))
      .toDF("pipeline_id", "run_id", "watermark", "status")
      .write.parquet(s"$wd/checkpoints/watermarks")
    val e = OlderLayouts.refused(wd)(kgMain("sync"))
    assert(e.getMessage.contains("format pin <none>"), e.getMessage)
  }

  test("the stream refuses a table with no pins") {
    val spark = SparkTestSession.get
    val sd = TempDirs.path("format-stream-")
    val table = new TableCommitter(s"$sd/support")
    def stream(ckpt: String) = StreamingSync.ingestAvailableNow(spark,
      s"$input/turns", s"$sd/$ckpt", fx.catalog, fx.markers,
      PipelineConfig(workDir = sd.toString), table)
    stream("ckpt")
    // the table as a writer before the format pin left it
    OlderLayouts.unpin(sd)
    // the lineage that built the table and a fresh one: refused before the
    // lineage check and before the fresh checkpoint is stamped
    Seq("ckpt", "ckpt-fresh").foreach(c => OlderLayouts.refused(sd)(stream(c)))
  }
}
