package graft.app

import java.nio.file.{Files, Path, Paths}

import graft.app.KgMain.jsonStr
import graft.io.{CheckpointStore, SparkIo, TableCommitter}

/** Operations CLI over a pipeline workDir — the Spark-engine equivalent of
  * the reference's REST control plane (SURVEY.md §2.10,
  * IndexerController.java:32-103): inspect state, flip blue/green aliases,
  * expire old snapshots, drop staged-but-unpublished runs.
  *
  * All subcommands are metadata-only (pointer files, manifests, directory
  * listings, hard-link-aware sizes) — no SparkSession, so the CLI answers in
  * milliseconds against a 100 TB workDir exactly like the reference's
  * `GET /api/running` answers without touching ES data.
  *
  * Usage:
  *   KgAdmin status <workDir>      (tables, then each pipeline's sync epoch)
  *   KgAdmin generations <workDir> <table>
  *   KgAdmin set-pointer <workDir> <table> <gen> [alias]     (blue/green, K6)
  *   KgAdmin expire <workDir> <table> <keepLast>             (retention)
  *   KgAdmin drop-staging <workDir> <table> <runId>          (K5 rollback)
  *
  * `<table>` is one of the pipeline's published tables
  * (`support|edges|nodes|docs`) or any directory under `<workDir>/tables`.
  */
object KgAdmin {

  def main(args: Array[String]): Unit = args.toList match {
    case "status" :: workDir :: Nil =>
      tableNames(workDir).foreach { t =>
        val c = committer(workDir, t)
        val gens = c.generations()
        val cur = c.currentGeneration().getOrElse("-")
        println(s"""{"table":${jsonStr(t)},"current":${jsonStr(cur)},"generations":${gens.size},""" +
          s""""latest":${jsonStr(gens.lastOption.getOrElse("-"))},"bytes":${tableBytes(workDir, t)}}""")
      }
      new CheckpointStore(s"$workDir/checkpoints").statuses().foreach { case (id, s) =>
        println(s"""{"pipeline":${jsonStr(id)},"epoch":${s.runs},""" +
          s""""watermark":"${s.watermark.toInstant}","run_id":${jsonStr(s.runId)}}""")
      }
    case "generations" :: workDir :: table :: Nil =>
      val c = committer(workDir, table)
      val byAlias = c.aliases()
      c.generations().foreach { g =>
        val aliases = byAlias.collect { case (a, t) if t == g => a }
        val m = c.manifest(g)
        println(s"""{"gen":${jsonStr(g)},"rows":${m.fold(0L)(_.rows)},"bytes":${m.fold(0L)(_.bytes)},""" +
          s""""aliases":[${aliases.map(jsonStr).mkString(",")}]}""")
      }
    case "set-pointer" :: workDir :: table :: gen :: rest if rest.size <= 1 =>
      val alias = rest.headOption.getOrElse("current")
      val c = committer(workDir, table)
      // generationPath also rejects non-generation targets (_staging, _meta)
      require(c.generationPath(gen).isDefined,
        s"generation $gen does not exist under $table — refusing to point " +
          "an alias at nothing")
      c.setPointer(alias, gen)
      println(s"""{"table":${jsonStr(table)},"alias":${jsonStr(alias)},"gen":${jsonStr(gen)}}""")
    case "expire" :: workDir :: table :: keepLast :: Nil =>
      val deleted = committer(workDir, table).expireGenerations(keepLast.toInt)
      println(s"""{"table":${jsonStr(table)},"expired":[${deleted.map(jsonStr).mkString(",")}]}""")
    case "drop-staging" :: workDir :: table :: runId :: Nil =>
      committer(workDir, table).rollback(runId)
      println(s"""{"table":${jsonStr(table)},"dropped_staging":${jsonStr(runId)}}""")
    case _ =>
      sys.error("usage: KgAdmin status <workDir> | generations <workDir> <table> | " +
        "set-pointer <workDir> <table> <gen> [alias] | " +
        "expire <workDir> <table> <keepLast> | drop-staging <workDir> <table> <runId>")
  }

  /** `table` is one plain segment: `..` or `a/b` never escapes `tables/`. */
  private def tableDir(workDir: String, table: String): Path =
    SparkIo.child(Paths.get(workDir, "tables"), table)

  private def committer(workDir: String, table: String): TableCommitter =
    new TableCommitter(tableDir(workDir, table).toString)

  private def tableNames(workDir: String): Seq[String] =
    SparkIo.list(Paths.get(workDir, "tables")).filter(Files.isDirectory(_))
      .map(_.getFileName.toString).sorted

  /** PHYSICAL bytes: hard-link-shared files (bucket carryover) are counted
    * once via inode identity, so the number reflects reclaimable space, not
    * the sum of per-generation logical sizes. */
  private def tableBytes(workDir: String, table: String): Long =
    SparkIo.files(tableDir(workDir, table))
      .distinctBy(Files.getAttribute(_, "unix:fileKey")).map(Files.size).sum
}
