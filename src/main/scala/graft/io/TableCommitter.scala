package graft.io

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference,
  BoundReference, Cast, Expression, Literal, Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation,
  PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** Snapshot table with atomic publish — the Iceberg-snapshot-commit pattern
  * emulated over parquet + a manifest pointer (no Iceberg runtime in
  * /opt/spark/jars), which is exactly the reference's `@temp-` staging index
  * + write-block + clone + swap flow (Harvester.java:793-868, SURVEY.md K3)
  * made file-based:
  *
  *   root/_meta/current         <- one-line pointer file, atomically replaced
  *   root/_meta/pins/format     <- the on-disk format ([[TableCommitter.Format]]),
  *                                 pinned with the bucket mapping by every writer
  *   root/gen-<n>/              <- immutable published snapshots: the
  *                                 `bucket=<b>` data dirs, `_graft_manifest`
  *                                 and `_graft_run`
  *   root/_staging/<runId>/     <- in-flight writes; never visible to readers
  *
  * Readers resolve the pointer first, so a crashed run leaves only dead
  * staging files (rollback = delete staging, K5; the pointer never moved).
  * Blue/green aliases (K6, Indexer.switchAliases) are additional named
  * pointer files over the same generations.
  *
  * A generation's [[TableCommitter.Manifest]] is its Iceberg snapshot
  * manifest: every read, count and carryover goes through it, so no read
  * lists a directory and no count opens a footer.
  *
  * At cluster scale the pointer flip maps to an Iceberg snapshot commit /
  * metastore pointer swap; the rest of the layout is unchanged. Like
  * Iceberg's `format-version`, the format pin is read before anything else:
  * a table with generations and no pin, or another one, is an older layout,
  * refused with [[TableCommitter.OlderFormat]] and never adopted; so is a
  * generation without its manifest.
  */
final class TableCommitter(rootDir: String) {
  import TableCommitter._

  private val root = Paths.get(rootDir)
  private val meta = root.resolve("_meta")
  private val staging = root.resolve("_staging")

  private def pointerFile(alias: String): Path = meta.resolve(alias)

  def currentGeneration(alias: String = "current"): Option[String] =
    SparkIo.readString(pointerFile(alias))

  def currentPath(alias: String = "current"): Option[String] =
    currentGeneration(alias).map(g => root.resolve(g).toString)

  /** The generation an alias points at (see [[readGeneration]]). */
  def read(spark: SparkSession, alias: String = "current"): Option[DataFrame] =
    currentGeneration(alias).flatMap(readGeneration(spark, _))

  /** The rows of `buckets` in the current generation. */
  def readBuckets(spark: SparkSession, buckets: Set[Int]): Option[DataFrame] =
    currentGeneration().flatMap(readGeneration(spark, _, Some(buckets)))

  /** The rows of generation `gen` — of only `buckets` when given; None when
    * `gen` is not a `gen-<n>` directory (time travel: generations are
    * immutable). The relation serves the manifest's files for those
    * buckets: nothing is listed and no schema inferred. No file to read
    * gives a local empty frame of the table's schema: no Spark job. */
  def readGeneration(spark: SparkSession, gen: String,
                     buckets: Option[Set[Int]] = None): Option[DataFrame] =
    manifest(gen).map { m =>
      // a partitioned relation puts the partition column last
      val (part, data) = m.schema.fields.partition(_.name == BucketCol)
      val files = m.files.filter(f => buckets.forall(_(f.bucket)))
      if (files.isEmpty) spark.createDataFrame(
        java.util.Collections.emptyList[Row](), StructType(data ++ part))
      else spark.baseRelationToDataFrame(HadoopFsRelation(
        ManifestIndex(root.resolve(gen), files, StructType(part)),
        StructType(part), StructType(data), None, new ParquetFileFormat,
        Map.empty)(spark))
    }

  /** The generation `runId` merges into: the current one, or the parent of
    * the one `runId` already published (a crash replay); `None` = no
    * generation before the run. */
  def generationBefore(runId: String): Option[String] =
    publishedGeneration(runId) match {
      case None => currentGeneration()
      case Some(gen) =>
        val n = gen.stripPrefix("gen-").toLong
        if (n == 0) None else Some(s"gen-${n - 1}")
    }

  /** The rows of `buckets` as the table stood BEFORE `runId` published into
    * it ([[generationBefore]]); `None` = no generation before the run.
    * Throws [[TableCommitter.ExpiredGeneration]] if retention expired that
    * generation: reading it as empty would re-derive a change the table
    * absorbed. */
  def readBefore(spark: SparkSession, runId: String,
                 buckets: Set[Int]): Option[DataFrame] =
    generationBefore(runId).map { gen =>
      readGeneration(spark, gen, Some(buckets)).getOrElse(
        throw new ExpiredGeneration(
          s"replaying $runId needs $root's pre-run snapshot $gen, but " +
            "retention expired it — raise retention or rebuild the table"))
    }

  /** Every alias pointer and the generation it references (control-plane
    * inspection surface — KgAdmin renders this; keeping the pointer-file
    * layout private to this class). */
  def aliases(): Seq[(String, String)] =
    pointers().flatMap(f => SparkIo.readString(f).map(f.getFileName.toString -> _))
      .filter(_._2.startsWith("gen-")).sortBy(_._1)

  /** The alias pointer files: `_meta`'s regular files, minus dotted tmp
    * files (the run records and pins are directories). */
  private def pointers(): Seq[Path] =
    SparkIo.list(meta).filter(Files.isRegularFile(_))
      .filterNot(_.getFileName.toString.startsWith("."))

  /** Physical directory of a generation, if it exists. */
  def generationPath(gen: String): Option[Path] = {
    val p = root.resolve(gen)
    if (gen.matches("gen-\\d+") && Files.isDirectory(p)) Some(p) else None
  }

  /** All published generations, oldest first. */
  def generations(): Seq[String] =
    SparkIo.list(root).map(_.getFileName.toString)
      .filter(_.startsWith("gen-")).sortBy(_.stripPrefix("gen-").toLong)

  def stagingPath(runId: String): String = staging.resolve(runId).toString

  private val tableName = root.getFileName.toString

  /** Label this table's Spark jobs in the UI / listeners. */
  private def withJobDesc[T](df: DataFrame, desc: String)(body: => T): T =
    SparkIo.withJobDesc(df.sparkSession, s"$desc:$tableName")(body)

  /** Write a (possibly partial) snapshot into staging, physically partitioned
    * by the `bucket` column — the layout that makes incremental sync
    * overwrite only changed buckets (publishBuckets) and gives readers
    * partition pruning on bucket predicates.
    *
    * Rows are shuffled onto their bucket before the write: without it every
    * upstream task holds rows of every bucket and a B-bucket table explodes
    * into tasks x B tiny files (2000+ at test scale — file-listing and
    * hard-link costs then swamp the incremental win; at cluster scale the
    * same layout produces millions of sub-row-group files). One exchange
    * keyed by bucket gives one writer per bucket dir; maxRecordsPerFile
    * splits giant ones. The exchange has a FIXED partition count, which
    * AQE never coalesces: the bucket dirs are written by up to that many
    * tasks at once, where a coalesced exchange of a small table ran one
    * task writing all B dirs while the other cores idled. The count is the
    * session's shuffle partitions capped at its cores — more writers than
    * cores would only schedule empty tasks. */
  def stagePartitioned(df: DataFrame, runId: String): String = {
    val p = stagingPath(runId)
    val spark = df.sparkSession
    val writers = math.min(spark.sessionState.conf.numShufflePartitions,
      spark.sparkContext.defaultParallelism)
    withJobDesc(df, "stage-buckets") {
      df.repartition(writers, col(BucketCol))
        .write.mode("overwrite")
        .option("maxRecordsPerFile", 20000000)
        .partitionBy(BucketCol).parquet(p)
    }
    // the manifest's schema: a zero-row staging has no footer to read it from
    SparkIo.writeAtomically(Paths.get(p).resolve(SchemaSidecar), df.schema.json)
    p
  }

  /** The manifest of generation `gen`; None when `gen` is not a `gen-<n>`
    * directory. A generation without one is an older layout: refused. */
  def manifest(gen: String): Option[Manifest] = generationPath(gen).map { dir =>
    parseManifest(dir, SparkIo.readString(dir.resolve(ManifestFile))
      .getOrElse(throw new OlderFormat(s"generation $dir has no $ManifestFile")))
  }

  /** Row count of the current generation: its manifest's row sum. */
  def currentRecordCount(): Option[Long] =
    currentGeneration().flatMap(manifest).map(_.rows)

  /** Incremental bucket publish: gen-(n+1) = staged `bucket=` dirs (the
    * rewritten buckets) + hard-linked carryover of every current-generation
    * file whose bucket is NOT in `changedBuckets`, named by the current
    * manifest. A sync touching k of B buckets therefore writes exactly k
    * bucket directories of new bytes; the other B-k are shared by reference
    * with the previous generation. `changedBuckets` (not staged-dir
    * presence) decides carryover, so a bucket whose rows all vanished is
    * correctly dropped rather than resurrected. The new manifest (staged
    * files walked, carried entries copied) moves into place with the rest.
    *
    * This is the reference's per-doc-id upsert granularity
    * (Harvester.java:1849-1856) at bucket granularity, with snapshot
    * isolation: readers see gen-n until the pointer flips. */
  def publishBuckets(runId: String, changedBuckets: Set[Int],
                     alias: String = "current"): String = synchronized {
    // resume idempotence: a runId publishes at most once (see
    // publishedGeneration); stale re-staged data is discarded
    publishedGeneration(runId, alias) match {
      case Some(gen) => return republish(runId, gen, alias)
      case None =>
    }
    val stagedAt = staging.resolve(runId)
    require(Files.exists(stagedAt), s"nothing staged for $runId")
    // the untouched buckets carry over from the live generation's manifest,
    // read before anything moves: an older parent is refused untouched
    val parent = currentGeneration(alias).flatMap(g => manifest(g).map(root.resolve(g) -> _))
    // sweep orphan assembly dirs a crashed publish left behind (they were
    // never recorded or pointer-referenced, but they'd otherwise linger
    // forever, confuse time travel, and occupy retention slots)
    sweepTmpGens()
    // next generation = max existing gen dir + 1 (NOT the alias pointer:
    // after a blue/green rollback the pointer lags behind published dirs
    // and pointer-derived numbering would collide with an existing gen)
    val n = generations().lastOption
      .map(_.stripPrefix("gen-").toLong).getOrElse(-1L) + 1
    val gen = s"gen-$n"
    // assemble in a dotted tmp dir, then ATOMIC_MOVE into place: a crash
    // mid-assembly never leaves a partial gen-N visible to readGeneration /
    // generations() (dotted names don't match the gen- prefix)
    val tmpDir = root.resolve(s".$gen.tmp")
    Files.createDirectories(tmpDir)
    // move the rewritten buckets in from staging (caller contract: staged
    // data may only touch declared-changed buckets, or the hard-linked
    // carryover below would collide with it)
    val staged = walk(stagedAt)
    val stagedBuckets = staged.files.map(_.bucket).distinct
    val undeclared = stagedBuckets.filterNot(changedBuckets)
    require(undeclared.isEmpty,
      s"staged buckets not declared changed: ${undeclared.mkString(",")}")
    stagedBuckets.map(b => s"$BucketCol=$b").foreach { d =>
      Files.move(stagedAt.resolve(d), tmpDir.resolve(d), StandardCopyOption.ATOMIC_MOVE)
    }
    // carry over untouched buckets from the live generation by hard link
    val carried = parent.toSeq.flatMap { case (dir, m) =>
      m.files.filterNot(f => changedBuckets(f.bucket))
        .tapEach(f => link(dir, tmpDir, f.path))
    }
    Files.writeString(tmpDir.resolve(ManifestFile),
      Manifest(staged.schema, staged.files ++ carried).json)
    // the run marker travels INSIDE the generation: a crash after the move
    // but before recordRun would otherwise leave a complete, unreferenced
    // gen-N that the retry re-publishes as gen-(N+1) — a phantom forever
    // occupying a retention slot (publishedGeneration heals from the marker)
    Files.writeString(tmpDir.resolve(RunMarker), s"$alias~$runId")
    Files.move(tmpDir, root.resolve(gen), StandardCopyOption.ATOMIC_MOVE)
    SparkIo.deleteRecursively(stagedAt)
    recordRun(runId, gen, alias)
    setPointer(alias, gen)
    gen
  }

  /** Hard-link data file `rel` of generation dir `from` into `to`, with its
    * checksum file when the file system keeps one (same inodes — zero copy;
    * generations are immutable once published, so sharing is safe). */
  private def link(from: Path, to: Path, rel: String): Unit = {
    val f = Paths.get(rel)
    val crc = f.resolveSibling(s".${f.getFileName}.crc")
    Files.createDirectories(to.resolve(f).getParent)
    (f +: Seq(crc).filter(c => Files.exists(from.resolve(c))))
      .foreach(g => Files.createLink(to.resolve(g), from.resolve(g)))
  }

  /** A manifest of the parquet files under staging dir `dir`, found by a
    * driver-side walk, rows from their footers (no Spark job), schema from
    * the sidecar [[stagePartitioned]] writes. */
  private def walk(dir: Path): Manifest = {
    val paths = SparkIo.files(dir).filter(_.getFileName.toString.endsWith(".parquet"))
    val files = paths.zip(SparkIo.footerRowCounts(paths, hadoopConf)).map { case (p, rows) =>
      p.getParent.getFileName.toString match {
        case BucketDir(b) => DataFile(dir.relativize(p).toString, b.toInt, Files.size(p), rows)
        case _ => throw new OlderFormat(s"staged file $p is outside a bucket dir")
      }
    }
    Manifest(SparkIo.schemaSidecar(dir), files)
  }

  /** Delete assembly dirs (`.gen-*.tmp`) orphaned by a crash mid-publish.
    *
    * WRITER CONTRACT: one publishing process per table at a time (crash +
    * retry, never concurrent publishers — the same contract the gen
    * numbering and pointer flips already assume; runId idempotence serializes
    * retries). Under that contract any surviving tmp dir is a dead run's. */
  private def sweepTmpGens(): Unit =
    SparkIo.list(root).filter { p =>
      val n = p.getFileName.toString
      n.startsWith(".gen-") && n.endsWith(".tmp")
    }.foreach(SparkIo.deleteRecursively)

  /** Generation already published for this runId, if any — publishes are
    * runId-idempotent so a crash-and-resume never applies the same logical
    * update twice (the incremental edge/node merges are deltas: replaying
    * one would double-count). Recorded as `_meta/runs/<runId>` BEFORE the
    * pointer flip: a crash between the record and the flip is healed by the
    * early-return path, which re-points the alias forward; the reverse order
    * would leave a window where a resume re-applies the delta. */
  def publishedGeneration(runId: String,
                          alias: String = "current"): Option[String] =
    SparkIo.readString(meta.resolve("runs").resolve(s"$alias~$runId")).orElse {
      // crash window: generation moved into place but recordRun never ran —
      // the in-dir run marker identifies it; heal the record so the retry
      // takes the republish path instead of double-publishing
      val healed = generations().reverse.find(g => SparkIo.readString(
        root.resolve(g).resolve(TableCommitter.RunMarker)).contains(s"$alias~$runId"))
      healed.foreach(g => recordRun(runId, g, alias))
      healed
    }

  // run records are ALIAS-scoped: publishing the same runId under another
  // alias is an independent logical publish, and a record must never move a
  // pointer the runId was not published under. Written atomically: a crash
  // mid-write must not leave an empty record, which every retry of the
  // runId would read as a generation named ""
  private def recordRun(runId: String, gen: String, alias: String): Unit =
    SparkIo.writeAtomically(meta.resolve("runs").resolve(s"$alias~$runId"), gen)

  /** Idempotent re-publish: discard stale staging, and heal a pointer that a
    * crash left behind the recorded generation (never regress a pointer that
    * a later run advanced). Caveat, documented: a DELIBERATE pointer
    * rollback followed by a replay of the pre-rollback runId is re-healed
    * forward — retire old runIds (or publish the rollback as its own
    * generation) when operating that way. */
  private def republish(runId: String, gen: String, alias: String): String = {
    rollback(runId)
    val cur = currentGeneration(alias)
      .map(_.stripPrefix("gen-").toLong).getOrElse(-1L)
    if (gen.stripPrefix("gen-").toLong > cur) setPointer(alias, gen)
    gen
  }

  /** Pin an immutable table-layout property (e.g. the bucket count): first
    * caller writes it ([[TableCommitter.createOnce]]), every later caller
    * must agree — a writer using a different key-to-bucket mapping than the
    * table was built with would replace rows in the wrong buckets and
    * silently carry stale copies forward. */
  def pinOrVerify(key: String, value: String): Unit = {
    val pinned = TableCommitter.createOnce(pin(key), value)
    require(pinned == value,
      s"table pin '$key' is $pinned but this writer uses $value — " +
        "rebuild into a fresh table to change it")
  }

  /** Value of a table pin if any writer has pinned it. */
  def pinned(key: String): Option[String] = SparkIo.readString(pin(key))

  private def pin(key: String): Path = meta.resolve("pins").resolve(key)

  /** Pin the table's on-disk format and its key-to-bucket mapping — the
    * bucket count and the bucket-key expression — or verify them against
    * the pins. Every writer calls this before its first stage. The format
    * comes first: only a table with no generation may take the pin, so a
    * table whose generations predate it is refused before anything is
    * written into it. */
  def pinBucketMapping(buckets: Int, keyExpr: String): Unit = {
    pinFormat()
    pinOrVerify("bucket_count", buckets.toString)
    pinOrVerify("bucket_key_expr", keyExpr)
  }

  private def pinFormat(): Unit = {
    val format =
      if (generations().isEmpty) Some(TableCommitter.createOnce(pin("format"), Format))
      else pinned("format")
    if (!format.contains(Format))
      throw new OlderFormat(s"table $root has format pin ${format.getOrElse("<none>")}")
  }

  /** Pin the row-semantics signature ([[graft.config.PipelineConfig.semanticsSig]])
    * or verify it — the one semantics pin of every writer that MERGES into
    * a table (batch sync, streaming ingest): rows extracted under different
    * flags would silently mix two semantics within one table. The format
    * pin comes first, as in [[pinBucketMapping]]: a table whose generations
    * predate it holds rows of unknowable semantics. */
  def pinSemanticsOrVerify(sig: String): Unit = {
    pinFormat()
    val standing = TableCommitter.createOnce(pin("semantics"), sig)
    require(standing == sig,
      s"writer flags ($sig) differ from the row semantics the table was " +
        s"built with ($standing) — a merge would mix row semantics within " +
        "one table; run a FULL rebuild (or ingest into a fresh table) to " +
        "change them")
  }

  /** Re-pin the row-semantics signature unconditionally (atomic replace):
    * only a writer that rebuilds EVERY row (a full run) may redefine what
    * the table's rows mean. Pinned before the rebuild publishes, so a
    * crashed full run leaves the pin ahead of the pointer — later merges
    * under the old flags then refuse until a full run completes. */
  def repinSemantics(sig: String): Unit = SparkIo.writeAtomically(pin("semantics"), sig)

  /** Point an alias at an existing generation (blue/green switch, K6). */
  def setPointer(alias: String, gen: String): Unit = {
    // the meta dir also holds the run-record and pin DIRECTORIES and
    // dot-prefixed tmp files: an alias colliding with either would clobber
    // them (a move onto _meta/runs) or hide as a tmp file
    require(alias.matches("[A-Za-z0-9][A-Za-z0-9_-]*") &&
      alias != "runs" && alias != "pins",
      s"invalid alias name '$alias'")
    SparkIo.writeAtomically(pointerFile(alias), gen)
  }

  /** Remove staged (unpublished) data — K5: the pointer never moved, so the
    * live table is untouched. `runId` must be one plain segment, so a
    * rollback never deletes outside `_staging`. */
  def rollback(runId: String): Unit =
    SparkIo.deleteRecursively(SparkIo.child(staging, runId))

  /** Snapshot retention (the Iceberg expire_snapshots analogue; reference:
    * stale `@temp-` cleanup, Harvester.deleteTempIndexIfExists,
    * Harvester.java:793-810): delete all but the newest `keepLast`
    * generations, never touching one an alias pointer references. Bucket
    * carryover uses hard links, so deleting an old generation only drops
    * its directory entries — files shared with newer generations survive on
    * their remaining links; physical space is reclaimed exactly for bytes
    * no retained generation references.
    * @return the generations deleted. */
  def expireGenerations(keepLast: Int): Seq[String] = synchronized {
    require(keepLast >= 1, "must retain at least one generation")
    val referenced = pointers().flatMap(SparkIo.readString).toSet
    val expire = generations().dropRight(keepLast).filterNot(referenced)
    expire.foreach(g => SparkIo.deleteRecursively(root.resolve(g)))
    // retire run records pointing at expired generations: a replayed runId
    // must re-publish (or fail staging requirements) rather than "succeed"
    // returning a generation that no longer exists
    val expired = expire.toSet
    SparkIo.list(meta.resolve("runs"))
      .filter(f => SparkIo.readString(f).exists(expired))
      .foreach(Files.delete(_))
    expire
  }
}

object TableCommitter {
  /** Create `f` holding `value` unless it exists; return what `f` holds.
    * First-writer exclusivity uses hard-link creation (CREATE_NEW
    * semantics): rename(2) would silently REPLACE a concurrent winner's
    * file, letting both racers proceed believing their own value won. The
    * unconditional read-back hands every racer the winner's value. */
  def createOnce(f: Path, value: String): String = {
    if (!Files.exists(f)) {
      Files.createDirectories(f.getParent)
      val tmp = f.resolveSibling(s".${f.getFileName}.${java.util.UUID.randomUUID()}.tmp")
      Files.writeString(tmp, value)
      try Files.createLink(f, tmp)
      catch { // lost the first-writer race: the read-back adopts the winner
        case _: java.nio.file.FileAlreadyExistsException => ()
      } finally Files.deleteIfExists(tmp)
    }
    SparkIo.readString(f).get
  }

  /** The on-disk format of every table and stage checkpoint this code
    * writes; every writer pins it ([[TableCommitter.pinBucketMapping]]). */
  val Format = "1"

  /** The one refusal of a layout other than [[Format]]: graft commit
    * f69f29c was the last to read (and adopt) the older layouts. */
  final class OlderFormat(what: String) extends IllegalStateException(
    s"$what: not in graft format $Format, the only on-disk format this graft " +
      "reads (graft commit f69f29c was the last to read older layouts) — " +
      "rebuild with `KgMain full` into a fresh workDir")

  /** A replay needs a generation that retention already expired. */
  final class ExpiredGeneration(msg: String) extends IllegalStateException(msg)

  /** Physical partition column of bucketed tables. */
  val BucketCol = "bucket"

  /** Schema sidecar of a staging dir (the manifest's schema source) and of
    * a stage checkpoint (leading underscore: parquet readers ignore it). */
  val SchemaSidecar = "_graft_schema.json"

  /** In-generation run marker (`alias~runId` of the publish that created the
    * generation) — lets publishedGeneration heal a run record lost to a
    * crash between the generation move and recordRun. */
  val RunMarker = "_graft_run"

  /** In-generation manifest file (see [[Manifest]]). */
  val ManifestFile = "_graft_manifest"

  private val BucketDir = s"$BucketCol=(-?\\d+)".r

  /** One data file of a generation: its path relative to the generation
    * dir, its bucket, bytes and rows. */
  final case class DataFile(path: String, bucket: Int, bytes: Long, rows: Long)

  /** A generation's schema and data files, stored as JSON lines: the schema
    * line, then one line per file ([[parseManifest]] reads them). */
  final case class Manifest(schema: StructType, files: Seq[DataFile]) {
    def rows: Long = files.map(_.rows).sum
    def bytes: Long = files.map(_.bytes).sum

    def json: String =
      (mapper.createObjectNode().put("schema", schema.json) +: files.map { f =>
        mapper.createObjectNode().put("path", f.path)
          .put("bytes", f.bytes).put("rows", f.rows).put("bucket", f.bucket)
      }).mkString("\n")
  }

  /** Generation `dir`'s manifest; a file entry without a bucket is an
    * unpartitioned generation, an older layout. */
  private def parseManifest(dir: Path, json: String): Manifest = {
    val lines = json.split("\n").map(mapper.readTree)
    Manifest(DataType.fromJson(lines.head.get("schema").asText).asInstanceOf[StructType],
      lines.toSeq.tail.map(n => DataFile(n.get("path").asText,
        Option(n.get("bucket")).getOrElse(throw new OlderFormat(
          s"generation $dir is not bucketed")).asInt,
        n.get("bytes").asLong, n.get("rows").asLong)))
  }

  private val mapper = new ObjectMapper()

  private lazy val hadoopConf = new org.apache.hadoop.conf.Configuration()

  /** The files of a manifest as a relation's file index: every file is
    * served from the manifest, and a partition filter on `bucket` prunes
    * whole buckets as a listed index would, so nothing is ever listed. */
  private final case class ManifestIndex(dir: Path, files: Seq[DataFile],
                                         partitionSchema: StructType) extends FileIndex {
    private def status(f: DataFile) =
      new FileStatus(f.bytes, false, 1, 0L, 0L, new HPath(dir.resolve(f.path).toUri))

    override def rootPaths: Seq[HPath] = Seq(new HPath(dir.toUri))

    override def listFiles(partitionFilters: Seq[Expression],
                           dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
      val keep = partitionFilters.reduceOption(And).map(p =>
        Predicate.createInterpreted(p.transform {
          case a: AttributeReference => BoundReference(0, a.dataType, nullable = true)
        }))
      files.groupBy(_.bucket).toSeq.sortBy(_._1).map { case (b, fs) =>
        PartitionDirectory(InternalRow(
          Cast(Literal(b), partitionSchema.head.dataType).eval()), fs.map(status).toArray)
      }.filter(d => keep.forall(_.eval(d.values)))
    }

    override def inputFiles: Array[String] = files.map(status(_).getPath.toString).toArray
    override def refresh(): Unit = ()
    override def sizeInBytes: Long = files.map(_.bytes).sum
  }
}
