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
import org.apache.spark.sql.types.{DataType, IntegerType, StructType}

/** Snapshot table with atomic publish — the Iceberg-snapshot-commit pattern
  * emulated over parquet + a manifest pointer (no Iceberg runtime in
  * /opt/spark/jars), which is exactly the reference's `@temp-` staging index
  * + write-block + clone + swap flow (Harvester.java:793-868, SURVEY.md K3)
  * made file-based:
  *
  *   root/_meta/current         <- one-line pointer file, atomically replaced
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
  * metastore pointer swap; the rest of the layout is unchanged.
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
      val files = m.files.filter(f => buckets.forall(bs => f.bucket.exists(bs)))
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
    * directory. A generation published before manifests is adopted once,
    * like [[CheckpointStore]]'s older log: walked ([[walk]]), and its
    * manifest written into it atomically and best-effort — generations are
    * immutable, so it cannot go stale. */
  def manifest(gen: String): Option[Manifest] = generationPath(gen).map { dir =>
    SparkIo.readString(dir.resolve(ManifestFile)).map(parseManifest).getOrElse {
      val m = walk(dir)
      scala.util.Try(SparkIo.writeAtomically(dir.resolve(ManifestFile), m.json))
      m
    }
  }

  /** Row count of the current generation: its manifest's row sum. */
  def currentRecordCount(): Option[Long] =
    currentGeneration().flatMap(manifest).map(_.rows)

  /** Whether the current generation has the bucketed layout: its schema
    * has the `bucket` column (an EMPTY bucketed publish too). `Some(false)`
    * means a pre-bucketing writer built this table — bucketed writers must
    * refuse it with a migration message instead of pinning a bucket_count
    * that the physical layout cannot honour. */
  def currentIsBucketed(alias: String = "current"): Option[Boolean] =
    currentGeneration(alias).flatMap(manifest)
      .map(_.schema.fieldNames.contains(BucketCol))

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
    val stagedBuckets = staged.files.flatMap(_.bucket).distinct
    val undeclared = stagedBuckets.filterNot(changedBuckets)
    require(undeclared.isEmpty,
      s"staged buckets not declared changed: ${undeclared.mkString(",")}")
    stagedBuckets.map(b => s"$BucketCol=$b").foreach { d =>
      Files.move(stagedAt.resolve(d), tmpDir.resolve(d), StandardCopyOption.ATOMIC_MOVE)
    }
    // carry over untouched buckets from the live generation by hard link
    val parent = currentGeneration(alias).flatMap(g => manifest(g).map(root.resolve(g) -> _))
    val carried = parent.toSeq.flatMap { case (dir, m) =>
      m.files.filter(_.bucket.exists(b => !changedBuckets(b)))
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

  /** A manifest of the parquet files under `dir` (a staging or a pre-manifest
    * generation dir), found by a driver-side walk, rows from their footers
    * (no Spark job). The schema is the dir's schema sidecar, else the Spark
    * schema in a footer plus `bucket` when the files sit in bucket dirs,
    * else empty. */
  private def walk(dir: Path): Manifest = {
    val paths = SparkIo.files(dir).filter(_.getFileName.toString.endsWith(".parquet"))
    val files = paths.zip(SparkIo.footerRowCounts(paths, hadoopConf)).map { case (p, rows) =>
      DataFile(dir.relativize(p).toString, Some(p.getParent.getFileName.toString)
        .collect { case BucketDir(b) => b.toInt }, Files.size(p), rows)
    }
    val schema = SparkIo.schemaSidecar(dir).getOrElse {
      val data = paths.headOption.flatMap(SparkIo.footerSchema(_, hadoopConf))
        .getOrElse(new StructType())
      if (files.exists(_.bucket.isDefined)) data.add(BucketCol, IntegerType) else data
    }
    Manifest(schema, files)
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
    val pinned = TableCommitter.createOnce(meta.resolve("pins").resolve(key), value)
    require(pinned == value,
      s"table pin '$key' is $pinned but this writer uses $value — " +
        "rebuild into a fresh table to change it")
  }

  /** Value of a table pin if any writer has pinned it — lets callers
    * distinguish "never pinned" (adoption about to happen) from "pinned to
    * X" before calling [[pinOrVerify]]; see [[pinBucketMapping]]. */
  def pinned(key: String): Option[String] =
    SparkIo.readString(meta.resolve("pins").resolve(key))

  /** Pin the table's key-to-bucket mapping — the bucket count and the
    * bucket-key expression — or verify it against the pins. The key
    * expression pin carries an ADOPTION guard: a table built BEFORE the
    * expression was pinnable has generations but no pin — its physical
    * layout is the default hash mapping, so the only expression a first pin
    * may adopt onto it is the default. Blessing any other mapping onto an
    * existing layout would make the next incremental publish replace rows
    * in the wrong buckets and hard-link stale duplicates forward, silently. */
  def pinBucketMapping(buckets: Int, keyExpr: String): Unit = {
    pinOrVerify("bucket_count", buckets.toString)
    if (currentGeneration().isDefined && pinned("bucket_key_expr").isEmpty &&
        keyExpr != graft.config.PipelineConfig.DefaultBucketKeyExpr)
      throw new IllegalStateException(
        s"bucketKeyExpr=$keyExpr on a table built before the key expression " +
          "was pinned (its layout is the default hash mapping) — changing " +
          "the mapping requires a fresh workDir (or a full rebuild into one)")
    pinOrVerify("bucket_key_expr", keyExpr)
  }

  /** Pin the row-semantics signature ([[graft.config.PipelineConfig.semanticsSig]])
    * or verify it — the one semantics pin of every writer that MERGES into
    * a table (batch sync, streaming ingest): rows extracted under different
    * flags would silently mix two semantics within one table. Same
    * ADOPTION guard as [[pinBucketMapping]]: a table that has generations
    * but no semantics pin predates the pin, and what its rows MEAN is
    * unknowable from here — blessing the current flags onto it would let
    * later writes merge rows of a second semantics into it with no error,
    * the exact failure the pin exists to prevent. Refuse loudly instead. */
  def pinSemanticsOrVerify(sig: String): Unit = {
    if (currentGeneration().isDefined && pinned("semantics").isEmpty)
      throw new IllegalStateException(
        "table has published generations but no semantics pin (it was " +
          "built before row semantics were pinned) — rebuild it from a " +
          "fresh checkpoint / full run so the pin records what its rows mean")
    val standing = TableCommitter.createOnce(semanticsPin, sig)
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
  def repinSemantics(sig: String): Unit = SparkIo.writeAtomically(semanticsPin, sig)

  private def semanticsPin: Path = meta.resolve("pins").resolve("semantics")

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
    * dir, its bucket (None in an unpartitioned generation), bytes and rows. */
  final case class DataFile(path: String, bucket: Option[Int], bytes: Long, rows: Long)

  /** A generation's schema and data files, stored as JSON lines: the schema
    * line, then one line per file ([[parseManifest]] reads them). */
  final case class Manifest(schema: StructType, files: Seq[DataFile]) {
    def rows: Long = files.map(_.rows).sum
    def bytes: Long = files.map(_.bytes).sum

    def json: String =
      (mapper.createObjectNode().put("schema", schema.json) +: files.map { f =>
        val n = mapper.createObjectNode().put("path", f.path)
          .put("bytes", f.bytes).put("rows", f.rows)
        f.bucket.foreach(n.put("bucket", _))
        n
      }).mkString("\n")
  }

  private def parseManifest(json: String): Manifest = {
    val lines = json.split("\n").map(mapper.readTree)
    Manifest(DataType.fromJson(lines.head.get("schema").asText).asInstanceOf[StructType],
      lines.toSeq.tail.map(n => DataFile(n.get("path").asText,
        Option(n.get("bucket")).map(_.asInt), n.get("bytes").asLong, n.get("rows").asLong)))
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
        PartitionDirectory(InternalRow.fromSeq(b.toSeq.map(v =>
          Cast(Literal(v), partitionSchema.head.dataType).eval())), fs.map(status).toArray)
      }.filter(d => keep.forall(_.eval(d.values)))
    }

    override def inputFiles: Array[String] = files.map(status(_).getPath.toString).toArray
    override def refresh(): Unit = ()
    override def sizeInBytes: Long = files.map(_.bytes).sum
  }
}
