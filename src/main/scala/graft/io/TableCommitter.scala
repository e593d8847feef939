package graft.io

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Snapshot table with atomic publish — the Iceberg-snapshot-commit pattern
  * emulated over parquet + a manifest pointer (no Iceberg runtime in
  * /opt/spark/jars), which is exactly the reference's `@temp-` staging index
  * + write-block + clone + swap flow (Harvester.java:793-868, SURVEY.md K3)
  * made file-based:
  *
  *   root/_meta/current         <- one-line pointer file, atomically replaced
  *   root/gen-<n>/              <- immutable published snapshots
  *   root/_staging/<runId>/     <- in-flight writes; never visible to readers
  *
  * Readers resolve the pointer first, so a crashed run leaves only dead
  * staging files (rollback = delete staging, K5; the pointer never moved).
  * Blue/green aliases (K6, Indexer.switchAliases) are additional named
  * pointer files over the same generations.
  *
  * At cluster scale the pointer flip maps to an Iceberg snapshot commit /
  * metastore pointer swap; the rest of the layout is unchanged.
  */
final class TableCommitter(rootDir: String) {
  private val root = Paths.get(rootDir)
  private val meta = root.resolve("_meta")
  private val staging = root.resolve("_staging")

  private def pointerFile(alias: String): Path = meta.resolve(alias)

  def currentGeneration(alias: String = "current"): Option[String] =
    SparkIo.readString(pointerFile(alias))

  def currentPath(alias: String = "current"): Option[String] =
    currentGeneration(alias).map(g => root.resolve(g).toString)

  /** Reads go through the generation's schema sidecar when one exists
    * (see SparkIo.readParquetWithSidecar): it makes a ZERO-ROW generation
    * readable — `partitionBy` of an empty DataFrame emits no parquet data
    * files at all, so schema inference would throw and a legitimate empty
    * publish (e.g. a first-ever sync over a source with no extractable
    * triples) would brick every later read of the table — and it skips
    * footer-based schema inference on non-empty reads. */
  def read(spark: SparkSession, alias: String = "current"): Option[DataFrame] =
    currentPath(alias).map(SparkIo.readParquetWithSidecar(spark, _))

  /** Time travel: read any retained generation directly (generations are
    * immutable once published — the Iceberg snapshot-read equivalent).
    * Routed through `generationPath`, so only a validated `gen-<n>`
    * DIRECTORY qualifies: the `current` pointer file, `_meta`, dotted
    * staging dirs, and path-traversal names all return None rather than
    * reaching the parquet reader. */
  def readGeneration(spark: SparkSession, gen: String): Option[DataFrame] =
    generationPath(gen).map(p => SparkIo.readParquetWithSidecar(spark, p.toString))

  /** The rows of `buckets` in the current generation, addressed by their
    * `bucket=<b>` dirs (see `readGeneration(spark, gen, buckets)`). */
  def readBuckets(spark: SparkSession, buckets: Set[Int]): Option[DataFrame] =
    currentGeneration().flatMap(readGeneration(spark, _, buckets))

  /** The rows of `buckets` in generation `gen`. Only the existing
    * `bucket=<b>` dirs reach the parquet reader (with the generation as
    * `basePath`, so `bucket` stays a column), never the generation root:
    * the read lists k dirs, not all B — a root read at B > 32 is one
    * parallel "Listing leaf files" Spark job per read, whatever the filter.
    * No dir to read (an empty set, or only empty buckets) gives an empty
    * frame of the table's schema and runs no Spark job. The generation is
    * bound now, like [[read]]. A generation without a schema sidecar (an
    * older writer) falls back to the bucket-filtered root read. */
  def readGeneration(spark: SparkSession, gen: String,
                     buckets: Set[Int]): Option[DataFrame] =
    generationPath(gen).map { dir =>
      SparkIo.schemaSidecar(dir) match {
        case None => spark.read.parquet(dir.toString)
          .filter(col(TableCommitter.BucketCol).isin(buckets.toSeq: _*))
        case Some(schema) =>
          // a partitioned read puts the partition column last
          val (part, data) =
            schema.fields.partition(_.name == TableCommitter.BucketCol)
          val reader =
            spark.read.schema(org.apache.spark.sql.types.StructType(data ++ part))
          val dirs = buckets.toSeq.sorted
            .map(b => dir.resolve(s"${TableCommitter.BucketCol}=$b"))
            .filter(Files.isDirectory(_))
          // no dir: a local empty frame (optimizers see it is empty) typed
          // like a read of the dirs — a path-less reader lists nothing
          if (dirs.isEmpty) spark.createDataFrame(
            java.util.Collections.emptyList[Row](), reader.parquet().schema)
          else reader.option("basePath", dir.toString)
            .parquet(dirs.map(_.toString): _*)
      }
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
      readGeneration(spark, gen, buckets).getOrElse(
        throw new TableCommitter.ExpiredGeneration(
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
      df.repartition(writers, col(TableCommitter.BucketCol))
        .write.mode("overwrite")
        .option("maxRecordsPerFile", 20000000)
        .partitionBy(TableCommitter.BucketCol).parquet(p)
    }
    // schema sidecar: the generation this staging becomes stays readable
    // even with zero rows (no data files to infer a schema from; see read)
    SparkIo.writeAtomically(Paths.get(p).resolve(TableCommitter.SchemaSidecar),
      df.schema.json)
    p
  }

  /** Row count of the current generation from parquet FOOTERS — driver-side
    * metadata only, zero Spark jobs (a Spark metadata-only count still
    * schedules ~2 jobs, pure overhead for a per-sync metric).
    *
    * Generations are immutable, so the first computation is cached in a
    * count sidecar inside the generation dir: every later sync against the
    * same generation (the nightly no-op case) reads ONE tiny file instead
    * of re-walking the table — at the 100 TB design point a per-run serial
    * footer walk over ~10^5-10^6 part files would dominate the "metadata
    * only" no-op. The cold computation itself fans the footer opens across
    * the driver's cores (footers are independent remote reads; the latency,
    * not the CPU, is the cost). Sidecar writes are atomic and best-effort —
    * a lost write only means the next caller recomputes. */
  def currentRecordCount(spark: SparkSession): Option[Long] =
    currentGeneration().map { gen =>
      recordCount(gen).getOrElse {
        val n = SparkIo.footerRowCounts(
          SparkIo.files(root.resolve(gen)).filter(_.getFileName.toString.endsWith(".parquet")),
          spark.sessionState.newHadoopConf()).sum
        seedRecordCount(gen, n)
        n
      }
    }

  /** The row count cached in generation `gen`'s count sidecar, if any. */
  def recordCount(gen: String): Option[Long] =
    generationPath(gen).flatMap(dir => SparkIo.readString(
      dir.resolve(TableCommitter.CountSidecar)).flatMap(_.toLongOption))

  /** Write generation `gen`'s count sidecar: by [[currentRecordCount]]
    * after a footer walk, or by a writer that observed its rows while
    * publishing (a full write's row count; a bucket merge's parent count
    * minus the replaced rows plus the written ones), which spares every
    * later reader the walk. Atomic and best-effort — a lost write only
    * means the next caller recomputes. */
  def seedRecordCount(gen: String, n: Long): Unit =
    generationPath(gen).foreach { dir =>
      scala.util.Try(
        SparkIo.writeAtomically(dir.resolve(TableCommitter.CountSidecar), n.toString))
    }

  /** Whether the current generation was published with the bucketed layout
    * (bucket= partition dirs; an EMPTY bucketed publish is recognised via
    * its schema sidecar carrying the bucket column). `Some(false)` means a
    * pre-bucketing writer built this table — bucketed writers must refuse
    * it with a migration message instead of pinning a bucket_count that the
    * physical layout cannot honour. Metadata-only (one dir listing + one
    * small file read). */
  def currentIsBucketed(alias: String = "current"): Option[Boolean] =
    currentPath(alias).map { p =>
      val dir = Paths.get(p)
      bucketDirs(dir).nonEmpty || SparkIo.schemaSidecar(dir)
        .exists(_.fieldNames.contains(TableCommitter.BucketCol))
    }

  private def bucketDirs(dir: Path): Seq[Path] =
    SparkIo.list(dir)
      .filter(_.getFileName.toString.startsWith(s"${TableCommitter.BucketCol}="))

  /** Hard-link every file of `src` into `dst` (same inodes — zero copy;
    * generations are immutable once published, so sharing is safe; this is
    * the manifest-file-reuse of an Iceberg incremental snapshot made
    * file-system-literal). */
  private def linkDir(src: Path, dst: Path): Unit = {
    Files.createDirectories(dst)
    SparkIo.files(src).foreach { f =>
      val out = dst.resolve(src.relativize(f))
      Files.createDirectories(out.getParent)
      Files.createLink(out, f)
    }
  }

  /** Incremental bucket publish: gen-(n+1) = staged `bucket=` dirs (the
    * rewritten buckets) + hard-linked carryover of every current-generation
    * bucket NOT in `changedBuckets`. A sync touching k of B buckets therefore
    * writes exactly k bucket directories of new bytes; the other B-k are
    * shared by reference with the previous generation. `changedBuckets`
    * (not staged-dir presence) decides carryover, so a bucket whose rows all
    * vanished is correctly dropped rather than resurrected.
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
    val changedNames = changedBuckets.map(b => s"${TableCommitter.BucketCol}=$b")
    // carry over untouched buckets from the live generation by hard link
    currentPath(alias).foreach { cur =>
      bucketDirs(Paths.get(cur))
        .filterNot(d => changedNames.contains(d.getFileName.toString))
        .foreach(d => linkDir(d, tmpDir.resolve(d.getFileName.toString)))
    }
    // move the rewritten buckets in from staging (caller contract: staged
    // data may only touch declared-changed buckets, or the hard-linked
    // carryover above would collide with it)
    val staged = bucketDirs(stagedAt)
    val undeclared = staged.map(_.getFileName.toString).filterNot(changedNames)
    require(undeclared.isEmpty,
      s"staged buckets not declared changed: ${undeclared.mkString(",")}")
    staged.foreach { d =>
      Files.move(d, tmpDir.resolve(d.getFileName.toString),
        StandardCopyOption.ATOMIC_MOVE)
    }
    Seq("_SUCCESS", TableCommitter.SchemaSidecar).foreach { f =>
      val src = stagedAt.resolve(f)
      if (Files.exists(src))
        Files.move(src, tmpDir.resolve(f), StandardCopyOption.REPLACE_EXISTING)
    }
    // a fresh staged write always carries a sidecar; keep a carried-over one
    // readable even if the caller staged through an out-of-band writer
    val sidecar = tmpDir.resolve(TableCommitter.SchemaSidecar)
    if (!Files.exists(sidecar))
      currentPath(alias).map(Paths.get(_).resolve(TableCommitter.SchemaSidecar))
        .filter(Files.exists(_))
        .foreach(Files.copy(_, sidecar))
    // the run marker travels INSIDE the generation: a crash after the move
    // but before recordRun would otherwise leave a complete, unreferenced
    // gen-N that the retry re-publishes as gen-(N+1) — a phantom forever
    // occupying a retention slot (publishedGeneration heals from the marker)
    Files.writeString(tmpDir.resolve(TableCommitter.RunMarker), s"$alias~$runId")
    Files.move(tmpDir, root.resolve(gen), StandardCopyOption.ATOMIC_MOVE)
    SparkIo.deleteRecursively(stagedAt)
    recordRun(runId, gen, alias)
    setPointer(alias, gen)
    gen
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
    * live table is untouched. */
  def rollback(runId: String): Unit = SparkIo.deleteRecursively(staging.resolve(runId))

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

  /** Per-generation schema sidecar file name (leading underscore: parquet
    * readers ignore it as metadata, like _SUCCESS). */
  val SchemaSidecar = "_graft_schema.json"

  /** In-generation run marker (`alias~runId` of the publish that created the
    * generation) — lets publishedGeneration heal a run record lost to a
    * crash between the generation move and recordRun. */
  val RunMarker = "_graft_run"

  /** Per-generation record-count cache (leading underscore: ignored by
    * parquet readers). Written by the publishing writer when it observed
    * its rows, else lazily by [[TableCommitter.currentRecordCount]] —
    * generations are immutable, so the count can never go stale. */
  val CountSidecar = "_graft_count"
}
