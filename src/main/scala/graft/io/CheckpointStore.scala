package graft.io

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Watermark + metrics + lineage tables (K7/A9: the `<index>_status`
  * `last_update` doc, Harvester.java:587-651, and UpdateRecord history,
  * UpdateRecord.java:13-27 — as append-only parquet tables).
  *
  * Append-only: each run adds rows; readers take the max successful
  * watermark per pipeline. Per-partition lineage rows give the north rule's
  * "per-partition lineage + metrics".
  */
final class CheckpointStore(root: String) {

  private def wmPath = s"$root/watermarks"
  private def metricsPath = s"$root/metrics"
  private def lineagePath = s"$root/lineage"

  // the watermark table's schema is fixed by writeWatermark; providing it to
  // the reader skips one footer-based schema-inference Spark job per read —
  // the sync path reads this table on every run, and a no-op sync is
  // fixed-overhead bound
  private val wmSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("pipeline_id",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("run_id",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("watermark",
      org.apache.spark.sql.types.TimestampType),
    org.apache.spark.sql.types.StructField("status",
      org.apache.spark.sql.types.StringType)))

  private def readWm(spark: SparkSession): DataFrame = {
    // schema given, but existence still probed: .schema() defers the
    // missing-path error to action time, losing the AnalysisException the
    // callers map to "no table yet"
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(wmPath)))
      throw new org.apache.spark.sql.AnalysisException(
        errorClass = "PATH_NOT_FOUND", messageParameters = Map("path" -> wmPath))
    spark.read.schema(wmSchema).parquet(wmPath)
  }

  private def withJobDesc[T](spark: SparkSession, desc: String)(body: => T): T =
    SparkIo.withJobDesc(spark, s"ckpt:$desc")(body)

  // ---- driver-side epoch cache: the sync path reads (success count, max
  // watermark) per pipeline on EVERY run, and each Spark read of the tiny
  // watermark table schedules ~2 jobs — pure fixed overhead on a no-op
  // sync. The cache is a sidecar JSON keyed by the number of parquet data
  // files in the watermark dir (appends create new part files, so the file
  // count is a reliable change detector): serve from the sidecar only when
  // the count matches, otherwise fall back to the authoritative Spark read
  // and repair the sidecar. A crash between the parquet append and the
  // sidecar write therefore can NEVER serve a stale epoch — the file count
  // no longer matches and the next reader repairs from parquet.
  private def epochCachePath(pipelineId: String) =
    java.nio.file.Paths.get(s"$root/.wm_epoch_$pipelineId")

  private def listWmFileCount(): Int = {
    val p = java.nio.file.Paths.get(wmPath)
    if (!java.nio.file.Files.exists(p)) -1
    else SparkIo.list(p).count(_.getFileName.toString.endsWith(".parquet"))
  }

  // Watermarks serialize FULL-precision (epoch seconds + nanos, two
  // fields): parquet timestamps are microsecond-precision and the sync
  // filter is `ts > wm`, so a cache that rounded to milliseconds would
  // re-include the max-ts conversation on every cached run — the "no
  // changes" night would rewrite its buckets forever, and the changed set
  // would depend on whether the cache hit. A pre-upgrade cache (single
  // milliseconds field) fails this parse and repairs from parquet.
  private def readEpochCache(pipelineId: String): Option[(Int, Long, Option[Timestamp])] =
    SparkIo.readString(epochCachePath(pipelineId)).flatMap { body =>
      scala.util.Try {
        val parts = body.split(",", -1)
        (parts(0).toInt, parts(1).toLong,
          if (parts(2).isEmpty) None
          else Some(Timestamp.from(java.time.Instant.ofEpochSecond(
            parts(2).toLong, parts(3).toLong))))
      }.toOption
    }

  private def writeEpochCache(pipelineId: String, files: Int, n: Long,
                              wm: Option[Timestamp]): Unit = {
    val wmStr = wm.map { w =>
      val i = w.toInstant; s"${i.getEpochSecond},${i.getNano}"
    }.getOrElse(",")
    SparkIo.writeAtomically(epochCachePath(pipelineId), s"$files,$n,$wmStr")
  }

  /** Append a successful run's watermark (the `status` column is always
    * `success`; the readers' filter on it stays for logs written before). */
  def writeWatermark(spark: SparkSession, pipelineId: String, runId: String,
                     watermark: Timestamp): Unit = {
    import spark.implicits._
    val created = listWmFileCount() < 0
    withJobDesc(spark, "watermark-write") {
      Seq((pipelineId, runId, watermark, "success"))
        .toDF("pipeline_id", "run_id", "watermark", "status")
        .write.mode("append").parquet(wmPath)
    }
    // an append that created the table wrote its only row: seed the cache
    // with it, so the next run reads no parquet (one writer per workDir)
    if (created)
      writeEpochCache(pipelineId, listWmFileCount(), 1L, Some(watermark))
    // opportunistic cache roll-forward: valid old cache + this append ->
    // new cache (no Spark read); invalid -> leave it, a reader repairs
    else readEpochCache(pipelineId).foreach {
      case (files, n, wm) =>
        val now = listWmFileCount()
        // only roll forward when this append is the ONLY change since the
        // cached state (exactly the file the append just wrote — appends
        // write one part file for a one-row frame)
        if (now == files + 1)
          writeEpochCache(pipelineId, now, n + 1,
            Some(wm.fold(watermark)(w =>
              if (watermark.after(w)) watermark else w)))
    }
  }

  /** Highest successful watermark — the reference reads `last_update` before
    * composing the sync FILTER (Harvester.java:628-651). */
  def lastWatermark(spark: SparkSession, pipelineId: String): Option[Timestamp] =
    syncEpoch(spark, pipelineId)._2

  /** Sync EPOCH: (number of successful runs, highest successful watermark).
    * Watermarks alone cannot number syncs (an empty sync leaves the
    * watermark unchanged), and run ids must be unique per logical sync yet
    * stable across crash-retries of the same one. Served from the
    * file-count-validated driver cache when possible (zero Spark jobs);
    * repaired from the authoritative parquet log otherwise. */
  def syncEpoch(spark: SparkSession, pipelineId: String): (Long, Option[Timestamp]) = {
    val files = listWmFileCount()
    if (files < 0) return (0L, None) // no table yet
    readEpochCache(pipelineId) match {
      case Some((cachedFiles, n, wm)) if cachedFiles == files => (n, wm)
      case _ =>
        val (n, wm) = try {
          val r = withJobDesc(spark, "epoch-read")(readWm(spark)
            .filter(col("pipeline_id") === pipelineId && col("status") === "success")
            .agg(count(lit(1)), max(col("watermark")))
            .head())
          (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getTimestamp(1)))
        } catch {
          // only "table does not exist yet" maps to empty; real read errors
          // must surface — swallowing them would silently reset the
          // watermark to epoch and turn the next sync into a full re-harvest
          case _: org.apache.spark.sql.AnalysisException => (0L, None)
        }
        // keyed by the count LISTED BEFORE the read: a concurrent append
        // between the two leaves a cache that fails the next validation —
        // conservative, never stale
        writeEpochCache(pipelineId, files, n, wm)
        (n, wm)
    }
  }

  def writeMetrics(spark: SparkSession, runId: String,
                   rows: Seq[(String, String, Long)]): Unit = {
    import spark.implicits._
    withJobDesc(spark, "metrics-write") {
      rows.map { case (stage, metric, v) => (runId, stage, metric, v) }
        .toDF("run_id", "stage", "metric", "value")
        .write.mode("append").parquet(metricsPath)
    }
  }

  /** Per-partition lineage for an already-checkpointed stage, read from the
    * checkpoint's parquet FOOTERS (each writer task produced one file whose
    * footer carries its row count; partition_id = the writer task's number
    * from the file name) — metadata-only, so recording lineage for a 100 TB
    * supports checkpoint costs zero data reads. A DataFrame-scan variant
    * (groupBy(spark_partition_id)) would re-read every row because the
    * grouping defeats Spark's metadata-only count. One small Spark job
    * remains: the append of the lineage rows themselves. */
  def writeLineageFromFooters(spark: SparkSession, runId: String, stage: String,
                              checkpointDir: String): Unit = {
    import spark.implicits._
    val parts = SparkIo.list(java.nio.file.Paths.get(checkpointDir))
      .filter(_.getFileName.toString.endsWith(".parquet"))
    val pids = parts.map { f =>
      val name = f.getFileName.toString // part-00007-<uuid>... -> 7
      // Lineage is a metric, never a gate: a file not named part-NNNNN…
      // (alternative committer, compaction rename) records partition_id -1
      // instead of throwing NumberFormatException and killing the sync run.
      scala.util.Try(
        name.stripPrefix("part-").takeWhile(_.isDigit).toInt).getOrElse(-1)
    }
    val rows = pids.zip(
      SparkIo.footerRowCounts(parts, spark.sessionState.newHadoopConf()))
    withJobDesc(spark, s"lineage-write:$stage") {
      rows.map { case (pid, n) => (pid, n, runId, stage) }
        .toDF("partition_id", "rows", "run_id", "stage")
        .write.mode("append").parquet(lineagePath)
    }
  }
}
