package graft.io

import java.nio.file.Paths
import java.sql.Timestamp
import java.time.Instant

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode

/** Run bookkeeping as the reference keeps it (K7/A9): the `<index>_status`
  * doc every run overwrites (Harvester.java:587-651) is `status/<pipelineId>`
  * — run count, highest watermark, last run id — and the per-run UpdateRecord
  * (UpdateRecord.java:13-27) is `runs/<runId>.json`, JSON lines for
  * `spark.read.json`: metrics, supports lineage, watermark. A run writes its
  * record, then its status: that write is the commit, so a crash before it
  * leaves the epoch unmoved and the same-id retry overwrites the record.
  * Both are driver-side files ([[SparkIo.writeAtomically]]): no run spends a
  * Spark job on its own bookkeeping. Watermarks keep epoch seconds + nanos:
  * the sync filter is `ts > wm` over microsecond timestamps, so a millisecond
  * watermark would re-select the max-ts conversation on every no-op sync.
  * A missing status means no run committed. The older `watermarks/` parquet
  * log is never read: it only sits beside tables without the format pin,
  * which every writer refuses before its first write. */
final class CheckpointStore(root: String) {

  private val mapper = new ObjectMapper()
  private val statusDir = Paths.get(root, "status")

  /** Sync EPOCH: (successful runs, highest watermark), one file read. The
    * count numbers syncs: an empty sync leaves the watermark unchanged. */
  def syncEpoch(pipelineId: String): (Long, Option[Timestamp]) =
    status(pipelineId).fold((0L, Option.empty[Timestamp]))(s => (s.runs, Some(s.watermark)))

  /** Highest successful watermark — the reference reads `last_update` before
    * composing the sync FILTER (Harvester.java:628-651). */
  def lastWatermark(pipelineId: String): Option[Timestamp] = syncEpoch(pipelineId)._2

  /** Every pipeline's status, by pipeline id: file reads only. */
  def statuses(): Seq[(String, RunStatus)] = // a dotted name is a crashed write's tmp
    SparkIo.list(statusDir).map(_.getFileName.toString).filterNot(_.startsWith(".")).sorted
      .flatMap(id => status(id).map(id -> _))

  private def status(pipelineId: String): Option[RunStatus] =
    SparkIo.readString(statusDir.resolve(pipelineId)).map { json =>
      val n = mapper.readTree(json)
      RunStatus(n.get("runs").asLong, Timestamp.from(Instant.ofEpochSecond(
        n.get("watermark_s").asLong, n.get("watermark_ns").asLong)), n.get("run_id").asText)
    }

  private def withWatermark(n: ObjectNode, t: Timestamp): ObjectNode =
    n.put("watermark_s", t.toInstant.getEpochSecond).put("watermark_ns", t.toInstant.getNano)

  private def writeStatus(pipelineId: String, s: RunStatus): Unit =
    SparkIo.writeAtomically(statusDir.resolve(pipelineId), withWatermark(
      mapper.createObjectNode().put("runs", s.runs).put("run_id", s.runId), s.watermark).toString)

  /** Write run `runId`'s record: `metrics` as (stage, metric, value) and
    * `lineage` as (stage, partition id, rows). */
  def writeRunRecord(pipelineId: String, runId: String, watermark: Timestamp,
                     metrics: Seq[(String, String, Long)],
                     lineage: Seq[(String, Int, Long)]): Unit = {
    def row(kind: String) = mapper.createObjectNode().put("run_id", runId).put("kind", kind)
    val rows = metrics.map { case (stage, metric, v) =>
      row("metric").put("stage", stage).put("metric", metric).put("value", v)
    } ++ lineage.map { case (stage, pid, n) =>
      row("lineage").put("stage", stage).put("partition_id", pid).put("rows", n)
    } :+ withWatermark(row("watermark").put("pipeline_id", pipelineId), watermark)
    SparkIo.writeAtomically(Paths.get(root, "runs", s"$runId.json"), rows.mkString("\n"))
  }

  /** Commit run `runId`: one more run, the watermark raised to `watermark`. */
  def commit(pipelineId: String, runId: String, watermark: Timestamp): Unit = {
    val (runs, last) = syncEpoch(pipelineId)
    writeStatus(pipelineId,
      RunStatus(runs + 1, last.filter(_.after(watermark)).getOrElse(watermark), runId))
  }
}

/** A pipeline's `status/<pipelineId>` record. */
final case class RunStatus(runs: Long, watermark: Timestamp, runId: String)
