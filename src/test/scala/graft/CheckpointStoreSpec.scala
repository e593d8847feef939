package graft

import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import java.time.Instant

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.config.PipelineConfig
import graft.io.{CheckpointStore, RunStatus}
import graft.pipeline.KgPipeline

class CheckpointStoreSpec extends AnyFunSuite {

  /** Parquet timestamps are MICROsecond-precision and the sync filter is
    * `ts > wm`: a status that rounded the watermark down to milliseconds
    * would re-include the max-ts conversation on every "no changes" sync. */
  test("status file: sub-millisecond watermarks round-trip exactly, the " +
       "highest one is kept, and records, commits and reads run no Spark job") {
    val spark = SparkTestSession.get
    val root = TempDirs("ckpt-")
    val cs = new CheckpointStore(root)
    // .000500 — microseconds that Timestamp.getTime silently truncates
    val wm = Timestamp.from(Instant.ofEpochSecond(1735689600L, 500000))
    val wm2 = Timestamp.from(Instant.ofEpochSecond(1735689700L, 250000))
    val (epochs, jobs) = SparkJobs.during(spark) {
      assert(cs.syncEpoch(spark, "p") == ((0L, None)))
      cs.writeRunRecord("p", "r1", wm, Seq(("edges", "published_triples", 7L)),
        Seq(("supports", 0, 3L), ("supports", 1, 4L)))
      cs.commit(spark, "p", "r1", wm)
      val e1 = cs.syncEpoch(spark, "p")
      cs.writeRunRecord("p", "r2", wm2, Seq.empty, Seq.empty)
      cs.commit(spark, "p", "r2", wm2)
      // a run recording a lower watermark still counts, but cannot lower it
      cs.writeRunRecord("p", "r3", wm, Seq.empty, Seq.empty)
      cs.commit(spark, "p", "r3", wm)
      (e1, cs.syncEpoch(spark, "p"))
    }
    assert(jobs.isEmpty, jobs.mkString(" | "))
    assert(epochs._1 == ((1L, Some(wm))))
    assert(epochs._1._2.get.toInstant == wm.toInstant)
    assert(epochs._2 == ((3L, Some(wm2))))
    assert(cs.lastWatermark(spark, "p").get.toInstant == wm2.toInstant)
    assert(cs.statuses() == Seq("p" -> RunStatus(3L, wm2, "r3")))
    assert(cs.syncEpoch(spark, "other") == ((0L, None)))

    // the run records are JSON lines for spark.read.json
    val r1 = spark.read.json(s"$root/runs").filter(col("run_id") === "r1")
    assert(r1.filter(col("kind") === "lineage").select("rows").collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(3L, 4L))
    assert(r1.filter(col("kind") === "metric").select("value").head().getLong(0) == 7L)
    val w = r1.filter(col("kind") === "watermark")
      .select("pipeline_id", "watermark_s", "watermark_ns").head()
    assert(w.getString(0) == "p")
    assert(Instant.ofEpochSecond(w.getLong(1), w.getLong(2)) == wm.toInstant)
  }

  test("adoption: a workDir whose watermarks are a parquet log derives its " +
       "status once, in one Spark job, and keeps the auto run id") {
    val spark = SparkTestSession.get
    import spark.implicits._
    val workDir = TempDirs("ckpt-adopt-")
    val ckpt = s"$workDir/checkpoints"
    // the older on-disk format: an append-only log with a four-column schema
    // (one part file per run) beside a driver-side epoch cache
    val t0 = Timestamp.from(Instant.ofEpochSecond(1735689600L, 0))
    val t1 = Timestamp.from(Instant.ofEpochSecond(1735689700L, 500000))
    Seq(("kg", "t0", t0, "success"), ("kg", "sync-n1-wm-1735689600000", t1, "success"))
      .foreach(r => Seq(r).toDF("pipeline_id", "run_id", "watermark", "status")
        .write.mode("append").parquet(s"$ckpt/watermarks"))
    Files.writeString(Paths.get(s"$ckpt/.wm_epoch_kg"), "1,9,0,0")

    val cs = new CheckpointStore(ckpt)
    val (first, jobs) = SparkJobs.during(spark)(cs.syncEpoch(spark, "kg"))
    assert(first == ((2L, Some(t1))))
    assert(first._2.get.toInstant == t1.toInstant)
    assert(jobs == Seq("graft:ckpt:adopt"), jobs.mkString(" | "))
    assert(Files.exists(Paths.get(s"$ckpt/status/kg")))
    assert(cs.statuses() == Seq("kg" -> RunStatus(2L, t1, "sync-n1-wm-1735689600000")))

    val p = new KgPipeline(PipelineConfig(workDir = workDir))
    val (runId, later) = SparkJobs.during(spark)(
      (p.syncRunId(spark), cs.syncEpoch(spark, "kg")))
    assert(later.isEmpty, later.mkString(" | "))
    // what the log-reading epoch gave: the count and the max watermark in ms
    assert(runId._1 == s"sync-n2-wm-${t1.getTime}")
    assert(runId._2 == first)
  }
}
