package graft

import java.sql.Timestamp
import java.time.Instant

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.io.{CheckpointStore, RunStatus}

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
      assert(cs.syncEpoch("p") == ((0L, None)))
      cs.writeRunRecord("p", "r1", wm, Seq(("edges", "published_triples", 7L)),
        Seq(("supports", 0, 3L), ("supports", 1, 4L)))
      cs.commit("p", "r1", wm)
      val e1 = cs.syncEpoch("p")
      cs.writeRunRecord("p", "r2", wm2, Seq.empty, Seq.empty)
      cs.commit("p", "r2", wm2)
      // a run recording a lower watermark still counts, but cannot lower it
      cs.writeRunRecord("p", "r3", wm, Seq.empty, Seq.empty)
      cs.commit("p", "r3", wm)
      (e1, cs.syncEpoch("p"))
    }
    assert(jobs.isEmpty, jobs.mkString(" | "))
    assert(epochs._1 == ((1L, Some(wm))))
    assert(epochs._1._2.get.toInstant == wm.toInstant)
    assert(epochs._2 == ((3L, Some(wm2))))
    assert(cs.lastWatermark("p").get.toInstant == wm2.toInstant)
    assert(cs.statuses() == Seq("p" -> RunStatus(3L, wm2, "r3")))
    assert(cs.syncEpoch("other") == ((0L, None)))

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
}
