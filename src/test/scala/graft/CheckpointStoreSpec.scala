package graft

import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import java.time.Instant

import org.scalatest.funsuite.AnyFunSuite

import graft.io.CheckpointStore

class CheckpointStoreSpec extends AnyFunSuite {

  /** Parquet timestamps are MICROsecond-precision and the sync filter is
    * `ts > wm`: a cache that rounds the watermark down to milliseconds would
    * re-include the max-ts conversation on every cached run — the "no
    * changes" night would rewrite its buckets forever, and the changed set
    * would depend on whether the cache hit or missed. */
  test("epoch cache preserves sub-millisecond watermarks exactly (hit == " +
       "parquet) and repairs, not serves, a pre-upgrade milliseconds cache") {
    val spark = SparkTestSession.get
    val root = TempDirs("ckpt-")
    val cs = new CheckpointStore(root)
    // .000500 — microseconds that Timestamp.getTime silently truncates
    val wm = Timestamp.from(Instant.ofEpochSecond(1735689600L, 500000))
    cs.writeWatermark(spark, "p", "r1", wm)

    // the creating append seeded the cache: both reads are served FROM it
    // (same file count), with no Spark job, and carry the exact microseconds
    val (first, jobs) = SparkJobs.during(spark)(cs.syncEpoch(spark, "p"))
    assert(first == ((1L, Some(wm))))
    assert(jobs.isEmpty, jobs.mkString(" | "))
    assert(cs.syncEpoch(spark, "p")._2.get.toInstant == wm.toInstant)

    // roll-forward on append (no Spark read) must keep full precision too
    val wm2 = Timestamp.from(Instant.ofEpochSecond(1735689700L, 250000))
    cs.writeWatermark(spark, "p", "r2", wm2)
    assert(cs.syncEpoch(spark, "p") == ((2L, Some(wm2))))

    // a pre-upgrade cache body (single milliseconds field) must fail the
    // parse and repair from the authoritative parquet log, never serve the
    // truncated value
    val cache = Paths.get(s"$root/.wm_epoch_p")
    assert(Files.exists(cache))
    val files = Files.list(Paths.get(s"$root/watermarks")).iterator()
    val n = {
      var c = 0
      while (files.hasNext) {
        if (files.next().getFileName.toString.endsWith(".parquet")) c += 1
      }
      c
    }
    Files.writeString(cache, s"$n,2,${wm2.getTime}")
    assert(cs.syncEpoch(spark, "p")._2.get.toInstant == wm2.toInstant)
  }
}
