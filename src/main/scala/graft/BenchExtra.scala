package graft

import java.util.Locale

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

/** Optimization-round side bench (guide §1.4): times selected queries with
  * the noop sink (computes every column, discards output) so the measured
  * number is the computation, not the sink; also reports per-query Spark
  * job/stage counts (a CC round or an extra exchange shows up here even when
  * wall-clock noise hides it) and can dump `.explain("formatted")` plans.
  *
  * NOT part of the driver contract — `graft.Bench` stays the frozen
  * measurement harness; numbers from here are cited in OPTIMIZATION_r06.md
  * as isolation evidence only. This is the one ad-hoc query profiler; for
  * per-stage pipeline numbers (extraction, supports, publish, the `graft:`
  * job breakdown of full, sync and no-op sync) run
  * `python3 perfbench/run.py --workload build_sync --seed 1 --seconds 10
  * --trace 1`.
  *
  * Usage:
  *   sbt "runMain graft.BenchExtra time q1 q2 ..."   noop-timed min-of-N
  *   sbt "runMain graft.BenchExtra plan out/dir q1"  dump formatted plans
  * Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, SPARK_GRAFT_SAMPLES (default 3)
  */
object BenchExtra {

  private def fmt(d: Double): String = "%.4f".formatLocal(Locale.ROOT, d)

  /** Counts jobs/stages/tasks between reset() calls. */
  private final class Counter extends SparkListener {
    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var tasks = 0
    override def onJobStart(j: SparkListenerJobStart): Unit = { jobs += 1 }
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      stages += 1; tasks += sc.stageInfo.numTasks
    }
    def reset(): Unit = { jobs = 0; stages = 0; tasks = 0 }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val samples = sys.env.getOrElse("SPARK_GRAFT_SAMPLES", "3").toInt
    val mode = args.headOption.getOrElse("time")
    val spark = Sessions.bench(s"graft-benchextra-$cpus", cpus)

    mode match {
      case "plan" =>
        val outDir = java.nio.file.Paths.get(args(1))
        java.nio.file.Files.createDirectories(outDir)
        args.drop(2).foreach { name =>
          val df = SparkEntry.queries(name)(spark, sfDir)
          val txt = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.write(outDir.resolve(s"$name.txt"),
            txt.getBytes("UTF-8"))
          println(s"[plan] $name -> ${outDir.resolve(s"$name.txt")}")
        }

      case _ =>
        val names =
          if (args.length <= 1) SparkEntry.queries.keys.toSeq.sorted
          else args.drop(1).toSeq
        // warm like Bench does
        Seq("lineitem", "events", "documents", "embeddings", "orders",
          "customer", "supplier", "part", "nation", "region").foreach { t =>
          Tables(spark, sfDir, t).limit(1).count()
        }
        val ctr = new Counter
        spark.sparkContext.addSparkListener(ctr)
        names.foreach { name =>
          val fn = SparkEntry.queries(name)
          spark.sparkContext.setJobDescription(s"benchextra:$name")
          val runs = (1 to samples).map { i =>
            if (i == samples) { // count job/stage shape on the last sample
              Thread.sleep(50); ctr.reset()
            }
            val t0 = System.nanoTime()
            fn(spark, sfDir).write.format("noop").mode("overwrite").save()
            (System.nanoTime() - t0) / 1e9
          }
          Thread.sleep(50) // let listener drain
          println(s"""{"q":"$name","min":${fmt(runs.min)},""" +
            s""""runs":[${runs.map(fmt).mkString(",")}],""" +
            s""""jobs":${ctr.jobs},"stages":${ctr.stages},"tasks":${ctr.tasks}}""")
        }
    }
    spark.stop()
  }
}
