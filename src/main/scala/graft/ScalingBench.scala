package graft

import org.apache.spark.sql.SparkSession

import graft.config.PipelineConfig
import graft.pipeline.KgPipeline
import graft.schema.Turn
import graft.sources.TranscriptGen

/** One KG-extraction pass at a single parallelism level, in its own JVM —
  * the clean way to measure the N vs 4N scaling point (same-JVM back-to-back
  * sessions contaminate each other via JIT/GC/page-cache state).
  *
  * Usage: ScalingBench <cores> <turnsParquetDir> [passes]
  * Prints: {"cores":N,"sec":...,"turns":...,"triples":...}  (best of passes)
  */
object ScalingBench {

  /** The frozen Bench's session shape at `local[cores]` — BenchExtra's
    * isolation numbers use it too, so both stay comparable with Bench. */
  def session(cores: Int, appName: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // the bench corpus is many small parquet files: with the default 128MB
      // maxPartitionBytes the scan collapses to ~6 input partitions and no
      // core count beyond ~6 helps; size splits so the map stage can fan out
      // (on a real cluster with 128MB+ row groups the default is right)
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.sql.files.openCostInBytes", "1m")
      // shuffle spill on tmpfs: /tmp is disk-backed here and random flush
      // stalls add 3-5x noise to per-pass timings
      .config("spark.local.dir", {
        val d = java.nio.file.Paths.get("/dev/shm/spark-local")
        java.nio.file.Files.createDirectories(d)
        d.toString
      })
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = {
    val cores = args(0).toInt
    val turnsDir = args(1)
    val passes = if (args.length > 2) args(2).toInt else 2

    val spark = session(cores, s"graft-scaling-$cores")
    import spark.implicits._

    val p = new KgPipeline(PipelineConfig())
    val turns = spark.read.parquet(turnsDir).as[Turn]
    val nTurns = turns.count()

    var best = Double.MaxValue
    var nTriples = 0L
    (1 to passes).foreach { i =>
      val t0 = System.nanoTime()
      nTriples = p.computeSupports(spark, turns,
        TranscriptGen.catalog(50), TranscriptGen.markerPreds)
        .groupBy("subj", "pred", "obj", "lang").count().count()
      val sec = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[scaling] pass $i: $sec%.2fs")
      best = math.min(best, sec)
    }
    println(f"""{"cores":$cores,"sec":$best%.4f,"turns":$nTurns,"triples":$nTriples}""")
    spark.stop()
  }
}
