package graft

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

  def main(args: Array[String]): Unit = {
    val cores = args(0).toInt
    val turnsDir = args(1)
    val passes = if (args.length > 2) args(2).toInt else 2

    val spark = Sessions.bench(s"graft-scaling-$cores", cores)
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
