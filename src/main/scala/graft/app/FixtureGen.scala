package graft.app

import graft.sources.TranscriptGen

/** Writes the deterministic synthetic transcript fixture (FIXTURES.md §2) to
  * parquet: <outDir>/turns, <outDir>/catalog, <outDir>/golden_triples.
  *
  * Usage: FixtureGen <outDir> [nConv] [nEnt] [hotFactor]
  */
object FixtureGen {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: FixtureGen <outDir> [nConv] [nEnt] [hotFactor]")
    val outDir = args(0)
    val nConv = if (args.length > 1) args(1).toInt else 200
    val nEnt = if (args.length > 2) args(2).toInt else 50
    val hot = if (args.length > 3) args(3).toInt else 50

    val spark = graft.Sessions.create("graft-fixture",
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt)
    import spark.implicits._

    val fx = TranscriptGen.generate(nConv = nConv, nEnt = nEnt, hotFactor = hot)
    // shuffled on disk: consumers must recover order via (conv_id, turn_idx)
    new scala.util.Random(7).shuffle(fx.turns).toDS()
      .repartition(8).write.mode("overwrite").parquet(s"$outDir/turns")
    fx.catalog.toDS().write.mode("overwrite").parquet(s"$outDir/catalog")
    fx.goldenTriples.toSeq.toDS().write.mode("overwrite")
      .parquet(s"$outDir/golden_triples")
    println(s"""{"turns":${fx.turns.size},"catalog":${fx.catalog.size},"golden":${fx.goldenTriples.size},"out":"$outDir"}""")
    spark.stop()
  }
}
