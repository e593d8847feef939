package graftbench

import java.nio.file.Path

/** One benchmark workload. Set-up (a fresh Spark session plus `input`) is
  * repeated and its median reported as `setup_s`; `run` then measures on
  * the inputs of the last repetition. */
trait Workload {
  /** Make this run's inputs from the seed, under `dir`. */
  def input(ctx: Ctx, dir: Path): Unit

  /** Measure for at least `ctx.seconds`, check every output, report
    * metrics. */
  def run(ctx: Ctx, dir: Path): Unit
}
