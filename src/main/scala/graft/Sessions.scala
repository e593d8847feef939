package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory outside the frozen driver mains (`Bench`,
  * `Verify`). */
object Sessions {

  /** The product's session (KgMain, FixtureGen, the tests) at `master`,
    * default `local[cores]`: the shared shape plus GraftExtensions (SQL
    * access to graft_dot etc.) and FAIR scheduling. A job with no
    * `spark.scheduler.pool` lands in FAIR's `default` pool, which the
    * classpath's `fairscheduler.xml` declares FIFO (Spark 4.1 would create it
    * FAIR), so a single-river run schedules as under FIFO mode while
    * MultiRiver's per-river pools share the executors. Shuffle and spill go
    * to Spark's own local dir (`SPARK_LOCAL_DIRS`, else java.io.tmpdir). */
  def create(appName: String, cores: Int,
      master: Option[String] = None): SparkSession =
    start(shared(appName, cores, master)
      .withExtensions(new GraftExtensions)
      .config("spark.scheduler.mode", "FAIR"))

  /** ScalingBench's and BenchExtra's session: `Bench.session`'s keys, so
    * their numbers stay comparable with Bench's. */
  def bench(appName: String, cores: Int): SparkSession =
    start(tmpfsLocalDir(sys.env, Paths.get("/dev/shm"))
      .foldLeft(shared(appName, cores, None))(_.config("spark.local.dir", _)))

  /** `<shm>/spark-local`, created, for shuffle spill off a disk whose flush
    * stalls add noise to timings; None, with `shm` untouched, when `env`
    * sets SPARK_LOCAL_DIRS (which overrides spark.local.dir) or `shm` is not
    * a writable directory. */
  private[graft] def tmpfsLocalDir(env: Map[String, String],
      shm: Path): Option[String] =
    if (env.contains("SPARK_LOCAL_DIRS") || !Files.isDirectory(shm) ||
        !Files.isWritable(shm)) None
    else Some(Files.createDirectories(shm.resolve("spark-local")).toString)

  private def shared(appName: String, cores: Int,
      master: Option[String]): SparkSession.Builder = {
    val m = master.getOrElse(s"local[$cores]")
    val b = SparkSession.builder().master(m).appName(appName)
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    // the bench corpus is many small parquet files: with the default 128MB
    // maxPartitionBytes the scan collapses to ~6 input partitions and no
    // core count beyond ~6 helps; size splits so the map stage can fan out
    // (on a real cluster with 128MB+ row groups the default is right)
    if (!m.startsWith("local")) b
    else b.config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.sql.files.openCostInBytes", "1m")
  }

  private def start(b: SparkSession.Builder): SparkSession = {
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
