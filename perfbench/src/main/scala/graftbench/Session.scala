package graftbench

import org.apache.spark.sql.SparkSession

/** The benchmark's one Spark session factory: the session shape of
  * `graft.Bench` (AQE with skew-join splitting, 8 MB file splits, one
  * shuffle partition per core) at local[nproc], with every scratch
  * directory under the run's own temp root. */
object Session {
  def create(cores: Int, tmpRoot: java.nio.file.Path): SparkSession = {
    val local = tmpRoot.resolve("spark-local")
    java.nio.file.Files.createDirectories(local)
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.sql.files.openCostInBytes", "1m")
      .config("spark.local.dir", local.toString)
      .config("spark.sql.warehouse.dir", tmpRoot.resolve("warehouse").toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
