package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** `Sessions`: the product session leaves Spark's local dir alone, and the
  * bench session's tmpfs dir is made only where Spark would use it. */
class SessionsSpec extends AnyFunSuite {

  test("the tmpfs local dir is skipped, and /dev/shm untouched, under " +
       "SPARK_LOCAL_DIRS or without a writable shm") {
    val shm = TempDirs.path("sessions-shm-")
    assert(Sessions.tmpfsLocalDir(Map("SPARK_LOCAL_DIRS" -> "/x"), shm).isEmpty)
    assert(Sessions.tmpfsLocalDir(Map.empty, shm.resolve("absent")).isEmpty)
    assert(shm.toFile.list().isEmpty)
    val d = Sessions.tmpfsLocalDir(Map.empty, shm)
    assert(d.contains(shm.resolve("spark-local").toString))
    assert(Files.isDirectory(shm.resolve("spark-local")))
  }

  test("the product session sets no local dir and sizes splits at a local " +
       "master") {
    val conf = SparkTestSession.get.sparkContext.getConf
    assert(!conf.contains("spark.local.dir"))
    assert(conf.get("spark.sql.files.maxPartitionBytes") == "8m")
    assert(conf.get("spark.sql.files.openCostInBytes") == "1m")
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
  }
}
