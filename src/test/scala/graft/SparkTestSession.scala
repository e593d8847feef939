package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test JVM (fork := true), in the
  * product's shape (Sessions.create). */
object SparkTestSession {
  lazy val get: SparkSession = Sessions.create("graft-test", 4)
}
