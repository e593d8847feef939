package graft

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.AsOfJoin

class OperatorsSpec extends AnyFunSuite {

  test("lastPriorEvent: each purchase sees its latest prior click") {
    val spark = SparkTestSession.get
    import spark.implicits._
    val df = Seq(
      (1L, new Timestamp(1000), 1L, "click"),
      (1L, new Timestamp(2000), 2L, "purchase"),
      (1L, new Timestamp(3000), 3L, "click"),
      (1L, new Timestamp(4000), 4L, "purchase"),
      (2L, new Timestamp(500), 5L, "purchase")) // no prior click
      .toDF("user_id", "ts", "event_id", "event_type")
    val got = AsOfJoin.lastPriorEvent(df, Seq("user_id"), Seq("ts", "event_id"),
      org.apache.spark.sql.functions.col("event_type") === "click",
      org.apache.spark.sql.functions.col("ts"), "last_click")
      .filter("event_type = 'purchase'")
      .collect().map(r => r.getLong(2) ->
        (if (r.isNullAt(4)) null else r.getTimestamp(4))).toMap
    assert(got(2L) == new Timestamp(1000))
    assert(got(4L) == new Timestamp(3000))
    assert(got(5L) == null)
  }
}
