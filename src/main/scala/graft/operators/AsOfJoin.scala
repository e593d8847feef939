package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of ("most recent prior event") alignment without a pairwise range
  * join.
  *
  * The naive formulation — `A join B on key and B.ts <= A.ts`, then
  * max-per-pair — explodes quadratically on hot keys. This one runs as a
  * single running-max window over the event stream: O(n log n) within each
  * key partition, one shuffle, AQE-splittable. Composition of built-ins
  * (SURVEY.md §7.3 preference (a)) — no custom physical operator needed.
  */
object AsOfJoin {

  /** Adds column `as` = running max of `markerValue` over rows matching
    * `markerCond`, per partition keys in event order — i.e. for every row,
    * the latest marker value at-or-before it. */
  def lastPriorEvent(events: DataFrame, partitionCols: Seq[String],
                     orderCols: Seq[String], markerCond: Column,
                     markerValue: Column, as: String): DataFrame = {
    val w = Window.partitionBy(partitionCols.map(col): _*)
      .orderBy(orderCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .withColumn("__marker", when(markerCond, markerValue))
      .withColumn(as, last(col("__marker"), ignoreNulls = true).over(w))
      .drop("__marker")
  }
}
