package graftbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive fingerprint of a DataFrame: its row count and the sum
  * of a 64-bit hash of every row over every column. Floating-point values
  * are rounded to float precision first, so a different summation order in
  * an aggregate does not change the result; maps hash by sorted entries.
  * One Spark action computes both numbers, so every column is computed. */
final case class Fingerprint(rows: Long, hash: BigDecimal) {
  override def toString: String = s"$rows:$hash"
}

object Fingerprint {
  def plan(df: DataFrame, cols: Seq[String] = Nil): DataFrame = {
    val names = if (cols.isEmpty) df.columns.toSeq else cols
    val fields = names.map(n => df.schema(n))
    df.select(xxhash64(fields.map(f => norm(df.col(f.name), f.dataType)): _*)
      .cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)).as("n"), coalesce(sum(col("h")), lit(BigDecimal(0))).as("s"))
  }

  /** Collect a plan built by `plan`. */
  def collect(fp: DataFrame): Fingerprint = {
    val r = fp.head()
    Fingerprint(r.getLong(0), BigDecimal(r.getDecimal(1)))
  }

  def of(df: DataFrame, cols: Seq[String] = Nil): Fingerprint =
    collect(plan(df, cols))

  private def norm(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => c.cast(FloatType) + lit(0.0f)
    case ArrayType(et, _) if needsNorm(et) => transform(c, x => norm(x, et))
    case MapType(kt, vt, _) =>
      norm(array_sort(map_entries(c)), ArrayType(StructType(Seq(
        StructField("key", kt), StructField("value", vt)))))
    case st: StructType if st.fields.exists(f => needsNorm(f.dataType)) =>
      when(c.isNull, lit(null)).otherwise(
        struct(st.fields.map(f => norm(c.getField(f.name), f.dataType).as(f.name)): _*))
    case _ => c
  }

  private def needsNorm(t: DataType): Boolean = t match {
    case DoubleType | FloatType | _: MapType => true
    case ArrayType(et, _) => needsNorm(et)
    case st: StructType => st.fields.exists(f => needsNorm(f.dataType))
    case _ => false
  }
}
