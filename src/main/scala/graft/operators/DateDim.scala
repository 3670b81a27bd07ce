package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** O-7: calendar dimension derived from a date range.
  *
  * Reference: dags/utils/db.py:72-112 (`ensure_dim_dates`) derives 11
  * calendar attributes per distinct date; init_schema.sql:612 materializes
  * 2020-01-01..2026-12-31.
  *
  * Spark-first: `sequence` + `explode` generates the range distributed (one
  * row per day); all attributes are codegen'd built-ins. The frame is tiny
  * (decades = thousands of rows) so joins against it are always broadcast.
  */
object DateDim {

  /** Build dim_date spanning [start, end] inclusive. */
  def fromRange(spark: SparkSession, start: java.sql.Date, end: java.sql.Date): DataFrame =
    spark.range(1).select(
      explode(sequence(lit(start), lit(end), expr("interval 1 day"))).as("full_date"))
      .transform(withCalendarAttrs)

  /** date_key = y*10000 + m*100 + d (reference db.py:68-69) + calendar attrs. */
  def withCalendarAttrs(df: DataFrame): DataFrame = {
    val d = col("full_date")
    df.select(
      (year(d) * 10000 + month(d) * 100 + dayofmonth(d)).cast("int").as("date_key"),
      d.as("full_date"),
      year(d).as("year"),
      quarter(d).as("quarter"),
      month(d).as("month"),
      dayofmonth(d).as("day"),
      weekofyear(d).as("week_of_year"),
      date_format(d, "EEEE").as("day_name"),
      date_format(d, "MMMM").as("month_name"),
      date_format(d, "EEEE").isin("Saturday", "Sunday").as("is_weekend"))
  }
}
