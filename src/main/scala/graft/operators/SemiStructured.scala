package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables
import Exprs._

/** Semi-structured / temporal column operators: JSON property
  * extraction (the events table carries a JSON `props` column, like
  * the reference's event payloads) and timezone conversion
  * (biutils.py:243-248 convert_timezone).
  */
object SemiStructured {

  /** Extract a JSON property and aggregate by it — get_json_object is
    * a codegen'd path expression. */
  def q33JsonExtract(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy((col("k") % 10).as("k_bucket"))
      .agg(
        count(lit(1)).as("events"),
        countDistinct(col("user_id")).as("users"),
        dsum(col("value")).as("value_sum"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"))
  }

  /** Timezone conversion — biutils.py:243-248: report local-market
    * days from UTC event times. from_utc_timestamp is a literal-zone
    * codegen expression; the derived date remains pushdown/prune
    * friendly (a partitioned table would prune on the UTC date range
    * covering the local window). */
  def q34Timezone(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir)
      .withColumn("ny_ts", from_utc_timestamp(col("ts"), "America/New_York"))
      .groupBy(to_date(col("ny_ts")).as("ny_day"))
      .agg(
        count(lit(1)).as("events"),
        countDistinct(col("user_id")).as("users"),
        date_format(min(col("ny_ts")), "yyyy-MM-dd HH:mm:ss").as("first_event_ny"))
  }
}
