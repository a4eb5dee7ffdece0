package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Sub-plans the operator families share. Each has one home here, so a
  * query calls the helper instead of pasting the fragment; a helper
  * returns every column its callers read and Catalyst prunes the rest,
  * so each caller's plan is the one its own copy planned. */
package object operators {

  /** The house render grid: round half-up to 6 decimals. */
  private[operators] def r6(c: Column): Column = round(c, 6)

  /** Mean of `c` with the sum pinned through DECIMAL(24,10): exact, so
    * the sum is order-free and renders to the same double in every
    * plan and in DuckDB; then one division by the row count. */
  private[operators] def pinnedMean(c: Column): Column =
    sum(c.cast("decimal(24,10)")).cast("double") / count(lit(1))

  /** The pinned daily mean of `value` per (event_type, day), named
    * `name` — the daily series the trend, rank and indicator queries
    * start from. `ev` is the events frame, filtered if the caller
    * needs a slice. */
  private[operators] def dailyMean(ev: DataFrame, name: String): DataFrame =
    ev.groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(pinnedMean(col("value")).as(name))

  /** Daily candles per (event_type, day), W16's OHLC shape: open and
    * close are the values of the day's first and last event by
    * (ts, event_id), high/low its extremes, `ticks` its event count
    * and `vol` the integer sum of the props-JSON quantity `k`. One
    * (type, day) shuffle: the two ranking windows and the aggregate
    * share its partitioning. Every pick is an exact double. */
  private[operators] def candles(s: SparkSession, d: String): DataFrame = {
    val part = Window.partitionBy(col("event_type"), col("day"))
    val asc = part.orderBy(col("ts"), col("event_id"))
    graft.Tables.events(s, d)
      .withColumn("day", date_trunc("day", col("ts")))
      .withColumn("qty", get_json_object(col("props"), "$.k").cast("long"))
      .withColumn("rn", row_number().over(asc))
      .withColumn("cnt", count(lit(1)).over(part))
      .groupBy(col("event_type"), col("day"))
      .agg(max(when(col("rn") === 1, col("value"))).as("open"),
        max(col("value")).as("high"), min(col("value")).as("low"),
        max(when(col("rn") === col("cnt"), col("value"))).as("close"),
        count(lit(1)).as("ticks"), sum(col("qty")).as("vol"))
  }
}
