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

  /** Sum of `c` pinned through DECIMAL(30,12): exact, so order-free,
    * then one conversion to the correctly-rounded double. */
  private[operators] def dsum(c: Column): Column =
    sum(c.cast("decimal(30,12)")).cast("double")

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

  /** Oracle twin of `candles`' tick spine: CTE `e` (each event with
    * its day, ts, event_id, value, and with `qty` the props-JSON
    * quantity `k`) and `r` (its `rn` in (ts, event_id) order within
    * the (event_type, day) and that day's tick count `cnt`). */
  private[operators] def tickCtes(qty: Boolean = false): String = {
    val q = if (!qty) "" else ",\n                  " +
      "CAST(json_extract_string(props, '$.k') AS BIGINT) AS qty"
    s"""e AS (
           SELECT event_type, date_trunc('day', ts) AS day, ts, event_id,
                  value$q
           FROM events),
         r AS (
           SELECT *,
                  row_number() OVER (PARTITION BY event_type, day
                                     ORDER BY ts, event_id) AS rn,
                  count(*) OVER (PARTITION BY event_type, day) AS cnt
           FROM e)"""
  }

  /** Oracle twin of `dailyMean`: CTE `cte` with the pinned daily mean
    * of `value` per (event_type, day), named `name`. The VARCHAR
    * round-trip pins the decimal→double conversion to the
    * correctly-rounded value (see the verify notes). */
  private[operators] def dailyMeanCte(cte: String, name: String): String =
    s"""$cte AS (
           SELECT event_type, date_trunc('day', ts) AS day,
                  CAST(CAST(sum(CAST(value AS DECIMAL(24,10))) AS VARCHAR)
                       AS DOUBLE) / count(*) AS $name
           FROM events GROUP BY 1, 2)"""

  /** The per-type daily price series `daily` (px) shared by the
    * indicator and serial-correlation oracles. */
  private[operators] val DailyPxCte = dailyMeanCte("daily", "px")

  /** `tickCtes`, then `c`: each (event_type, day)'s close, the
    * oracle panel of the close-only tests and indicators. */
  private[operators] val CloseCtes: String =
    s"""${tickCtes()},
         c AS (
           SELECT event_type, day,
                  max(CASE WHEN rn = cnt THEN value END) AS close
           FROM r GROUP BY 1, 2)"""

  /** `tickCtes` with qty, then `c`: each (event_type, day)'s close
    * and integer volume, the oracle panel of the close/volume
    * indicators. */
  private[operators] val CloseVolCtes: String =
    s"""${tickCtes(qty = true)},
         c AS (
           SELECT event_type, day,
                  max(CASE WHEN rn = cnt THEN value END) AS close,
                  CAST(sum(qty) AS BIGINT) AS vol
           FROM r GROUP BY 1, 2)"""

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
