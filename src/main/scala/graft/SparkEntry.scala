package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators._
import graft.streaming.EventStream

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Aggregates every operator family's named queries + DuckDB oracle SQL.
  * Each family file documents the reference semantics (file:line) and
  * the 100 TB scale design of its plans.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001 (driver smoke-checks
    * rows>0): the core relational slice of SURVEY §7.1 step 1 —
    * scan → filter → broadcast equi join → grouped agg → sort.
    * Re-expresses the reference's per-stage dataflow
    * (`scripts/04_correlation_analysis.py:19-62`) over the testdata.
    */
  def entry(spark: SparkSession): DataFrame = {
    val d = "/root/testdata/sf0.001"
    val ev = Tables.events(spark, d)
      .select(col("user_id"), col("event_type"), col("ts"), col("value"))
    ev.groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(avg(col("value")).as("avg_value"), count(lit(1)).as("n"))
      .orderBy("event_type", "day")
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Relational.queries ++ Windows.queries ++ IntervalJoins.queries ++
      Stats.queries ++ Signals.queries ++ Dedup.queries ++
      Similarity.queries ++ TextAnalysis.queries ++ Multimodal.queries ++
      EventStream.queries ++ Backtest.queries ++ SourceSinks.queries ++
      LagGrid.queries ++ DatasetOps.queries ++ Curation.queries ++
      graft.sources.SourceQueries.queries

  /** Check a driver's name filter (Verify's extra args, Bench's and
    * ScaleProbe's `SPARK_GRAFT_ONLY`, PlanDump's extra args) against
    * the names that driver knows. Unknown names go to stderr; a
    * non-empty filter that names nothing known exits 2, since the run
    * would do nothing and still look clean. */
  def checkFilter(driver: String, only: Set[String],
      known: Set[String]): Unit = {
    val unknown = only.diff(known)
    if (unknown.nonEmpty) {
      System.err.println(
        s"[$driver] unknown queries: ${unknown.toSeq.sorted.mkString(", ")}")
      if (only.forall(unknown)) sys.exit(2)
    }
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops
    * (custom UDF / fold / hash-based queries) → rows-only check. */
  def oracleSql: Map[String, String] =
    Relational.oracles ++ Windows.oracles ++ IntervalJoins.oracles ++
      Stats.oracles ++ Signals.oracles ++ Dedup.oracles ++
      Similarity.oracles ++ TextAnalysis.oracles ++ Multimodal.oracles ++
      EventStream.oracles ++ Backtest.oracles ++ SourceSinks.oracles ++
      LagGrid.oracles ++ DatasetOps.oracles ++ Curation.oracles ++
      graft.sources.SourceQueries.oracles
}
