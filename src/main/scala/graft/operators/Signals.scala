package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Signal generation: threshold predicates (P5), the conditional
  * BUY/SELL/HOLD CASE expression with inverse-flip on correlation sign
  * (P8), and the per-key config broadcast join (J5).
  *
  * Reference: `scripts/06_strategy_signals.py:88-150` — per-ticker best
  * lag config is applied to every daily sentiment row; sentiment above
  * +τ with enough news ⇒ BUY (direct) or SELL (inverse when the
  * fitted correlation is negative), below −τ the reverse, else HOLD.
  *
  * Scale: the config side is a per-key aggregate (|keys| rows) —
  * explicitly `broadcast()` so the fact side never shuffles for the
  * join; the daily aggregate before it is map-side combinable.
  */
/** Signal thresholds — the reference dashboard's slider parameters
  * (`config/stock_universe.py:26-28`: SENTIMENT_THRESHOLD,
  * MIN_NEWS_COUNT), rewritten into the config source file by
  * `app/experiment.py:252-285` before each re-run. Here they are plain
  * parameters driving the same lazy plan. */
final case class SignalConfig(tau: Double, minNews: Int)

object SignalConfig {
  /** The shipped default thresholds. */
  val Default = SignalConfig(0.1, 5)
  /** Higher-bar re-run: trade only strong, well-evidenced days. */
  val Strict = SignalConfig(0.5, 60)
}

object Signals {

  private def r6(c: Column): Column = round(c, 6)

  /** Pearson r with DuckDB-corr NULL semantics: Spark's `corr`
    * builtin THROWS on zero variance under ANSI (the documented
    * corr-builtin residue of the StatsDegenerate ratchet — the throw
    * lives inside Spark's own aggregate, so it can't be guarded from
    * outside), which crashed every Signals query on a flat corpus
    * (SignalsDegenerateSpec, round 13). covar_pop / (σ·σ) through
    * try_divide is the same quantity, returns NULL on a constant
    * series exactly like DuckDB's corr, and only its SIGN feeds the
    * signal CASE. The when-gates replicate corr's pairwise deletion
    * (each stddev sees only rows where the OTHER column is non-null). */
  private def safeCorr: Column = {
    val vv = when(col("k").isNotNull, col("value"))
    val kk = when(col("value").isNotNull, col("k"))
    try_divide(covar_pop(col("value"), col("k")),
      stddev_pop(vv) * stddev_pop(kk))
  }

  /** J5 config side: per-key correlation (sign drives the flip) —
    * shared by the P8 pipeline and the PIPE11/PIPE12 sweep. */
  private def keyConfig(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("event_type"), col("value"),
        get_json_object(col("props"), "$.k").cast("double").as("k"))
      .groupBy(col("event_type"))
      .agg(safeCorr.as("r"))

  /** The P5+P8+J5 pipeline under a given threshold config. */
  def pipeline(s: SparkSession, d: String,
               cfg: SignalConfig = SignalConfig.Default): DataFrame = {
    val ev = Tables.events(s, d)
    val keyCfg = keyConfig(s, d)
    // Daily sentiment-like aggregate per key.
    val dailyAgg = ev
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(avg(col("value")).as("avg_v"), count(lit(1)).as("n"))
      .withColumn("sent", col("avg_v") / 100.0 - 1)
    val inverse = col("r") < 0
    // P5 threshold gates + P8 nested CASE with inverse flip.
    val signal =
      when(col("n") < cfg.minNews, "HOLD")
        .when(col("sent") > cfg.tau, when(inverse, "SELL").otherwise("BUY"))
        .when(col("sent") < -cfg.tau, when(inverse, "BUY").otherwise("SELL"))
        .otherwise("HOLD")
    dailyAgg.join(broadcast(keyCfg), Seq("event_type"))
      // + 0.0 collapses IEEE -0.0 (a tiny negative sent rounds to
      // -0.0, which the other engine may print as 0.0); oracle likewise
      .select(col("event_type"), col("day"),
        (r6(col("sent")) + 0.0).as("sent"),
        col("n"), signal.as("signal"),
        when(inverse, "inverse").otherwise("direct").as("signal_type"))
      .orderBy("event_type", "day")
  }

  /** PIPE11 — the dashboard's slider sweep as ONE plan. The reference
    * re-runs signal generation + backtest per slider change
    * (`app/experiment.py:252-325` rewrites SENTIMENT_THRESHOLD /
    * MIN_NEWS_COUNT / LOOKBACK_HOURS into `config/stock_universe.py`
    * and shells out to scripts 06+07, ≤300 s budget per point); this
    * query computes the whole (τ × min_news × lookback) response
    * surface — signal counts and position-entry counts per cell — in
    * one declarative plan, the Spark-native answer to that re-query
    * loop.
    *
    * Scale shape: ONE hash agg over the fact table (daily per-key
    * sums, decimal-pinned so both engines see bit-identical sentiment
    * at every threshold comparison), then three constant-frame
    * trailing windows over the O(keys × days) daily rows (range
    * frames must be plan constants, so lookbacks are union branches,
    * not an exploded column), a 9-row broadcast grid multiply — the
    * `grid_build` pattern — and partition-parallel lag windows per
    * (key, cell). The fact table is scanned once regardless of grid
    * size; everything after the first agg is O(keys × days × |grid|).
    */
  val SweepTaus: Seq[Double] = Seq(0.1, 0.25, 0.4)
  val SweepMinNews: Seq[Int] = Seq(2, 5, 7)
  val SweepLookbacks: Seq[Int] = Seq(1, 3, 7)

  /** Decimal-pinned per-(key, day) sums — the one fact-table agg every
    * sweep query starts from. */
  private def sweepDaily(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(sum(col("value").cast("decimal(18,6)")).as("sum_v"),
        count(lit(1)).as("n"))
      .withColumn("day_idx",
        datediff(to_date(col("day")), to_date(lit("1970-01-01"))))

  /** The shared per-(key, day, cell) signal frame of PIPE11/PIPE12:
    * trailing-lookback sentiment branches × broadcast (τ, min_news)
    * grid × inverse-flip config, with the BUY-transition entry flag. */
  private def sweepSignals(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val keyCfg = keyConfig(s, d)
    val daily = sweepDaily(s, d)
    val trailing = SweepLookbacks.map { l =>
      val w = Window.partitionBy("event_type").orderBy("day_idx")
        .rangeBetween(-(l - 1), 0)
      daily.select(col("event_type"), col("day_idx"),
        (sum(col("sum_v")).over(w).cast("double") /
          sum(col("n")).over(w).cast("double") / 100.0 - 1).as("sent"),
        sum(col("n")).over(w).as("n_news"),
        lit(l).as("lookback"))
    }.reduce(_ unionByName _)
    val gridDf = (for { t <- SweepTaus; m <- SweepMinNews } yield (t, m))
      .toDF("tau", "min_news")
    val inverse = col("r") < 0
    val signal =
      when(col("n_news") < col("min_news"), "HOLD")
        .when(col("sent") > col("tau"), when(inverse, "SELL").otherwise("BUY"))
        .when(col("sent") < -col("tau"), when(inverse, "BUY").otherwise("SELL"))
        .otherwise("HOLD")
    val wSig = Window
      .partitionBy("event_type", "lookback", "tau", "min_news")
      .orderBy("day_idx")
    trailing
      .crossJoin(broadcast(gridDf))
      .join(broadcast(keyCfg), Seq("event_type"))
      .withColumn("signal", signal)
      .withColumn("prev_sig", lag(col("signal"), 1).over(wSig))
      .withColumn("is_entry",
        (col("signal") === "BUY" &&
          (col("prev_sig").isNull || col("prev_sig") =!= "BUY")).cast("int"))
  }

  def strategySweep(s: SparkSession, d: String): DataFrame =
    sweepSignals(s, d)
      .groupBy(col("tau"), col("min_news"), col("lookback"))
      .agg(
        sum(when(col("signal") === "BUY", 1L).otherwise(0L)).as("n_buy"),
        sum(when(col("signal") === "SELL", 1L).otherwise(0L)).as("n_sell"),
        sum(when(col("signal") === "HOLD", 1L).otherwise(0L)).as("n_hold"),
        sum(col("is_entry").cast("long")).as("n_entries"),
        countDistinct(when(col("is_entry") === 1, col("event_type")))
          .as("n_keys_traded"))
      .orderBy("tau", "min_news", "lookback")

  /** How many trading days ahead PIPE12 scores an entry — the default
    * backtest hold period (BacktestConfig.Default.holdDays). */
  val OutcomeHorizon = 5

  /** PIPE12 — the outcome surface behind PIPE11's counts: the
    * reference's re-run loop exists to answer "which slider setting
    * MAKES MONEY", which it learns by running the full backtest per
    * point (`app/experiment.py:303-325`). This query answers the same
    * question declaratively for every grid cell at once: per
    * (τ, min_news, lookback), the 5-trading-day forward return of the
    * cell's position entries — mean, hit rate, best/worst — computed
    * from ONE lead window over the daily price frame joined back to
    * the shared signal frame. Entries in the final `horizon` days
    * have no measurable window and are excluded from the scored
    * columns (n_scored ≤ n_entries keeps the censoring visible).
    * Scale shape: the forward return is computed ONCE per (key, day)
    * — O(keys × days), before the ×27 grid multiply — and the join
    * back to entries is keyed on (key, day_idx). */
  def strategyOutcomes(s: SparkSession, d: String): DataFrame = {
    val wLead = Window.partitionBy("event_type").orderBy("day_idx")
    val fwd = sweepDaily(s, d)
      .select(col("event_type"), col("day_idx"),
        (col("sum_v").cast("double") / col("n").cast("double")).as("p"))
      .withColumn("p_fwd", lead(col("p"), OutcomeHorizon).over(wLead))
      // ANSI guard: a zero mark price has no defined return
      .withColumn("fwd_ret",
        when(col("p") =!= 0.0 && col("p_fwd").isNotNull,
          col("p_fwd") / col("p") - 1))
      .select(col("event_type"), col("day_idx"), col("fwd_ret"))
    val entered = col("is_entry") === 1
    val scored = entered && col("fwd_ret").isNotNull
    sweepSignals(s, d)
      .join(fwd, Seq("event_type", "day_idx"))
      .groupBy(col("tau"), col("min_news"), col("lookback"))
      .agg(
        sum(col("is_entry").cast("long")).as("n_entries"),
        sum(when(scored, 1L).otherwise(0L)).as("n_scored"),
        r6(avg(when(scored, col("fwd_ret")))).as("avg_fwd_ret"),
        // numerator 0.0-defaulted so an all-losing cell reads 0.0, not
        // NULL; denominator NULL-or-positive (sum of a no-otherwise
        // CASE), so the ANSI division can never see a zero
        r6(sum(when(scored && col("fwd_ret") > 0, 1.0).otherwise(0.0))
          / sum(when(scored, 1.0))).as("hit_rate"),
        r6(max(when(scored, col("fwd_ret")))).as("best_entry"),
        r6(min(when(scored, col("fwd_ret")))).as("worst_entry"))
      .orderBy("tau", "min_news", "lookback")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "p8_signal_pipeline" -> ((s, d) => pipeline(s, d)),
    // The parameterized re-run (both threshold sliders moved), fully
    // oracle-checked like the default — thresholds are SQL constants.
    "p8_signal_strict" -> ((s, d) => pipeline(s, d, SignalConfig.Strict)),
    "pipe11_strategy_sweep" -> ((s, d) => strategySweep(s, d)),
    "pipe12_sweep_outcomes" -> ((s, d) => strategyOutcomes(s, d))
  )

  /** Oracle SQL interpolates the SAME config constants the Spark plan
    * uses, so the two cannot drift. */
  private def oracleFor(cfg: SignalConfig): String =
    s"""WITH cfg AS (
           SELECT event_type,
                  corr(value, CAST(json_extract_string(props, '$$.k') AS DOUBLE)) AS r
           FROM events GROUP BY 1),
         daily AS (
           SELECT event_type, date_trunc('day', ts) AS day,
                  avg(value) / 100.0 - 1 AS sent, count(*) AS n
           FROM events GROUP BY 1, 2)
         SELECT d.event_type, d.day, round(d.sent, 6) + 0.0 AS sent, d.n,
                CASE WHEN d.n < ${cfg.minNews} THEN 'HOLD'
                     WHEN d.sent > ${cfg.tau} THEN
                       CASE WHEN c.r < 0 THEN 'SELL' ELSE 'BUY' END
                     WHEN d.sent < -${cfg.tau} THEN
                       CASE WHEN c.r < 0 THEN 'BUY' ELSE 'SELL' END
                     ELSE 'HOLD' END AS signal,
                CASE WHEN c.r < 0 THEN 'inverse' ELSE 'direct' END AS signal_type
         FROM daily d JOIN cfg c ON d.event_type = c.event_type
         ORDER BY d.event_type, d.day"""

  /** The sweep oracle interpolates the same grid constants and builds
    * the three trailing-lookback branches the Spark plan unions.
    * DECIMAL-pinned daily sums make the per-threshold comparisons
    * bit-identical across engines (both divide the same exact sums). */
  private def trailingBranch(l: Int): String =
    s"""SELECT event_type, day_idx,
       |       CAST(sum(sum_v) OVER w$l AS DOUBLE)
       |         / CAST(sum(n) OVER w$l AS DOUBLE)
       |         / CAST(100.0 AS DOUBLE) - 1 AS sent,
       |       sum(n) OVER w$l AS n_news, $l AS lookback
       |FROM didx
       |WINDOW w$l AS (PARTITION BY event_type ORDER BY day_idx
       |             RANGE BETWEEN ${l - 1} PRECEDING AND CURRENT ROW)"""
      .stripMargin

  /** Shared CTE prefix of the PIPE11/PIPE12 oracles — everything
    * through the per-(cell, key, day) entry flag. */
  private val sweepCommonCtes: String = {
    val tauRows = SweepTaus.map(t => s"($t)").mkString(",")
    val mRows = SweepMinNews.map(m => s"($m)").mkString(",")
    s"""WITH cfg AS (
       |  SELECT event_type,
       |         corr(value, CAST(json_extract_string(props, '$$.k') AS DOUBLE)) AS r
       |  FROM events GROUP BY 1),
       |daily AS (
       |  SELECT event_type, date_trunc('day', ts) AS day,
       |         sum(CAST(value AS DECIMAL(18,6))) AS sum_v, count(*) AS n
       |  FROM events GROUP BY 1, 2),
       |didx AS (
       |  SELECT event_type, sum_v, n,
       |         date_diff('day', DATE '1970-01-01', CAST(day AS DATE)) AS day_idx
       |  FROM daily),
       |trail AS (
       |${SweepLookbacks.map(trailingBranch).mkString("", "\nUNION ALL\n", "")}),
       |grid AS (
       |  SELECT CAST(t.tau AS DOUBLE) AS tau, m.min_news
       |  FROM (VALUES $tauRows) t(tau), (VALUES $mRows) m(min_news)),
       |sig AS (
       |  SELECT g.tau, g.min_news, t.lookback, t.event_type, t.day_idx,
       |         CASE WHEN t.n_news < g.min_news THEN 'HOLD'
       |              WHEN t.sent > g.tau THEN
       |                CASE WHEN c.r < 0 THEN 'SELL' ELSE 'BUY' END
       |              WHEN t.sent < -g.tau THEN
       |                CASE WHEN c.r < 0 THEN 'BUY' ELSE 'SELL' END
       |              ELSE 'HOLD' END AS signal
       |  FROM trail t
       |  CROSS JOIN grid g
       |  JOIN cfg c ON t.event_type = c.event_type),
       |ent AS (
       |  SELECT tau, min_news, lookback, event_type, day_idx, signal,
       |         CASE WHEN signal = 'BUY' AND (prev IS NULL OR prev <> 'BUY')
       |              THEN 1 ELSE 0 END AS is_entry
       |  FROM (SELECT *, lag(signal) OVER (
       |          PARTITION BY event_type, lookback, tau, min_news
       |          ORDER BY day_idx) AS prev
       |        FROM sig))""".stripMargin
  }

  private val sweepOracle: String =
    s"""$sweepCommonCtes
       |SELECT tau, min_news, lookback,
       |       CAST(sum(CASE WHEN signal = 'BUY' THEN 1 ELSE 0 END) AS BIGINT) AS n_buy,
       |       CAST(sum(CASE WHEN signal = 'SELL' THEN 1 ELSE 0 END) AS BIGINT) AS n_sell,
       |       CAST(sum(CASE WHEN signal = 'HOLD' THEN 1 ELSE 0 END) AS BIGINT) AS n_hold,
       |       CAST(sum(is_entry) AS BIGINT) AS n_entries,
       |       count(DISTINCT CASE WHEN is_entry = 1 THEN event_type END) AS n_keys_traded
       |FROM ent
       |GROUP BY 1, 2, 3
       |ORDER BY 1, 2, 3""".stripMargin

  private val outcomesOracle: String =
    s"""$sweepCommonCtes,
       |fwd AS (
       |  SELECT event_type, day_idx,
       |         CASE WHEN p <> 0 AND p_fwd IS NOT NULL
       |              THEN p_fwd / p - 1 END AS fwd_ret
       |  FROM (SELECT event_type, day_idx, p,
       |               lead(p, $OutcomeHorizon) OVER (
       |                 PARTITION BY event_type ORDER BY day_idx) AS p_fwd
       |        FROM (SELECT event_type, day_idx,
       |                     CAST(sum_v AS DOUBLE) / CAST(n AS DOUBLE) AS p
       |              FROM didx)))
       |SELECT e.tau, e.min_news, e.lookback,
       |       CAST(sum(e.is_entry) AS BIGINT) AS n_entries,
       |       CAST(sum(CASE WHEN e.is_entry = 1 AND f.fwd_ret IS NOT NULL
       |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_scored,
       |       round(avg(CASE WHEN e.is_entry = 1 AND f.fwd_ret IS NOT NULL
       |                      THEN f.fwd_ret END), 6) AS avg_fwd_ret,
       |       round(sum(CASE WHEN e.is_entry = 1 AND f.fwd_ret IS NOT NULL
       |                           AND f.fwd_ret > 0
       |                      THEN 1.0 ELSE 0.0 END)
       |             / sum(CASE WHEN e.is_entry = 1 AND f.fwd_ret IS NOT NULL
       |                        THEN 1.0 END), 6) AS hit_rate,
       |       round(max(CASE WHEN e.is_entry = 1 AND f.fwd_ret IS NOT NULL
       |                      THEN f.fwd_ret END), 6) AS best_entry,
       |       round(min(CASE WHEN e.is_entry = 1 AND f.fwd_ret IS NOT NULL
       |                      THEN f.fwd_ret END), 6) AS worst_entry
       |FROM ent e
       |JOIN fwd f ON e.event_type = f.event_type AND e.day_idx = f.day_idx
       |GROUP BY 1, 2, 3
       |ORDER BY 1, 2, 3""".stripMargin

  val oracles: Map[String, String] = Map(
    "p8_signal_pipeline" -> oracleFor(SignalConfig.Default),
    "p8_signal_strict" -> oracleFor(SignalConfig.Strict),
    "pipe11_strategy_sweep" -> sweepOracle,
    "pipe12_sweep_outcomes" -> outcomesOracle
  )
}
