package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import graft.Tables

/** Window-function suite: leads/lags (forward returns), running max,
  * drawdown, streak sessionization, latest-run selection, and the
  * as-of join idiom.
  *
  * Reference semantics: forward returns
  * `scripts/04_correlation_analysis.py:41-43` (W1) and the
  * trading-day lead `scripts/05_lag_analysis.py:78-109` (W2);
  * running max / drawdown `scripts/07_backtest.py:326-330` (W3-W5);
  * streaks `scripts/07_backtest.py:308-314` (W6); daily returns
  * `scripts/07_backtest.py:247-250` (W7); latest-run
  * `scripts/08_visualize_equity.py:224-232` (W8); as-of price lookup
  * `scripts/08_visualize_equity.py:52-63` (J4).
  *
  * Scale notes: every per-entity window partitions by `user_id` —
  * state per partition is one entity's history, which shuffles evenly
  * at any scale. The only single-partition windows (W7 daily series)
  * run over an already-aggregated per-day frame (≤ a few thousand rows
  * regardless of fact-table size), which is the documented pattern for
  * equity-curve post-processing.
  */
object Windows {

  /** Per-user event ordering: ts with event_id tiebreak (deterministic). */
  private def wUser = Window.partitionBy("user_id")
    .orderBy(col("ts"), col("event_id"))

  /** The truncated-EWMA cascade, one definition for every smoothed
    * series here (W12, W20, W41, W43, W45, W46, W49) and their
    * generated oracles: pandas `ewm(span, adjust=True)` weights q^j
    * with decay q = (span−1)/(span+1), truncated at EwmaK lags (the
    * truncation IS the definition, on both engines); a missing lag
    * adds 0.0 to both sums and each sum is left-associated in lag
    * order, so both engines run the identical literal arithmetic and
    * raw doubles hash-match with no rounding grid. */
  private val EwmaK = 24
  private def ewmaWeight(span: Int, j: Int): Double =
    math.pow((span - 1.0) / (span + 1.0), j)

  /** `df` plus the lags `p1 … p23` of `src` over `w`: pure map work
    * after one window exchange, which every later cascade pass over
    * the same partitioning reuses. */
  private def ewmaLags(df: DataFrame, w: WindowSpec, src: String,
      p: String): DataFrame =
    (1 until EwmaK).foldLeft(df)((acc, j) =>
      acc.withColumn(s"$p$j", lag(col(src), j).over(w)))

  /** The span-`span` EWMA of `src` over its `ewmaLags` columns. */
  private def ewma(span: Int, src: String, p: String): Column = {
    val terms = (0 until EwmaK).map { j =>
      val c = if (j == 0) col(src) else col(s"$p$j")
      val wj = lit(ewmaWeight(span, j))
      (when(c.isNotNull, wj * c).otherwise(lit(0.0)),
       when(c.isNotNull, wj).otherwise(lit(0.0)))
    }
    terms.map(_._1).reduce(_ + _) / terms.map(_._2).reduce(_ + _)
  }

  /** One cascade pass: `src` smoothed into `out`, selecting
    * `keep :+ out`. */
  private def ewmaOf(df: DataFrame, w: WindowSpec, src: String, p: String,
      span: Int, out: String, keep: Seq[String]): DataFrame =
    ewmaLags(df, w, src, p).withColumn(out, ewma(span, src, p))
      .select((keep :+ out).map(col): _*)

  /** The RSI chain's frame (W19, W42): the per-type daily px, its
    * delta split into gain and loss, and each one's 14-row sum pinned
    * through DECIMAL (order-free), full frames only. */
  private def rsiFrame(s: SparkSession, d: String): DataFrame = {
    val wT = Window.partitionBy("event_type").orderBy("day")
    val frame = wT.rowsBetween(-13, 0)
    def s14(c: Column) = sum(c.cast("decimal(30,12)")).over(frame)
      .cast("double")
    dailyMean(Tables.events(s, d), "px")
      .withColumn("delta", col("px") - lag(col("px"), 1).over(wT))
      .withColumn("gain",
        when(col("delta") > 0, col("delta")).otherwise(lit(0.0)))
      .withColumn("loss",
        when(col("delta") < 0, -col("delta")).otherwise(lit(0.0)))
      .withColumn("n", count(col("delta")).over(frame))
      .withColumn("sg", s14(col("gain")))
      .withColumn("sl", s14(col("loss")))
      .filter(col("n") === 14)
  }

  /** Cutler's RS→RSI map over `rsiFrame`'s sums: elementwise IEEE. */
  private def rsi: Column =
    when(col("sl") === 0, lit(100.0))
      .otherwise(lit(100.0) - lit(100.0) /
        (lit(1.0) + (col("sg") / col("n")) / (col("sl") / col("n"))))

  /** W25's true range and 5-day ATR over the daily candles (W25,
    * W53): `tr` = max(high − low, |high − prev close|, |low − prev
    * close|) from each type's second day, `atr` its decimal-pinned
    * 5-row sum ÷ 5 and `n_win` the frame's row count (5 = full). */
  private def atr5(s: SparkSession, d: String): DataFrame = {
    val wd = Window.partitionBy("event_type").orderBy("day")
    val w5 = wd.rowsBetween(-4, 0)
    candles(s, d)
      .withColumn("prev_close", lag(col("close"), 1).over(wd))
      .filter(col("prev_close").isNotNull)
      .withColumn("tr", greatest(col("high") - col("low"),
        abs(col("high") - col("prev_close")),
        abs(col("low") - col("prev_close"))))
      .withColumn("n_win", count(lit(1)).over(w5))
      .withColumn("atr",
        sum(col("tr").cast("decimal(24,10)")).over(w5).cast("double") / 5)
  }

  /** The as-of join sides of J4/J8/J12: the (user_id, day) spine of
    * every active user-day, and each user-day's last purchase value
    * (by ts, event_id) as `day_val` with its day as `src_day`. */
  private def asofSides(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    val ev = Tables.events(s, d)
    val spine = ev.select(col("user_id"),
      date_trunc("day", col("ts")).as("day")).distinct()
    val wLast = Window.partitionBy("user_id", "day")
      .orderBy(col("ts").desc, col("event_id").desc)
    val pDaily = ev.filter(col("event_type") === "purchase")
      .withColumn("day", date_trunc("day", col("ts")))
      .withColumn("rn", row_number().over(wLast))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("day"), col("value").as("day_val"),
        col("day").as("src_day"))
    (spine, pDaily)
  }

  /** Oracle twin of `ewma`. Weights are emitted in
    * 17-significant-digit EXPONENT form: e-notation literals parse as
    * DOUBLE in DuckDB (plain decimals parse as DECIMAL and their cast
    * to double can be off by an ulp), and 17 digits round-trips the
    * exact Scala double. */
  private def ewmaSql(span: Int, src: String, p: String): String = {
    def w(j: Int) = "%.17e".formatLocal(java.util.Locale.ROOT,
      ewmaWeight(span, j))
    def cn(j: Int) = if (j == 0) src else s"$p$j"
    def term(j: Int, body: String) =
      s"CASE WHEN ${cn(j)} IS NOT NULL THEN $body ELSE 0.0 END"
    val num = (0 until EwmaK).map(j => term(j, s"${w(j)} * ${cn(j)}"))
    val den = (0 until EwmaK).map(j => term(j, w(j)))
    s"((${num.mkString(" + ")}) / (${den.mkString(" + ")}))"
  }

  /** Oracle twin of `ewmaLags`: CTE `name` selecting `keep` (which
    * lists `src`) and the lags of `src` from `from` over `window`. */
  private def ewmaLagsCte(name: String, from: String, window: String,
      src: String, p: String, keep: String): String = {
    val lags = (1 until EwmaK).map(j => s"lag($src, $j) OVER wt AS $p$j")
    s"""$name AS (
           SELECT $keep,
                  ${lags.mkString(",\n                  ")}
           FROM $from
           WINDOW wt AS ($window))"""
  }

  private val ByTypeDay = "PARTITION BY event_type ORDER BY day"

  /** W12 oracle. */
  private def ewmaOracleSql: String =
    s"""WITH ${ewmaLagsCte("lagged", "events",
             "PARTITION BY user_id ORDER BY ts, event_id", "value", "l",
             "user_id, event_id, value")}
         SELECT user_id, event_id, value,
                ${ewmaSql(20, "value", "l")} AS ewma
         FROM lagged
         ORDER BY user_id, event_id"""

  /** `tickCtes`, then `c`: each (event_type, day)'s high, low and
    * close, the oracle twin of the daily candles the range indicators
    * read. */
  private val HlcCtes =
    s"""${tickCtes()},
         c AS (
           SELECT event_type, day, max(value) AS high, min(value) AS low,
                  max(CASE WHEN rn = cnt THEN value END) AS close
           FROM r GROUP BY 1, 2)"""

  /** `HlcCtes`, the previous close `pc` and `tr`: each day's candle
    * with its true range (days with a previous close), the oracle twin
    * of [[atr5]]'s `tr`. */
  private val TrueRangeCtes =
    s"""$HlcCtes,
         pc AS (
           SELECT *, lag(close) OVER (PARTITION BY event_type
                                      ORDER BY day) AS prev_close
           FROM c),
         tr AS (
           SELECT event_type, day, high, low, close,
                  greatest(high - low, abs(high - prev_close),
                           abs(low - prev_close)) AS tr
           FROM pc WHERE prev_close IS NOT NULL)"""

  /** The RSI chain's frame, `rsiFrame`'s oracle twin: daily px, the
    * delta/gain/loss split and the decimal-pinned 14-row sums. */
  private val RsiCtes =
    s"""$DailyPxCte,
         d AS (
           SELECT event_type, day, px,
                  px - lag(px, 1) OVER (PARTITION BY event_type
                                        ORDER BY day) AS delta
           FROM daily),
         g AS (
           SELECT event_type, day, px, delta,
                  CASE WHEN delta > 0 THEN delta ELSE 0.0 END AS gain,
                  CASE WHEN delta < 0 THEN -delta ELSE 0.0 END AS loss
           FROM d),
         r AS (
           SELECT event_type, day, px,
                  count(delta) OVER f AS n,
                  CAST(CAST(sum(CAST(gain AS DECIMAL(30,12))) OVER f
                       AS VARCHAR) AS DOUBLE) AS sg,
                  CAST(CAST(sum(CAST(loss AS DECIMAL(30,12))) OVER f
                       AS VARCHAR) AS DOUBLE) AS sl
           FROM g
           WINDOW f AS (PARTITION BY event_type ORDER BY day
                        ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))"""

  /** Oracle twin of `rsi`. */
  private val RsiSql =
    """CASE WHEN sl = 0 THEN 100.0
                         ELSE 100.0 - 100.0 /
                              (1.0 + (sg / n) / (sl / n)) END"""

  /** W19 oracle — same decimal sliding sums, same RS→RSI map. */
  private def rsiOracleSql: String =
    s"""WITH $RsiCtes
       SELECT event_type, day, round(px, 6) AS px,
              round($RsiSql, 6) AS rsi
       FROM r WHERE n = 14 ORDER BY event_type, day"""

  /** W20 oracle: EMA12 − EMA26 of px, then the EMA9 signal. */
  private def macdOracleSql: String =
    s"""WITH $DailyPxCte,
         ${ewmaLagsCte("lagged", "daily", ByTypeDay, "px", "l",
             "event_type, day, px")},
         m AS (
           SELECT event_type, day,
                  ${ewmaSql(12, "px", "l")} - ${ewmaSql(26, "px", "l")} AS macd
           FROM lagged),
         ${ewmaLagsCte("lagged2", "m", ByTypeDay, "macd", "m",
             "event_type, day, macd")},
         sig AS (
           SELECT event_type, day, macd,
                  ${ewmaSql(9, "macd", "m")} AS signal
           FROM lagged2)
       SELECT event_type, day, macd, signal, macd - signal AS hist
       FROM sig ORDER BY event_type, day"""

  /** W41 oracle — W20's EMA12/EMA26 `ewmaSql` spread, normalized. */
  private def ppoOracleSql: String =
    s"""WITH $DailyPxCte,
         ${ewmaLagsCte("lagged", "daily", ByTypeDay, "px", "l",
             "event_type, day, px")},
         m AS (
           SELECT event_type, day,
                  CAST(100 AS DOUBLE) *
                    (${ewmaSql(12, "px", "l")} - ${ewmaSql(26, "px", "l")}) /
                    ${ewmaSql(26, "px", "l")} AS ppo
           FROM lagged),
         ${ewmaLagsCte("lagged2", "m", ByTypeDay, "ppo", "p",
             "event_type, day, ppo")},
         sig AS (
           SELECT event_type, day, ppo,
                  ${ewmaSql(9, "ppo", "p")} AS signal
           FROM lagged2)
       SELECT event_type, day, ppo, signal, ppo - signal AS hist
       FROM sig ORDER BY event_type, day"""

  /** W43 oracle — three span-15 cascades, then the Δ/prev ratio. */
  private def trixOracleSql: String =
    s"""WITH $DailyPxCte,
         ${ewmaLagsCte("l1", "daily", ByTypeDay, "px", "a",
             "event_type, day, px")},
         s1 AS (
           SELECT event_type, day, ${ewmaSql(15, "px", "a")} AS t1 FROM l1),
         ${ewmaLagsCte("l2", "s1", ByTypeDay, "t1", "b",
             "event_type, day, t1")},
         s2 AS (
           SELECT event_type, day, ${ewmaSql(15, "t1", "b")} AS t2 FROM l2),
         ${ewmaLagsCte("l3", "s2", ByTypeDay, "t2", "c",
             "event_type, day, t2")},
         s3 AS (
           SELECT event_type, day, ${ewmaSql(15, "t2", "c")} AS t3 FROM l3),
         f AS (
           SELECT event_type, day, t3,
                  lag(t3, 1) OVER (PARTITION BY event_type
                                   ORDER BY day) AS prev
           FROM s3)
       SELECT event_type, day, t3,
              CAST(100 AS DOUBLE) * (t3 - prev) / prev AS trix
       FROM f WHERE prev IS NOT NULL ORDER BY event_type, day"""

  /** W45 oracle — three span-10 cascades, then the fixed DEMA/TEMA
    * combination chains. */
  private def demaTemaOracleSql: String =
    s"""WITH $DailyPxCte,
         ${ewmaLagsCte("l1", "daily", ByTypeDay, "px", "a",
             "event_type, day, px")},
         s1 AS (
           SELECT event_type, day, ${ewmaSql(10, "px", "a")} AS e1 FROM l1),
         ${ewmaLagsCte("l2", "s1", ByTypeDay, "e1", "b",
             "event_type, day, e1")},
         s2 AS (
           SELECT event_type, day, e1, ${ewmaSql(10, "e1", "b")} AS e2 FROM l2),
         ${ewmaLagsCte("l3", "s2", ByTypeDay, "e2", "c",
             "event_type, day, e1, e2")},
         s3 AS (
           SELECT event_type, day, e1, e2,
                  ${ewmaSql(10, "e2", "c")} AS e3 FROM l3)
       SELECT event_type, day, e1,
              CAST(2 AS DOUBLE) * e1 - e2 AS dema,
              CAST(3 AS DOUBLE) * e1 - CAST(3 AS DOUBLE) * e2 + e3 AS tema
       FROM s3 ORDER BY event_type, day"""

  /** W46 oracle — two span-9 cascades over the candle range, r6'd
    * ratios, then the decimal-pinned 10-day frame sum. */
  private def massIndexOracleSql: String =
    s"""WITH candles AS (
           SELECT event_type, date_trunc('day', ts) AS day,
                  max(value) - min(value) AS rng
           FROM events GROUP BY 1, 2),
         ${ewmaLagsCte("l1", "candles", ByTypeDay, "rng", "a",
             "event_type, day, rng")},
         s1 AS (
           SELECT event_type, day, ${ewmaSql(9, "rng", "a")} AS e1 FROM l1),
         ${ewmaLagsCte("l2", "s1", ByTypeDay, "e1", "b",
             "event_type, day, e1")},
         s2 AS (
           SELECT event_type, day, e1, ${ewmaSql(9, "e1", "b")} AS e2 FROM l2),
         rr AS (
           SELECT event_type, day,
                  CASE WHEN e2 <> 0 THEN round(e1 / e2, 6) END AS ratio
           FROM s2),
         mm AS (
           SELECT event_type, day, ratio,
                  count(*) OVER f AS n,
                  CAST(CAST(sum(CAST(ratio AS DECIMAL(24,10))) OVER f
                       AS VARCHAR) AS DOUBLE) AS mass
           FROM rr
           WINDOW f AS (PARTITION BY event_type ORDER BY day
                        ROWS BETWEEN 9 PRECEDING AND CURRENT ROW))
       SELECT event_type, day, ratio, mass
       FROM mm WHERE n = 10 ORDER BY event_type, day"""

  /** W49 oracle — one span-13 cascade beside the exact candle
    * extremes, then two exact subtractions. */
  private def elderRayOracleSql: String =
    s"""WITH daily AS (
           SELECT event_type, date_trunc('day', ts) AS day,
                  max(value) AS high, min(value) AS low,
                  CAST(CAST(sum(CAST(value AS DECIMAL(24,10))) AS VARCHAR)
                       AS DOUBLE) / count(*) AS px
           FROM events GROUP BY 1, 2),
         ${ewmaLagsCte("l", "daily", ByTypeDay, "px", "a",
             "event_type, day, high, low, px")},
         e AS (
           SELECT event_type, day, high, low,
                  ${ewmaSql(13, "px", "a")} AS ema
           FROM l)
       SELECT event_type, day, ema,
              high - ema AS bull_power, low - ema AS bear_power
       FROM e ORDER BY event_type, day"""

  /** W42 oracle — W19's RSI chain, then the %K fold over the RSI
    * series itself. */
  private def stochRsiOracleSql: String =
    s"""WITH $RsiCtes,
         rs AS (
           SELECT event_type, day, $RsiSql AS rsi
           FROM r WHERE n = 14),
         k AS (
           SELECT event_type, day, rsi,
                  count(*) OVER f2 AS n2,
                  min(rsi) OVER f2 AS mn,
                  max(rsi) OVER f2 AS mx
           FROM rs
           WINDOW f2 AS (PARTITION BY event_type ORDER BY day
                         ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
       SELECT event_type, day, rsi, (rsi - mn) / (mx - mn) AS stoch_rsi
       FROM k WHERE n2 = 14 AND mx > mn ORDER BY event_type, day"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // W1: calendar forward return over the next row (+ P6 null gate).
    "w1_forward_return" -> ((s, d) =>
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("ts"), col("value"))
        .withColumn("nxt", lead(col("value"), 1).over(wUser))
        .filter(col("nxt").isNotNull)   // P6: pd.notna(return) gate
        // NULL-on-zero base: `value` hits exactly 0 at sf0.1+, and
        // ANSI mode makes x/0 throw instead of inf (oracle: NULLIF).
        .select(col("user_id"), col("event_id"),
          when(col("value") =!= 0, col("nxt") / col("value") - 1)
            .as("ret_1"))
        .orderBy("user_id", "event_id")),

    // W2: k-step lead (trading-day lead is a row-position lead, k=3).
    "w2_lead_k" -> ((s, d) =>
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("ts"), col("value"))
        .withColumn("nxt3", lead(col("value"), 3).over(wUser))
        .filter(col("nxt3").isNotNull)
        .select(col("user_id"), col("event_id"),
          when(col("value") =!= 0, col("nxt3") / col("value") - 1)
            .as("ret_3"))
        .orderBy("user_id", "event_id")),

    // W3: running max (equity peak).
    "w3_running_max" -> ((s, d) =>
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("ts"), col("value"))
        .withColumn("peak", max(col("value"))
          .over(wUser.rowsBetween(Window.unboundedPreceding, 0)))
        .select(col("user_id"), col("event_id"), col("value"), col("peak"))
        .orderBy("user_id", "event_id")),

    // W4: drawdown = value/peak - 1.
    "w4_drawdown" -> ((s, d) =>
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("ts"), col("value"))
        .withColumn("peak", max(col("value"))
          .over(wUser.rowsBetween(Window.unboundedPreceding, 0)))
        .select(col("user_id"), col("event_id"),
          when(col("peak") =!= 0, col("value") / col("peak") - 1)
            .as("dd"))
        .orderBy("user_id", "event_id")),

    // W5: max-drawdown row per user (deterministic argmin via row_number).
    "w5_max_drawdown" -> ((s, d) => {
      val dd = Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("ts"), col("value"))
        .withColumn("peak", max(col("value"))
          .over(wUser.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("dd",
          when(col("peak") =!= 0, col("value") / col("peak") - 1))
      // NULLS LAST explicitly: Spark sorts NULL first ascending, DuckDB
      // last — the argmin must agree once zero-peak rows yield NULL dd.
      val wMin = Window.partitionBy("user_id")
        .orderBy(col("dd").asc_nulls_last, col("ts"), col("event_id"))
      dd.withColumn("rn", row_number().over(wMin))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_id"), col("dd").as("max_dd"))
        .orderBy("user_id")
    }),

    // W5b: max-drawdown PERIOD per user — trough date, the preceding
    // peak date (first row achieving the running max before the
    // trough, pandas idxmax semantics), and duration in days.
    // Ref: scripts/07_backtest.py:333-338 (golden shape
    // docs/imp_numbers.txt:415-418 "-29.45% (63 d, 2025-02-04 ->
    // 2025-04-08)"). Scale: trough table is O(keys) -> broadcast back
    // onto the dd frame; everything else is the W4 window.
    "w5_dd_period" -> ((s, d) => {
      val dd = Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("ts"), col("value"))
        .withColumn("peak", max(col("value"))
          .over(wUser.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("dd",
          when(col("peak") =!= 0, col("value") / col("peak") - 1))
      val wMin = Window.partitionBy("user_id")
        .orderBy(col("dd").asc_nulls_last, col("ts"), col("event_id"))
      val trough = dd.withColumn("rn", row_number().over(wMin))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("ts").as("trough_ts"),
          col("event_id").as("trough_eid"), col("dd").as("max_dd"),
          col("peak").as("peak_val"))
      dd.select(col("user_id"), col("ts"), col("event_id"), col("value"))
        .join(broadcast(trough), Seq("user_id"))
        .filter(col("ts") < col("trough_ts") ||
          (col("ts") === col("trough_ts") &&
           col("event_id") <= col("trough_eid")))
        .filter(col("value") === col("peak_val"))
        .groupBy(col("user_id"), col("max_dd"), col("trough_ts"))
        .agg(min(col("ts")).as("peak_ts"))
        .select(col("user_id"), col("max_dd"),
          to_date(col("peak_ts")).as("peak_date"),
          to_date(col("trough_ts")).as("trough_date"),
          datediff(to_date(col("trough_ts")), to_date(col("peak_ts")))
            .cast("long").as("dd_duration_days"))
        .orderBy("user_id")
    }),

    // W6: streak sessionization — (flag != lag(flag)).cumsum() streak ids,
    // then the longest win / loss streak per user.
    "w6_streaks" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("ts"),
          (col("value") > 100).as("win"))
      val changed = when(
        lag(col("win"), 1).over(wUser).isNull ||
        lag(col("win"), 1).over(wUser) =!= col("win"), 1L).otherwise(0L)
      ev.withColumn("chg", changed)
        .withColumn("streak_id", sum(col("chg"))
          .over(wUser.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy(col("user_id"), col("win"), col("streak_id"))
        .agg(count(lit(1)).as("len"))
        .groupBy(col("user_id"), col("win"))
        .agg(max(col("len")).as("max_streak"))
        .orderBy("user_id", "win")
    }),

    // W7: daily returns of an aggregated series (orders daily revenue).
    // Single-partition window over the per-day aggregate only (small by
    // construction — never over the raw fact table).
    "w7_daily_returns" -> ((s, d) => {
      val daily = Tables.orders(s, d)
        .groupBy(date_trunc("day", col("o_orderdate")).as("day"))
        .agg(sum(col("o_totalprice")).as("rev"))
      val w = Window.orderBy("day")
      daily.withColumn("prev", lag(col("rev"), 1).over(w))
        .filter(col("prev").isNotNull)
        .select(col("day"), r6(col("rev") / col("prev") - 1).as("ret"))
        .orderBy("day")
    }),

    // W8: latest-run selection — newest event per user.
    "w8_latest_run" -> ((s, d) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts").desc, col("event_id").desc)
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("ts"), col("value"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).drop("rn")
        .orderBy("user_id")
    }),

    // W9: bounded-frame rolling mean — the 7-row trailing average per
    // user, the moving-average smoothing every price/metric dashboard
    // applies. Distinct window SHAPE from W3/W4 (unbounded-preceding)
    // and W1/W2 (point leads): a sliding ROWS frame, which Spark
    // evaluates incrementally per partition. Sum through DECIMAL so
    // frame-accumulation order can't flip a ×1e6 rounding boundary
    // against the oracle. Same even user_id shuffle as every per-entity
    // window here.
    "w9_rolling_mean" -> ((s, d) => {
      val w = wUser.rowsBetween(-6, 0)
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("ts"), col("value"))
        .withColumn("roll_avg",
          round(sum(col("value").cast("decimal(24,10)")).over(w)
            .cast("double") / count(lit(1)).over(w), 6))
        .select(col("user_id"), col("event_id"), col("value"),
          col("roll_avg"))
        .orderBy("user_id", "event_id")
    }),

    // W18: rolling correlation vs the market — each series' trailing
    // 10-day correlation with the all-type daily average (the rolling
    // beta/coupling diagnostic next to W9's rolling mean and W17's
    // rolling z). Five DECIMAL-exact sliding sums (x, y, x², y², xy)
    // feed the closed-form corr, so both engines window over
    // bit-identical partials in pinned day order; the raw products
    // are exact IEEE before the decimal cast pins them. round6
    // absorbs only the final sqrt/division chain. Scale: one hash agg
    // to O(types×days) rows, market series joined by day (broadcast —
    // O(days) rows), then per-type incremental frames.
    "w18_rolling_corr" -> ((s, d) => {
      val daily = dailyMean(Tables.events(s, d), "y")
      val market = Tables.events(s, d)
        .groupBy(date_trunc("day", col("ts")).as("day"))
        .agg(pinnedMean(col("value")).as("x"))
      val w = Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(-9, 0)
      def s1(c: Column) = sum(c.cast("decimal(30,12)")).over(w)
        .cast("double")
      daily.join(broadcast(market), Seq("day"))
        .withColumn("n", count(lit(1)).over(w))
        .withColumn("sx", s1(col("x"))).withColumn("sy", s1(col("y")))
        .withColumn("sxx", s1(col("x") * col("x")))
        .withColumn("syy", s1(col("y") * col("y")))
        .withColumn("sxy", s1(col("x") * col("y")))
        .filter(col("n") === 10)
        // zero variance in either series inside a window (a flat
        // regime) makes r undefined — NULL, never a /0 (ANSI throws
        // on double division too; WindowsDegenerateSpec)
        .withColumn("den",
          (col("n") * col("sxx") - col("sx") * col("sx")) *
            (col("n") * col("syy") - col("sy") * col("sy")))
        .select(col("event_type"), col("day"),
          when(col("den") > 0,
            round((col("n") * col("sxy") - col("sx") * col("sy")) /
              sqrt(col("den")), 6)).as("roll_corr"))
        .orderBy("event_type", "day")
    }),

    // W19: RSI (relative strength index, Cutler's simple-average form)
    // — the overbought/oversold oscillator on the dashboard the
    // reference renders price panels for. Per-type daily series (same
    // decimal-exact base as W15/W18), then one sliding 14-delta frame:
    // gains and losses sum through DECIMAL (pinned accumulation
    // order), the RS ratio and the 100−100/(1+RS) map are elementwise
    // IEEE over identical doubles, round6 absorbs the division chain.
    // Cutler's SMA variant rather than Wilder's recursive smoothing
    // precisely because it is window-expressible — a recursion would
    // need a sequential fold (T7's machinery) and can't oracle-check.
    // Scale: hash agg to O(types×days), then per-type incremental
    // frames — nothing touches the raw fact table twice.
    "w19_rsi" -> ((s, d) =>
      rsiFrame(s, d)
        .select(col("event_type"), col("day"), r6(col("px")).as("px"),
          r6(rsi).as("rsi"))
        .orderBy("event_type", "day")),

    // W20: MACD (12/26 EWMA spread + 9-span signal line + histogram)
    // — the trend-following indicator beside W19's oscillator, and
    // the compositional stress test of W12's truncated-EWMA design:
    // THREE spans over TWO cascaded series (px, then the derived macd
    // line) in one plan. Both EWMA passes share one per-type window
    // cascade — the 2×(K−1) lag projections are pure map work over
    // the O(types×days) daily frame, and Catalyst plans ONE hash
    // exchange for the whole cascade (the second Window's
    // partitioning is satisfied by the first's — plan-asserted).
    // Same float discipline as W12: identical literal weights
    // (17-digit round-trip into the generated oracle), identical
    // left-associated summation, raw-double outputs hash-match with
    // no rounding grid.
    "w20_macd" -> ((s, d) => {
      val wT = Window.partitionBy("event_type").orderBy("day")
      val withMacd =
        ewmaLags(dailyMean(Tables.events(s, d), "px"), wT, "px", "l")
          .withColumn("macd", ewma(12, "px", "l") - ewma(26, "px", "l"))
          .select(col("event_type"), col("day"), col("macd"))
      ewmaOf(withMacd, wT, "macd", "m", 9, "signal",
          Seq("event_type", "day", "macd"))
        .select(col("event_type"), col("day"), col("macd"),
          col("signal"), (col("macd") - col("signal")).as("hist"))
        .orderBy("event_type", "day")
    }),

    // W40: detrended price oscillator — price relative to a DISPLACED
    // 20-day SMA (DPO = px[t−11] − SMA₂₀[t]): kills the trend
    // component so cycle length reads directly off the zero
    // crossings. One decimal-pinned frame sum → one render → one
    // division → one subtraction on raw doubles (nothing to round);
    // full 20-row frames only. Same single per-type shuffle as W9.
    "w40_dpo" -> ((s, d) => {
      val daily = dailyMean(Tables.events(s, d), "px")
      val wT = Window.partitionBy("event_type").orderBy("day")
      val frame = wT.rowsBetween(-19, 0)
      daily
        .withColumn("n", count(lit(1)).over(frame))
        .withColumn("sma",
          sum(col("px").cast("decimal(30,12)")).over(frame)
            .cast("double") / 20)
        .withColumn("ref", lag(col("px"), 11).over(wT))
        .filter(col("n") === 20)
        .select(col("event_type"), col("day"), col("px"), col("sma"),
          (col("ref") - col("sma")).as("dpo"))
        .orderBy("event_type", "day")
    }),

    // W41: percentage price oscillator — W20's MACD normalized by the
    // slow EMA (ppo = 100·(EMA₁₂−EMA₂₆)/EMA₂₆, signal = 9-EMA of
    // ppo, hist = ppo−signal), the scale-free form that compares
    // across differently-priced series. The same `ewma` cascade as
    // W20 (ONE hash exchange for both window passes) — only the final
    // arithmetic differs, and it is a fixed IEEE chain on identical
    // doubles.
    "w41_ppo" -> ((s, d) => {
      val wT = Window.partitionBy("event_type").orderBy("day")
      val withPpo =
        ewmaLags(dailyMean(Tables.events(s, d), "px"), wT, "px", "l")
          .withColumn("ppo", lit(100.0) *
            (ewma(12, "px", "l") - ewma(26, "px", "l")) / ewma(26, "px", "l"))
          .select(col("event_type"), col("day"), col("ppo"))
      ewmaOf(withPpo, wT, "ppo", "p", 9, "signal",
          Seq("event_type", "day", "ppo"))
        .select(col("event_type"), col("day"), col("ppo"),
          col("signal"), (col("ppo") - col("signal")).as("hist"))
        .orderBy("event_type", "day")
    }),

    // W43: TRIX — the 1-period rate of change of a TRIPLE-smoothed
    // EMA (span 15): three cascaded truncated-EWMA passes (the W12/
    // W20 design, identical literal weights and left-associated
    // sums) kill noise a single EMA keeps, then trix = 100·Δt3/t3.
    // The compositional DEPTH test of `ewmaOf`: every
    // pass re-lags the PREVIOUS pass's output, three hash-exchange-
    // sharing window cascades in one plan; the final ratio is one
    // fixed IEEE chain on bit-identical doubles.
    "w43_trix" -> ((s, d) => {
      val wT = Window.partitionBy("event_type").orderBy("day")
      val key = Seq("event_type", "day")
      val t1 = ewmaOf(dailyMean(Tables.events(s, d), "px"), wT, "px", "a",
        15, "t1", key)
      val t2 = ewmaOf(t1, wT, "t1", "b", 15, "t2", key)
      val t3 = ewmaOf(t2, wT, "t2", "c", 15, "t3", key)
      t3.withColumn("prev", lag(col("t3"), 1).over(wT))
        .filter(col("prev").isNotNull)
        .select(col("event_type"), col("day"), col("t3"),
          (lit(100.0) * (col("t3") - col("prev")) / col("prev"))
            .as("trix"))
        .orderBy("event_type", "day")
    }),

    // W44: Ichimoku cloud (Hosoda's equilibrium system), scaled to
    // the corpus's 30-day panel (5/10/20 spans with a 5-day
    // displacement — the classic 9/26/52 needs 78 daily candles;
    // W29's 5-day Donchian precedent, documented adaptation):
    // tenkan = (max₅ high + min₅ low)/2, kijun = the 10-day twin,
    // senkou A = the (tenkan+kijun)/2 of 5 days AGO and senkou B =
    // the 20-day midpoint of 5 days ago (the displaced cloud edges
    // in effect today), chikou = the close 5 days AHEAD (null on
    // each series' last 5 days — kept, both engines agree on the
    // frame edge). Full displaced windows only: the row qualifies
    // when the 20-day window was already full at the DISPLACED
    // source row (lagged count = 20), which makes every other
    // window full a fortiori. Float-risk-FREE by construction
    // (W29's class): every input is an exact candle pick and every
    // output one fixed IEEE chain (one add, one halving) — raw
    // doubles, no sums, nothing to pin. One candle shuffle, then
    // per-type series windows sharing one exchange.
    "w44_ichimoku" -> ((s, d) => {
      val wd = Window.partitionBy("event_type").orderBy("day")
      val w5 = wd.rowsBetween(-4, 0)
      val w10 = wd.rowsBetween(-9, 0)
      val w20 = wd.rowsBetween(-19, 0)
      candles(s, d)
        .withColumn("n20", count(lit(1)).over(w20))
        .withColumn("tenkan",
          (max(col("high")).over(w5) + min(col("low")).over(w5)) / 2)
        .withColumn("kijun",
          (max(col("high")).over(w10) + min(col("low")).over(w10)) / 2)
        .withColumn("sb20",
          (max(col("high")).over(w20) + min(col("low")).over(w20)) / 2)
        .withColumn("senkou_a",
          lag((col("tenkan") + col("kijun")) / 2, 5).over(wd))
        .withColumn("senkou_b", lag(col("sb20"), 5).over(wd))
        .withColumn("n20l", lag(col("n20"), 5).over(wd))
        .withColumn("chikou", lead(col("close"), 5).over(wd))
        .filter(col("n20l") === 20)
        .select(col("event_type"), col("day"), col("close"),
          col("tenkan"), col("kijun"), col("senkou_a"),
          col("senkou_b"), col("chikou"))
        .orderBy("event_type", "day")
    }),

    // W45: DEMA + TEMA (Mulloy 1994) — the lag-reduced EMA family
    // from the same `ewmaOf` cascade W43 stress-tests:
    // dema = 2·e1 − e2 and tema = 3·e1 − 3·e2 + e3 where e2/e3
    // re-smooth the previous pass's output (span 10 on the 30-day
    // panel; the classic 20+ spans never exit warm-up here — W29's
    // documented-adaptation precedent). Every eᵢ is the identical-
    // literal-weight left-associated cascade fold (bit-identical
    // doubles across engines), and both outputs are one fixed IEEE
    // chain each on those identical inputs — raw doubles, no sums
    // outside the proven cascade, nothing to pin. Three hash-
    // exchange-sharing window cascades in one plan (W43's shape).
    "w45_dema_tema" -> ((s, d) => {
      val wT = Window.partitionBy("event_type").orderBy("day")
      val key = Seq("event_type", "day")
      val e1 = ewmaOf(dailyMean(Tables.events(s, d), "px"), wT, "px", "a",
        10, "e1", key)
      val e2 = ewmaOf(e1, wT, "e1", "b", 10, "e2", key :+ "e1")
      val e3 = ewmaOf(e2, wT, "e2", "c", 10, "e3", key ++ Seq("e1", "e2"))
      e3
        .select(col("event_type"), col("day"), col("e1"),
          (lit(2.0) * col("e1") - col("e2")).as("dema"),
          (lit(3.0) * col("e1") - lit(3.0) * col("e2") + col("e3"))
            .as("tema"))
        .orderBy("event_type", "day")
    }),

    // W46: mass index (Dorsey 1992) — the range-expansion reversal
    // screen: EMA(range)/EMA(EMA(range)) summed over a trailing
    // window spots "bulges" where daily ranges widen regardless of
    // direction. Scaled to the 30-day panel: span-9 EMAs (the
    // classic), 10-day sum instead of 25 (W29's documented-
    // adaptation precedent). range = candle high − low (exact picks,
    // one exact IEEE subtraction); both EMAs are the proven
    // truncated-cascade folds (bit-identical doubles); the ratio is
    // one division; the SUM is the one new float fold — each ratio
    // renders at r6 onto the exact decimal grid, then the 10-term
    // frame sum runs in decimal (order-free, the TXT20 trick) and
    // casts back exactly. Full 10-day frames only.
    "w46_mass_index" -> ((s, d) => {
      val candles = Tables.events(s, d)
        .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
        .agg((max(col("value")) - min(col("value"))).as("rng"))
      val wT = Window.partitionBy("event_type").orderBy("day")
      val key = Seq("event_type", "day")
      val e1 = ewmaOf(candles, wT, "rng", "a", 9, "e1", key)
      val e2 = ewmaOf(e1, wT, "e1", "b", 9, "e2", key :+ "e1")
      val frame = wT.rowsBetween(-9, 0)
      // a zero-range regime (flat candles) zeroes BOTH EMAs — the
      // ratio is undefined there, NULL, never a /0 (ANSI throws on
      // double division too; WindowsDegenerateSpec)
      e2.withColumn("ratio",
          when(col("e2") =!= 0.0d, r6(col("e1") / col("e2"))))
        .withColumn("n", count(lit(1)).over(frame))
        .withColumn("mass",
          sum(col("ratio").cast("decimal(24,10)")).over(frame)
            .cast("double"))
        .filter(col("n") === 10)
        .select(col("event_type"), col("day"), col("ratio"), col("mass"))
        .orderBy("event_type", "day")
    }),

    // W47: Coppock curve (Coppock 1962) — the long-horizon momentum
    // bottom-finder: WMA of the SUM of two rates of change. Scaled
    // to the 30-day panel: ROC(10) + ROC(7) under a 5-day
    // front-weighted WMA (classic 14/11/10 — W29's documented-
    // adaptation precedent). Float shape: each ROC is one fixed
    // chain (division, subtraction, ×100) on bit-identical daily
    // means; the WMA is a FIXED 5-term left-associated chain of
    // integer-weighted lags over one exact ÷15 — not an aggregation,
    // so there is no summation order to pin; full lag windows only
    // (the deepest lag is the gate — every shallower lag exists a
    // fortiori). Raw doubles end to end.
    "w47_coppock" -> ((s, d) => {
      val daily = dailyMean(Tables.events(s, d), "px")
      val wT = Window.partitionBy("event_type").orderBy("day")
      val withRoc = daily
        .withColumn("p10", lag(col("px"), 10).over(wT))
        .withColumn("p7", lag(col("px"), 7).over(wT))
        .withColumn("s",
          lit(100.0) * (col("px") / col("p10") - 1) +
            lit(100.0) * (col("px") / col("p7") - 1))
      val lagged = (1 to 4).foldLeft(withRoc)((acc, j) =>
        acc.withColumn(s"s$j", lag(col("s"), j).over(wT)))
      lagged
        .filter(col("s4").isNotNull)
        .select(col("event_type"), col("day"), col("s").as("roc_sum"),
          ((lit(5.0) * col("s") + lit(4.0) * col("s1") +
            lit(3.0) * col("s2") + lit(2.0) * col("s3") + col("s4")) /
            15).as("coppock"))
        .orderBy("event_type", "day")
    }),

    // W48: KST — Pring's Know Sure Thing, the four-horizon summary
    // momentum oscillator (W47's Coppock generalized): four ROCs at
    // widening spans, each SMA-smoothed, combined 1:2:3:4, plus an
    // SMA signal line. Scaled to the 30-day panel: ROC(5/7/10/14)
    // under SMA(5) each, signal SMA(5) (classic 10/15/20/30 —
    // documented adaptation). Float discipline: ROCs are fixed
    // chains on bit-identical daily means; every SMA is a
    // decimal-pinned frame sum of r6'd inputs over an exact count
    // division, rendered at r6 (order-free); the 1:2:3:4 combination
    // is one fixed left-associated chain on those identical rounded
    // doubles; the signal re-pins r6(kst). Full frames only — the
    // deepest ROC's SMA frame gates every shallower one a fortiori.
    "w48_kst" -> ((s, d) => {
      val daily = dailyMean(Tables.events(s, d), "px")
      val wT = Window.partitionBy("event_type").orderBy("day")
      val f5 = wT.rowsBetween(-4, 0)
      def roc(k: Int): Column =
        r6(lit(100.0) * (col("px") / lag(col("px"), k).over(wT) - 1))
      def sma(c: String): Column =
        r6(sum(col(c).cast("decimal(24,10)")).over(f5).cast("double") /
          count(col(c)).over(f5))
      val withRocs = daily
        .withColumn("r5", roc(5)).withColumn("r7", roc(7))
        .withColumn("r10", roc(10)).withColumn("r14", roc(14))
        .withColumn("full14", count(col("r14")).over(f5) === 5)
        .withColumn("s1", sma("r5")).withColumn("s2", sma("r7"))
        .withColumn("s3", sma("r10")).withColumn("s4", sma("r14"))
      val kst = withRocs
        .withColumn("kst_raw",
          when(col("full14"),
            col("s1") + lit(2.0) * col("s2") + lit(3.0) * col("s3") +
              lit(4.0) * col("s4")))
      kst
        .withColumn("nsig", count(col("kst_raw")).over(f5))
        .withColumn("signal",
          sum(r6(col("kst_raw")).cast("decimal(24,10)")).over(f5)
            .cast("double") / 5)
        .filter(col("nsig") === 5)
        .select(col("event_type"), col("day"),
          r6(col("kst_raw")).as("kst"), r6(col("signal")).as("signal"))
        .orderBy("event_type", "day")
    }),

    // W49: Elder Ray (Elder 1993) — bull power = high − EMA13 and
    // bear power = low − EMA13: how far do buyers push above (and
    // sellers below) the consensus trend each day? One candle agg
    // yields exact high/low picks AND the pinned daily mean; the
    // EMA is the proven span-13 truncated cascade; each power is ONE
    // exact IEEE subtraction on bit-identical doubles — raw outputs,
    // nothing to pin, no full-window gate (the truncated cascade is
    // defined from row 1 by renormalized weights, W12's contract).
    "w49_elder_ray" -> ((s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
        .agg(max(col("value")).as("high"), min(col("value")).as("low"),
          pinnedMean(col("value")).as("px"))
      val wT = Window.partitionBy("event_type").orderBy("day")
      ewmaLags(daily, wT, "px", "a").withColumn("ema", ewma(13, "px", "a"))
        .select(col("event_type"), col("day"), col("ema"),
          (col("high") - col("ema")).as("bull_power"),
          (col("low") - col("ema")).as("bear_power"))
        .orderBy("event_type", "day")
    }),

    // W50: Ease of Movement (Arms) — how far price midpoints travel
    // PER UNIT of volume pushing them: emv = ((h+l)/2 − (h₋₁+l₋₁)/2)
    // · (h−l) · 10⁴ / vol (the classic distance-moved ÷ box-ratio
    // identity, box = vol/scale/(h−l), algebraically folded so the
    // h = l candle contributes exactly 0 instead of a 0-division).
    // The one indicator here whose SUBJECT is the volume column:
    // W24/W28 weight price BY volume, EMV asks what volume BUYS.
    // Volume is the exact integer Σqty from the F5-proven JSON
    // extraction; midpoints/ranges are exact candle picks, emv one
    // fixed IEEE chain on them — raw doubles. The 5-day signal SMA
    // folds raw emv through the decimal(30,12) frame discipline
    // (W9's contract), one render + one division. Zero-volume days
    // drop by an exact integer gate; same single candle shuffle +
    // per-type series window as W25/W29.
    "w50_emv" -> ((s, d) => {
      val wT = Window.partitionBy("event_type").orderBy("day")
      val frame = wT.rowsBetween(-4, 0)
      Tables.events(s, d)
        .withColumn("day", date_trunc("day", col("ts")))
        .withColumn("qty",
          get_json_object(col("props"), "$.k").cast("long"))
        .groupBy(col("event_type"), col("day"))
        .agg(max(col("value")).as("high"), min(col("value")).as("low"),
          sum(col("qty")).as("vol"))
        .withColumn("mid_prev",
          (lag(col("high"), 1).over(wT) + lag(col("low"), 1).over(wT)) /
            lit(2.0))
        .filter(col("mid_prev").isNotNull && col("vol") > 0)
        .withColumn("emv",
          ((col("high") + col("low")) / lit(2.0) - col("mid_prev")) *
            (col("high") - col("low")) * lit(10000.0) /
            col("vol").cast("double"))
        .withColumn("n", count(lit(1)).over(frame))
        // emv reaches ~1e4, where a double's ulp (~1e-12) straddles
        // the scale-12 decimal grid — raw-double→decimal(30,12) cast
        // ties diverge between engines. Round to the 1e-6 grid FIRST
        // (safely inside the ulp), then decimal-sum (the A48/A71
        // fold discipline applied to a frame).
        .withColumn("emv_sma5",
          sum(round(col("emv"), 6).cast("decimal(24,10)")).over(frame)
            .cast("double") / col("n"))
        .filter(col("n") === 5)
        .select(col("event_type"), col("day"), col("vol"), col("emv"),
          col("emv_sma5"))
        .orderBy("event_type", "day")
    }),

    // W51: Ultimate Oscillator (Williams) — the three-horizon
    // buying-pressure composite that fixes the single-window
    // oscillator's whipsaw: BP = close − min(low, close₋₁), TR =
    // max(high, close₋₁) − min(low, close₋₁) (W25's true-range
    // picks), then UO = 100·(4·Σ₃BP/Σ₃TR + 2·Σ₆BP/Σ₆TR +
    // Σ₁₂BP/Σ₁₂TR)/7 — the classic 7/14/28 geometry's 1:2:4 ratio
    // scaled to the 30-day panel (the W44/W12 convention). BP/TR are
    // exact picks + one IEEE subtraction each; the six frame sums
    // fold through decimal(30,12) (order-free), each average ONE
    // division of rendered doubles, UO one fixed chain. Full-frame
    // and positive-TR gates are exact comparisons. Same single
    // candle shuffle + per-type series window as W25.
    "w51_ultimate_osc" -> ((s, d) => {
      val wT = Window.partitionBy("event_type").orderBy("day")
      def fsum(c: Column, k: Int) =
        sum(c.cast("decimal(30,12)")).over(wT.rowsBetween(1 - k, 0))
          .cast("double")
      candles(s, d)
        .withColumn("pc", lag(col("close"), 1).over(wT))
        .filter(col("pc").isNotNull)
        .withColumn("bp", col("close") - least(col("low"), col("pc")))
        .withColumn("tr",
          greatest(col("high"), col("pc")) - least(col("low"), col("pc")))
        .withColumn("n12", count(lit(1)).over(wT.rowsBetween(-11, 0)))
        .withColumn("bp3", fsum(col("bp"), 3))
        .withColumn("tr3", fsum(col("tr"), 3))
        .withColumn("bp6", fsum(col("bp"), 6))
        .withColumn("tr6", fsum(col("tr"), 6))
        .withColumn("bp12", fsum(col("bp"), 12))
        .withColumn("tr12", fsum(col("tr"), 12))
        .filter(col("n12") === 12 && col("tr3") > 0 && col("tr6") > 0 &&
          col("tr12") > 0)
        .select(col("event_type"), col("day"),
          (lit(100.0) *
            (lit(4.0) * (col("bp3") / col("tr3")) +
             lit(2.0) * (col("bp6") / col("tr6")) +
             col("bp12") / col("tr12")) / lit(7.0)).as("uo"))
        .orderBy("event_type", "day")
    }),

    // W52: ADX / directional movement (Wilder) — the trend-STRENGTH
    // gauge the oscillator family lacks (W19/W26/W42 say overbought/
    // oversold, ADX says whether there IS a trend to trade): +DM =
    // h−h₋₁ when the up-move beats the down-move (else 0), −DM the
    // mirror, both exact candle subtractions under exact
    // comparisons; ±DI = 100·Σ₆DM/Σ₆TR over W25's true-range picks
    // (6-day sums scaled from Wilder's 14 to the 30-day panel, SMA
    // smoothing documented in place of Wilder's recursive RMA — the
    // W34-vs-EMA convention); DX = 100·|+DI−−DI|/(+DI+−DI); ADX =
    // 6-day SMA of DX. The DM/TR sums fold through decimal(30,12)
    // (values O(candle range)); DX ≤ 100 so the ADX fold uses the
    // r6-then-decimal discipline. Positive-TR / positive-DI-sum /
    // full-frame gates are exact comparisons. Same single candle
    // shuffle + per-type series window as W25/W51.
    "w52_adx" -> ((s, d) => {
      val wT = Window.partitionBy("event_type").orderBy("day")
      def fsum(c: Column, k: Int) =
        sum(c.cast("decimal(30,12)")).over(wT.rowsBetween(1 - k, 0))
          .cast("double")
      Tables.events(s, d)
        .withColumn("day", date_trunc("day", col("ts")))
        .groupBy(col("event_type"), col("day"))
        .agg(max(col("value")).as("high"), min(col("value")).as("low"))
        .withColumn("ph", lag(col("high"), 1).over(wT))
        .withColumn("pl", lag(col("low"), 1).over(wT))
        .filter(col("ph").isNotNull)
        .withColumn("up", col("high") - col("ph"))
        .withColumn("dn", col("pl") - col("low"))
        .withColumn("dm_p",
          when(col("up") > col("dn") && col("up") > 0, col("up"))
            .otherwise(lit(0.0)))
        .withColumn("dm_m",
          when(col("dn") > col("up") && col("dn") > 0, col("dn"))
            .otherwise(lit(0.0)))
        .withColumn("tr",
          greatest(col("high"), col("ph")) - least(col("low"), col("pl")))
        .withColumn("n6", count(lit(1)).over(wT.rowsBetween(-5, 0)))
        .withColumn("str", fsum(col("tr"), 6))
        .withColumn("sdp", fsum(col("dm_p"), 6))
        .withColumn("sdm", fsum(col("dm_m"), 6))
        .filter(col("n6") === 6 && col("str") > 0)
        .withColumn("di_plus", lit(100.0) * col("sdp") / col("str"))
        .withColumn("di_minus", lit(100.0) * col("sdm") / col("str"))
        .filter(col("di_plus") + col("di_minus") > 0)
        .withColumn("dx",
          lit(100.0) * abs(col("di_plus") - col("di_minus")) /
            (col("di_plus") + col("di_minus")))
        .withColumn("nadx", count(lit(1)).over(wT.rowsBetween(-5, 0)))
        .withColumn("adx",
          sum(round(col("dx"), 6).cast("decimal(24,10)"))
            .over(wT.rowsBetween(-5, 0)).cast("double") / col("nadx"))
        .filter(col("nadx") === 6)
        .select(col("event_type"), col("day"), col("di_plus"),
          col("di_minus"), col("dx"), col("adx"))
        .orderBy("event_type", "day")
    }),

    // W42: stochastic RSI — W26's %K lens applied to W19's RSI
    // instead of price ((rsi − min₁₄rsi)/(max₁₄rsi − min₁₄rsi)): how
    // overbought is the oscillator RELATIVE TO ITS OWN RANGE, the
    // faster-turning second derivative traders layer on RSI. The RSI
    // chain is W19's `rsiFrame` (decimal-pinned gain/loss frame sums,
    // one render each); min/max fold with NO summation over those
    // bit-identical doubles, one division; flat windows (max = min)
    // are excluded by an exact double comparison. Two chained frames
    // over one per-type shuffle.
    "w42_stochrsi" -> ((s, d) => {
      val frame2 = Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(-13, 0)
      rsiFrame(s, d).select(col("event_type"), col("day"), rsi.as("rsi"))
        .withColumn("n2", count(lit(1)).over(frame2))
        .withColumn("mn", min(col("rsi")).over(frame2))
        .withColumn("mx", max(col("rsi")).over(frame2))
        .filter(col("n2") === 14 && col("mx") > col("mn"))
        .select(col("event_type"), col("day"), col("rsi"),
          ((col("rsi") - col("mn")) / (col("mx") - col("mn")))
            .as("stoch_rsi"))
        .orderBy("event_type", "day")
    }),

    // W21: RANGE-frame window — the trailing 7 DAYS of each user's
    // activity at every event, where "7 days" means event TIME, not
    // row count: the frame no other query here uses (W9/W17/W18 are
    // ROWS frames — k neighboring rows regardless of how far apart
    // in time; on an irregular event stream the time-bounded
    // question needs RANGE). Ordering key is unix_micros so the
    // bound is exact integer µs on both engines; peers at the same
    // instant are all in-frame by RANGE semantics (value-based, so
    // no tiebreak nondeterminism). Decimal-pinned sliding sum; same
    // even per-user shuffle as every window here.
    "w21_range_frame" -> ((s, d) => {
      val wR = Window.partitionBy("user_id")
        .orderBy(unix_micros(col("ts")))
        .rangeBetween(-7L * 86400L * 1000000L, 0L)
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("ts"), col("value"))
        .withColumn("n_7d", count(lit(1)).over(wR))
        .withColumn("sum_7d",
          round(sum(col("value").cast("decimal(24,10)")).over(wR)
            .cast("double"), 6))
        .select(col("user_id"), col("event_id"), col("n_7d"),
          col("sum_7d"))
        .orderBy("user_id", "event_id")
    }),

    // W22: touch attribution — the marketing-analytics staple A21's
    // funnel stops short of: every purchase attributed to the user's
    // FIRST and LAST click inside the preceding 7 days, in ONE pass
    // with W21's time-RANGE frame (no purchase↔click self-join — the
    // conditional min/max over the event-time window does the as-of
    // lookup for every purchase simultaneously, one user_id shuffle).
    // Timestamps only (set-min/max — order-independent, exact);
    // n_clicks audits window support. Purchases with no click in
    // range keep NULL touches (unattributed — a real category, not
    // dropped). Fully oracle-checked.
    "w22_attribution" -> ((s, d) => {
      val wR = Window.partitionBy("user_id")
        .orderBy(unix_micros(col("ts")))
        .rangeBetween(-7L * 86400L * 1000000L, 0L)
      Tables.events(s, d)
        .filter(col("event_type").isin("click", "purchase"))
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("ts"))
        .withColumn("first_touch_ts",
          min(when(col("event_type") === "click", col("ts"))).over(wR))
        .withColumn("last_touch_ts",
          max(when(col("event_type") === "click", col("ts"))).over(wR))
        .withColumn("n_clicks",
          count(when(col("event_type") === "click", lit(1))).over(wR))
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"),
          col("first_touch_ts"), col("last_touch_ts"), col("n_clicks"))
        .orderBy("event_id")
    }),

    // W15: cumulative compounded return — the equity-curve-from-returns
    // op (running PRODUCT, which no engine has as a window aggregate):
    // the standard rewrite exp(Σ ln(1+r)) turns it into a running sum.
    // Per event_type: daily avg (decimal-exact, so the base series is
    // bit-identical on both engines) → day-over-day return → cumulative
    // growth factor. Float discipline: the window sum runs in day order
    // on BOTH engines (ordered frame ⇒ pinned summation order); the
    // only divergence is ≤1-ulp libm ln/exp, absorbed by round6.
    // Scale: one hash agg to O(types×days) rows, then per-type windows.
    "w15_cum_return" -> ((s, d) => {
      val daily = dailyMean(Tables.events(s, d), "v")
      val w = Window.partitionBy("event_type").orderBy("day")
      val cum = Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      daily.withColumn("ret", col("v") / lag(col("v"), 1).over(w) - 1)
        .filter(col("ret").isNotNull)
        .select(col("event_type"), col("day"), r6(col("ret")).as("ret"),
          r6(exp(sum(log(lit(1.0) + col("ret"))).over(cum)))
            .as("cum_growth"))
        .orderBy("event_type", "day")
    }),

    // W17: rolling z-score anomaly flag — the monitoring primitive:
    // each event scored against its user's TRAILING 15-event window
    // (excluding itself: -15..-1, so the anomaly can't dilute its own
    // baseline); |z| > 2.5 with ≥10 prior events flags the row. Float
    // discipline: windowed mean/std are derived from DECIMAL-exact
    // sliding sums of value and value² (raw double products are exact
    // IEEE, the decimal cast pins them identically on both engines;
    // Spark evaluates sliding frames by re-accumulation, DuckDB by
    // segment tree — EXACT sums make the summation-order difference
    // vanish), so z matches to the last ulp and round6 is cosmetic.
    // Scale: one user_id shuffle, incremental frame evaluation.
    // W23: Bollinger bands — the volatility envelope beside RSI (W19)
    // and MACD (W20), the reference dashboard's chart family: 20-day
    // rolling mean ± 2σ over each type's daily mean price, plus %B
    // ((px − lower)/(upper − lower), the position-in-band signal).
    // Full windows only (edges NULL rather than biased, A58's rule);
    // rolling sums through the decimal discipline (W17's contract) so
    // re-accumulating windows and segment trees cannot diverge. Same
    // scale shape as W19/W20: one hash agg to O(types×days), then
    // per-type incremental frames. Fully oracle-checked.
    "w23_bollinger" -> ((s, d) => {
      val N = 20
      val w = Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(-(N - 1), 0)
      dailyMean(Tables.events(s, d), "px")
        .withColumn("n_win", count(lit(1)).over(w))
        .withColumn("s1",
          sum(col("px").cast("decimal(24,10)")).over(w).cast("double"))
        .withColumn("s2",
          sum((col("px") * col("px")).cast("decimal(30,10)")).over(w)
            .cast("double"))
        .filter(col("n_win") === N)
        .withColumn("mid", col("s1") / N)
        .withColumn("sd", sqrt(
          (col("s2") - col("s1") * col("s1") / N) / (N - 1)))
        .withColumn("upper", col("mid") + col("sd") * 2.0d)
        .withColumn("lower", col("mid") - col("sd") * 2.0d)
        .select(col("event_type"), col("day"), r6(col("px")).as("px"),
          r6(col("mid")).as("mid"),
          r6(col("upper")).as("upper"), r6(col("lower")).as("lower"),
          r6((col("px") - col("lower")) /
             (col("upper") - col("lower"))).as("pct_b"))
        .orderBy("event_type", "day")
    }),

    // W24: running intraday VWAP — the execution-quality benchmark
    // every trading/backtest stack compares fills against (the
    // reference's OHLCV pipeline consumes exactly this class of
    // rolling price statistic): per (series, day), cumulative
    // Σ(price·qty)/Σ(qty) ordered by event time, with `value` as the
    // price and the props JSON's `k` as the quantity (the F5-proven
    // extraction — a weighted window over a SEMI-STRUCTURED column,
    // which is how real tick payloads arrive). Both running sums fold
    // through the decimal discipline (w17's contract: window
    // re-accumulation can't drift from a segment-tree evaluation, and
    // both engines see identical exact numerators), the quantity sum
    // is exact integer; the division to double happens once per row.
    // One hash shuffle on (event_type, day) — the even per-series
    // window shape everywhere else here.
    "w24_vwap" -> ((s, d) => {
      val w = Window.partitionBy(col("event_type"), col("day"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, d)
        .withColumn("day", date_trunc("day", col("ts")))
        .withColumn("qty",
          get_json_object(col("props"), "$.k").cast("long"))
        .withColumn("pv",
          sum((col("value") * col("qty")).cast("decimal(24,10)")).over(w)
            .cast("double"))
        .withColumn("vol", sum(col("qty")).over(w))
        // a leading run of zero-quantity ticks leaves vol = 0: VWAP is
        // undefined there → NULL (nullif guard; ANSI would throw).
        // RAW double output — the numerator is the same correctly-
        // rounded decimal→double on both engines and the division is
        // one elementwise IEEE op, so the quotients are bit-identical;
        // round(…, 6) would REINTRODUCE divergence on ×1e6 half-ties
        // (sf0.1 has one: 64.5915625)
        .select(col("event_id"), col("event_type"), col("day"),
          col("qty"),
          (col("pv") / when(col("vol") =!= 0L, col("vol"))).as("vwap"))
        .orderBy("event_id")
    }),

    // W25: Average True Range (SMA-5 form) — THE volatility unit
    // position-sizing and stop placement quote (Wilder 1978; the SMA
    // variant keeps the statistic windowed instead of recursive, so
    // it stays a pure frame aggregate at any scale): true range =
    // max(high−low, |high−prevClose|, |low−prevClose|) over W16's
    // daily candles — the prev-close terms capture overnight gaps a
    // plain high−low range misses. TR is elementwise IEEE arithmetic
    // on exact candle doubles (bit-identical both engines → RAW, no
    // rounding); ATR = decimal-pinned 5-day sliding sum ÷ 5 (one
    // division → raw, the W24 discipline), full windows only. One
    // (type, day) candle shuffle + one per-type series window.
    "w25_atr" -> ((s, d) => {
      atr5(s, d)
        .filter(col("n_win") === 5)
        .select(col("event_type"), col("day"), col("tr"), col("atr"))
        .orderBy("event_type", "day")
    }),

    // W53: Chandelier Exit — the ATR-scaled TRAILING STOP the
    // indicator family computes volatility FOR (W25 measures ATR;
    // this is the classic position-management consumer): long stop =
    // HH₅ − 3·ATR₅, short stop = LL₅ + 3·ATR₅ over the same 5-day
    // lookback as W25's ATR, plus the "close still above the long
    // stop" verdict a backtest keys exits on. HH/LL are exact extreme
    // picks over the raw candle highs/lows, ATR is W25's
    // decimal-pinned 5-sum render, each stop ONE fixed IEEE chain on
    // those pinned scalars and the verdict an exact comparison —
    // raw doubles, fully hash-checked. Same single per-type series
    // window shape as W23/W25 (bounded frames, no global sort).
    "w53_chandelier" -> ((s, d) => {
      val w5 = Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(-4, 0)
      atr5(s, d)
        .withColumn("hh", max(col("high")).over(w5))
        .withColumn("ll", min(col("low")).over(w5))
        .filter(col("n_win") === 5)
        .select(col("event_type"), col("day"), col("atr"),
          col("hh"), col("ll"),
          (col("hh") - lit(3.0d) * col("atr")).as("long_stop"),
          (col("ll") + lit(3.0d) * col("atr")).as("short_stop"),
          (col("close") > col("hh") - lit(3.0d) * col("atr"))
            .as("above_long_stop"))
        .orderBy("event_type", "day")
    }),

    // W26: stochastic oscillator %K/%D — the bounded momentum gauge
    // (where does today's close sit inside the 5-day high–low
    // envelope?): %K = 100·(close − LL₅)/(HH₅ − LL₅) from W16's
    // candles, %D = its 3-day SMA signal line. LL/HH are exact
    // min/max picks; %K is one fixed-order division chain (raw
    // doubles), defined only on full 5-day envelopes and NULL on a
    // flat one (HH = LL — the identical conditional both engines,
    // never a ÷0); %D decimal-pins the 3-window %K sum ÷ 3, emitted
    // only when all three %K values exist. Same single per-type
    // series window shape as W23.
    "w26_stochastic" -> ((s, d) => {
      val wd = Window.partitionBy("event_type").orderBy("day")
      val w5 = wd.rowsBetween(-4, 0)
      val w3 = wd.rowsBetween(-2, 0)
      candles(s, d)
        .withColumn("n_win", count(lit(1)).over(w5))
        .withColumn("ll", min(col("low")).over(w5))
        .withColumn("hh", max(col("high")).over(w5))
        .withColumn("pct_k",
          when(col("n_win") === 5 && col("hh") =!= col("ll"),
            lit(100.0d) * (col("close") - col("ll")) /
              (col("hh") - col("ll"))))
        .withColumn("n_k", count(col("pct_k")).over(w3))
        .withColumn("pct_d", when(col("n_k") === 3,
          sum(col("pct_k").cast("decimal(24,10)")).over(w3)
            .cast("double") / 3))
        .filter(col("n_win") === 5)
        .select(col("event_type"), col("day"), col("pct_k"),
          col("pct_d"))
        .orderBy("event_type", "day")
    }),

    // W27: on-balance volume — the classic volume-flow accumulator
    // (Granville 1963): OBV_t = OBV_{t-1} + sign(close_t −
    // close_{t-1})·vol_t, the "is volume confirming the price move"
    // line every charting stack draws under W16's candles. Daily close
    // comes from the shared candle shape (one (type, day) shuffle);
    // daily volume is the exact integer Σ of the props-JSON `k`
    // quantity (W24's extraction). sign() of a double comparison is
    // exact, the running Σ is pure long arithmetic — integer end to
    // end, zero float risk anywhere. One per-type series window after
    // the candle agg, the family's even shuffle shape.
    "w27_obv" -> ((s, d) => {
      val wd = Window.partitionBy("event_type").orderBy("day")
      val cum = wd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      candles(s, d)
        .withColumn("prev_close", lag(col("close"), 1).over(wd))
        .filter(col("prev_close").isNotNull)
        .withColumn("signed_vol",
          when(col("close") > col("prev_close"), col("vol"))
            .when(col("close") < col("prev_close"), -col("vol"))
            .otherwise(lit(0L)))
        .withColumn("obv", sum(col("signed_vol")).over(cum))
        .select(col("event_type"), col("day"), col("vol"),
          col("signed_vol"), col("obv"))
        .orderBy("event_type", "day")
    }),

    // W28: Money Flow Index (5-day) — the volume-weighted RSI (W19's
    // momentum gauge with W24's volume axis folded in): typical price
    // tp = (high+low+close)/3, raw money flow = tp·vol, split into
    // positive/negative by tp vs prev tp, MFI = 100·posMF/(posMF+negMF)
    // over the window. The ratio is scale-invariant, so the computed
    // flow drops the ÷3 ENTIRELY: mf₃ = (h+l+c)·vol stays on the
    // source's exact 0.01 price grid (binary noise ~1e-9 absolute),
    // where tp·vol's repeating ÷3 tail fills all 16 digits and a
    // 10-place decimal cast hits the shortest-repr-vs-true-binary
    // rounding split (the w24/round() gotcha — the first draft of
    // this query diverged by one ulp at 53 of 125 sf0.01 rows).
    // Direction compares the undivided sums too (exact doubles). The
    // windowed sums pin through DECIMAL(28,4) — grid distance 5e-5 ≫
    // product noise, both engines round to the same grid point; the
    // final 100·pos/(pos+neg) is one fixed-order IEEE chain per row →
    // RAW doubles. A flat 5-day stretch (pos+neg = 0) is NULL, the
    // identical conditional both engines. Full windows only. Same
    // candle shuffle + per-type series window as W25.
    "w28_mfi" -> ((s, d) => {
      val wd = Window.partitionBy("event_type").orderBy("day")
      val w5 = wd.rowsBetween(-4, 0)
      candles(s, d)
        .withColumn("tp3",
          col("high") + col("low") + col("close"))
        .withColumn("prev_tp3", lag(col("tp3"), 1).over(wd))
        .filter(col("prev_tp3").isNotNull)
        .withColumn("mf", col("tp3") * col("vol"))
        .withColumn("pos_mf",
          sum(when(col("tp3") > col("prev_tp3"), col("mf")).otherwise(lit(0.0d))
            .cast("decimal(28,4)")).over(w5).cast("double"))
        .withColumn("neg_mf",
          sum(when(col("tp3") < col("prev_tp3"), col("mf")).otherwise(lit(0.0d))
            .cast("decimal(28,4)")).over(w5).cast("double"))
        .withColumn("n_win", count(lit(1)).over(w5))
        .filter(col("n_win") === 5)
        .select(col("event_type"), col("day"),
          when(col("pos_mf") + col("neg_mf") > 0,
            lit(100.0d) * col("pos_mf") /
              (col("pos_mf") + col("neg_mf"))).as("mfi"))
        .orderBy("event_type", "day")
    }),

    // W29: Donchian channel + breakout flags — the third classic
    // band after W23's Bollinger (μ±2σ) and W25's ATR (true-range
    // unit): upper/lower = the 5-day rolling extreme of the candle
    // highs/lows, and a breakout fires when today's close clears the
    // PRIOR window's band (the turtle-trading entry signal; rows
    // without a full prior window are excluded so the flags are
    // never NULL). Unlike
    // every other band, this one is float-risk-FREE by construction:
    // max/min are exact value picks and the flags are exact double
    // comparisons — no sums, no divisions, nothing to pin. Same
    // single candle shuffle + per-type series window as W25/W26.
    "w29_donchian" -> ((s, d) => {
      val wd = Window.partitionBy("event_type").orderBy("day")
      val w5 = wd.rowsBetween(-4, 0)
      val w5p = wd.rowsBetween(-5, -1)
      candles(s, d)
        .withColumn("n_win", count(lit(1)).over(w5))
        .withColumn("upper", max(col("high")).over(w5))
        .withColumn("lower", min(col("low")).over(w5))
        .withColumn("n_prior", count(lit(1)).over(w5p))
        .withColumn("breakout_up", col("close") > max(col("high")).over(w5p))
        .withColumn("breakout_dn", col("close") < min(col("low")).over(w5p))
        .filter(col("n_win") === 5 && col("n_prior") === 5)
        .select(col("event_type"), col("day"), col("close"),
          col("upper"), col("lower"),
          col("breakout_up"), col("breakout_dn"))
        .orderBy("event_type", "day")
    }),

    // W30: floor-trader pivot points — the classic intraday level
    // grid every charting terminal precomputes for the NEXT session
    // from the PRIOR day's candle: P = (h+l+c)/3, R1 = 2P−l,
    // S1 = 2P−h, R2 = P+(h−l), S2 = P−(h−l). Each level is one
    // fixed-order elementwise IEEE chain over the lagged exact candle
    // picks — bit-identical both engines, RAW doubles (no sums, no
    // pins; the w24 discipline at its purest). One candle shuffle +
    // one lag over the per-type series window.
    "w30_pivot_points" -> ((s, d) => {
      val wd = Window.partitionBy("event_type").orderBy("day")
      candles(s, d)
        .withColumn("ph", lag(col("high"), 1).over(wd))
        .withColumn("pl", lag(col("low"), 1).over(wd))
        .withColumn("pc", lag(col("close"), 1).over(wd))
        .filter(col("pc").isNotNull)
        .withColumn("p", (col("ph") + col("pl") + col("pc")) / 3)
        .select(col("event_type"), col("day"), col("p").as("pivot"),
          (lit(2.0d) * col("p") - col("pl")).as("r1"),
          (lit(2.0d) * col("p") - col("ph")).as("s1"),
          (col("p") + (col("ph") - col("pl"))).as("r2"),
          (col("p") - (col("ph") - col("pl"))).as("s2"))
        .orderBy("event_type", "day")
    }),

    // W31: Commodity Channel Index over the daily candles —
    // cci = (tp − SMA(tp)) / (0.015 · meandev(tp)) on a 20-day frame.
    // Two cross-engine determinism tricks: (a) CCI is scale-invariant
    // in tp, so tp is carried as tp3 = high+low+close (NO ÷3 — the
    // W28 lesson: keep intermediates on the source's exact decimal
    // grid); (b) the frame's mean and mean-deviation are computed by
    // an in-row left fold over `collect_list` of the ORDERED frame
    // (aggregate HOF = DuckDB list_sum in index order), so the float
    // sums are sequential in frame order on both engines — no
    // parallel-reduction order lottery, no decimal pins needed, raw
    // doubles hash-match. Scale shape: one hash-agg to candles, one
    // partitioned window, then stateless per-row arithmetic.
    // Reference: chart indicators family, dashboard/app.py:640-760.
    "w31_cci" -> ((s, d) => {
      val wd = Window.partitionBy("event_type").orderBy("day")
      val w20 = wd.rowsBetween(-19, 0)
      candles(s, d)
        .withColumn("tp3", col("high") + col("low") + col("close"))
        .withColumn("xs", collect_list(col("tp3")).over(w20))
        .filter(size(col("xs")) === 20)
        .withColumn("sma3",
          aggregate(col("xs"), lit(0.0d), (acc, x) => acc + x) / 20)
        .withColumn("md3",
          aggregate(col("xs"), lit(0.0d),
            (acc, x) => acc + abs(x - col("sma3"))) / 20)
        .withColumn("cci", when(col("md3") =!= 0.0d,
          (col("tp3") - col("sma3")) / (lit(0.015d) * col("md3"))))
        .select(col("event_type"), col("day"), col("sma3"), col("md3"),
          col("cci"))
        .orderBy("event_type", "day")
    }),

    // W32: Aroon oscillator — how recently did the 14-day-lookback
    // extreme print? days_since = position of the max/min in the
    // REVERSED 15-row frame (most-recent occurrence wins ties, the
    // charting convention), found by exact double equality against
    // the frame's array_max/array_min — integer positions, so
    // aroon_up/dn = 100·(14 − days_since)/14 is one deterministic
    // division from integers. Same collect_list-over-ordered-frame
    // shape as W31; DuckDB replays with list_reverse/list_position.
    "w32_aroon" -> ((s, d) => {
      val wd = Window.partitionBy("event_type").orderBy("day")
      val w15 = wd.rowsBetween(-14, 0)
      candles(s, d)
        .withColumn("hs", collect_list(col("high")).over(w15))
        .withColumn("ls", collect_list(col("low")).over(w15))
        .filter(size(col("hs")) === 15)
        .withColumn("dsh",
          expr("array_position(reverse(hs), array_max(hs))") - 1)
        .withColumn("dsl",
          expr("array_position(reverse(ls), array_min(ls))") - 1)
        .withColumn("aroon_up",
          lit(100.0d) * (lit(14L) - col("dsh")) / lit(14.0d))
        .withColumn("aroon_dn",
          lit(100.0d) * (lit(14L) - col("dsl")) / lit(14.0d))
        .select(col("event_type"), col("day"),
          col("dsh").cast("long").as("days_since_high"),
          col("dsl").cast("long").as("days_since_low"),
          col("aroon_up"), col("aroon_dn"),
          (col("aroon_up") - col("aroon_dn")).as("aroon_osc"))
        .orderBy("event_type", "day")
    }),

    // W33: Williams %R — the inverted stochastic (%R = −100·(HH−close)
    // /(HH−LL) over the 14-day envelope; Larry Williams' overbought/
    // oversold gauge, bounded [−100, 0] where W26's %K is [0, 100]).
    // Float-risk-free like W26: HH/LL are exact extreme picks, %R is
    // one fixed-order division chain on raw candle doubles, NULL on a
    // flat envelope (HH = LL), full 14-day windows only. Same single
    // candle shuffle + per-type series window as the whole family.
    // Reference: chart indicators family, dashboard/app.py:640-760.
    "w33_williams_r" -> ((s, d) => {
      val wd = Window.partitionBy("event_type").orderBy("day")
      val w14 = wd.rowsBetween(-13, 0)
      candles(s, d)
        .withColumn("n_win", count(lit(1)).over(w14))
        .withColumn("hh", max(col("high")).over(w14))
        .withColumn("ll", min(col("low")).over(w14))
        .filter(col("n_win") === 14)
        .select(col("event_type"), col("day"), col("hh"), col("ll"),
          when(col("hh") =!= col("ll"),
            lit(-100.0d) * (col("hh") - col("close")) /
              (col("hh") - col("ll"))).as("pct_r"))
        .orderBy("event_type", "day")
    }),

    // W34: Keltner channel (the 1960 original SMA form — the later
    // EMA±ATR variant is recursive; Keltner's own definition keeps
    // the statistic a pure frame aggregate, the W25 scale argument):
    // center = 10-day SMA of typical price (h+l+c)/3, band offset =
    // 10-day SMA of the daily range (h−l). Determinism: tp is carried
    // as tp3 = h+l+c on the candle's exact double grid and the ÷3
    // folds into the SMA's ÷30 (ONE division per statistic — the W31
    // lesson); both frame sums are decimal-pinned (exact, order-free)
    // and rendered once; upper/lower are single IEEE adds of the two
    // rendered doubles. Full windows only.
    "w34_keltner" -> ((s, d) => {
      val wd = Window.partitionBy("event_type").orderBy("day")
      val w10 = wd.rowsBetween(-9, 0)
      candles(s, d)
        .withColumn("n_win", count(lit(1)).over(w10))
        .withColumn("center",
          sum((col("high") + col("low") + col("close"))
            .cast("decimal(24,10)")).over(w10).cast("double") / 30)
        .withColumn("band",
          sum((col("high") - col("low"))
            .cast("decimal(24,10)")).over(w10).cast("double") / 10)
        .filter(col("n_win") === 10)
        .select(col("event_type"), col("day"), col("center"),
          (col("center") + col("band")).as("upper"),
          (col("center") - col("band")).as("lower"))
        .orderBy("event_type", "day")
    }),

    // W35: Ulcer index (Martin 1987) — the drawdown-depth volatility
    // unit W4/W5 report the extremes of: per day, the percent
    // drawdown from the 14-day trailing close high, and UI =
    // sqrt(mean of the squared drawdowns over the same frame) — the
    // denominator the Martin ratio divides by where Sharpe uses σ.
    // Determinism: the trailing max is an exact pick, dd is one
    // fixed-shape division chain (raw), dd² is elementwise, and the
    // frame mean decimal-pins the dd² sum (order-free) before the
    // single ÷14 → sqrt. Full windows only.
    "w35_ulcer" -> ((s, d) => {
      val wd = Window.partitionBy("event_type").orderBy("day")
      val w14 = wd.rowsBetween(-13, 0)
      candles(s, d)
        .withColumn("n_win", count(lit(1)).over(w14))
        .withColumn("maxc", max(col("close")).over(w14))
        .withColumn("dd",
          lit(100.0d) * (col("close") - col("maxc")) / col("maxc"))
        .withColumn("ulcer",
          sqrt(sum((col("dd") * col("dd")).cast("decimal(28,8)"))
            .over(w14).cast("double") / 14))
        .filter(col("n_win") === 14)
        .select(col("event_type"), col("day"), col("dd"), col("ulcer"))
        .orderBy("event_type", "day")
    }),

    // W36: Vortex indicator (Botha 2010) — trend-direction strength
    // from the crossing geometry of consecutive candles: VI+ =
    // Σ|high − prevLow| / ΣTR and VI− = Σ|low − prevHigh| / ΣTR over
    // a 14-day frame, with W25's true range as the normalizer. The
    // per-row movements and TR are elementwise IEEE on exact candle
    // doubles (raw); each frame sum is decimal-pinned and rendered
    // once, so each VI is one division of two deterministic doubles.
    // Rows need the prior candle (lag) and a full 14-day frame.
    "w36_vortex" -> ((s, d) => {
      val wd = Window.partitionBy("event_type").orderBy("day")
      val w14 = wd.rowsBetween(-13, 0)
      candles(s, d)
        .withColumn("prev_close", lag(col("close"), 1).over(wd))
        .withColumn("prev_high", lag(col("high"), 1).over(wd))
        .withColumn("prev_low", lag(col("low"), 1).over(wd))
        .filter(col("prev_close").isNotNull)
        .withColumn("vm_p", abs(col("high") - col("prev_low")))
        .withColumn("vm_m", abs(col("low") - col("prev_high")))
        .withColumn("tr", greatest(col("high") - col("low"),
          abs(col("high") - col("prev_close")),
          abs(col("low") - col("prev_close"))))
        .withColumn("n_win", count(lit(1)).over(w14))
        .withColumn("s_vp",
          sum(col("vm_p").cast("decimal(24,10)")).over(w14).cast("double"))
        .withColumn("s_vm",
          sum(col("vm_m").cast("decimal(24,10)")).over(w14).cast("double"))
        .withColumn("s_tr",
          sum(col("tr").cast("decimal(24,10)")).over(w14).cast("double"))
        .filter(col("n_win") === 14)
        .select(col("event_type"), col("day"),
          when(col("s_tr") =!= 0.0d, col("s_vp") / col("s_tr"))
            .as("vi_plus"),
          when(col("s_tr") =!= 0.0d, col("s_vm") / col("s_tr"))
            .as("vi_minus"))
        .orderBy("event_type", "day")
    }),

    // W37: Chaikin money flow + accumulation/distribution line — the
    // volume-weighted close-location gauge (where inside the day's
    // range did the close land, weighted by how much traded there):
    // mfm = ((c−l)−(h−c))/(h−l) (0 on a flat candle — Chaikin's
    // convention), mfv = mfm·vol with W24's exact integer volume,
    // CMF = Σ₂₀mfv / Σ₂₀vol and the A/D line = the running Σmfv.
    // Determinism: mfm is one fixed-shape division (raw), mfv one
    // multiply; both mfv sums pin the product on the decimal(28,4)
    // grid (the W28 tp·vol coarsening — magnitude ~1e4 makes scale 4
    // safe and scale 12 a tie lottery) and render once; CMF is one
    // division by the exact integer volume sum. Same candle shuffle,
    // two frames over one series window.
    "w37_cmf" -> ((s, d) => {
      val wd = Window.partitionBy("event_type").orderBy("day")
      val w20 = wd.rowsBetween(-19, 0)
      val wAll = wd.rowsBetween(Window.unboundedPreceding,
        Window.currentRow)
      candles(s, d)
        .withColumn("mfm", when(col("high") =!= col("low"),
          ((col("close") - col("low")) - (col("high") - col("close"))) /
            (col("high") - col("low"))).otherwise(lit(0.0d)))
        .withColumn("mfv", col("mfm") * col("vol").cast("double"))
        .withColumn("n_win", count(lit(1)).over(w20))
        .withColumn("s_mfv",
          sum(col("mfv").cast("decimal(28,4)")).over(w20).cast("double"))
        .withColumn("s_vol", sum(col("vol")).over(w20))
        .withColumn("ad_line",
          sum(col("mfv").cast("decimal(28,4)")).over(wAll).cast("double"))
        .select(col("event_type"), col("day"), col("mfv"),
          when(col("n_win") === 20 && col("s_vol") =!= 0L,
            col("s_mfv") / col("s_vol")).as("cmf"),
          col("ad_line"))
        .orderBy("event_type", "day")
    }),

    // W38: Chande momentum oscillator — W19's gain/loss split with
    // BOTH sums in the numerator: CMO = 100·(su−sd)/(su+sd) over the
    // 14-day frame, the unsmoothed (-100, 100) momentum gauge that
    // reaches its bounds where RSI saturates asymptotically.
    // Determinism: deltas are one IEEE subtraction on exact candle
    // closes, each frame sum decimal-pinned and rendered once, then
    // su−sd / su+su is a fixed 3-flop chain; NULL when su+sd = 0
    // (a 14-day dead-flat series has no momentum sign). Full frames
    // of 14 deltas only; same single candle shuffle as the family.
    "w38_cmo" -> ((s, d) => {
      val wd = Window.partitionBy("event_type").orderBy("day")
      val w14 = wd.rowsBetween(-13, 0)
      candles(s, d)
        .withColumn("delta", col("close") - lag(col("close"), 1).over(wd))
        .withColumn("gain",
          when(col("delta") > 0, col("delta")).otherwise(lit(0.0)))
        .withColumn("loss",
          when(col("delta") < 0, -col("delta")).otherwise(lit(0.0)))
        .withColumn("n", count(col("delta")).over(w14))
        .withColumn("su",
          sum(col("gain").cast("decimal(30,12)")).over(w14).cast("double"))
        .withColumn("sd",
          sum(col("loss").cast("decimal(30,12)")).over(w14).cast("double"))
        .filter(col("n") === 14 && col("delta").isNotNull)
        .select(col("event_type"), col("day"), col("su"), col("sd"),
          when(col("su") + col("sd") =!= 0.0d,
            lit(100.0d) * (col("su") - col("sd")) /
              (col("su") + col("sd"))).as("cmo"))
        .orderBy("event_type", "day")
    }),

    // W39: Elder's force index — price change weighted by how much
    // conviction (volume) drove it: fi = (close − prevClose)·vol,
    // plus the 13-day frame sum that separates a sustained push from
    // one heavy day. Determinism: the delta is one IEEE subtraction,
    // fi one multiply by the exact integer volume (magnitude ~1e4 →
    // the decimal(28,4) pin is far off the product's mantissa tail —
    // the W28/W37 coarsening lesson applied up front); the frame sum
    // renders once. Full 13-delta frames only.
    "w39_force_index" -> ((s, d) => {
      val wd = Window.partitionBy("event_type").orderBy("day")
      val w13 = wd.rowsBetween(-12, 0)
      candles(s, d)
        .withColumn("fi",
          (col("close") - lag(col("close"), 1).over(wd)) *
            col("vol").cast("double"))
        .withColumn("n", count(col("fi")).over(w13))
        .withColumn("fi13",
          sum(col("fi").cast("decimal(28,4)")).over(w13).cast("double"))
        .filter(col("n") === 13)
        .select(col("event_type"), col("day"), col("fi"), col("fi13"))
        .orderBy("event_type", "day")
    }),

    "w17_rolling_zscore" -> ((s, d) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("event_id")).rowsBetween(-15, -1)
      Tables.events(s, d)
        .withColumn("n_prior", count(col("value")).over(w))
        .withColumn("s1",
          sum(col("value").cast("decimal(24,10)")).over(w).cast("double"))
        .withColumn("s2",
          sum((col("value") * col("value")).cast("decimal(30,10)")).over(w)
            .cast("double"))
        .filter(col("n_prior") >= 10)
        .withColumn("mean", col("s1") / col("n_prior"))
        .withColumn("variance",
          (col("s2") - col("s1") * col("s1") / col("n_prior")) /
            (col("n_prior") - 1))
        .filter(col("variance") > 0)
        .withColumn("z", (col("value") - col("mean")) / sqrt(col("variance")))
        .filter(abs(col("z")) > 2.5)
        .select(col("user_id"), col("event_id"), col("value"),
          r6(col("mean")).as("win_mean"), r6(col("z")).as("z"))
        .orderBy("user_id", "event_id")
    }),

    // W16: OHLC candle resample — the tick→candle aggregation every
    // price chart runs (the reference's OHLCV source S10 consumes
    // candles; this OP produces them from raw events): per (type, day)
    // open = first value, close = last value in (ts, event_id) order
    // (the id tiebreak makes simultaneous ticks deterministic),
    // high/low = extremes. One (type, day) shuffle: the ranking window
    // and the final hash agg share partitioning, so Catalyst reuses
    // the exchange. All picks are exact doubles — no float risk.
    "w16_ohlc_candles" -> ((s, d) =>
      candles(s, d)
        .select(col("event_type"), col("day"), col("open"), col("high"),
          col("low"), col("close"), col("ticks").as("n"))
        .orderBy("event_type", "day")),

    // W54: Heikin-Ashi candles — the smoothed-candle transform every
    // charting stack derives from raw OHLC. ha_close = (o+h+l+c)/4 is
    // elementwise, but ha_open is genuinely RECURSIVE — (prev ha_open
    // + prev ha_close)/2, seeded at (o+c)/2 — so unlike the
    // fixed-frame indicator family (W19–W53) no window frame
    // expresses it. Spark shape: candles per type collect to a
    // day-sorted array (bounded by the calendar — the T7 fold
    // discipline: the sequential part runs on the O(days) aggregate,
    // partition-parallel across types, never the fact table) and a
    // left fold carries (ha_open, ha_close). The DuckDB oracle
    // replays the recursion as a per-key recursive CTE (the round-14
    // fold-replay tool); every op is +,÷ by 2/4 over exact candle
    // extremes, so raw doubles hash-match with no rounding.
    "w54_heikin_ashi" -> ((s, d) => {
      val packed = candles(s, d)
        .select(col("event_type"), col("day"), col("open").as("o"),
          col("high").as("h"), col("low").as("l"), col("close").as("c"))
        .groupBy("event_type")
        .agg(array_sort(collect_list(struct(col("day"), col("o"),
          col("h"), col("l"), col("c")))).as("cs"))
      val hos = aggregate(col("cs"),
        struct(array().cast("array<double>").as("hos"),
          lit(0.0).as("ho"), lit(0.0).as("hc")),
        (acc, cd) => {
          val ho = when(size(acc.getField("hos")) === 0,
              (cd.getField("o") + cd.getField("c")) / lit(2.0))
            .otherwise((acc.getField("ho") + acc.getField("hc")) /
              lit(2.0))
          val hc = (((cd.getField("o") + cd.getField("h")) +
            cd.getField("l")) + cd.getField("c")) / lit(4.0)
          struct(concat(acc.getField("hos"), array(ho)).as("hos"),
            ho.as("ho"), hc.as("hc"))
        })
      packed.withColumn("hos", hos.getField("hos"))
        .select(col("event_type"),
          posexplode(arrays_zip(col("cs"), col("hos"))))
        .select(col("event_type"),
          col("col.cs.day").as("day"),
          col("col.cs.o").as("o"), col("col.cs.h").as("h"),
          col("col.cs.l").as("l"), col("col.cs.c").as("c"),
          col("col.hos").as("ha_open"))
        .withColumn("ha_close",
          (((col("o") + col("h")) + col("l")) + col("c")) / lit(4.0))
        .select(col("event_type"), col("day"), col("ha_open"),
          greatest(col("h"), col("ha_open"), col("ha_close"))
            .as("ha_high"),
          least(col("l"), col("ha_open"), col("ha_close")).as("ha_low"),
          col("ha_close"))
        .orderBy("event_type", "day")
    }),

    // W55: Parabolic SAR — Wilder's stop-and-reverse, THE canonical
    // branchy-recursive indicator (state = trend direction, SAR
    // level, extreme point, acceleration factor, and the two prior
    // lows/highs for the clamp; every update is a CASE on a
    // comparison against the evolving state — strictly beyond any
    // window frame AND beyond W54's linear recursion). Kernel
    // (documented variant: seed long at candle 1 with SAR = low₁,
    // EP = high₁, AF = 0.02; step 0.02, cap 0.2; two-prior-period
    // clamp): sarP = sar + af·(ep − sar); long clamps
    // least(sarP, l₁, l₂) and reverses when low(t) crosses under —
    // new SAR = EP, EP = low(t), AF resets; the short side mirrors.
    // Same Spark shape as W54 (per-type calendar-bounded candle
    // fold), same oracle tool (per-key recursive CTE); min/max,
    // +, × only — raw doubles hash-match at every SF.
    "w55_parabolic_sar" -> ((s, d) => {
      // only the extremes — no open/close, so no intra-day window
      val candles = Tables.events(s, d)
        .withColumn("day", date_trunc("day", col("ts")))
        .groupBy(col("event_type"), col("day"))
        .agg(max(col("value")).as("h"), min(col("value")).as("l"))
      val packed = candles.groupBy("event_type")
        .agg(array_sort(collect_list(struct(col("day"), col("h"),
          col("l")))).as("cs"))
      val outT = "array<struct<day:timestamp,sar:double,is_up:boolean," +
        "ep:double,af:double,reversal:boolean>>"
      val folded = aggregate(col("cs"),
        struct(lit(true).as("up"), lit(0.0).as("sar"), lit(0.0).as("ep"),
          lit(0.02).as("af"), lit(0.0).as("l1"), lit(0.0).as("l2"),
          lit(0.0).as("h1"), lit(0.0).as("h2"),
          expr(s"CAST(array() AS $outT)").as("out")),
        (acc, cd) => {
          val (dy, hi, lo) = (cd.getField("day"), cd.getField("h"),
            cd.getField("l"))
          val first = size(acc.getField("out")) === 0
          val (up, sar, ep, af) = (acc.getField("up"), acc.getField("sar"),
            acc.getField("ep"), acc.getField("af"))
          val sarP = sar + af * (ep - sar)
          val clampU = least(sarP, acc.getField("l1"), acc.getField("l2"))
          val clampD = greatest(sarP, acc.getField("h1"), acc.getField("h2"))
          val revU = up && lo < clampU       // long stopped out
          val revD = !up && hi > clampD      // short stopped out
          val up2 = when(first, lit(true))
            .when(revU, lit(false)).when(revD, lit(true)).otherwise(up)
          val sar2 = when(first, lo)
            .when(revU || revD, ep)
            .when(up, clampU).otherwise(clampD)
          val ep2 = when(first, hi)
            .when(revU, lo).when(revD, hi)
            .when(up, greatest(ep, hi)).otherwise(least(ep, lo))
          val af2 = when(first || revU || revD, lit(0.02))
            .when(up && hi > ep || !up && lo < ep,
              least(af + lit(0.02), lit(0.2)))
            .otherwise(af)
          val rev = when(first, lit(false)).otherwise(revU || revD)
          struct(up2.as("up"), sar2.as("sar"), ep2.as("ep"), af2.as("af"),
            lo.as("l1"),
            when(first, lo).otherwise(acc.getField("l1")).as("l2"),
            hi.as("h1"),
            when(first, hi).otherwise(acc.getField("h1")).as("h2"),
            concat(acc.getField("out"), array(struct(dy.as("day"),
              sar2.as("sar"), up2.as("is_up"), ep2.as("ep"), af2.as("af"),
              rev.as("reversal")))).as("out"))
        })
      packed.select(col("event_type"),
          explode(folded.getField("out")).as("o"))
        .select(col("event_type"), col("o.day").as("day"),
          col("o.sar").as("sar"), col("o.is_up").as("is_up"),
          col("o.ep").as("ep"), col("o.af").as("af"),
          col("o.reversal").as("reversal"))
        .orderBy("event_type", "day")
    }),

    // W11: resample + gap fill — the time-series normalization J4's
    // as-of idiom exists inside: each user's sparse daily series
    // expands onto its full [first_day, last_day] calendar spine
    // (generated per user with sequence/explode — no driver-side
    // calendar, no cross join against a global spine that would carry
    // every user through every date), missing days forward-fill from
    // the last observed value, and the output marks which rows are
    // gap-synthesized. The reference does this with pandas reindex +
    // ffill (`scripts/08_visualize_equity.py:52-63`). Scale: the
    // spine explode is per-user (output bounded by user's day span);
    // fill is one unbounded-preceding window per user — the same
    // even shuffle as every per-entity window here.
    "w11_gap_fill" -> ((s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(col("user_id"), date_trunc("day", col("ts")).as("day"))
        .agg(round(sum(col("value").cast("decimal(24,10)")).cast("double"),
          6).as("v"))
      val spine = daily.groupBy("user_id")
        .agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
        .select(col("user_id"),
          explode(sequence(col("lo"), col("hi"),
            expr("INTERVAL 1 DAY"))).as("day"))
      val wFill = Window.partitionBy("user_id").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
      spine.join(daily, Seq("user_id", "day"), "left")
        .withColumn("gap", col("v").isNull)
        .withColumn("v_filled", last(col("v"), ignoreNulls = true)
          .over(wFill))
        .select(col("user_id"), col("day"), col("gap"), col("v_filled"))
        .orderBy("user_id", "day")
    }),

    // W12: exponentially weighted moving average, the smoothing every
    // price/sentiment chart runs (pandas `ewm(span=20, adjust=True)`
    // semantics, truncated at K=24 lags where the weight has decayed
    // to (19/21)²⁴ ≈ 9% — the truncation IS the definition here, on
    // both engines, so the query is fully oracle-checkable with raw
    // IEEE doubles: identical lags, identical literal weights,
    // identical left-associated summation order ⇒ bit-equal output,
    // no rounding grid needed). One window pass computes all K lags
    // (single per-user shuffle + sort); the weighted sums are plain
    // projections — whole-stage codegen end to end.
    "w12_ewma" -> ((s, d) => {
      val base = Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("ts"), col("value"))
      ewmaOf(base, wUser, "value", "l", 20, "ewma",
          Seq("user_id", "event_id", "value"))
        .orderBy("user_id", "event_id")
    }),

    // W13: time-gap sessionization (gaps-and-islands) — W6 sessionizes
    // on VALUE changes, T5 on event-time gaps in streaming; this is
    // the batch form every funnel/engagement pipeline runs: a >30 min
    // silence starts a new session, sessions aggregate to (start, end,
    // n_events, duration). Two windows over the same per-user
    // partitioning (lag for the gap flag, running sum for the session
    // id) + one hash agg — a single shuffle on user_id end to end.
    "w13_sessionize" -> ((s, d) => {
      val gapUs = 1800L * 1000000L  // 30 min silence starts a session
      val prevUs = lag(unix_micros(col("ts")), 1).over(wUser)
      val newSess = when(prevUs.isNull ||
        unix_micros(col("ts")) - prevUs > gapUs, 1L).otherwise(0L)
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("ts"))
        .withColumn("sess_id",
          sum(newSess).over(wUser.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("user_id", "sess_id")
        .agg(min(unix_micros(col("ts"))).as("sess_start_us"),
          max(unix_micros(col("ts"))).as("sess_end_us"),
          count(lit(1)).as("n_events"))
        .withColumn("duration_us", col("sess_end_us") - col("sess_start_us"))
        .orderBy("user_id", "sess_id")
    }),

    // W14: cumulative distinct count — "how many distinct event types
    // has this user seen so far" at every event. Spark (like every
    // engine) has no COUNT(DISTINCT) OVER a running frame; the
    // standard rewrite marks each (user, type)'s FIRST occurrence
    // with one ranking window and running-sums the marks with a
    // second — two windows, one user_id shuffle, no distinct-state
    // blowup (the mark is 0/1, not a growing set).
    "w14_cum_distinct" -> ((s, d) => {
      val wFirst = Window.partitionBy("user_id", "event_type")
        .orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("ts"),
          col("event_type"))
        .withColumn("first_seen",
          when(row_number().over(wFirst) === 1, 1L).otherwise(0L))
        .withColumn("n_types_seen",
          sum(col("first_seen"))
            .over(wUser.rowsBetween(Window.unboundedPreceding, 0)))
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("n_types_seen"))
        .orderBy("user_id", "event_id")
    }),

    // W10: ranking family — ntile quartiles, percent_rank, dense_rank
    // per user over a deterministic (value, event_id) order. The one
    // window family the rest of the suite never touches (row_number
    // appears only as a dedup tool); all three are rank computations
    // over an already-partitioned sort, so the scale story is the same
    // even per-user shuffle as every window here. Semantics match
    // DuckDB exactly: ntile splits remainder-first, percent_rank =
    // (rank-1)/(n-1), dense_rank has no gaps — fully oracle-checked.
    "w10_ranking" -> ((s, d) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("value"), col("event_id"))
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("value"))
        .withColumn("quartile", ntile(4).over(w).cast("long"))
        .withColumn("pct_rank", percent_rank().over(w))
        .withColumn("dns_rank", dense_rank().over(w).cast("long"))
        .orderBy("user_id", "event_id")
    }),

    // J4: as-of join — for each (user, day) the last 'purchase' value with
    // ts < day+1 (forward-fill of the last known price).
    // Spark has no ASOF JOIN: equi-join the daily last value onto the
    // spine, then last(..., ignoreNulls) forward-fill — O(n log n) per
    // key, no inequality join.
    "j4_asof_join" -> ((s, d) => {
      val (spine, sides) = asofSides(s, d)
      val pDaily = sides.drop("src_day")
      val wFill = Window.partitionBy("user_id").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
      spine.join(pDaily, Seq("user_id", "day"), "left")
        .withColumn("asof_value",
          r6(last(col("day_val"), ignoreNulls = true).over(wFill)))
        .select(col("user_id"), col("day"), col("asof_value"))
        .orderBy("user_id", "day")
    }),

    // J8: as-of join with TOLERANCE — pandas merge_asof's `tolerance`:
    // the forward-filled value only counts while it is ≤3 days stale,
    // else NULL (a quote older than the staleness budget must not
    // silently serve). Same plan as J4 plus a second forward-filled
    // column carrying the SOURCE day, so freshness is a pure
    // projection — no extra joins, no inequality join anywhere.
    // Oracle: DuckDB's native ASOF JOIN + the same staleness CASE.
    "j8_asof_tolerance" -> ((s, d) => {
      val (spine, pDaily) = asofSides(s, d)
      val wFill = Window.partitionBy("user_id").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
      spine.join(pDaily, Seq("user_id", "day"), "left")
        .withColumn("fill_val",
          last(col("day_val"), ignoreNulls = true).over(wFill))
        .withColumn("fill_src",
          last(col("src_day"), ignoreNulls = true).over(wFill))
        .withColumn("asof_value",
          when(datediff(col("day"), col("fill_src")) <= 3,
            r6(col("fill_val"))))
        .select(col("user_id"), col("day"), col("asof_value"))
        .orderBy("user_id", "day")
    }),

    // J12: NEAREST-direction as-of join — pandas merge_asof
    // direction='nearest' (J4 is 'backward', J8 adds tolerance):
    // each (user, day) takes the purchase value whose source day is
    // closest in EITHER direction, ties to the earlier (backward)
    // source — the semantics sensor-fusion and quote-matching want
    // when the best observation may be just ahead. Same J4 plan
    // doubled: a backward last-ignoreNulls fill and a forward
    // first-ignoreNulls fill (both value and source day), then the
    // pick is a pure integer-day comparison projection — still no
    // inequality join, still two passes over one per-user window
    // exchange. Exact integer distances and exact value picks →
    // fully oracle-checked (DuckDB replays the identical frames).
    "j12_asof_nearest" -> ((s, d) => {
      val (spine, pDaily) = asofSides(s, d)
      val wB = Window.partitionBy("user_id").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
      val wF = Window.partitionBy("user_id").orderBy("day")
        .rowsBetween(0, Window.unboundedFollowing)
      spine.join(pDaily, Seq("user_id", "day"), "left")
        .withColumn("bv", last(col("day_val"), ignoreNulls = true).over(wB))
        .withColumn("bs", last(col("src_day"), ignoreNulls = true).over(wB))
        .withColumn("fv", first(col("day_val"), ignoreNulls = true).over(wF))
        .withColumn("fs", first(col("src_day"), ignoreNulls = true).over(wF))
        .withColumn("bd", datediff(col("day"), col("bs")).cast("long"))
        .withColumn("fd", datediff(col("fs"), col("day")).cast("long"))
        .withColumn("use_b", col("bd").isNotNull &&
          (col("fd").isNull || col("bd") <= col("fd")))
        .select(col("user_id"), col("day"),
          when(col("use_b"), col("bv")).otherwise(col("fv"))
            .as("nearest_value"),
          when(col("use_b"), col("bd")).otherwise(col("fd"))
            .as("dist_days"),
          when(col("use_b"), lit("backward"))
            .when(col("fd").isNotNull, lit("forward")).as("direction"))
        .orderBy("user_id", "day")
    })
  )

  val oracles: Map[String, String] = Map(
    // w16's candle CTE, then the ha_open recursion replayed as a
    // per-key recursive CTE (all types advance together, one candle
    // per step) — pure +,÷ by 2/4, bit-identical raw doubles
    "w54_heikin_ashi" ->
      s"""WITH RECURSIVE ${tickCtes()},
         c AS (
           SELECT event_type, day,
                  max(CASE WHEN rn = 1 THEN value END) AS o,
                  max(value) AS h, min(value) AS l,
                  max(CASE WHEN rn = cnt THEN value END) AS c
           FROM r GROUP BY 1, 2),
         idx AS (
           SELECT *, row_number() OVER (PARTITION BY event_type
                                        ORDER BY day) AS rn2
           FROM c),
         f AS (
           SELECT event_type, rn2, day, h, l,
                  (o + c) / 2.0 AS ha_open,
                  (((o + h) + l) + c) / 4.0 AS ha_close
           FROM idx WHERE rn2 = 1
           UNION ALL
           SELECT i.event_type, i.rn2, i.day, i.h, i.l,
                  (f.ha_open + f.ha_close) / 2.0 AS ha_open,
                  (((i.o + i.h) + i.l) + i.c) / 4.0 AS ha_close
           FROM f JOIN idx i ON i.event_type = f.event_type
                            AND i.rn2 = f.rn2 + 1
         )
         SELECT event_type, day, ha_open,
                greatest(h, ha_open, ha_close) AS ha_high,
                least(l, ha_open, ha_close) AS ha_low,
                ha_close
         FROM f ORDER BY event_type, day""",
    // w55: candle CTE, then the SAR state machine replayed as a
    // per-key recursive CTE — state (up, sar, ep, af, two prior
    // lows/highs) advances one candle per step; min/max/+/× only
    "w55_parabolic_sar" ->
      """WITH RECURSIVE e AS (
           SELECT event_type, date_trunc('day', ts) AS day, value
           FROM events),
         c AS (
           SELECT event_type, day, max(value) AS h, min(value) AS l
           FROM e GROUP BY 1, 2),
         idx AS (
           SELECT *, row_number() OVER (PARTITION BY event_type
                                        ORDER BY day) AS rn2
           FROM c),
         f AS (
           SELECT event_type, rn2, day,
                  TRUE AS up, l AS sar, h AS ep,
                  CAST(0.02 AS DOUBLE) AS af,
                  l AS l1, l AS l2, h AS h1, h AS h2,
                  FALSE AS reversal
           FROM idx WHERE rn2 = 1
           UNION ALL
           SELECT event_type, rn2, day, up2 AS up, sar2 AS sar,
                  ep2 AS ep, af2 AS af,
                  lo AS l1, ol1 AS l2, hi AS h1, oh1 AS h2,
                  rev AS reversal
           FROM (
             SELECT *,
               CASE WHEN revU THEN FALSE WHEN revD THEN TRUE
                    ELSE up END AS up2,
               CASE WHEN revU OR revD THEN ep
                    WHEN up THEN clampU ELSE clampD END AS sar2,
               CASE WHEN revU THEN lo WHEN revD THEN hi
                    WHEN up THEN greatest(ep, hi)
                    ELSE least(ep, lo) END AS ep2,
               CASE WHEN revU OR revD THEN CAST(0.02 AS DOUBLE)
                    WHEN (up AND hi > ep) OR ((NOT up) AND lo < ep)
                    THEN least(af + CAST(0.02 AS DOUBLE),
                               CAST(0.2 AS DOUBLE))
                    ELSE af END AS af2,
               revU OR revD AS rev
             FROM (
               SELECT *,
                 up AND lo < clampU AS revU,
                 (NOT up) AND hi > clampD AS revD
               FROM (
                 SELECT *,
                   least(sarP, ol1, ol2) AS clampU,
                   greatest(sarP, oh1, oh2) AS clampD
                 FROM (
                   SELECT f.event_type AS event_type, f.up AS up,
                          f.sar AS sar, f.ep AS ep, f.af AS af,
                          f.l1 AS ol1, f.l2 AS ol2,
                          f.h1 AS oh1, f.h2 AS oh2,
                          i.rn2 AS rn2, i.day AS day,
                          i.h AS hi, i.l AS lo,
                          f.sar + f.af * (f.ep - f.sar) AS sarP
                   FROM f JOIN idx i ON i.event_type = f.event_type
                                    AND i.rn2 = f.rn2 + 1
                 ) s0
               ) s1
             ) s2
           ) s3
         )
         SELECT event_type, day, sar, up AS is_up, ep, af, reversal
         FROM f ORDER BY event_type, day""",
    "w14_cum_distinct" ->
      """WITH f AS (
           SELECT user_id, event_id, ts, event_type,
                  CASE WHEN row_number() OVER (
                    PARTITION BY user_id, event_type
                    ORDER BY ts, event_id) = 1 THEN 1 ELSE 0 END
                    AS first_seen
           FROM events)
         SELECT user_id, event_id, event_type,
                CAST(sum(first_seen) OVER (
                  PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS n_types_seen
         FROM f ORDER BY user_id, event_id""",
    "w13_sessionize" ->
      """WITH g AS (
           SELECT user_id, event_id, ts,
                  CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                         OR epoch_us(ts) - lag(epoch_us(ts)) OVER w
                            > 1800000000
                       THEN 1 ELSE 0 END AS new_sess
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         s AS (
           SELECT user_id, ts,
                  CAST(sum(new_sess) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS sess_id
           FROM g)
         SELECT user_id, sess_id,
                min(epoch_us(ts)) AS sess_start_us,
                max(epoch_us(ts)) AS sess_end_us,
                count(*) AS n_events,
                max(epoch_us(ts)) - min(epoch_us(ts)) AS duration_us
         FROM s GROUP BY 1, 2 ORDER BY user_id, sess_id""",
    "w12_ewma" -> ewmaOracleSql,
    "w19_rsi" -> rsiOracleSql,
    "w21_range_frame" ->
      """SELECT user_id, event_id,
                count(*) OVER w AS n_7d,
                round(CAST(CAST(sum(CAST(value AS DECIMAL(24,10))) OVER w
                      AS VARCHAR) AS DOUBLE), 6) AS sum_7d
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                      RANGE BETWEEN 604800000000 PRECEDING
                      AND CURRENT ROW)
         ORDER BY user_id, event_id""",
    "w22_attribution" ->
      """WITH cp AS (
           SELECT event_id, user_id, event_type, ts
           FROM events WHERE event_type IN ('click', 'purchase')),
         att AS (
           SELECT event_id, user_id, event_type, ts,
                  min(CASE WHEN event_type = 'click' THEN ts END)
                    OVER w AS first_touch_ts,
                  max(CASE WHEN event_type = 'click' THEN ts END)
                    OVER w AS last_touch_ts,
                  count(CASE WHEN event_type = 'click' THEN 1 END)
                    OVER w AS n_clicks
           FROM cp
           WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                        RANGE BETWEEN 604800000000 PRECEDING
                        AND CURRENT ROW))
         SELECT event_id, user_id, ts, first_touch_ts, last_touch_ts,
                n_clicks
         FROM att WHERE event_type = 'purchase'
         ORDER BY event_id""",
    "w20_macd" -> macdOracleSql,
    // w16's candle CTE, then exact frame extremes and their displaced
    // lags — every column a fixed IEEE chain on exact picks (the w29/
    // w30 float-risk-free class), raw doubles end to end; chikou's
    // trailing nulls agree on both engines' frame edges
    "w44_ichimoku" ->
      s"""WITH $HlcCtes,
         w AS (
           SELECT event_type, day, close,
                  count(*) OVER w20 AS n20,
                  (max(high) OVER w5 + min(low) OVER w5) / 2 AS tenkan,
                  (max(high) OVER w10 + min(low) OVER w10) / 2 AS kijun,
                  (max(high) OVER w20 + min(low) OVER w20) / 2 AS sb20
           FROM c
           WINDOW w5 AS (PARTITION BY event_type ORDER BY day
                         ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
                  w10 AS (PARTITION BY event_type ORDER BY day
                          ROWS BETWEEN 9 PRECEDING AND CURRENT ROW),
                  w20 AS (PARTITION BY event_type ORDER BY day
                          ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)),
         dsp AS (
           SELECT event_type, day, close, tenkan, kijun,
                  lag((tenkan + kijun) / 2, 5) OVER wd AS senkou_a,
                  lag(sb20, 5) OVER wd AS senkou_b,
                  lag(n20, 5) OVER wd AS n20l,
                  lead(close, 5) OVER wd AS chikou
           FROM w
           WINDOW wd AS (PARTITION BY event_type ORDER BY day))
         SELECT event_type, day, close, tenkan, kijun, senkou_a,
                senkou_b, chikou
         FROM dsp WHERE n20l = 20
         ORDER BY event_type, day""",
    "w41_ppo" -> ppoOracleSql,
    "w42_stochrsi" -> stochRsiOracleSql,
    "w43_trix" -> trixOracleSql,
    "w45_dema_tema" -> demaTemaOracleSql,
    "w46_mass_index" -> massIndexOracleSql,
    "w49_elder_ray" -> elderRayOracleSql,
    // daily candle + exact integer volume (BIGINT-cast sum — the w27
    // HUGEINT class), the same folded emv chain, decimal frame sum
    // via the VARCHAR hop for the signal SMA
    "w50_emv" ->
      """WITH c AS (
           SELECT event_type, date_trunc('day', ts) AS day,
                  max(value) AS high, min(value) AS low,
                  CAST(sum(CAST(json_extract_string(props, '$.k')
                                AS BIGINT)) AS BIGINT) AS vol
           FROM events GROUP BY 1, 2),
         p AS (
           SELECT event_type, day, high, low, vol,
                  (lag(high, 1) OVER wt + lag(low, 1) OVER wt) / 2
                    AS mid_prev
           FROM c
           WINDOW wt AS (PARTITION BY event_type ORDER BY day)),
         e AS (
           SELECT event_type, day, vol,
                  ((high + low) / 2 - mid_prev) * (high - low) *
                    CAST(10000 AS DOUBLE) / CAST(vol AS DOUBLE) AS emv
           FROM p WHERE mid_prev IS NOT NULL AND vol > 0),
         w AS (
           SELECT event_type, day, vol, emv,
                  count(*) OVER w5 AS n,
                  CAST(CAST(sum(CAST(round(emv, 6) AS DECIMAL(24,10)))
                       OVER w5 AS VARCHAR) AS DOUBLE) AS s5
           FROM e
           WINDOW w5 AS (PARTITION BY event_type ORDER BY day
                         ROWS BETWEEN 4 PRECEDING AND CURRENT ROW))
         SELECT event_type, day, vol, emv, s5 / n AS emv_sma5
         FROM w WHERE n = 5 ORDER BY event_type, day""",
    // daily high/low candle, exact DM/TR picks, the same staged
    // gates (frame → TR → DI-sum) BETWEEN the window stages so the
    // ADX frame runs over the same surviving dx rows, r6'd DX into
    // the decimal ADX fold
    "w52_adx" ->
      """WITH c AS (
           SELECT event_type, date_trunc('day', ts) AS day,
                  max(value) AS high, min(value) AS low
           FROM events GROUP BY 1, 2),
         p AS (
           SELECT event_type, day, high, low,
                  lag(high, 1) OVER wt AS ph, lag(low, 1) OVER wt AS pl
           FROM c
           WINDOW wt AS (PARTITION BY event_type ORDER BY day)),
         m AS (
           SELECT event_type, day,
                  CASE WHEN high - ph > pl - low AND high - ph > 0
                       THEN high - ph ELSE CAST(0 AS DOUBLE) END AS dm_p,
                  CASE WHEN pl - low > high - ph AND pl - low > 0
                       THEN pl - low ELSE CAST(0 AS DOUBLE) END AS dm_m,
                  greatest(high, ph) - least(low, pl) AS tr
           FROM p WHERE ph IS NOT NULL),
         w AS (
           SELECT event_type, day,
                  count(*) OVER w6 AS n6,
                  CAST(CAST(sum(CAST(tr AS DECIMAL(30,12))) OVER w6
                       AS VARCHAR) AS DOUBLE) AS str,
                  CAST(CAST(sum(CAST(dm_p AS DECIMAL(30,12))) OVER w6
                       AS VARCHAR) AS DOUBLE) AS sdp,
                  CAST(CAST(sum(CAST(dm_m AS DECIMAL(30,12))) OVER w6
                       AS VARCHAR) AS DOUBLE) AS sdm
           FROM m
           WINDOW w6 AS (PARTITION BY event_type ORDER BY day
                         ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)),
         di AS (
           SELECT event_type, day,
                  CAST(100 AS DOUBLE) * sdp / str AS di_plus,
                  CAST(100 AS DOUBLE) * sdm / str AS di_minus
           FROM w WHERE n6 = 6 AND str > 0),
         dx AS (
           SELECT event_type, day, di_plus, di_minus,
                  CAST(100 AS DOUBLE) * abs(di_plus - di_minus) /
                    (di_plus + di_minus) AS dx
           FROM di WHERE di_plus + di_minus > 0),
         adx AS (
           SELECT event_type, day, di_plus, di_minus, dx,
                  count(*) OVER w6 AS nadx,
                  CAST(CAST(sum(CAST(round(dx, 6) AS DECIMAL(24,10)))
                       OVER w6 AS VARCHAR) AS DOUBLE) AS sdx
           FROM dx
           WINDOW w6 AS (PARTITION BY event_type ORDER BY day
                         ROWS BETWEEN 5 PRECEDING AND CURRENT ROW))
         SELECT event_type, day, di_plus, di_minus, dx, sdx / nadx AS adx
         FROM adx WHERE nadx = 6 ORDER BY event_type, day""",
    // w16's candle CTE, W25's true-range picks, six decimal frame
    // sums (VARCHAR-hop renders), one fixed UO chain
    "w51_ultimate_osc" ->
      s"""WITH $HlcCtes,
         pc AS (
           SELECT event_type, day, high, low, close,
                  lag(close, 1) OVER (PARTITION BY event_type
                                      ORDER BY day) AS pcl
           FROM c),
         bt AS (
           SELECT event_type, day,
                  close - least(low, pcl) AS bp,
                  greatest(high, pcl) - least(low, pcl) AS tr
           FROM pc WHERE pcl IS NOT NULL),
         w AS (
           SELECT event_type, day,
                  count(*) OVER w12 AS n12,
                  CAST(CAST(sum(CAST(bp AS DECIMAL(30,12))) OVER w3
                       AS VARCHAR) AS DOUBLE) AS bp3,
                  CAST(CAST(sum(CAST(tr AS DECIMAL(30,12))) OVER w3
                       AS VARCHAR) AS DOUBLE) AS tr3,
                  CAST(CAST(sum(CAST(bp AS DECIMAL(30,12))) OVER w6
                       AS VARCHAR) AS DOUBLE) AS bp6,
                  CAST(CAST(sum(CAST(tr AS DECIMAL(30,12))) OVER w6
                       AS VARCHAR) AS DOUBLE) AS tr6,
                  CAST(CAST(sum(CAST(bp AS DECIMAL(30,12))) OVER w12
                       AS VARCHAR) AS DOUBLE) AS bp12,
                  CAST(CAST(sum(CAST(tr AS DECIMAL(30,12))) OVER w12
                       AS VARCHAR) AS DOUBLE) AS tr12
           FROM bt
           WINDOW w3 AS (PARTITION BY event_type ORDER BY day
                         ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
                  w6 AS (PARTITION BY event_type ORDER BY day
                         ROWS BETWEEN 5 PRECEDING AND CURRENT ROW),
                  w12 AS (PARTITION BY event_type ORDER BY day
                          ROWS BETWEEN 11 PRECEDING AND CURRENT ROW))
         SELECT event_type, day,
                CAST(100 AS DOUBLE) *
                  (CAST(4 AS DOUBLE) * (bp3 / tr3) +
                   CAST(2 AS DOUBLE) * (bp6 / tr6) +
                   bp12 / tr12) / CAST(7 AS DOUBLE) AS uo
         FROM w
         WHERE n12 = 12 AND tr3 > 0 AND tr6 > 0 AND tr12 > 0
         ORDER BY event_type, day""",
    // two fixed ROC chains on the daily means, then the 5-term
    // left-associated integer-weighted WMA — no aggregation, nothing
    // to pin; the deepest lag gates the full window
    "w47_coppock" ->
      s"""WITH $DailyPxCte,
         l AS (
           SELECT event_type, day, px,
                  lag(px, 10) OVER wt AS p10,
                  lag(px, 7) OVER wt AS p7
           FROM daily
           WINDOW wt AS (PARTITION BY event_type ORDER BY day)),
         s AS (
           SELECT event_type, day,
                  CAST(100 AS DOUBLE) * (px / p10 - 1) +
                    CAST(100 AS DOUBLE) * (px / p7 - 1) AS s
           FROM l),
         g AS (
           SELECT event_type, day, s,
                  lag(s, 1) OVER wt AS s1, lag(s, 2) OVER wt AS s2,
                  lag(s, 3) OVER wt AS s3, lag(s, 4) OVER wt AS s4
           FROM s
           WINDOW wt AS (PARTITION BY event_type ORDER BY day))
       SELECT event_type, day, s AS roc_sum,
              (CAST(5 AS DOUBLE) * s + CAST(4 AS DOUBLE) * s1 +
               CAST(3 AS DOUBLE) * s2 + CAST(2 AS DOUBLE) * s3 + s4)
                / 15 AS coppock
       FROM g WHERE s4 IS NOT NULL ORDER BY event_type, day""",
    // four r6'd ROC chains, pinned 5-frame SMA folds rendered at r6,
    // the fixed 1:2:3:4 combination, the signal re-pinning r6(kst);
    // the deepest ROC's full frame gates emission
    "w48_kst" ->
      s"""WITH $DailyPxCte,
         rr AS (
           SELECT event_type, day,
                  round(CAST(100 AS DOUBLE) *
                        (px / lag(px, 5) OVER wt - 1), 6) AS r5,
                  round(CAST(100 AS DOUBLE) *
                        (px / lag(px, 7) OVER wt - 1), 6) AS r7,
                  round(CAST(100 AS DOUBLE) *
                        (px / lag(px, 10) OVER wt - 1), 6) AS r10,
                  round(CAST(100 AS DOUBLE) *
                        (px / lag(px, 14) OVER wt - 1), 6) AS r14
           FROM daily
           WINDOW wt AS (PARTITION BY event_type ORDER BY day)),
         sm AS (
           SELECT event_type, day,
                  count(r14) OVER f5 AS c14,
                  round(CAST(CAST(sum(CAST(r5 AS DECIMAL(24,10)))
                        OVER f5 AS VARCHAR) AS DOUBLE)
                        / count(r5) OVER f5, 6) AS s1,
                  round(CAST(CAST(sum(CAST(r7 AS DECIMAL(24,10)))
                        OVER f5 AS VARCHAR) AS DOUBLE)
                        / count(r7) OVER f5, 6) AS s2,
                  round(CAST(CAST(sum(CAST(r10 AS DECIMAL(24,10)))
                        OVER f5 AS VARCHAR) AS DOUBLE)
                        / count(r10) OVER f5, 6) AS s3,
                  round(CAST(CAST(sum(CAST(r14 AS DECIMAL(24,10)))
                        OVER f5 AS VARCHAR) AS DOUBLE)
                        / count(r14) OVER f5, 6) AS s4
           FROM rr
           WINDOW f5 AS (PARTITION BY event_type ORDER BY day
                         ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)),
         kk AS (
           SELECT event_type, day,
                  CASE WHEN c14 = 5 THEN
                    s1 + CAST(2 AS DOUBLE) * s2 + CAST(3 AS DOUBLE) * s3
                       + CAST(4 AS DOUBLE) * s4 END AS kst_raw
           FROM sm),
         sg AS (
           SELECT event_type, day, kst_raw,
                  count(kst_raw) OVER f5 AS nsig,
                  CAST(CAST(sum(CAST(round(kst_raw, 6)
                       AS DECIMAL(24,10))) OVER f5 AS VARCHAR) AS DOUBLE)
                    / 5 AS signal
           FROM kk
           WINDOW f5 AS (PARTITION BY event_type ORDER BY day
                         ROWS BETWEEN 4 PRECEDING AND CURRENT ROW))
       SELECT event_type, day, round(kst_raw, 6) AS kst,
              round(signal, 6) AS signal
       FROM sg WHERE nsig = 5 ORDER BY event_type, day""",
    // one pinned frame sum → one render → one division; dpo on raw
    // doubles (pure elementwise, nothing to round)
    "w40_dpo" ->
      s"""WITH $DailyPxCte,
         f AS (
           SELECT event_type, day, px,
                  count(*) OVER w AS n,
                  CAST(CAST(sum(CAST(px AS DECIMAL(30,12))) OVER w
                       AS VARCHAR) AS DOUBLE) / 20 AS sma,
                  lag(px, 11) OVER (PARTITION BY event_type
                                    ORDER BY day) AS ref
           FROM daily
           WINDOW w AS (PARTITION BY event_type ORDER BY day
                        ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
       SELECT event_type, day, px, sma, ref - sma AS dpo
       FROM f WHERE n = 20 ORDER BY event_type, day""",
    "w11_gap_fill" ->
      """WITH daily AS (
           SELECT user_id, date_trunc('day', ts) AS day,
                  round(CAST(CAST(sum(CAST(value AS DECIMAL(24,10))) AS VARCHAR) AS DOUBLE), 6)
                    AS v
           FROM events GROUP BY 1, 2),
         spine AS (
           SELECT user_id,
                  unnest(generate_series(min(day), max(day),
                                         INTERVAL 1 DAY)) AS day
           FROM daily GROUP BY user_id)
         SELECT s.user_id, s.day, d.v IS NULL AS gap,
                last_value(d.v IGNORE NULLS) OVER (
                  PARTITION BY s.user_id ORDER BY s.day
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS v_filled
         FROM spine s LEFT JOIN daily d
           ON s.user_id = d.user_id AND s.day = d.day
         ORDER BY s.user_id, s.day""",
    "w10_ranking" ->
      """SELECT user_id, event_id, value,
                CAST(ntile(4) OVER w AS BIGINT) AS quartile,
                percent_rank() OVER w AS pct_rank,
                CAST(dense_rank() OVER w AS BIGINT) AS dns_rank
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY value, event_id)
         ORDER BY user_id, event_id""",
    "w23_bollinger" ->
      s"""WITH ${dailyMeanCte("dly", "px")},
         win AS (
           SELECT event_type, day, px,
                  count(*) OVER w AS n_win,
                  CAST(CAST(sum(CAST(px AS DECIMAL(24,10))) OVER w
                       AS VARCHAR) AS DOUBLE) AS s1,
                  CAST(CAST(sum(CAST(px * px AS DECIMAL(30,10))) OVER w
                       AS VARCHAR) AS DOUBLE) AS s2
           FROM dly
           WINDOW w AS (PARTITION BY event_type ORDER BY day
                        ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)),
         b AS (
           SELECT event_type, day, px,
                  s1 / 20 AS mid,
                  sqrt((s2 - s1 * s1 / 20) / 19) AS sd
           FROM win WHERE n_win = 20)
         SELECT event_type, day, round(px, 6) AS px,
                round(mid, 6) AS mid,
                round(mid + 2.0 * sd, 6) AS upper,
                round(mid - 2.0 * sd, 6) AS lower,
                round((px - (mid - 2.0 * sd)) /
                      ((mid + 2.0 * sd) - (mid - 2.0 * sd)), 6) AS pct_b
         FROM b ORDER BY event_type, day""",
    // same decimal running numerator (VARCHAR-hop double render),
    // exact integer volume, F5's JSON quantity extraction
    "w24_vwap" ->
      """WITH e AS (
           SELECT event_id, event_type, date_trunc('day', ts) AS day,
                  ts, value,
                  CAST(json_extract_string(props, '$.k') AS BIGINT) AS qty
           FROM events),
         win AS (
           SELECT event_id, event_type, day, qty,
                  CAST(CAST(sum(CAST(value * qty AS DECIMAL(24,10)))
                       OVER w AS VARCHAR) AS DOUBLE) AS pv,
                  sum(qty) OVER w AS vol
           FROM e
           WINDOW w AS (PARTITION BY event_type, day ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         SELECT event_id, event_type, day, qty,
                pv / nullif(vol, 0) AS vwap
         FROM win ORDER BY event_id""",
    "w17_rolling_zscore" ->
      """WITH win AS (
           SELECT user_id, event_id, value,
                  count(value) OVER w AS n_prior,
                  CAST(CAST(sum(CAST(value AS DECIMAL(24,10))) OVER w
                       AS VARCHAR) AS DOUBLE) AS s1,
                  CAST(CAST(sum(CAST(value * value AS DECIMAL(30,10))) OVER w
                       AS VARCHAR) AS DOUBLE) AS s2
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN 15 PRECEDING AND 1 PRECEDING)),
         scored AS (
           SELECT user_id, event_id, value, n_prior,
                  s1 / n_prior AS mean,
                  (s2 - s1 * s1 / n_prior) / (n_prior - 1) AS variance
           FROM win WHERE n_prior >= 10)
         SELECT user_id, event_id, value,
                round(mean, 6) AS win_mean,
                round((value - mean) / sqrt(variance), 6) AS z
         FROM scored
         WHERE variance > 0 AND abs((value - mean) / sqrt(variance)) > 2.5
         ORDER BY user_id, event_id""",
    "w16_ohlc_candles" ->
      s"""WITH ${tickCtes()}
         SELECT event_type, day,
                max(CASE WHEN rn = 1 THEN value END) AS open,
                max(value) AS high, min(value) AS low,
                max(CASE WHEN rn = cnt THEN value END) AS close,
                count(*) AS n
         FROM r GROUP BY 1, 2 ORDER BY event_type, day""",
    // w16's candle CTE, then raw-IEEE true range and a decimal-pinned
    // 5-day sliding mean (one division, no rounding)
    "w25_atr" ->
      s"""WITH $TrueRangeCtes,
         w AS (
           SELECT event_type, day, tr,
                  count(*) OVER w5 AS n_win,
                  CAST(CAST(sum(CAST(tr AS DECIMAL(24,10))) OVER w5
                       AS VARCHAR) AS DOUBLE) / 5 AS atr
           FROM tr
           WINDOW w5 AS (PARTITION BY event_type ORDER BY day
                         ROWS BETWEEN 4 PRECEDING AND CURRENT ROW))
         SELECT event_type, day, tr, atr
         FROM w WHERE n_win = 5 ORDER BY event_type, day""",
    // w25's candle/TR/pinned-ATR chain + exact HH/LL extreme picks;
    // stops one fixed chain each, verdict an exact comparison
    "w53_chandelier" ->
      s"""WITH $TrueRangeCtes,
         w AS (
           SELECT event_type, day, close,
                  count(*) OVER w5 AS n_win,
                  CAST(CAST(sum(CAST(tr AS DECIMAL(24,10))) OVER w5
                       AS VARCHAR) AS DOUBLE) / 5 AS atr,
                  max(high) OVER w5 AS hh,
                  min(low) OVER w5 AS ll
           FROM tr
           WINDOW w5 AS (PARTITION BY event_type ORDER BY day
                         ROWS BETWEEN 4 PRECEDING AND CURRENT ROW))
         SELECT event_type, day, atr, hh, ll,
                hh - CAST(3.0 AS DOUBLE) * atr AS long_stop,
                ll + CAST(3.0 AS DOUBLE) * atr AS short_stop,
                close > hh - CAST(3.0 AS DOUBLE) * atr AS above_long_stop
         FROM w WHERE n_win = 5 ORDER BY event_type, day""",
    // w16's candle CTE, 5-day envelope %K (raw division chain) and
    // decimal-pinned 3-day %D over full %K windows
    "w26_stochastic" ->
      s"""WITH $HlcCtes,
         k AS (
           SELECT event_type, day,
                  count(*) OVER w5 AS n_win,
                  CASE WHEN count(*) OVER w5 = 5
                            AND max(high) OVER w5 <> min(low) OVER w5
                       THEN 100.0 * (close - min(low) OVER w5) /
                            (max(high) OVER w5 - min(low) OVER w5)
                  END AS pct_k
           FROM c
           WINDOW w5 AS (PARTITION BY event_type ORDER BY day
                         ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)),
         dd AS (
           SELECT event_type, day, n_win, pct_k,
                  CASE WHEN count(pct_k) OVER w3 = 3
                       THEN CAST(CAST(sum(CAST(pct_k AS DECIMAL(24,10)))
                            OVER w3 AS VARCHAR) AS DOUBLE) / 3
                  END AS pct_d
           FROM k
           WINDOW w3 AS (PARTITION BY event_type ORDER BY day
                         ROWS BETWEEN 2 PRECEDING AND CURRENT ROW))
         SELECT event_type, day, pct_k, pct_d
         FROM dd WHERE n_win = 5 ORDER BY event_type, day""",
    // w16's candle CTE; every level is the same fixed-order IEEE
    // chain over the lagged picks — raw doubles
    "w30_pivot_points" ->
      s"""WITH $HlcCtes,
         lagd AS (
           SELECT event_type, day,
                  lag(high) OVER w AS ph, lag(low) OVER w AS pl,
                  lag(close) OVER w AS pc
           FROM c WINDOW w AS (PARTITION BY event_type ORDER BY day)),
         pp AS (
           SELECT event_type, day, ph, pl, (ph + pl + pc) / 3 AS p
           FROM lagd WHERE pc IS NOT NULL)
         SELECT event_type, day, p AS pivot,
                CAST(2.0 AS DOUBLE) * p - pl AS r1,
                CAST(2.0 AS DOUBLE) * p - ph AS s1,
                p + (ph - pl) AS r2,
                p - (ph - pl) AS s2
         FROM pp ORDER BY event_type, day""",
    // w16's candle CTE; tp3 = h+l+c (no ÷3 — scale-invariant), frame
    // sums replayed via list() OVER + list_sum in index order = the
    // engine's left-fold aggregate HOF — raw doubles, no pins
    "w31_cci" ->
      s"""WITH $HlcCtes,
         t AS (
           SELECT event_type, day, high + low + close AS tp3 FROM c),
         f AS (
           SELECT event_type, day, tp3,
                  list(tp3) OVER (PARTITION BY event_type ORDER BY day
                    ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS xs
           FROM t),
         m AS (
           SELECT event_type, day, tp3, list_sum(xs) / 20 AS sma3, xs
           FROM f WHERE len(xs) = 20),
         dv AS (
           SELECT event_type, day, tp3, sma3,
                  list_sum(list_transform(xs, x -> abs(x - sma3))) / 20
                    AS md3
           FROM m)
         SELECT event_type, day, sma3, md3,
                CASE WHEN md3 <> CAST(0 AS DOUBLE)
                     THEN (tp3 - sma3) / (CAST(0.015 AS DOUBLE) * md3)
                END AS cci
         FROM dv ORDER BY event_type, day""",
    // most-recent-extreme position via list_reverse + list_position
    // (exact double equality); integer days_since → one division
    "w32_aroon" ->
      """WITH e AS (
           SELECT event_type, date_trunc('day', ts) AS day, value
           FROM events),
         c AS (
           SELECT event_type, day, max(value) AS high, min(value) AS low
           FROM e GROUP BY 1, 2),
         f AS (
           SELECT event_type, day,
                  list(high) OVER w AS hs, list(low) OVER w AS ls
           FROM c WINDOW w AS (PARTITION BY event_type ORDER BY day
                    ROWS BETWEEN 14 PRECEDING AND CURRENT ROW)),
         p AS (
           SELECT event_type, day,
                  list_position(list_reverse(hs), list_max(hs)) - 1 AS dsh,
                  list_position(list_reverse(ls), list_min(ls)) - 1 AS dsl
           FROM f WHERE len(hs) = 15),
         a AS (
           SELECT event_type, day, dsh, dsl,
                  CAST(100 AS DOUBLE) * (14 - dsh) / CAST(14 AS DOUBLE)
                    AS aroon_up,
                  CAST(100 AS DOUBLE) * (14 - dsl) / CAST(14 AS DOUBLE)
                    AS aroon_dn
           FROM p)
         SELECT event_type, day,
                CAST(dsh AS BIGINT) AS days_since_high,
                CAST(dsl AS BIGINT) AS days_since_low,
                aroon_up, aroon_dn, aroon_up - aroon_dn AS aroon_osc
         FROM a ORDER BY event_type, day""",
    // w16's candle CTE; exact envelope extremes, one raw division
    "w33_williams_r" ->
      s"""WITH $HlcCtes,
         w AS (
           SELECT event_type, day, close,
                  count(*) OVER w14 AS n_win,
                  max(high) OVER w14 AS hh,
                  min(low) OVER w14 AS ll
           FROM c
           WINDOW w14 AS (PARTITION BY event_type ORDER BY day
                          ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
         SELECT event_type, day, hh, ll,
                CASE WHEN hh <> ll
                     THEN CAST(-100 AS DOUBLE) * (hh - close) / (hh - ll)
                END AS pct_r
         FROM w WHERE n_win = 14 ORDER BY event_type, day""",
    // w16's candle CTE; decimal-pinned SMA sums (VARCHAR-hop render),
    // one division each, band adds on the rendered doubles
    "w34_keltner" ->
      s"""WITH $HlcCtes,
         w AS (
           SELECT event_type, day,
                  count(*) OVER w10 AS n_win,
                  CAST(CAST(sum(CAST(high + low + close AS DECIMAL(24,10)))
                       OVER w10 AS VARCHAR) AS DOUBLE) / 30 AS center,
                  CAST(CAST(sum(CAST(high - low AS DECIMAL(24,10)))
                       OVER w10 AS VARCHAR) AS DOUBLE) / 10 AS band
           FROM c
           WINDOW w10 AS (PARTITION BY event_type ORDER BY day
                          ROWS BETWEEN 9 PRECEDING AND CURRENT ROW))
         SELECT event_type, day, center,
                center + band AS upper, center - band AS lower
         FROM w WHERE n_win = 10 ORDER BY event_type, day""",
    // close-only candle; exact trailing max, raw dd chain, pinned dd²
    // frame mean, sqrt of the single division
    "w35_ulcer" ->
      s"""WITH $CloseCtes,
         dd AS (
           SELECT event_type, day,
                  count(*) OVER w14 AS n_win,
                  CAST(100 AS DOUBLE) * (close - max(close) OVER w14)
                    / (max(close) OVER w14) AS dd
           FROM c
           WINDOW w14 AS (PARTITION BY event_type ORDER BY day
                          ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
         SELECT event_type, day, dd,
                sqrt(CAST(CAST(sum(CAST(dd * dd AS DECIMAL(28,8)))
                     OVER w14 AS VARCHAR) AS DOUBLE) / 14) AS ulcer
         FROM dd
         WINDOW w14 AS (PARTITION BY event_type ORDER BY day
                        ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
         QUALIFY n_win = 14
         ORDER BY event_type, day""",
    // w25's TR plus the two crossing movements, three pinned frame
    // sums, one division per VI
    "w36_vortex" ->
      s"""WITH $HlcCtes,
         pc AS (
           SELECT *,
                  lag(close) OVER wt AS prev_close,
                  lag(high) OVER wt AS prev_high,
                  lag(low) OVER wt AS prev_low
           FROM c WINDOW wt AS (PARTITION BY event_type ORDER BY day)),
         m AS (
           SELECT event_type, day,
                  abs(high - prev_low) AS vm_p,
                  abs(low - prev_high) AS vm_m,
                  greatest(high - low, abs(high - prev_close),
                           abs(low - prev_close)) AS tr
           FROM pc WHERE prev_close IS NOT NULL),
         w AS (
           SELECT event_type, day,
                  count(*) OVER w14 AS n_win,
                  CAST(CAST(sum(CAST(vm_p AS DECIMAL(24,10))) OVER w14
                       AS VARCHAR) AS DOUBLE) AS s_vp,
                  CAST(CAST(sum(CAST(vm_m AS DECIMAL(24,10))) OVER w14
                       AS VARCHAR) AS DOUBLE) AS s_vm,
                  CAST(CAST(sum(CAST(tr AS DECIMAL(24,10))) OVER w14
                       AS VARCHAR) AS DOUBLE) AS s_tr
           FROM m
           WINDOW w14 AS (PARTITION BY event_type ORDER BY day
                          ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
         SELECT event_type, day,
                CASE WHEN s_tr <> CAST(0 AS DOUBLE)
                     THEN s_vp / s_tr END AS vi_plus,
                CASE WHEN s_tr <> CAST(0 AS DOUBLE)
                     THEN s_vm / s_tr END AS vi_minus
         FROM w WHERE n_win = 14 ORDER BY event_type, day""",
    // w24's JSON volume, raw mfm/mfv chain, decimal(28,4)-pinned mfv
    // sums (frame + running), exact integer volume denominator
    "w37_cmf" ->
      s"""WITH ${tickCtes(qty = true)},
         c AS (
           SELECT event_type, day, max(value) AS high, min(value) AS low,
                  max(CASE WHEN rn = cnt THEN value END) AS close,
                  CAST(sum(qty) AS BIGINT) AS vol
           FROM r GROUP BY 1, 2),
         m AS (
           SELECT event_type, day, vol,
                  CASE WHEN high <> low
                       THEN ((close - low) - (high - close)) / (high - low)
                       ELSE CAST(0 AS DOUBLE) END
                    * CAST(vol AS DOUBLE) AS mfv
           FROM c),
         w AS (
           SELECT event_type, day, mfv,
                  count(*) OVER w20 AS n_win,
                  CAST(CAST(sum(CAST(mfv AS DECIMAL(28,4))) OVER w20
                       AS VARCHAR) AS DOUBLE) AS s_mfv,
                  CAST(sum(vol) OVER w20 AS BIGINT) AS s_vol,
                  CAST(CAST(sum(CAST(mfv AS DECIMAL(28,4))) OVER wall
                       AS VARCHAR) AS DOUBLE) AS ad_line
           FROM m
           WINDOW w20 AS (PARTITION BY event_type ORDER BY day
                          ROWS BETWEEN 19 PRECEDING AND CURRENT ROW),
                  wall AS (PARTITION BY event_type ORDER BY day
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW))
         SELECT event_type, day, mfv,
                CASE WHEN n_win = 20 AND s_vol <> 0
                     THEN s_mfv / s_vol END AS cmf,
                ad_line
         FROM w ORDER BY event_type, day""",
    // close-only candle; raw IEEE deltas, pinned frame sums rendered
    // once, one fixed 3-flop CMO chain
    "w38_cmo" ->
      s"""WITH $CloseCtes,
         dl AS (
           SELECT event_type, day,
                  close - lag(close) OVER (PARTITION BY event_type
                                           ORDER BY day) AS delta
           FROM c),
         g AS (
           SELECT event_type, day, delta,
                  CASE WHEN delta > 0 THEN delta
                       ELSE CAST(0 AS DOUBLE) END AS gain,
                  CASE WHEN delta < 0 THEN -delta
                       ELSE CAST(0 AS DOUBLE) END AS loss
           FROM dl),
         w AS (
           SELECT event_type, day, delta,
                  count(delta) OVER w14 AS n,
                  CAST(CAST(sum(CAST(gain AS DECIMAL(30,12))) OVER w14
                       AS VARCHAR) AS DOUBLE) AS su,
                  CAST(CAST(sum(CAST(loss AS DECIMAL(30,12))) OVER w14
                       AS VARCHAR) AS DOUBLE) AS sd
           FROM g
           WINDOW w14 AS (PARTITION BY event_type ORDER BY day
                          ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
         SELECT event_type, day, su, sd,
                CASE WHEN su + sd <> CAST(0 AS DOUBLE)
                     THEN CAST(100 AS DOUBLE) * (su - sd) / (su + sd)
                END AS cmo
         FROM w WHERE n = 14 AND delta IS NOT NULL
         ORDER BY event_type, day""",
    // w24's JSON volume; raw delta·vol product, decimal(28,4)-pinned
    // frame sum rendered once
    "w39_force_index" ->
      s"""WITH $CloseVolCtes,
         f AS (
           SELECT event_type, day,
                  (close - lag(close) OVER (PARTITION BY event_type
                                            ORDER BY day))
                    * CAST(vol AS DOUBLE) AS fi
           FROM c),
         w AS (
           SELECT event_type, day, fi,
                  count(fi) OVER w13 AS n,
                  CAST(CAST(sum(CAST(fi AS DECIMAL(28,4))) OVER w13
                       AS VARCHAR) AS DOUBLE) AS fi13
           FROM f
           WINDOW w13 AS (PARTITION BY event_type ORDER BY day
                          ROWS BETWEEN 12 PRECEDING AND CURRENT ROW))
         SELECT event_type, day, fi, fi13
         FROM w WHERE n = 13 ORDER BY event_type, day""",
    // w16's candle CTE; exact extreme picks and comparisons only
    "w29_donchian" ->
      s"""WITH $HlcCtes,
         w AS (
           SELECT event_type, day, close,
                  count(*) OVER w5 AS n_win,
                  max(high) OVER w5 AS upper,
                  min(low) OVER w5 AS lower,
                  count(*) OVER w5p AS n_prior,
                  close > max(high) OVER w5p AS breakout_up,
                  close < min(low) OVER w5p AS breakout_dn
           FROM c
           WINDOW w5 AS (PARTITION BY event_type ORDER BY day
                         ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
                  w5p AS (PARTITION BY event_type ORDER BY day
                          ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING)
           )
         SELECT event_type, day, close, upper, lower,
                breakout_up, breakout_dn
         FROM w WHERE n_win = 5 AND n_prior = 5
         ORDER BY event_type, day""",
    // w16's candle CTE + the F5 JSON volume; sign split and running
    // sum are integer end to end — but DuckDB widens BIGINT sums to
    // HUGEINT (the a57/f12 class), so both the daily vol and the
    // running obv pin back through CAST(... AS BIGINT)
    "w27_obv" ->
      s"""WITH $CloseVolCtes,
         pc AS (
           SELECT *, lag(close) OVER (PARTITION BY event_type
                                      ORDER BY day) AS prev_close
           FROM c),
         sv AS (
           SELECT event_type, day, vol,
                  CASE WHEN close > prev_close THEN vol
                       WHEN close < prev_close THEN -vol
                       ELSE 0 END AS signed_vol
           FROM pc WHERE prev_close IS NOT NULL)
         SELECT event_type, day, vol, signed_vol,
                CAST(sum(signed_vol) OVER (PARTITION BY event_type
                  ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND
                  CURRENT ROW) AS BIGINT) AS obv
         FROM sv ORDER BY event_type, day""",
    // w16's candles + F5 JSON volume; tp and tp*vol raw IEEE,
    // windowed pos/neg sums decimal-pinned, final chain raw
    "w28_mfi" ->
      s"""WITH ${tickCtes(qty = true)},
         c AS (
           SELECT event_type, day, max(value) AS high, min(value) AS low,
                  max(CASE WHEN rn = cnt THEN value END) AS close,
                  sum(qty) AS vol
           FROM r GROUP BY 1, 2),
         tp AS (
           SELECT event_type, day,
                  high + low + close AS tp3, vol,
                  lag(high + low + close) OVER (
                    PARTITION BY event_type ORDER BY day) AS prev_tp3
           FROM c),
         mf AS (
           SELECT event_type, day, tp3, prev_tp3, tp3 * vol AS mf
           FROM tp WHERE prev_tp3 IS NOT NULL),
         w AS (
           SELECT event_type, day,
                  count(*) OVER w5 AS n_win,
                  CAST(CAST(sum(CAST(CASE WHEN tp3 > prev_tp3 THEN mf
                         ELSE CAST(0.0 AS DOUBLE) END AS DECIMAL(28,4)))
                       OVER w5 AS VARCHAR) AS DOUBLE) AS pos_mf,
                  CAST(CAST(sum(CAST(CASE WHEN tp3 < prev_tp3 THEN mf
                         ELSE CAST(0.0 AS DOUBLE) END AS DECIMAL(28,4)))
                       OVER w5 AS VARCHAR) AS DOUBLE) AS neg_mf
           FROM mf
           WINDOW w5 AS (PARTITION BY event_type ORDER BY day
                         ROWS BETWEEN 4 PRECEDING AND CURRENT ROW))
         SELECT event_type, day,
                CASE WHEN pos_mf + neg_mf > 0
                     THEN CAST(100.0 AS DOUBLE) * pos_mf /
                          (pos_mf + neg_mf) END AS mfi
         FROM w WHERE n_win = 5 ORDER BY event_type, day""",
    "w15_cum_return" ->
      s"""WITH ${dailyMeanCte("daily", "v")},
         r AS (
           SELECT event_type, day, v,
                  v / lag(v) OVER (PARTITION BY event_type ORDER BY day) - 1
                    AS ret
           FROM daily)
         SELECT event_type, day, round(ret, 6) AS ret,
                round(exp(sum(ln(1 + ret)) OVER (
                  PARTITION BY event_type ORDER BY day
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 6)
                  AS cum_growth
         FROM r WHERE ret IS NOT NULL ORDER BY event_type, day""",
    "w18_rolling_corr" ->
      s"""WITH ${dailyMeanCte("daily", "y")},
         market AS (
           SELECT date_trunc('day', ts) AS day,
                  CAST(CAST(sum(CAST(value AS DECIMAL(24,10))) AS VARCHAR)
                       AS DOUBLE) / count(*) AS x
           FROM events GROUP BY 1),
         j AS (
           SELECT event_type, d.day, x, y
           FROM daily d JOIN market m ON d.day = m.day),
         r AS (
           SELECT event_type, day, count(*) OVER w AS n,
                  CAST(CAST(sum(CAST(x AS DECIMAL(30,12))) OVER w
                       AS VARCHAR) AS DOUBLE) AS sx,
                  CAST(CAST(sum(CAST(y AS DECIMAL(30,12))) OVER w
                       AS VARCHAR) AS DOUBLE) AS sy,
                  CAST(CAST(sum(CAST(x * x AS DECIMAL(30,12))) OVER w
                       AS VARCHAR) AS DOUBLE) AS sxx,
                  CAST(CAST(sum(CAST(y * y AS DECIMAL(30,12))) OVER w
                       AS VARCHAR) AS DOUBLE) AS syy,
                  CAST(CAST(sum(CAST(x * y AS DECIMAL(30,12))) OVER w
                       AS VARCHAR) AS DOUBLE) AS sxy
           FROM j
           WINDOW w AS (PARTITION BY event_type ORDER BY day
                        ROWS BETWEEN 9 PRECEDING AND CURRENT ROW))
         SELECT event_type, day,
                CASE WHEN (n*sxx - sx*sx) * (n*syy - sy*sy) > 0 THEN
                  round((n*sxy - sx*sy) /
                    sqrt((n*sxx - sx*sx) * (n*syy - sy*sy)), 6)
                END AS roll_corr
         FROM r WHERE n = 10 ORDER BY event_type, day""",
    "w9_rolling_mean" ->
      """SELECT user_id, event_id, value,
                round(CAST(CAST(sum(CAST(value AS DECIMAL(24,10))) OVER w AS VARCHAR) AS DOUBLE)
                      / count(*) OVER w, 6) AS roll_avg
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
         ORDER BY user_id, event_id""",
    "w1_forward_return" ->
      """SELECT user_id, event_id,
                nxt / nullif(value, 0) - 1 AS ret_1 FROM (
           SELECT user_id, event_id, value,
                  lead(value, 1) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS nxt
           FROM events) WHERE nxt IS NOT NULL
         ORDER BY user_id, event_id""",
    "w2_lead_k" ->
      """SELECT user_id, event_id,
                nxt3 / nullif(value, 0) - 1 AS ret_3 FROM (
           SELECT user_id, event_id, value,
                  lead(value, 3) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS nxt3
           FROM events) WHERE nxt3 IS NOT NULL
         ORDER BY user_id, event_id""",
    "w3_running_max" ->
      """SELECT user_id, event_id, value,
                max(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
         FROM events ORDER BY user_id, event_id""",
    "w4_drawdown" ->
      """SELECT user_id, event_id,
                value / nullif(peak, 0) - 1 AS dd FROM (
           SELECT user_id, event_id, value,
                  max(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
           FROM events)
         ORDER BY user_id, event_id""",
    "w5_max_drawdown" ->
      """SELECT user_id, event_id, dd AS max_dd FROM (
           SELECT user_id, event_id, dd,
                  row_number() OVER (PARTITION BY user_id
                    ORDER BY dd NULLS LAST, ts, event_id) AS rn
           FROM (
             SELECT user_id, event_id, ts,
                    value / nullif(peak, 0) - 1 AS dd FROM (
               SELECT user_id, event_id, ts, value,
                      max(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
               FROM events)))
         WHERE rn = 1 ORDER BY user_id""",
    "w5_dd_period" ->
      """WITH base AS (
           SELECT user_id, event_id, ts, value,
                  max(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
           FROM events),
         dd AS (
           SELECT user_id, event_id, ts, value, peak,
                  value / nullif(peak, 0) - 1 AS dd
           FROM base),
         trough AS (
           SELECT user_id, ts AS trough_ts, event_id AS trough_eid,
                  dd AS max_dd, peak AS peak_val
           FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                   ORDER BY dd NULLS LAST, ts, event_id) AS rn FROM dd)
           WHERE rn = 1)
         SELECT d.user_id, t.max_dd,
                CAST(min(d.ts) AS DATE) AS peak_date,
                CAST(t.trough_ts AS DATE) AS trough_date,
                date_diff('day', CAST(min(d.ts) AS DATE),
                          CAST(t.trough_ts AS DATE)) AS dd_duration_days
         FROM dd d JOIN trough t ON d.user_id = t.user_id
         WHERE (d.ts < t.trough_ts
                OR (d.ts = t.trough_ts AND d.event_id <= t.trough_eid))
           AND d.value = t.peak_val
         GROUP BY d.user_id, t.max_dd, t.trough_ts
         ORDER BY d.user_id""",
    "w6_streaks" ->
      """WITH flagged AS (
           SELECT user_id, event_id, ts, value > 100 AS win FROM events),
         chg AS (
           SELECT user_id, event_id, ts, win,
                  CASE WHEN lag(win) OVER (PARTITION BY user_id
                         ORDER BY ts, event_id) IS NULL
                       OR lag(win) OVER (PARTITION BY user_id
                         ORDER BY ts, event_id) <> win
                       THEN 1 ELSE 0 END AS c
           FROM flagged),
         streaks AS (
           SELECT user_id, win,
                  sum(c) OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS streak_id
           FROM chg),
         lens AS (
           SELECT user_id, win, streak_id, count(*) AS len
           FROM streaks GROUP BY 1, 2, 3)
         SELECT user_id, win, max(len) AS max_streak
         FROM lens GROUP BY 1, 2 ORDER BY user_id, win""",
    "w7_daily_returns" ->
      """WITH daily AS (
           SELECT date_trunc('day', o_orderdate) AS day,
                  sum(o_totalprice) AS rev
           FROM orders GROUP BY 1)
         SELECT day, round(rev / prev - 1, 6) AS ret FROM (
           SELECT day, rev, lag(rev, 1) OVER (ORDER BY day) AS prev
           FROM daily) WHERE prev IS NOT NULL
         ORDER BY day""",
    "w8_latest_run" ->
      """SELECT user_id, event_id, ts, value FROM (
           SELECT user_id, event_id, ts, value,
                  row_number() OVER (PARTITION BY user_id
                                     ORDER BY ts DESC, event_id DESC) AS rn
           FROM events) WHERE rn = 1
         ORDER BY user_id""",
    "j4_asof_join" ->
      """WITH spine AS (
           SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events),
         purchases AS (
           SELECT user_id, ts, value FROM events
           WHERE event_type = 'purchase')
         SELECT s.user_id, s.day, round(p.value, 6) AS asof_value
         FROM spine s ASOF LEFT JOIN purchases p
           ON s.user_id = p.user_id AND s.day + INTERVAL 1 DAY > p.ts
         ORDER BY s.user_id, s.day""",
    "j8_asof_tolerance" ->
      """WITH spine AS (
           SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events),
         purchases AS (
           SELECT user_id, ts, value FROM events
           WHERE event_type = 'purchase')
         SELECT s.user_id, s.day,
                CASE WHEN datediff('day', date_trunc('day', p.ts), s.day) <= 3
                     THEN round(p.value, 6) END AS asof_value
         FROM spine s ASOF LEFT JOIN purchases p
           ON s.user_id = p.user_id AND s.day + INTERVAL 1 DAY > p.ts
         ORDER BY s.user_id, s.day""",
    // no native 'nearest' ASOF: replay the identical two-directional
    // ignore-nulls fills (the forward pick is the LAST purchase of
    // the nearest future day — an ASOF on raw ts would take the
    // first, a different row)
    "j12_asof_nearest" ->
      """WITH spine AS (
           SELECT DISTINCT user_id, date_trunc('day', ts) AS day
           FROM events),
         pd AS (
           SELECT user_id, day, value AS day_val, day AS src_day
           FROM (
             SELECT user_id, date_trunc('day', ts) AS day, value,
                    row_number() OVER (
                      PARTITION BY user_id, date_trunc('day', ts)
                      ORDER BY ts DESC, event_id DESC) AS rn
             FROM events WHERE event_type = 'purchase')
           WHERE rn = 1),
         f AS (
           SELECT s.user_id, s.day,
                  last_value(p.day_val IGNORE NULLS) OVER wb AS bv,
                  last_value(p.src_day IGNORE NULLS) OVER wb AS bs,
                  first_value(p.day_val IGNORE NULLS) OVER wf AS fv,
                  first_value(p.src_day IGNORE NULLS) OVER wf AS fs
           FROM spine s LEFT JOIN pd p
             ON s.user_id = p.user_id AND s.day = p.day
           WINDOW wb AS (PARTITION BY s.user_id ORDER BY s.day
                         ROWS BETWEEN UNBOUNDED PRECEDING AND
                         CURRENT ROW),
                  wf AS (PARTITION BY s.user_id ORDER BY s.day
                         ROWS BETWEEN CURRENT ROW AND
                         UNBOUNDED FOLLOWING)),
         g AS (
           SELECT user_id, day,
                  bv, fv,
                  CAST(datediff('day', bs, day) AS BIGINT) AS bd,
                  CAST(datediff('day', day, fs) AS BIGINT) AS fd,
                  bd IS NOT NULL AND (fd IS NULL OR bd <= fd) AS use_b
           FROM f)
         SELECT user_id, day,
                CASE WHEN use_b THEN bv ELSE fv END AS nearest_value,
                CASE WHEN use_b THEN bd ELSE fd END AS dist_days,
                CASE WHEN use_b THEN 'backward'
                     WHEN fd IS NOT NULL THEN 'forward' END AS direction
         FROM g ORDER BY user_id, day"""
  )
}
