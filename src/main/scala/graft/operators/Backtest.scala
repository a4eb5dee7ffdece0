package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

import scala.collection.mutable

/** Strategy parameters of the portfolio fold (mirroring
  * `config/stock_universe.py:26-28` and `scripts/07_backtest.py:26-30`
  * semantics). The reference's dashboard re-runs the backtest with
  * slider-chosen parameters (`app/experiment.py:252-325`); this config
  * is that re-run surface: thread any instance through
  * [[Backtest.fold]]/[[Backtest.run]].
  */
final case class BacktestConfig(
    initialCash: Double,
    positionFrac: Double,  // fraction of cash per entry (07_backtest.py:27)
    maxPositions: Int,     // position cap (07_backtest.py:58-60)
    stopLoss: Double,      // exit at/below this return
    takeProfit: Double,    // exit at/above this return
    holdDays: Int,         // max holding period in trading days
    cost: Double,          // transaction cost rate (07_backtest.py:29)
    slippage: Double)      // per-leg slippage rate (07_backtest.py:30)

object BacktestConfig {
  /** The shipped default run. */
  val Default = BacktestConfig(10000.0, 0.8, 3, -0.05, 0.20, 5, 0.001, 0.0005)
  /** The reference's published long-hold variant
    * (`trades/HOLDING_PERIOD_24/`): same strategy, 24-day max hold. */
  val Hold24 = Default.copy(holdDays = 24)
}

/** T7 — the sequential portfolio backtest fold, plus its downstream
  * metric blocks (A8 trade metrics, A10 risk metrics) over the fold's
  * own output.
  *
  * Reference: `scripts/07_backtest.py:37-164` — a day-ordered loop
  * carrying `{cash, positions, equity_history, trade_history}`; per
  * day it ages positions, exits on stop-loss/take-profit/hold-period,
  * enters on BUY (one 80%-of-cash position, slippage+cost), marks
  * equity to market, and force-closes at the end. Shared cash couples
  * all keys ⇒ inherently sequential in day order.
  *
  * Spark shape (SURVEY §2.9 T7): the fold itself CANNOT parallelize
  * across days, so the design isolates it: everything before the fold
  * is distributed (daily per-key aggregation = map-side-combinable
  * hash agg over the fact table), and only the already-aggregated
  * per-(day,key) signal rows — O(days × keys), thousands of rows at
  * any fact-table scale — pass through a single deliberate
  * `coalesce(1).mapPartitions` running the pure fold. At 100 TB the
  * fold input stays the same size; only the upstream agg scales.
  *
  * Round 14: the fold IS hash-checked — [[foldOracleSql]] replays the
  * whole state machine as a DuckDB recursive CTE over the dumped
  * input frame, bit-identical at every SF for both shipped configs;
  * BacktestSpec invariants + the golden folds stay as semantic
  * anchors.
  */
object Backtest {

  /** Materialized-intermediate dump for the T7 metric blocks (the
    * D3SigDump pattern): the fold itself is the only non-SQL stage, so
    * the metric queries write its output here, read it back (both
    * engines consume identical bytes), and the DuckDB oracles replay
    * the entire 34-metric arithmetic from the dump. The hash check
    * then certifies everything downstream of the fold; the fold stays
    * anchored by BacktestSpec + GoldenRunA/B. Keyed by sf dir (see
    * [[Dumps]]) so interleaved executions at different scale factors
    * never clobber a pending oracle read. */
  private[operators] def T7FoldDump(d: String) = Dumps.path("t7_fold", d)

  /** NULL-on-zero division: Spark 4 ANSI mode throws DIVIDE_BY_ZERO
    * even for doubles, and a wiped-out portfolio legitimately reaches
    * equity = 0 (ratio metrics are undefined from there on). */
  private def safeDiv(a: Column, b: Column): Column =
    when(b =!= 0, a / b)

  /** One (day, key) input row: signal + mark price. */
  final case class DayRow(day: java.sql.Timestamp, key: Long,
                          signal: String, price: Double)

  /** Fold output: unioned trade + equity rows (kind discriminates). */
  final case class OutRow(kind: String, day: java.sql.Timestamp, key: Long,
                          entryPrice: Double, exitPrice: Double,
                          shares: Double, pnl: Double, pnlPct: Double,
                          exitReason: String, daysHeld: Int,
                          equity: Double, cash: Double, numPositions: Int)

  private final case class Position(entryDay: java.sql.Timestamp,
                                    entryPrice: Double, shares: Double,
                                    var daysHeld: Int)

  /** Pure sequential fold over day-ordered rows (rows within a day in
    * key order for determinism). Emits one trade row per exit and one
    * equity row per day. */
  def fold(rows: Iterator[DayRow],
           cfg: BacktestConfig = BacktestConfig.Default): Iterator[OutRow] = {
    var cash = cfg.initialCash
    val positions = mutable.LinkedHashMap.empty[Long, Position]
    val out = mutable.ArrayBuffer.empty[OutRow]
    var lastPrice = mutable.Map.empty[Long, Double]

    def exit(key: Long, pos: Position, price: Double, reason: String,
             day: java.sql.Timestamp): Unit = {
      val px = price * (1 - cfg.slippage)      // sell slippage
      val proceeds = pos.shares * px * (1 - cfg.cost)
      val costBasis = pos.shares * pos.entryPrice
      val pnl = proceeds - costBasis
      cash += proceeds
      // + 0.0 collapses IEEE -0.0 (math.rint preserves the sign of a
      // tiny negative pnl; the DuckDB replay's rintSql yields +0.0
      // there) so both engines render the zero identically — the
      // round-14 t7 hash-FAIL was exactly this, values equal, sign of
      // zero not.
      out += OutRow("trade", day, key, pos.entryPrice, px, pos.shares,
        math.rint(pnl * 1e6) / 1e6 + 0.0,
        math.rint(pnl / costBasis * 1e8) / 1e8 + 0.0,
        reason, pos.daysHeld, 0.0, 0.0, 0)
      positions.remove(key)
    }

    rows.toSeq.groupBy(_.day).toSeq.sortBy(_._1.getTime).foreach {
      case (day, dayRows) =>
        val byKey = dayRows.sortBy(_.key)
        byKey.foreach(r => lastPrice(r.key) = r.price)
        // 1. age + exit existing positions (key order for determinism)
        positions.toSeq.sortBy(_._1).foreach { case (key, pos) =>
          lastPrice.get(key).foreach { px =>
            pos.daysHeld += 1
            val ret = px / pos.entryPrice - 1
            if (ret <= cfg.stopLoss) exit(key, pos, px, "stop_loss", day)
            else if (ret >= cfg.takeProfit) exit(key, pos, px, "take_profit", day)
            else if (pos.daysHeld >= cfg.holdDays) exit(key, pos, px, "hold_period", day)
          }
        }
        // 2. enter on BUY if not held and below the position cap
        byKey.foreach { r =>
          if (r.signal == "BUY" && !positions.contains(r.key) &&
              positions.size < cfg.maxPositions && cash > 0) {
            val px = r.price * (1 + cfg.slippage)  // buy slippage
            val alloc = cash * cfg.positionFrac
            val shares = alloc / (px * (1 + cfg.cost))
            if (shares > 0) {
              cash -= shares * px * (1 + cfg.cost)
              positions(r.key) = Position(day, px, shares, 0)
            }
          }
        }
        // 3. mark-to-market equity
        val mtm = positions.map { case (k, p) =>
          p.shares * lastPrice.getOrElse(k, p.entryPrice)
        }.sum
        out += OutRow("equity", day, -1L, 0.0, 0.0, 0.0, 0.0, 0.0, "",
          0, math.rint((cash + mtm) * 1e6) / 1e6 + 0.0,
          math.rint(cash * 1e6) / 1e6 + 0.0, positions.size)
    }
    // 4. force-close at end of backtest
    val lastDay = out.lastOption.map(_.day)
    lastDay.foreach { day =>
      positions.toSeq.sortBy(_._1).foreach { case (key, pos) =>
        exit(key, pos, lastPrice.getOrElse(key, pos.entryPrice),
          "end_of_backtest", day)
      }
    }
    out.iterator
  }

  /** Distributed prep: daily per-key signal + mark price from events.
    * This is the part that scales — hash agg over the fact table. */
  def dayInputs(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(date_trunc("day", col("ts")).as("day"),
        col("user_id").as("key"))
      .agg(avg(col("value")).as("price"), count(lit(1)).as("n"))
      .select(col("day"), col("key"), col("price"),
        when(col("price") > 120, "BUY")
          .when(col("price") < 80, "SELL")
          .otherwise("HOLD").as("signal"))

  /** Materialized-intermediate dump of [[dayInputs]] — the fold's
    * input frame. The ONE non-replayable op upstream of the fold is
    * the float `avg(value)` price (summation-order-sensitive across
    * engines), so the fold queries consume these dumped bytes and the
    * round-14 fold oracles replay the ENTIRE day-ordered state
    * machine from the identical inputs (see [[foldOracleSql]]).
    * O(days × keys) rows — tiny at any fact-table scale. */
  private[operators] def T7InDump(d: String) = Dumps.path("t7_in", d)

  // Write-once (Dumps.writeOnce): all five t7 queries share the input
  // dump, and the fold oracles read it at end-of-run compare time — a
  // rewrite per query would make the hash check depend on the float
  // avg(value) agg reproducing bit-identically across re-executions
  // (the clobbered-pending-read class the sf-keyed Dumps refactor
  // exists to kill), and wastes four corpus passes.
  private def inputsDumped(s: SparkSession, d: String): DataFrame =
    Dumps.writeOnce(s, T7InDump(d)) {
      dayInputs(s, d)
        .select(col("day"), col("key"), col("signal"), col("price"))
    }

  /** The full fold as a DataFrame query (single deliberate partition
    * over the already-aggregated day rows only), reading the dumped
    * input frame so the DuckDB fold replay sees identical bytes. */
  def run(s: SparkSession, d: String,
          cfg: BacktestConfig = BacktestConfig.Default): DataFrame = {
    import s.implicits._
    val in = inputsDumped(s, d)
      .select(col("day"), col("key"), col("signal"), col("price"))
      .as[DayRow]
    in.coalesce(1).sortWithinPartitions("day", "key")
      .mapPartitions(rows => fold(rows, cfg)).toDF()
  }

  /** The default-config fold output, dumped to [[T7FoldDump]] and read
    * back — the shared input of the three hash-checked metric queries
    * and their DuckDB oracles. The dump doubles as the materialize-once
    * point (replacing the earlier localCheckpoint): the fold runs one
    * job, and every downstream subtree scans the parquet. Written once
    * (deterministic bytes: the fold is one ordered partition over the
    * write-once input dump), and all three metric queries share it. */
  private def foldDump(s: SparkSession, d: String): DataFrame =
    Dumps.writeOnce(s, T7FoldDump(d))(run(s, d))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // T7: the fold itself — trades + equity curve.
    "t7_portfolio_fold" -> ((s, d) =>
      run(s, d).orderBy(col("kind"), col("day"), col("key"))),

    // T7 parameterized re-run — the reference dashboard's slider
    // lifecycle (app/experiment.py:252-325 rewrites config and re-runs
    // 06+07; trades/HOLDING_PERIOD_24/ is the shipped variant): same
    // fold, 24-day max hold. BacktestSpec pins how the variant moves
    // hold-period exits relative to the default.
    "t7_portfolio_fold_h24" -> ((s, d) =>
      run(s, d, BacktestConfig.Hold24)
        .orderBy(col("kind"), col("day"), col("key"))),

    // A8 over fold output: the trade-metrics block of 07_backtest.py:284-303.
    // HASH-CHECKED (round 13): consumes the T7FoldDump intermediate;
    // the DuckDB twin recomputes the block from the dump.
    "t7_trade_metrics" -> ((s, d) =>
      foldDump(s, d).filter(col("kind") === "trade")
        .agg(
          count(lit(1)).as("n_trades"),
          sum(when(col("pnl") > 0, 1L).otherwise(0L)).as("wins"),
          r6(avg(when(col("pnl") > 0, col("pnl")))).as("avg_win"),
          r6(avg(when(col("pnl") <= 0, col("pnl")))).as("avg_loss"),
          r6(max(col("pnl"))).as("largest_win"),
          r6(min(col("pnl"))).as("largest_loss"),
          r6(sum(col("pnl"))).as("total_pnl"))),

    // The reference's full backtest summary (scripts/07_backtest.py:
    // 368-418): trade stats, exit-reason counts, streaks, days-held,
    // equity/drawdown and annualized risk metrics — one wide row over
    // the fold output. HASH-CHECKED (round 13): the fold dump replaces
    // the earlier localCheckpoint as the materialize-once point, and
    // the DuckDB twin replays all 34 metrics from it.
    "t7_full_metrics" -> ((s, d) =>
      fullMetricsOf(foldDump(s, d), BacktestConfig.Default.initialCash)),

    // A10 over fold output: equity-curve risk block (drawdown etc).
    // HASH-CHECKED (round 13) via the T7FoldDump intermediate.
    "t7_equity_metrics" -> ((s, d) => {
      val eq = foldDump(s, d).filter(col("kind") === "equity")
        .select(col("day"), col("equity"))
      val w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
      eq.withColumn("peak", max(col("equity")).over(w))
        .withColumn("dd", col("equity") / col("peak") - 1)
        .agg(r6(min(col("dd"))).as("max_drawdown"),
          r6(max_by(col("equity"), col("day"))).as("final_equity"),
          r6(max_by(col("equity"), col("day")) /
             lit(BacktestConfig.Default.initialCash) - 1).as("total_return"),
          count(lit(1)).as("n_days"))
    })
  )

  /** The 34-metric summary block (scripts/07_backtest.py:368-418)
    * over a fold-output-shaped frame (`kind` = trade | equity rows) —
    * shared by `t7_full_metrics` (over the fold dump), the dashboard's
    * re-run (over a live [[run]]) and the golden-run-A replay spec
    * (over the reference's SHIPPED trade log and equity curve,
    * `trades/HOLDING_PERIOD_24/`), which pins every headline metric to
    * the published summary JSON. Daily and downside volatilities are
    * POPULATION std (numpy's ddof=0 default in 07_backtest.py:345,356 —
    * `stddev_samp` here diverged in the 4th significant digit on the
    * golden curve), and the downside std is centered on the DOWNSIDE
    * mean, exactly numpy's `downside_returns.std()`.
    *
    * One pass over `out`: one window spec (partitioned by kind, in
    * the trade log's total order) derives every per-row quantity, and
    * one aggregate gated on kind folds both blocks into the row. A
    * live fold runs once; each extra reference to `out` re-runs it.
    *  - Streaks (scripts/07_backtest.py:308-314): a trade's streak is
    *    its row number minus that of the last trade of the other sign.
    *  - Equity curve: daily return against the previous day, drawdown
    *    against the running peak; both are NULL where the divisor is 0
    *    (ANSI mode throws on x/0 even for doubles, and a wiped-out
    *    portfolio does reach equity 0).
    *  - Max-drawdown period (scripts/07_backtest.py:333-338): the
    *    trough is the least drawdown, NULLs last, earliest day first;
    *    the peak is the first day that reached the running peak at the
    *    trough (idxmax semantics); the duration is in days. A running
    *    minimum, in the streaks' growing frame, hands each row the
    *    trough so far. Its day and its peak day never decrease down the
    *    rows (a new trough is a later row, and the running peak's first
    *    day only moves forward), so the aggregate's max of each is the
    *    final trough's, and the aggregate keeps scalar buffers: a
    *    struct buffer plans a SortAggregate, outside whole-stage
    *    codegen.
    *
    * No trades: `n_trades` 0, every other trade metric and both
    * streaks NULL. No equity rows: no result row. */
  def fullMetricsOf(out: DataFrame, initialCash: Double): DataFrame = {
    def trades(c: Column): Column = when(col("kind") === "trade", c)
    def days(c: Column): Column = when(col("kind") === "equity", c)
    val win = col("pnl") > 0
    val loss = col("pnl") <= 0
    // daysHeld DESC breaks the one (day, key) tie: a key that exits on
    // the last day, re-enters and is force-closed emits the exit
    // (daysHeld ≥ 1) before the force-close (daysHeld 0), so both
    // engines sessionize the dumped log identically. Equity rows
    // (key -1, daysHeld 0) fall in day order.
    val w = Window.partitionBy("kind")
      .orderBy(col("day"), col("key"), col("daysHeld").desc)
    val upTo = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val rows = out
      .select(col("kind"), col("day"), col("key"), col("pnl"),
        col("exitReason"), col("daysHeld"), col("equity"),
        row_number().over(w).as("rn"),
        lag(col("equity"), 1).over(w).as("prev"),
        max(col("equity")).over(upTo).as("peak"),
        min_by(col("day"), struct(-col("equity"), col("day"))).over(upTo)
          .as("peak_day"))
      .withColumn("r", safeDiv(col("equity"), col("prev")) - 1)
      .withColumn("dd", safeDiv(col("equity"), col("peak")) - 1)
      .select(col("*"), (col("rn") - coalesce(
        when(win, max(when(loss, col("rn"))).over(upTo))
          .otherwise(max(when(win, col("rn"))).over(upTo)), lit(0)))
        .cast("long").as("streak"),
        min(struct(col("dd").isNull, col("dd"), col("day"), col("peak_day")))
          .over(upTo).as("trough"))
    def exitCount(reason: String): Column =
      sum(trades(when(col("exitReason") === reason, 1L).otherwise(0L)))
    val annReturn = pow(lit(1.0) + col("mu"), 252.0) - 1
    rows
      .agg(
        count(trades(lit(1))).as("n_trades"),
        sum(trades(when(win, 1L).otherwise(0L))).as("wins"),
        sum(trades(when(loss, 1L).otherwise(0L))).as("losses"),
        r6(safeDiv(sum(trades(when(win, 1.0).otherwise(0.0))),
          count(trades(lit(1))))).as("win_rate"),
        r6(avg(trades(when(win, col("pnl"))))).as("avg_win"),
        r6(avg(trades(when(loss, col("pnl"))))).as("avg_loss"),
        r6(max(trades(col("pnl")))).as("largest_win"),
        r6(min(trades(col("pnl")))).as("largest_loss"),
        r6(safeDiv(sum(trades(when(win, col("pnl")).otherwise(0.0))),
          abs(sum(trades(when(loss, col("pnl")).otherwise(0.0))))))
          .as("profit_factor"),
        r6(avg(trades(col("pnl")))).as("expectancy"),
        r6(sum(trades(col("pnl")))).as("total_pnl"),
        r6(avg(trades(col("daysHeld")))).as("avg_days_held"),
        max(trades(col("daysHeld"))).as("max_days_held"),
        exitCount("stop_loss").as("n_stop_loss"),
        exitCount("take_profit").as("n_take_profit"),
        exitCount("hold_period").as("n_hold_period"),
        exitCount("end_of_backtest").as("n_end_close"),
        max(trades(when(win, col("streak")))).as("max_win_streak"),
        max(trades(when(loss, col("streak")))).as("max_loss_streak"),
        count(days(lit(1))).as("n_days"),
        // max_by(equity, day), NOT last(equity): last() is order-dependent
        r6(max_by(col("equity"), days(col("day")))).as("final_equity"),
        r6(max_by(col("equity"), days(col("day"))) /
          lit(initialCash) - 1).as("total_return"),
        avg(days(col("r"))).as("mu"),
        stddev_pop(days(col("r"))).as("sigma"),
        stddev_pop(days(when(col("r") < 0, col("r")))).as("downside"),
        r6(min(days(col("dd")))).as("max_drawdown"),
        r6(max(days(col("r")))).as("best_day"),
        r6(min(days(col("r")))).as("worst_day"),
        max(days(col("trough.peak_day"))).as("peak_day"),
        max(days(col("trough.day"))).as("trough_day"))
      .filter(col("n_days") > 0)
      .select(Seq("n_trades", "wins", "losses", "win_rate", "avg_win",
          "avg_loss", "largest_win", "largest_loss", "profit_factor",
          "expectancy", "total_pnl", "avg_days_held", "max_days_held",
          "n_stop_loss", "n_take_profit", "n_hold_period", "n_end_close",
          "max_win_streak", "max_loss_streak", "n_days", "final_equity",
          "total_return").map(col) ++ Seq(
        r6(col("mu")).as("mean_daily"),
        r6(col("sigma")).as("std_daily"),
        annReturn.cast("float").as("ann_return"),
        r6(col("sigma") * sqrt(lit(252.0))).cast("float").as("ann_vol"),
        safeDiv(annReturn, col("sigma") * sqrt(lit(252.0)))
          .cast("float").as("sharpe"),
        safeDiv(annReturn, col("downside") * sqrt(lit(252.0)))
          .cast("float").as("sortino"),
        col("max_drawdown"), col("best_day"), col("worst_day"),
        to_date(col("peak_day")).as("max_dd_peak_date"),
        to_date(col("trough_day")).as("max_dd_trough_date"),
        datediff(to_date(col("trough_day")), to_date(col("peak_day")))
          .cast("long").as("max_dd_duration_days")): _*)
  }

  /** Round-14: the fold ITSELF is now hash-checked too —
    * [[foldOracleSql]] replays the whole day-ordered state machine as
    * a DuckDB recursive CTE over the dumped input frame ([[T7InDump]]).
    * Every per-day op is +,−,×,÷ (IEEE-exact in both engines) plus the
    * math.rint output rounding, emulated exactly as a floor/parity
    * CASE — so the replay is BIT-IDENTICAL, verified at all three SFs
    * for both shipped configs before landing. The three metric blocks
    * are plain SQL over the fold output, so their oracles replay the
    * full arithmetic from [[T7FoldDump]] (round 13). Convention notes
    * mirrored from the a8/a10 oracles: counts cast to BIGINT (DuckDB
    * sum(int) is HUGEINT); every Spark safeDiv becomes an explicit
    * CASE (DuckDB double/0.0 is ±inf, Spark's guard is NULL); float
    * casts saturate via the float-max/inf midpoint CASE (DuckDB
    * CAST(… AS REAL) raises on overflow, Spark saturates). */
  private val Dump = s"'${Dumps.oraclePath("t7_fold")}/*.parquet'"

  private val InDump = s"'${Dumps.oraclePath("t7_in")}/*.parquet'"

  /** math.rint (round half to even) of column-reference expression
    * `y`, exact for |y| < 2^52: floor() and the subtraction are
    * IEEE-exact, ties resolve on the integer's parity. Callers must
    * pass a COLUMN NAME (the 6 references would otherwise re-inline
    * the producing expression — see the layering note below). */
  private def rintSql(y: String): String =
    s"(CASE WHEN (($y) - floor($y)) > 0.5 THEN floor($y) + 1.0 " +
      s"WHEN (($y) - floor($y)) < 0.5 THEN floor($y) " +
      s"WHEN CAST(floor($y) AS BIGINT) % 2 = 0 THEN floor($y) " +
      s"ELSE floor($y) + 1.0 END)"

  /** The DuckDB replay of [[fold]] — a WITH RECURSIVE CTE iterating
    * one day per recursion step over the [[T7InDump]] bytes, its state
    * exactly the loop's: cash, the ≤maxPositions position slots in
    * LinkedHashMap INSERTION order (each carrying its lastPrice), and
    * this day's emitted trade rows as a struct list. Key-ordered exit
    * cash additions (list_sort), compounding entries (one layer per
    * entry), insertion-ordered mark-to-market — every float op in the
    * loop's own order.
    *
    * Layering is load-bearing: DuckDB inlines same-SELECT lateral
    * aliases by EXPRESSION SUBSTITUTION, so a chain like
    * cash_e3 → cash_e2 → … referenced 4-5× per level explodes the
    * bound tree exponentially (the first draft took 10 s PER
    * ITERATION and OOM'd at 5 days). Each stage therefore lives in
    * its own nested subquery, making every cross-stage reference a
    * projected column read. */
  private[operators] def foldOracleSql(cfg: BacktestConfig): String = {
    val mp = cfg.maxPositions
    val slots = 1 to mp
    val (ic, pf, sl, tp, co, sp) = (PinnedSeries.dlit(cfg.initialCash),
      PinnedSeries.dlit(cfg.positionFrac), PinnedSeries.dlit(cfg.stopLoss), PinnedSeries.dlit(cfg.takeProfit),
      PinnedSeries.dlit(cfg.cost), PinnedSeries.dlit(cfg.slippage))
    val pst = "STRUCT(k BIGINT, e DOUBLE, s DOUBLE, h INTEGER, px DOUBLE)[]"
    val trt = "STRUCT(key BIGINT, e DOUBLE, xp DOUBLE, sh DOUBLE, " +
      "pnl DOUBLE, pct DOUBLE, reason VARCHAR, dh INTEGER)[]"

    val layers = Seq.newBuilder[Seq[String]]
    // slot px refresh (lastPrice update) + aging
    layers += (slots.map(i =>
        s"coalesce(list_filter(oal, x -> x.k = ops[$i].k)[1].p, " +
          s"ops[$i].px) AS px$i") ++
      slots.map(i => s"ops[$i].h + 1 AS hh$i"))
    // exit decisions + trade arithmetic, one dependency level per layer
    layers += (slots.map(i => s"px$i / ops[$i].e - 1.0 AS ret$i") ++
      slots.map(i => s"px$i * (1.0 - $sp) AS pxs$i"))
    layers += (slots.map(i =>
        s"CASE WHEN ret$i <= $sl THEN 'stop_loss' " +
          s"WHEN ret$i >= $tp THEN 'take_profit' " +
          s"WHEN hh$i >= ${cfg.holdDays} THEN 'hold_period' END AS reason$i") ++
      slots.map(i => s"ops[$i].s * pxs$i * (1.0 - $co) AS proceeds$i") ++
      slots.map(i => s"ops[$i].s * ops[$i].e AS costb$i"))
    layers += slots.map(i => s"proceeds$i - costb$i AS pnl$i")
    layers += (slots.map(i => s"pnl$i * 1000000.0 AS pnl6_$i") ++
      slots.map(i => s"pnl$i / costb$i * 100000000.0 AS pct8_$i"))
    // + 0.0 on every rounded emission collapses IEEE -0.0 (rintSql can
    // return floor(-0.0) = -0.0 on an exactly-negative-zero input) to
    // match the kernel's canonicalized doubles — see fold's exit().
    layers += (slots.map(i =>
        s"(${rintSql(s"pnl6_$i")} / 1000000.0 + 0.0) AS pnlr$i") ++
      slots.map(i => s"(${rintSql(s"pct8_$i")} / 100000000.0 + 0.0) AS pctr$i"))
    // key-ordered exit proceeds, insertion-ordered survivors, trades
    val pe = "list_sort(list_filter([" + slots.map(i =>
        s"CASE WHEN reason$i IS NOT NULL THEN " +
          s"{'k': ops[$i].k, 'p': proceeds$i} END").mkString(", ") +
      "], x -> x IS NOT NULL))"
    layers += Seq(
      s"$pe AS pe",
      "list_filter([" + slots.map(i =>
          s"CASE WHEN len(ops) >= $i AND reason$i IS NULL THEN " +
            s"{'k': ops[$i].k, 'e': ops[$i].e, 's': ops[$i].s, " +
            s"'h': hh$i, 'px': px$i} END").mkString(", ") +
        "], x -> x IS NOT NULL) AS ps1",
      "list_filter([" + slots.map(i =>
          s"CASE WHEN reason$i IS NOT NULL THEN " +
            s"{'key': ops[$i].k, 'e': ops[$i].e, 'xp': pxs$i, " +
            s"'sh': ops[$i].s, 'pnl': pnlr$i, 'pct': pctr$i, " +
            s"'reason': reason$i, 'dh': hh$i} END").mkString(", ") +
        "], x -> x IS NOT NULL) AS tr1")
    layers += Seq(
      slots.foldLeft("ocash")((acc, i) =>
        s"($acc + coalesce(pe[$i].p, 0.0))") + " AS cash_ae",
      "list_transform(ps1, x -> x.k) AS held",
      s"$mp - len(ps1) AS ncap")
    layers += Seq(
      "list_filter(obl, x -> NOT list_contains(held, x.k) AND x.p > 0.0)" +
        " AS elig")
    // sequential entries: the kernel's byKey scan takes the first
    // ncap eligible BUYs with compounding cash — one entry per layer
    var prevCash = "cash_ae"
    for (j <- slots) {
      layers += Seq(
        s"struct_extract(elig[$j], 'k') AS ck$j",
        s"struct_extract(elig[$j], 'p') AS cp$j",
        s"($j <= ncap AND elig[$j] IS NOT NULL AND $prevCash > 0.0) AS do$j")
      layers += Seq(
        s"cp$j * (1.0 + $sp) AS pxb$j",
        s"$prevCash * $pf AS alloc$j")
      layers += Seq(s"alloc$j / (pxb$j * (1.0 + $co)) AS sh$j")
      layers += Seq(
        s"CASE WHEN do$j THEN $prevCash - sh$j * pxb$j * (1.0 + $co) " +
          s"ELSE $prevCash END AS cash_e$j")
      prevCash = s"cash_e$j"
    }
    layers += Seq(
      "list_concat(ps1, list_filter([" + slots.map(j =>
          s"CASE WHEN do$j THEN {'k': ck$j, 'e': pxb$j, 's': sh$j, " +
            s"'h': CAST(0 AS INTEGER), 'px': cp$j} END").mkString(", ") +
        "], x -> x IS NOT NULL)) AS ps_fin")
    layers += Seq(
      slots.foldLeft("0.0")((acc, i) =>
        s"($acc + coalesce(ps_fin[$i].s * ps_fin[$i].px, 0.0))") + " AS mtm")
    layers += Seq(
      s"($prevCash + mtm) * 1000000.0 AS eq6",
      s"$prevCash * 1000000.0 AS ca6")
    layers += Seq(
      s"(${rintSql("eq6")} / 1000000.0 + 0.0) AS equity1",
      s"(${rintSql("ca6")} / 1000000.0 + 0.0) AS cashr1")

    val inner =
      s"""SELECT f.m AS m, f.ps AS ops, f.cash AS ocash, d.day AS dday,
         |       CASE WHEN b.bl IS NULL
         |         THEN CAST([] AS STRUCT(k BIGINT, p DOUBLE)[])
         |         ELSE b.bl END AS obl,
         |       a.al AS oal
         |FROM f JOIN di d ON d.i = f.m + 1
         |       LEFT JOIN buys b ON b.day = d.day
         |       JOIN allrows a ON a.day = d.day""".stripMargin
    val body = layers.result().zipWithIndex.foldLeft(inner) {
      case (b, (items, li)) =>
        s"SELECT *, ${items.mkString(", ")}\nFROM ($b) l$li"
    }

    s"""WITH RECURSIVE
       |di AS (SELECT day, row_number() OVER (ORDER BY day) AS i
       |       FROM (SELECT DISTINCT day FROM $InDump)),
       |buys AS (SELECT day, list({'k': key, 'p': price} ORDER BY key) AS bl
       |         FROM $InDump WHERE signal = 'BUY' GROUP BY day),
       |allrows AS (SELECT day, list({'k': key, 'p': price} ORDER BY key) AS al
       |            FROM $InDump GROUP BY day),
       |f AS (
       |  SELECT CAST(0 AS BIGINT) AS m, CAST(NULL AS TIMESTAMP) AS day,
       |         CAST([] AS $pst) AS ps, $ic AS cash,
       |         CAST(NULL AS DOUBLE) AS equity, CAST(NULL AS DOUBLE) AS cashr,
       |         CAST(NULL AS INTEGER) AS np, CAST([] AS $trt) AS tr
       |  UNION ALL
       |  SELECT s.m + 1 AS m, s.dday AS day, s.ps_fin AS ps,
       |         s.$prevCash AS cash, s.equity1 AS equity, s.cashr1 AS cashr,
       |         CAST(len(s.ps_fin) AS INTEGER) AS np, s.tr1 AS tr
       |  FROM ($body) s
       |),
       |last AS (SELECT * FROM f WHERE m = (SELECT max(m) FROM f)),
       |fcu AS (SELECT day, unnest(ps) AS u FROM last),
       |fc AS (SELECT day, u.k AS key, u.e AS e, u.s AS sh, u.h AS dh,
       |              u.px AS px
       |       FROM fcu),
       |fct AS (SELECT day, key, e, sh, dh,
       |          px * (1.0 - $sp) AS xp,
       |          sh * (px * (1.0 - $sp)) * (1.0 - $co) - sh * e AS pnlraw,
       |          sh * e AS costb
       |        FROM fc),
       |fcr AS (SELECT *, pnlraw * 1000000.0 AS p6,
       |               pnlraw / costb * 100000000.0 AS p8 FROM fct),
       |trrows AS (
       |  SELECT day, unnest(tr, recursive := true) FROM f WHERE m >= 1
       |),
       |alltr AS (
       |  SELECT day, key, e, xp, sh, pnl, pct, reason, dh FROM trrows
       |  UNION ALL
       |  SELECT day, key, e, xp, sh,
       |         (${rintSql("p6")} / 1000000.0 + 0.0) AS pnl,
       |         (${rintSql("p8")} / 100000000.0 + 0.0) AS pct,
       |         'end_of_backtest' AS reason, dh
       |  FROM fcr
       |)
       |SELECT 'trade' AS kind, day, key,
       |       e AS "entryPrice", xp AS "exitPrice", sh AS shares,
       |       pnl, pct AS "pnlPct", reason AS "exitReason",
       |       CAST(dh AS INTEGER) AS "daysHeld",
       |       0.0 AS equity, 0.0 AS cash, CAST(0 AS INTEGER) AS "numPositions"
       |FROM alltr
       |UNION ALL
       |SELECT 'equity' AS kind, day, CAST(-1 AS BIGINT) AS key,
       |       0.0, 0.0, 0.0, 0.0, 0.0, '', CAST(0 AS INTEGER),
       |       equity, cashr, np
       |FROM f WHERE m >= 1
       |ORDER BY kind, day, key""".stripMargin
  }

  /** DuckDB REAL-cast with Spark's IEEE saturation semantics. */
  private def fcast(e: String): String =
    s"""CASE WHEN ($e) >= 3.4028235677973366e38 THEN CAST('inf' AS REAL)
       |     WHEN ($e) <= -3.4028235677973366e38 THEN CAST('-inf' AS REAL)
       |     ELSE CAST(($e) AS REAL) END""".stripMargin

  val oracles: Map[String, String] = Map(
    "t7_portfolio_fold" -> foldOracleSql(BacktestConfig.Default),
    "t7_portfolio_fold_h24" -> foldOracleSql(BacktestConfig.Hold24),
    "t7_trade_metrics" ->
      s"""WITH t AS (SELECT pnl FROM $Dump WHERE kind = 'trade')
         |SELECT count(*) AS n_trades,
         |       CAST(sum(CASE WHEN pnl > 0 THEN 1 ELSE 0 END) AS BIGINT) AS wins,
         |       round(avg(CASE WHEN pnl > 0 THEN pnl END), 6) AS avg_win,
         |       round(avg(CASE WHEN pnl <= 0 THEN pnl END), 6) AS avg_loss,
         |       round(max(pnl), 6) AS largest_win,
         |       round(min(pnl), 6) AS largest_loss,
         |       round(sum(pnl), 6) AS total_pnl
         |FROM t""".stripMargin,

    "t7_equity_metrics" ->
      s"""WITH eq AS (SELECT day, equity FROM $Dump WHERE kind = 'equity'),
         |c AS (SELECT day, equity,
         |             max(equity) OVER (ORDER BY day
         |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
         |      FROM eq)
         |SELECT round(min(equity / peak - 1), 6) AS max_drawdown,
         |       round(arg_max(equity, day), 6) AS final_equity,
         |       round(arg_max(equity, day) / ${BacktestConfig.Default.initialCash} - 1, 6) AS total_return,
         |       count(*) AS n_days
         |FROM c""".stripMargin,

    "t7_full_metrics" ->
      s"""WITH trades AS (SELECT * FROM $Dump WHERE kind = 'trade'),
         |tradeagg AS (
         |  SELECT count(*) AS n_trades,
         |         CAST(sum(CASE WHEN pnl > 0 THEN 1 ELSE 0 END) AS BIGINT) AS wins,
         |         CAST(sum(CASE WHEN pnl <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS losses,
         |         CASE WHEN count(*) <> 0 THEN
         |           round(sum(CASE WHEN pnl > 0 THEN 1.0 ELSE 0.0 END) / count(*), 6)
         |         END AS win_rate,
         |         round(avg(CASE WHEN pnl > 0 THEN pnl END), 6) AS avg_win,
         |         round(avg(CASE WHEN pnl <= 0 THEN pnl END), 6) AS avg_loss,
         |         round(max(pnl), 6) AS largest_win,
         |         round(min(pnl), 6) AS largest_loss,
         |         CASE WHEN abs(sum(CASE WHEN pnl <= 0 THEN pnl ELSE 0.0 END)) <> 0 THEN
         |           round(sum(CASE WHEN pnl > 0 THEN pnl ELSE 0.0 END)
         |                 / abs(sum(CASE WHEN pnl <= 0 THEN pnl ELSE 0.0 END)), 6)
         |         END AS profit_factor,
         |         round(avg(pnl), 6) AS expectancy,
         |         round(sum(pnl), 6) AS total_pnl,
         |         round(avg("daysHeld"), 6) AS avg_days_held,
         |         max("daysHeld") AS max_days_held,
         |         CAST(sum(CASE WHEN "exitReason" = 'stop_loss' THEN 1 ELSE 0 END) AS BIGINT) AS n_stop_loss,
         |         CAST(sum(CASE WHEN "exitReason" = 'take_profit' THEN 1 ELSE 0 END) AS BIGINT) AS n_take_profit,
         |         CAST(sum(CASE WHEN "exitReason" = 'hold_period' THEN 1 ELSE 0 END) AS BIGINT) AS n_hold_period,
         |         CAST(sum(CASE WHEN "exitReason" = 'end_of_backtest' THEN 1 ELSE 0 END) AS BIGINT) AS n_end_close
         |  FROM trades),
         |sbase AS (
         |  SELECT CASE WHEN pnl > 0 THEN 1 ELSE 0 END AS win,
         |         row_number() OVER (ORDER BY day, key, "daysHeld" DESC) AS rn
         |  FROM trades),
         |schg AS (
         |  SELECT win, rn,
         |         CASE WHEN lag(win) OVER (ORDER BY rn) IS DISTINCT FROM win
         |              THEN 1 ELSE 0 END AS chg
         |  FROM sbase),
         |sess AS (SELECT win, sum(chg) OVER (ORDER BY rn) AS sid FROM schg),
         |runs AS (SELECT sid, win, count(*) AS len FROM sess GROUP BY sid, win),
         |streaks AS (
         |  SELECT max(CASE WHEN win = 1 THEN len END) AS max_win_streak,
         |         max(CASE WHEN win = 0 THEN len END) AS max_loss_streak
         |  FROM runs),
         |eq AS (SELECT day, equity FROM $Dump WHERE kind = 'equity'),
         |cwin AS (
         |  SELECT day, equity,
         |         lag(equity) OVER (ORDER BY day) AS prev,
         |         max(equity) OVER (ORDER BY day
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
         |  FROM eq),
         |curve AS (
         |  SELECT day, equity, peak,
         |         CASE WHEN prev <> 0 THEN equity / prev - 1 END AS r,
         |         CASE WHEN peak <> 0 THEN equity / peak - 1 END AS dd
         |  FROM cwin),
         |eagg AS (
         |  SELECT count(*) AS n_days,
         |         arg_max(equity, day) AS fe,
         |         avg(r) AS mu,
         |         stddev_pop(r) AS sigma,
         |         stddev_pop(CASE WHEN r < 0 THEN r END) AS downside,
         |         round(min(dd), 6) AS max_drawdown,
         |         round(max(r), 6) AS best_day,
         |         round(min(r), 6) AS worst_day
         |  FROM curve),
         |em AS (SELECT *, pow(1.0 + mu, 252.0) - 1 AS ar FROM eagg),
         |eqblock AS (
         |  SELECT n_days,
         |         round(fe, 6) AS final_equity,
         |         round(fe / ${BacktestConfig.Default.initialCash} - 1, 6) AS total_return,
         |         round(mu, 6) AS mean_daily,
         |         round(sigma, 6) AS std_daily,
         |         ${fcast("ar")} AS ann_return,
         |         CAST(round(sigma * sqrt(252.0), 6) AS REAL) AS ann_vol,
         |         CASE WHEN sigma * sqrt(252.0) = 0 THEN NULL
         |              ELSE ${fcast("ar / (sigma * sqrt(252.0))")} END AS sharpe,
         |         CASE WHEN downside * sqrt(252.0) = 0 THEN NULL
         |              ELSE ${fcast("ar / (downside * sqrt(252.0))")} END AS sortino,
         |         max_drawdown, best_day, worst_day
         |  FROM em),
         |trough AS (
         |  SELECT day AS trough_day, peak AS peak_val
         |  FROM (SELECT day, peak, dd,
         |               row_number() OVER (ORDER BY dd ASC NULLS LAST, day) AS trn
         |        FROM curve)
         |  WHERE trn = 1),
         |peakday AS (
         |  SELECT min(c.day) AS peak_day, min(t.trough_day) AS trough_day
         |  FROM curve c, trough t
         |  WHERE c.day <= t.trough_day AND c.equity = t.peak_val),
         |ddp AS (
         |  SELECT CAST(peak_day AS DATE) AS max_dd_peak_date,
         |         CAST(trough_day AS DATE) AS max_dd_trough_date,
         |         date_diff('day', CAST(peak_day AS DATE),
         |                   CAST(trough_day AS DATE)) AS max_dd_duration_days
         |  FROM peakday)
         |SELECT t.*, s.*, e.*, d.*
         |FROM tradeagg t, streaks s, eqblock e, ddp d""".stripMargin
  )
}
