package graft.operators

import java.sql.Timestamp
import org.scalatest.funsuite.AnyFunSuite

/** Edge cases of [[Backtest.fullMetricsOf]], the 34-metric summary
  * block: no trades, a one-day curve, a monotone curve, a re-touched
  * peak, a zero-equity day, troughs before and after a new peak, the
  * same-day exit + force-close tie and an empty input. Each case pins the schema and the whole output row,
  * rendered column by column. The expected rows were taken from an
  * independent plan of the block (one subtree per metric group,
  * cross-joined), so they hold any plan to the same answers.
  */
class FullMetricsSpec extends AnyFunSuite {
  private lazy val spark = graft.SparkTestSession.spark

  private def ts(d: Int) = Timestamp.valueOf(f"2024-01-$d%02d 00:00:00")

  private def trade(d: Int, key: Long, pnl: Double, held: Int,
                    why: String) =
    Backtest.OutRow("trade", ts(d), key, 0.0, 0.0, 0.0, pnl, 0.0, why, held,
      0.0, 0.0, 0)

  private def equity(d: Int, eq: Double) =
    Backtest.OutRow("equity", ts(d), -1L, 0.0, 0.0, 0.0, 0.0, 0.0, "", 0,
      eq, 0.0, 0)

  private val columns = Seq(
    "n_trades:bigint", "wins:bigint", "losses:bigint", "win_rate:double",
    "avg_win:double", "avg_loss:double", "largest_win:double",
    "largest_loss:double", "profit_factor:double", "expectancy:double",
    "total_pnl:double", "avg_days_held:double", "max_days_held:int",
    "n_stop_loss:bigint", "n_take_profit:bigint", "n_hold_period:bigint",
    "n_end_close:bigint", "max_win_streak:bigint", "max_loss_streak:bigint",
    "n_days:bigint", "final_equity:double", "total_return:double",
    "mean_daily:double", "std_daily:double", "ann_return:float",
    "ann_vol:float", "sharpe:float", "sortino:float", "max_drawdown:double",
    "best_day:double", "worst_day:double", "max_dd_peak_date:date",
    "max_dd_trough_date:date", "max_dd_duration_days:bigint")

  /** The block's rows over `rows` (initial cash 100), each rendered as
    * column name -> String.valueOf(value); the schema is checked too. */
  private def metrics(rows: Backtest.OutRow*): Seq[Seq[(String, String)]] = {
    import spark.implicits._
    val df = Backtest.fullMetricsOf(rows.toDF(), 100.0)
    assert(df.schema.map(f => s"${f.name}:${f.dataType.simpleString}") ==
      columns)
    df.collect().toSeq.map(r =>
      df.columns.toSeq.zip(r.toSeq.map(String.valueOf)))
  }

  private def expected(row: String): Seq[Seq[(String, String)]] = {
    val values = row.split('|').toSeq
    assert(values.size == columns.size)
    Seq(columns.map(_.takeWhile(_ != ':')).zip(values))
  }

  private val noTrades = "0|null|null|null|null|null|null|null|null|null|" +
    "null|null|null|null|null|null|null|null|null"

  test("equity rows with no trades: n_trades 0, trade stats and streaks NULL") {
    assert(metrics(equity(1, 100.0), equity(2, 110.0), equity(3, 105.0)) ==
      expected(noTrades + "|3|105.0|0.05|0.027273|0.072727|879.6657|" +
        "1.15451|761.93884|null|-0.045455|0.1|-0.045455|" +
        "2024-01-02|2024-01-03|1"))
  }

  test("one equity day: no returns, zero drawdown on that day") {
    assert(metrics(equity(1, 100.0)) ==
      expected(noTrades + "|1|100.0|0.0|null|null|null|null|null|null|" +
        "0.0|null|null|2024-01-01|2024-01-01|0"))
  }

  test("monotone curve: drawdown 0, peak date = trough date, duration 0") {
    assert(metrics(equity(1, 100.0), equity(2, 101.0), equity(3, 103.0),
        trade(2, 1, 1.0, 1, "hold_period"),
        trade(3, 2, -1.0, 1, "hold_period")) ==
      expected("2|1|1|0.5|1.0|-1.0|1.0|-1.0|1.0|0.0|0.0|1.0|1|0|0|2|0|1|1|" +
        "3|103.0|0.03|0.014901|0.004901|40.568695|0.077801|521.4431|null|" +
        "0.0|0.019802|0.01|2024-01-01|2024-01-01|0"))
  }

  test("equity back at an earlier peak: the peak date is the first day at it") {
    // 120 on day 2 and again on day 4; the trough is day 5
    assert(metrics(equity(1, 100.0), equity(2, 120.0), equity(3, 110.0),
        equity(4, 120.0), equity(5, 90.0), equity(6, 95.0)) ==
      expected(noTrades + "|6|95.0|-0.05|0.002626|0.15541|0.9366325|" +
        "2.467052|0.37965655|0.7080276|-0.25|0.2|-0.25|" +
        "2024-01-02|2024-01-05|3"))
  }

  test("zero equity: its NULL drawdown sorts last when picking the trough") {
    // day 1: peak 0 -> dd NULL (and day 2's return NULL); the trough
    // is day 3, not the NULL day
    assert(metrics(equity(1, 0.0), equity(2, 100.0), equity(3, 90.0),
        equity(4, 95.0)) ==
      expected(noTrades + "|4|95.0|-0.05|-0.022222|0.077778|-0.99652845|" +
        "1.234684|-0.8071122|null|-0.1|0.055556|-0.1|" +
        "2024-01-02|2024-01-03|1"))
    // every drawdown NULL: the trough is the first day
    assert(metrics(equity(1, 0.0), equity(2, 0.0)) ==
      expected(noTrades + "|2|0.0|-1.0|null|null|null|null|null|null|" +
        "null|null|null|2024-01-01|2024-01-01|0"))
  }

  test("same-day exit + force-close on one (day, key): the exit comes first") {
    // a win, then on day 2 key 1's stop-loss exit (daysHeld 3) and its
    // re-entry's force-close (daysHeld 0): W, L, W gives streaks of 1;
    // ordering the tie the other way round would give a win streak of 2
    assert(metrics(trade(1, 2, 5.0, 1, "take_profit"),
        trade(2, 1, -3.0, 3, "stop_loss"),
        trade(2, 1, 4.0, 0, "end_of_backtest"),
        equity(1, 100.0), equity(2, 101.0)) ==
      expected("3|2|1|0.666667|4.5|-3.0|5.0|-3.0|3.0|2.0|6.0|1.333333|3|" +
        "1|1|0|1|1|1|2|101.0|0.01|0.01|0.0|11.274002|0.0|null|null|" +
        "0.0|0.01|0.01|2024-01-01|2024-01-01|0"))
  }

  test("the deepest drawdown is the trough, before or after a new peak") {
    // deep first, then a new peak and a shallower dip: the trough and
    // its peak stay on the first drawdown
    assert(metrics(equity(1, 100.0), equity(2, 50.0), equity(3, 120.0),
        equity(4, 110.0), equity(5, 115.0),
        trade(2, 1, -2.0, 1, "stop_loss"),
        trade(4, 2, 3.0, 2, "take_profit")) ==
      expected("2|1|1|0.5|3.0|-2.0|3.0|-2.0|1.5|0.5|1.0|1.5|2|1|1|0|0|1|1|" +
        "5|115.0|0.15|0.21553|0.712951|2.2960384E21|11.317748|" +
        "2.028706E20|6.9425676E20|-0.5|1.4|-0.5|2024-01-01|2024-01-02|1"))
    // shallow first, then a new peak and a deeper dip: both move on
    assert(metrics(equity(1, 100.0), equity(2, 90.0), equity(3, 120.0),
        equity(4, 100.0), equity(5, 130.0)) ==
      expected(noTrades + "|5|130.0|0.3|0.091667|0.226538|3.96910413E9|" +
        "3.596179|1.10370061E9|7.5009019E9|-0.166667|0.333333|-0.166667|" +
        "2024-01-03|2024-01-04|1"))
  }

  test("no equity rows: zero rows, with or without trades") {
    assert(metrics().isEmpty)
    assert(metrics(trade(1, 1, 1.0, 1, "hold_period")).isEmpty)
  }
}
