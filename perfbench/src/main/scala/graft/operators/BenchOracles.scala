package graft.operators

/** Oracle SQL for slider points that are not shipped configs. The fold
  * replay generator is package-private to the operators, so the benchmark
  * reaches it from here instead of copying it. */
object BenchOracles {
  def fold(cfg: BacktestConfig): String = Backtest.foldOracleSql(cfg)
}
