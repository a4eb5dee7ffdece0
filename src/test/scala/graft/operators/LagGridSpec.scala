package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, lead}
import graft.SparkTestSession

/** Cross-anchors for the one rows-only lag-grid query:
  * `lag_grid_best_config` carries the native p-value expression (no
  * DuckDB equivalent), but every NON-p-value column it emits is the
  * same quantity two fully oracle-checked queries compute —
  * `lag_grid_corr` (the grid cells) and `lag_grid_best` (the
  * selection). Anchoring against both leaves only the p-value itself
  * rows-only, and that is golden-tested in StudentTSpec /
  * PearsonPValueSpec.
  */
class LagGridSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = SparkTestSession.Sf0001

  test("best_config rows are oracle-verified grid cells") {
    val cells = LagGrid.queries("lag_grid_corr")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2)) ->
        (Option(r.get(3)).map(_ => r.getDouble(3)), r.getLong(4))).toMap
    val cfg = LagGrid.queries("lag_grid_best_config")(spark, sf).collect()
    assert(cfg.nonEmpty)
    cfg.foreach { r =>
      val key = (r.getLong(0), r.getInt(1), r.getInt(2))
      // lag_grid_corr drops nothing, so the selected cell must exist
      // and agree on (r, n) exactly
      assert(cells.contains(key), s"selected cell $key not in the grid")
      val (cellR, cellN) = cells(key)
      assert(Option(r.get(3)).map(_ => r.getDouble(3)) == cellR,
        s"$key: best_config r=${r.get(3)} vs grid r=$cellR")
      assert(r.getLong(5) == cellN, s"$key: n mismatch")
    }
  }

  test("best_config agrees with the oracle-verified best selection") {
    // best ranks on the ROUNDED |corr| (cross-engine determinism),
    // best_config on the raw |corr| — a 1e-6 tie may pick a different
    // config, but the rounded max |corr| per key must be identical.
    val best = LagGrid.queries("lag_grid_best")(spark, sf).collect()
      .map(r => r.getLong(0) -> math.abs(r.getDouble(3))).toMap
    val cfg = LagGrid.queries("lag_grid_best_config")(spark, sf).collect()
      .flatMap(r => Option(r.get(3)).map(_ => r.getLong(0) -> math.abs(r.getDouble(3))))
      .toMap
    assert(best.keySet == cfg.keySet,
      "same keys select a best config (nulls-last ordering on both)")
    best.foreach { case (k, b) =>
      assert(math.abs(cfg(k) - b) < 5e-7, s"key $k: |r| $b vs ${cfg(k)}")
    }
    // the p-value column itself: valid probability wherever defined
    LagGrid.queries("lag_grid_best_config")(spark, sf).collect().foreach { r =>
      if (r.get(4) != null) {
        val p = r.getDouble(4)
        assert(p >= 0.0 && p <= 1.0, s"p_value out of range: $p")
      }
    }
  }

  test("artifact JSON round-trips to the oracle-checked selections") {
    // the artifact is rows-only (p_value); everything else in it is
    // re-parsed here and matched against the two oracle-checked twins:
    // best_config fields against lag_grid_best (row for row), and the
    // all_configs cell count + correlations against lag_grid_corr.
    val best = LagGrid.queries("lag_grid_best")(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2),
        BigDecimal(r.getDouble(3)).setScale(6,
          BigDecimal.RoundingMode.HALF_UP), r.getLong(4))).toMap
    val cellsPerKey = LagGrid.queries("lag_grid_corr")(spark, sf).collect()
      .filter(r => !r.isNullAt(3))
      .groupBy(_.getLong(0)).view.mapValues(_.length).toMap
    val arts = LagGrid.queries("lag_grid_artifact")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(arts.keySet == best.keySet)
    val bestRe = ("\\{\"best_config\":\\{\"lookback_hours\":(\\d+)," +
      "\"lead_days\":(\\d+),\"correlation\":(-?\\d+\\.\\d{6})," +
      "\"p_value\":(-?\\d+\\.\\d{6}),\"observations\":(\\d+)\\}").r
    for ((k, art) <- arts) {
      val m = bestRe.findFirstMatchIn(art)
      assert(m.isDefined, s"$k: best_config shape mismatch: ${art.take(120)}")
      val (lb, ld, r6c, n) = (m.get.group(1).toInt, m.get.group(2).toInt,
        BigDecimal(m.get.group(3)), m.get.group(5).toLong)
      val (blb, bld, br, bn) = best(k)
      // both rank on rounded |corr| with the same tiebreak -> same cell
      assert((lb, ld) == (blb, bld), s"$k: best cell ($lb,$ld) vs ($blb,$bld)")
      assert(r6c == br, s"$k: correlation $r6c vs $br")
      assert(n == bn, s"$k: observations $n vs $bn")
      // every non-null grid cell appears exactly once in all_configs
      val nCells = "\"correlation\"".r.findAllIn(art).size - 1
      assert(nCells == cellsPerKey(k),
        s"$k: $nCells cells vs grid ${cellsPerKey(k)}")
      // shape sanity: parseable-looking JSON document
      assert(art.startsWith("{\"best_config\":{") && art.endsWith("}}"))
    }
  }

  test("one-frame leads equal lead(close, k) row for row") {
    // key 1: eight days, day 2 all-NULL values (a NULL close that must
    // keep its place in the following-rows frame) and day 4 a zero
    // close; key 2: three days, so every day has fewer than 5
    // following days. Three events per day in distinct hours.
    import spark.implicits._
    val dir = SparkTestSession.fixtureDir("lag-leads")
    val t0 = 1704067200000L
    val rows = for {
      (key, nDays) <- Seq(1L -> 8, 2L -> 3)
      day <- 0 until nDays
      h <- Seq(1, 5, 13)
    } yield {
      val v: Option[Double] =
        if (key == 1L && day == 2) None
        else if (key == 1L && day == 4) Some(0.0)
        else Some(100.0 + key * 10 + day * 3 + h)
      (key * 1000 + day * 10 + h,
        new java.sql.Timestamp(t0 + day * 86400000L + h * 3600000L),
        key, "click", v, "{}")
    }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val leads = LagGrid.dailyLeads(LagGrid.hourly(spark, dir))
    val w = Window.partitionBy("user_id").orderBy("day")
    val ks = Seq(1, 2, 3, 5)
    def opt(r: org.apache.spark.sql.Row, i: Int): Option[Double] =
      if (r.isNullAt(i)) None else Some(r.getDouble(i))
    def byDay(df: org.apache.spark.sql.DataFrame, cols: Seq[String]) =
      df.select((Seq("user_id", "day", "close") ++ cols).map(col): _*)
        .collect().map(r => (r.getLong(0), r.getTimestamp(1)) ->
          (2 until r.length).map(opt(r, _))).toMap
    val got = byDay(leads, ks.map(k => s"l$k"))
    val want = byDay(leads.select(Seq(col("user_id"), col("day"),
      col("close")) ++ ks.map(k => lead(col("close"), k).over(w).as(s"w$k")): _*),
      ks.map(k => s"w$k"))
    assert(got.size == 11 && got.keySet == want.keySet)
    got.foreach { case (key, vs) => assert(vs == want(key), s"$key") }
    val closes = got.values.map(_.head).toSeq
    assert(closes.contains(None) && closes.contains(Some(0.0)), closes)
    // the NULL close leads key 1's day 1 at k = 1, with a real close
    // behind it at k = 2
    val day1 = got((1L, new java.sql.Timestamp(t0 + 86400000L)))
    assert(day1(1).isEmpty && day1(2).isDefined, day1)
  }
}
