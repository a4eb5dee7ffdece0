package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** Flat-market degenerate fixture for the indicator family: a series
  * whose price never moves (every value identical, volume constant)
  * hits every zero-denominator arm at once — RSI's zero average loss,
  * CCI's zero mean deviation, stochastic's flat envelope, CMO's zero
  * up+down sum, ADX's zero true range, Aroon/Donchian's degenerate
  * extremes. Spark 4 ANSI throws on ANY division by zero (doubles
  * included), so every one of these arms needs a guard the natural
  * corpus never exercises. The spec runs EVERY W-family query over
  * the flat fixture and asserts none throws — the per-indicator
  * degenerate semantics (NULL vs 0 vs dropped row) stay documented at
  * each operator; this is the family-wide ANSI crash screen. */
class WindowsDegenerateSpec extends AnyFunSuite {
  private lazy val spark = graft.SparkTestSession.spark

  private lazy val flatDir: String = {
    import spark.implicits._
    val d = graft.SparkTestSession.fixtureDir("w-flat")
    // 40 consecutive days × 2 types × 3 intraday events: enough rows
    // for every lookback window in the family (up to W47's 14+11)
    val rows = for {
      day <- 1 to 40
      t <- Seq("click", "purchase")
      i <- 0 until 3
    } yield (day.toLong * 100 + i,
      java.sql.Timestamp.valueOf(f"2024-01-${(day % 28) + 1}%02d " +
        f"${8 + i}%02d:00:00").toString, t)
    rows.zipWithIndex.map { case ((id, _, t), idx) =>
      // strictly increasing timestamps across the whole span
      (id + idx, new java.sql.Timestamp(1704067200000L +
        idx.toLong * 3600000L), idx.toLong % 7, t, 5.0, "{\"k\": 10}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/events.parquet")
    // flat-revenue orders for w7 (one constant-price order per day)
    (1 to 40).map { day =>
      (day.toLong, day.toLong % 5, "F", 100.0,
        new java.sql.Timestamp(1704067200000L + day.toLong * 86400000L),
        "1-URGENT")
    }.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/orders.parquet")
    d
  }

  test("candle close is the last event by (ts, event_id) when ticks share a ts") {
    import spark.implicits._
    val d = graft.SparkTestSession.fixtureDir("w-candle-ties")
    val rng = new scala.util.Random(11)
    val dayMs = 86400000L
    // per (type, day) six ticks at three instants: two share the
    // opening ts and three the closing one. Event ids are a shuffle,
    // so neither write order nor value order tells the close.
    val rows = for {
      (t, ti) <- Seq("click", "purchase").zipWithIndex
      day <- 0 until 5
      ids = rng.shuffle((0 until 6).toList)
      (hour, j) <- Seq(1, 1, 6, 20, 20, 20).zipWithIndex
    } yield (1000L * (ti * 5 + day) + ids(j),
      new java.sql.Timestamp(1704067200000L + day * dayMs + hour * 3600000L),
      j.toLong, t, (5000 + rng.nextInt(5000)) / 100.0, rng.nextInt(20))
    rows.map { case (id, ts, u, t, v, k) => (id, ts, u, t, v, s"""{"k": $k}""") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/events.parquet")

    // sequential recompute: sort each day's ticks by (ts, event_id)
    val expected = rows.groupBy(r => (r._4, r._2.getTime / dayMs)).map {
      case (key, rs) =>
        val ordered = rs.sortBy(r => (r._2.getTime, r._1))
        key -> (ordered.head._5, rs.map(_._5).max, rs.map(_._5).min,
          ordered.last._5, rs.size.toLong, rs.map(_._6.toLong).sum)
    }
    // the fixture exercises the tiebreak: at some closing instant the
    // highest event id is neither the last row written nor the max value
    assert(expected.exists { case (key, e) =>
      val last = rows.filter(r => (r._4, r._2.getTime / dayMs) == key)
      e._4 != last.last._5 && e._4 != last.takeRight(3).map(_._5).max
    })

    val candles = Windows.queries("w16_ohlc_candles")(spark, d).collect()
      .map(r => (r.getAs[String]("event_type"),
        r.getAs[java.sql.Timestamp]("day").getTime / dayMs) ->
        (r.getAs[Double]("open"), r.getAs[Double]("high"),
          r.getAs[Double]("low"), r.getAs[Double]("close"),
          r.getAs[Long]("n")))
      .toMap
    assert(candles == expected.map { case (k, e) =>
      k -> (e._1, e._2, e._3, e._4, e._5) })
    // W27 exposes the candle volume (every day after each type's first)
    val vols = Windows.queries("w27_obv")(spark, d).collect()
      .map(r => (r.getAs[String]("event_type"),
        r.getAs[java.sql.Timestamp]("day").getTime / dayMs) ->
        r.getAs[Long]("vol"))
    assert(vols.length == 8)
    vols.foreach { case (k, v) => assert(v == expected(k)._6, k) }
  }

  test("the truncated-EWMA cascade equals a sequential loop bit for bit") {
    val d = graft.SparkTestSession.Sf0001
    val dayMs = 86400000L
    def weight(span: Int, j: Int) = math.pow((span - 1.0) / (span + 1.0), j)
    // pandas ewm(span, adjust=True) truncated at 24 lags: a missing lag
    // adds 0.0 to both sums, and each sum runs left to right from lag 0
    def ewma(span: Int, xs: IndexedSeq[Option[Double]]): IndexedSeq[Double] =
      xs.indices.map { t =>
        val terms = (0 until 24).map { j =>
          xs.lift(t - j).flatten.fold((0.0, 0.0))(x =>
            (weight(span, j) * x, weight(span, j)))
        }
        terms.map(_._1).reduceLeft(_ + _) / terms.map(_._2).reduceLeft(_ + _)
      }
    val ev = graft.Tables.events(spark, d).collect().toSeq.map(r =>
      (r.getAs[Long]("user_id"), r.getAs[java.sql.Timestamp]("ts").getTime,
        r.getAs[Long]("event_id"), r.getAs[String]("event_type"),
        Option(r.getAs[java.lang.Double]("value")).map(_.doubleValue)))

    // W12: span 20 over each user's values in (ts, event_id) order
    val w12 = ev.groupBy(_._1).values.flatMap { rs =>
      val ordered = rs.sortBy(r => (r._2, r._3)).toIndexedSeq
      ordered.map(r => Seq[Any](r._1, r._3))
        .zip(ewma(20, ordered.map(_._5)).map(Seq(_)))
    }.toMap
    // W20: the per-type daily mean px (decimal-pinned sum over the
    // day's row count), EMA12 − EMA26 on px, then EMA9 on that macd
    val w20 = ev.groupBy(r => (r._4, Math.floorDiv(r._2, dayMs))).toSeq
      .map { case ((t, day), rs) =>
        val sum = rs.flatMap(_._5).map(v => BigDecimal(v)
          .setScale(10, BigDecimal.RoundingMode.HALF_UP)).sum
        (t, day, sum.toDouble / rs.size)
      }
      .groupBy(_._1).values.flatMap { days =>
        val ordered = days.sortBy(_._2).toIndexedSeq
        val px = ordered.map(r => Option(r._3))
        val macd = ewma(12, px).zip(ewma(26, px)).map { case (a, b) => a - b }
        val signal = ewma(9, macd.map(Option(_)))
        ordered.indices.map(i => Seq[Any](ordered(i)._1, ordered(i)._2) ->
          Seq(macd(i), signal(i), macd(i) - signal(i)))
      }.toMap

    val table = Seq(
      ("w12_ewma", Seq("user_id", "event_id"), Seq("ewma"), w12),
      ("w20_macd", Seq("event_type", "day"), Seq("macd", "signal", "hist"),
        w20))
    table.foreach { case (name, keys, outs, expected) =>
      val got = Windows.queries(name)(spark, d).collect().map { r =>
        keys.map(k => r.getAs[Any](k) match {
          case ts: java.sql.Timestamp => Math.floorDiv(ts.getTime, dayMs)
          case v => v
        }) -> outs.map(r.getAs[Double])
      }.toMap
      assert(got.size == expected.size && got.keySet == expected.keySet, name)
      got.foreach { case (k, v) =>
        assert(v.map(java.lang.Double.doubleToLongBits) ==
          expected(k).map(java.lang.Double.doubleToLongBits),
          s"$name $k: $v vs ${expected(k)}")
      }
    }
  }

  test("every W-family query survives a flat market without an ANSI throw") {
    val wQueries = Windows.queries.keys.toSeq.sorted
    assert(wQueries.nonEmpty)
    val failures = wQueries.flatMap { name =>
      try { Windows.queries(name)(spark, flatDir).collect(); None }
      catch { case e: Throwable =>
        Some(name -> e.getMessage.linesIterator.take(1).mkString) }
    }
    assert(failures.isEmpty,
      "flat-market ANSI crashes:\n" + failures.map { case (n, m) =>
        s"  $n: $m" }.mkString("\n"))
  }
}
